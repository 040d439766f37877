package graft.rag

import graft.functions.VectorExpr
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One vector-index row (core/rag/stores/base.py:11-23 → typed).
  * `meta` is the open metadata dict's spill column: the reference's
  * per-chunk metadata projection (rag/stages/index.py:131-148) lands
  * here — chunk_size, total_chunks, overlap_size, extractor.
  */
final case class IndexDoc(
    id: String,
    content: String,
    embedding: Array[Float],
    url: String,
    chunk_index: Int,
    title: String,
    meta: Map[String, String] = Map.empty)

object IndexDoc {
  /** Stable chunk document id (core/rag/stages/index.py:120-129): url
    * with '/' and ':' replaced by '_', + "_chunk_" + index.
    */
  def chunkId(url: String, chunkIndex: Int): String =
    url.replace('/', '_').replace(':', '_') + "_chunk_" + chunkIndex
}

/** Retrieval engine: embed → index → broadcast-scalar cosine top-k.
  *
  * Scale shape (SURVEY.md §2.5): the query vector is a literal (one
  * broadcast scalar); scoring is a projection over the index table;
  * `orderBy(desc).limit(k)` plans as TakeOrderedAndProject — a
  * distributed top-k with per-partition heaps, no global sort, no
  * shuffle of the full index.
  */
object Rag {

  /** Cosine top-k search (core/rag/stores/file_store.py:82-127).
    *
    * Metadata filters apply AFTER the k-cut, the reference's rule: it
    * can return < k rows even when k matches exist (file_store.py:104-121).
    */
  def search(
      index: DataFrame,
      query: Array[Float],
      topK: Int = 10,
      threshold: Double = 0.0,
      filters: Map[String, String] = Map.empty): DataFrame = {
    val q = typedLit(query.toSeq)
    // deterministic tiebreak by id (numpy argsort ties are order-
    // dependent; a distributed engine needs a total order)
    val cut = index
      .withColumn("score", VectorExpr.cosineSim(col("embedding"), q))
      .where(col("score") >= threshold)
      .orderBy(desc("score"), asc("id")).limit(topK)
    filters.foldLeft(cut) { case (d, (k, v)) => d.where(col(k) === lit(v)) }
  }

  /** add_documents upsert semantics (file_store.py:46-80): rows whose
    * embedding dimension mismatches are skipped (the reference logs a
    * warning and continues); an incoming id replaces the existing row.
    * The caller commits the result (atomicity = IcebergLite publish,
    * mirroring the reference's tmp+rename save).
    */
  def upsertDocuments(existing: DataFrame, incoming: DataFrame, dim: Int): DataFrame = {
    val valid = incoming.where(size(col("embedding")) === dim)
    existing.join(valid.select("id"), Seq("id"), "left_anti")
      .unionByName(valid)
  }

  /** get_document by id (file_store.py:129-131). */
  def getDocument(index: DataFrame, id: String): DataFrame =
    index.where(col("id") === lit(id))

  /** delete_document as an anti-filter (file_store.py:133-159); the
    * caller rewrites/commits the result.
    */
  def deleteDocument(index: DataFrame, id: String): DataFrame =
    index.where(col("id") =!= lit(id))

  /** Index stats (file_store.py:161-168). */
  def stats(index: DataFrame): DataFrame =
    index.agg(
      count(lit(1)).as("total_documents"),
      max(size(col("embedding"))).as("embedding_dimension"))

  /** Query formatting (core/rag/query.py:109-141): `[Result i, Score:
    * %.3f]\ncontent` joined by `\n\n---\n\n`. Driver-side over <= k rows.
    */
  def formatResults(results: Seq[(String, Double)]): String =
    results.zipWithIndex.map { case ((content, score), i) =>
      // Locale.ROOT: the f-interpolator formats %.3f with the JVM
      // default locale — a comma-decimal locale would break both the
      // reference format and the driver oracle's printf('.') output.
      // Literal \n (not %n): content must pass through untouched.
      String.format(java.util.Locale.ROOT, "[Result %d, Score: %.3f]\n%s",
        Int.box(i + 1), Double.box(score), content)
    }.mkString("\n\n---\n\n")
}
