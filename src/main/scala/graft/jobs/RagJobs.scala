package graft.jobs

import graft.extract.{CascadeConfig, Extract}
import graft.rag.{DeterministicHashEmbedder, Embedder, IndexDoc, Rag}
import graft.table.IcebergLite
import graft.text.{ChunkConfig, Chunker}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The RAG-side pipelines (reference core/rag/pipeline.py): one lazy
  * DAG per job, one action, shuffle-free until the index write (chunk
  * ids derive from url + chunk_index — SURVEY.md §3.2).
  */
object RagJobs {

  /** pages → extract → chunk → embed → Dataset[IndexDoc]
    * (build_index_from_url semantics, rag/pipeline.py:156-202, as a
    * distributed DAG).
    */
  def buildIndex(
      pages: DataFrame,
      cascade: CascadeConfig = CascadeConfig(),
      chunk: ChunkConfig = ChunkConfig(),
      embedder: Embedder = new DeterministicHashEmbedder()): Dataset[IndexDoc] = {
    val spark = pages.sparkSession
    import spark.implicits._
    Extract.extractPages(pages, cascade)
      .filter(_.succeeded)
      .flatMap { e =>
        Chunker.chunkWithMeta(e.extracted_text, chunk).map { c =>
          (e.url, c.chunk_id, c.text, e.title,
            // per-chunk metadata projection (rag/stages/index.py:131-148)
            Map(
              "chunk_size" -> c.chunk_size.toString,
              "total_chunks" -> c.total_chunks.toString,
              "overlap_size" -> c.overlap_size.toString,
              "extractor" -> e.strategy_used))
        }
      }
      .mapPartitions { it =>
        embedder.embedRows(it)(_._3).map { case ((url, ci, text, title, meta), v) =>
          IndexDoc(IndexDoc.chunkId(url, ci), text, v, url, ci, title, meta)
        }
      }
  }

  /** Index build + committed write (IcebergLite unit 0; callers with
    * many input units loop like ExtractJob.runUnits). Returns the
    * committed row count.
    */
  def buildAndWrite(pages: DataFrame, out: IcebergLite): Long =
    out.commitUnit(buildIndex(pages).toDF(), 0)

  /** Query an index table: embed the query text driver-side (1 string),
    * broadcast-scalar top-k, format (reference §3.3; one collect of
    * <= k rows).
    */
  def query(
      index: DataFrame,
      queryText: String,
      topK: Int = 10,
      threshold: Double = 0.0,
      embedder: Embedder = new DeterministicHashEmbedder()): String = {
    val qv = embedder.embedBatch(Seq(queryText)).head
    val rows = Rag.search(index, qv, topK, threshold)
      .select(col("content"), col("score"))
      .collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    Rag.formatResults(rows.toSeq)
  }
}
