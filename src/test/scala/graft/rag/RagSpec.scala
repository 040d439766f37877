package graft.rag

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Ports the reference vector-store tests
  * (tests/unit/test_rag/test_stores.py: ordered top-k <= k, threshold,
  * delete, stats) plus the post-top-k filter quirk
  * (file_store.py:104-121) and the embed determinism contract.
  */
class RagSpec extends AnyFunSuite with SparkSuite {

  import testImplicits._

  private def orthoIndex = Seq(
    IndexDoc("d1", "doc one", Array(1f, 0f, 0f), "u1", 0, null),
    IndexDoc("d2", "doc two", Array(0f, 1f, 0f), "u2", 0, null),
    IndexDoc("d3", "doc three", Array(0f, 0f, 1f), "u3", 0, null),
    IndexDoc("d4", "doc mixed", Array(0.9f, 0.1f, 0f), "u4", 0, null)
  ).toDS().toDF()

  test("cosine top-k: ordered desc, at most k, threshold applied") {
    val r = Rag.search(orthoIndex, Array(1f, 0f, 0f), topK = 2, threshold = 0.1)
      .select("id", "score").collect()
    assert(r.length == 2)
    assert(r(0).getString(0) == "d1")
    assert(r(1).getString(0) == "d4")
    assert(r(0).getDouble(1) > r(1).getDouble(1))
    assert(math.abs(r(0).getDouble(1) - 1.0) < 1e-6)
  }

  test("threshold excludes below-threshold matches entirely") {
    val r = Rag.search(orthoIndex, Array(1f, 0f, 0f), topK = 10, threshold = 0.5)
    assert(r.select("id").as[String].collect().toSet == Set("d1", "d4"))
  }

  test("post-top-k filter quirk: filters after the k-cut can return < k") {
    // query matches d1 and d4 best; filter url=u2 applied AFTER top-2 cut
    // → empty (the reference quirk), though d2 matches url=u2
    val quirk = Rag.search(orthoIndex, Array(1f, 0.2f, 0f), topK = 2,
      filters = Map("url" -> "u2"))
    assert(quirk.count() == 0)
  }

  test("get/delete/stats") {
    assert(Rag.getDocument(orthoIndex, "d2").count() == 1)
    val afterDelete = Rag.deleteDocument(orthoIndex, "d2")
    assert(afterDelete.count() == 3)
    assert(Rag.getDocument(afterDelete, "d2").count() == 0)
    val s = Rag.stats(orthoIndex).collect()(0)
    assert(s.getLong(0) == 4 && s.getInt(1) == 3)
  }

  test("top-k plans as TakeOrderedAndProject (no global sort)") {
    // a non-local relation, or ConvertToLocalRelation folds the whole
    // query at optimization time
    val idx = spark.range(0, 1000, 1, 4)
      .select(
        concat(lit("d"), col("id")).as("id"),
        lit("content").as("content"),
        array(rand(7).cast("float"), rand(11).cast("float"),
          rand(13).cast("float")).as("embedding"),
        lit("u").as("url"), lit(0).as("chunk_index"),
        lit(null).cast("string").as("title"))
    val q = Rag.search(idx, Array(1f, 0f, 0f), topK = 5)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(q.count() == 5)
  }

  test("hash embedder: deterministic, normalized, similarity-preserving") {
    val e = new DeterministicHashEmbedder(384)
    val a = e.embedOne("spark processes large web corpora with partitions")
    val b = e.embedOne("spark processes large web corpora with partitions")
    assert(a.toSeq == b.toSeq)
    val n = math.sqrt(a.map(x => x.toDouble * x).sum)
    assert(math.abs(n - 1.0) < 1e-5)
    def cos(x: Array[Float], y: Array[Float]) =
      x.zip(y).map { case (p, q) => p.toDouble * q }.sum
    val near = e.embedOne("spark processes large web corpora with many partitions")
    val far = e.embedOne("completely unrelated gardening recipe about tomatoes")
    assert(cos(a, near) > cos(a, far))
  }

  test("IndexDoc.chunkId: ids follow the reference scheme") {
    assert(IndexDoc.chunkId("https://h.example/a", 0) == "https___h.example_a_chunk_0")
    assert(IndexDoc.chunkId("https://h.example/a", 1) == "https___h.example_a_chunk_1")
    assert(IndexDoc.chunkId("https://h.example/b", 0) == "https___h.example_b_chunk_0")
  }

  test("upsert: dim-mismatched rows skipped, incoming id replaces existing") {
    val incoming = Seq(
      IndexDoc("d1", "updated one", Array(9f, 0f, 0f), "u1", 0, null),
      IndexDoc("d9", "brand new", Array(0f, 9f, 0f), "u9", 0, null),
      IndexDoc("dX", "wrong dim", Array(1f), "uX", 0, null)
    ).toDS().toDF()
    val out = Rag.upsertDocuments(orthoIndex, incoming, dim = 3)
    assert(out.count() == 5) // 4 existing - 1 replaced + 2 valid incoming
    val d1 = out.where(col("id") === "d1").collect()(0)
    assert(d1.getAs[String]("content") == "updated one")
    assert(out.where(col("id") === "dX").count() == 0)
  }

  test("url normalization defaults the scheme like the reference CLI") {
    val df = Seq("example.com/x", "  https://a.b/c ", "//host/p", "ftp://f/x")
      .toDF("u")
      .select(graft.text.TextFunctions.normalizeUrl(col("u")).as("n"))
    assert(df.as[String].collect().toSeq == Seq(
      "https://example.com/x", "https://a.b/c", "https://host/p", "ftp://f/x"))
  }

  test("formatResults reproduces the reference envelope") {
    val s = Rag.formatResults(Seq(("alpha content", 0.91234), ("beta", 0.5)))
    assert(s == "[Result 1, Score: 0.912]\nalpha content\n\n---\n\n[Result 2, Score: 0.500]\nbeta")
  }
}
