package scragbench

import java.nio.file.Path
import scala.collection.mutable

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._

import graft.extract.{CascadeConfig, CascadeExtractor}
import graft.jobs.RagJobs
import graft.rag.DeterministicHashEmbedder
import graft.table.{IcebergLite, SyntheticPages}
import graft.text.Chunker
import Harness.gate

/** `rag_serve`: seeded article pages through `RagJobs.buildAndWrite`
  * into a committed index, then a closed loop of one client sending
  * `RagJobs.query(index.read(spark), q, 10)`, where each q is a sentence
  * taken from a committed chunk. The one-thread build covers a quarter
  * of the pages.
  */
final class RagServe(h: Harness, scale: Double) extends Workload(h) {
  private val nPages = math.max(1, (600 * scale / 4).toInt) * 4
  val passSeconds = 2.5
  private val full = h.maxThreads
  private val rng = new SyntheticPages.Rng(h.seed ^ 0x7a65L)
  private var fullDir: String = _
  private var quarterDir: String = _
  /** Index rows a build must commit, for the full (true) and the quarter input. */
  private var expectedRows: Map[Boolean, Long] = Map.empty
  private var latest: IcebergLite = _
  private var latestRows = 0L

  /** Committed index as (id, content, embedding), for the brute-force check. */
  private var index: Array[(String, String, Array[Float])] = Array.empty
  private var norms: Array[Double] = Array.empty
  /** (query sentence, content of the chunk it came from) */
  private var queries: Array[(String, String)] = Array.empty
  private val embedder = new DeterministicHashEmbedder()
  private val bruteForceChecked = 4

  def stage(dir: Path): Unit = {
    val spark = h.spark
    import spark.implicits._
    val seed = h.seed
    val ids = Iterator.from(0).map(_.toLong)
      .filter(id => SyntheticPages.familyOf(seed, id) == "article").take(nPages).toArray
    val quarter = ids.zipWithIndex.collect { case (id, i) if i % 4 == 0 => id }
    fullDir = dir.resolve("pages").toString
    quarterDir = dir.resolve("pages-quarter").toString
    for ((set, path) <- Seq(ids -> fullDir, quarter -> quarterDir))
      spark.createDataset(set.toSeq)(Encoders.scalaLong).repartition(full)
        .map(id => SyntheticPages.pageFor(seed, id)).write.parquet(path)
    // expected index rows: the cascade's text, chunked as the build does
    def chunks(set: Array[Long]): Long = set.map { id =>
      val p = SyntheticPages.pageFor(seed, id)
      val ex = CascadeExtractor.pooled().extract(p.url, p.html, CascadeConfig())
      if (ex.succeeded) Chunker.chunkWithMeta(ex.extracted_text).length.toLong else 0L
    }.sum
    if (expectedRows.isEmpty)
      expectedRows = h.untimed(Map(true -> chunks(ids), false -> chunks(quarter)))
    h.info("pages") = nPages
    h.info("staged_bytes") = parquetBytes(fullDir)
  }

  private def build(threads: Int, tag: String): (IcebergLite, Long, Double) = {
    val spark = h.session(threads)
    val src = if (threads == full) fullDir else quarterDir
    val out = new IcebergLite(tableDir(tag))
    val pages = spark.read.parquet(src)
    val root = h.tracer.open("rag_serve")
    val s = h.tracer.open("rag_serve.build")
    if (s != null) s.attrs("cores") = threads
    val t0 = System.nanoTime()
    val n = try RagJobs.buildAndWrite(pages, out) finally { h.tracer.close(s); h.tracer.close(root) }
    val sec = h.since(t0)
    gate(n == expectedRows(threads == full), s"index rows $n != expected ${expectedRows(threads == full)}")
    gate(manifest(out).get(0).flatMap(_.get("rows")).contains(n.toString), "manifest rows differ from the build")
    (out, n, sec)
  }

  def warmUp(): Unit = {
    dropTable(latest)
    val (out, n, _) = build(full, "rag-warm")
    latest = out
    latestRows = n
    h.info("index_rows") = n
    // the seed fixes the index, so the pool holds for every set-up
    if (queries.isEmpty) h.untimed(choosePool())
    (0 until 2).foreach(query)
  }

  /** Collect the committed index and choose the query pool. */
  private def choosePool(): Unit = {
    index = latest.read(h.spark).select("id", "content", "embedding").collect()
      .map(r => (r.getString(0), r.getString(1), r.getSeq[Float](2).toArray))
    norms = index.map(e => norm(e._3))
    // each query is the longest sentence of a seeded chunk; the hash
    // embedder over the generator's small vocabulary does not always rank
    // a sentence's own chunk first, so the pool keeps the sentences whose
    // chunk the exact cosine ranks in the top 10 (the served search must
    // then find it too)
    val sentenceEnd = "(?<=[.!?])\\s+".r
    val pool = mutable.ArrayBuffer.empty[(String, String)]
    var tried = 0
    while (pool.size < 64 && tried < 640) {
      val (_, content, _) = index(rng.nextInt(index.length))
      val q = sentenceEnd.split(content.trim).maxBy(_.length)
      if (bruteForce(q, 10).exists(_._1 == content)) pool += ((q, content))
      tried += 1
    }
    gate(pool.size == 64, s"only ${pool.size} of $tried sampled chunks are retrievable by their longest sentence")
    queries = pool.toArray
    h.info("query_pool_tried") = tried
  }

  def batch(threads: Int, round: Int): Unit = {
    var built: (IcebergLite, Long, Double) = null
    if (h.attempt("build") { built = build(threads, s"rag-r$round-t$threads") }) {
      val (out, n, sec) = built
      val docs = if (threads == full) nPages else nPages / 4
      h.rate(round, threads, docs / sec)
      if (threads == full) {
        h.sample("index_chunks_per_s", n / sec)
        dropTable(latest)
        latest = out
        latestRows = n
      } else dropTable(out)
    } else if (built != null) dropTable(built._1)
  }

  /** Top-k by cosine over the collected index, ties by id, as the
    * search defines it (scores below the 0.0 threshold excluded).
    */
  private def bruteForce(q: String, k: Int): Seq[(String, Double)] = {
    val qv = embedder.embedOne(q)
    val qn = norm(qv)
    val scored = new Array[(String, String, Double)](index.length)
    var j = 0
    while (j < index.length) {
      val (id, content, v) = index(j)
      var d = 0.0
      var i = 0
      while (i < v.length) { d += v(i).toDouble * qv(i); i += 1 }
      val n = norms(j) * qn
      scored(j) = (id, content, if (n == 0) 0.0 else d / n)
      j += 1
    }
    scored.filter(_._3 >= 0.0).sortBy(t => (-t._3, t._1)).take(k).map(t => (t._2, t._3)).toSeq
  }

  private def norm(v: Array[Float]): Double = {
    var ss = 0.0
    var i = 0
    while (i < v.length) { ss += v(i).toDouble * v(i); i += 1 }
    math.sqrt(ss)
  }

  private val header = "(?s)\\[Result (\\d+), Score: (-?[0-9.]+)\\]\n(.*)".r

  def query(i: Int): Unit = {
    val (q, source) = queries(i % queries.length)
    h.attempt("query") {
      val s = h.tracer.open("rag_serve.query")
      val t0 = System.nanoTime()
      val answer = try {
        val idx = h.tracer.span("table.read")(latest.read(h.spark))
        RagJobs.query(idx, q, 10)
      } finally h.tracer.close(s)
      h.sample("query_ms", h.since(t0) * 1e3)
      val results = answer.split("\n\n---\n\n").toSeq.map {
        case header(rank, score, content) => (content, score.toDouble)
        case other => throw new Harness.GateFailure(s"unparsable result: ${other.take(80)}")
      }
      gate(results.size == math.min(10L, latestRows), s"${results.size} results for '$q'")
      gate(results.map(_._2).sliding(2).forall(p => p.size < 2 || p(0) >= p(1)), s"scores increase for '$q'")
      gate(results.exists(_._1 == source), s"source chunk not in the top 10 for '$q'")
      if (i % queries.length < bruteForceChecked) {
        val want = bruteForce(q, 10)
        gate(want.map(_._1) == results.map(_._1) &&
          want.zip(results).forall { case (w, r) => math.abs(w._2 - r._2) <= 0.0006 },
          s"top 10 for '$q' differs from a brute-force cosine")
      }
    }
  }

  def probeLayers(): Unit = {
    val spark = h.session(full)
    val sample = (0 until 128).map(_ => SyntheticPages.pageFor(h.seed,
      Iterator.continually(rng.nextInt(nPages * 2).toLong)
        .find(id => SyntheticPages.familyOf(h.seed, id) == "article").get))
    KernelReplay.run(sample, h)
    val texts = sample.map(p => CascadeExtractor.pooled().extract(p.url, p.html, CascadeConfig()))
      .filter(_.succeeded).map(_.extracted_text)
    val t0 = System.nanoTime()
    val chunks = texts.map(t => Chunker.chunkWithMeta(t))
    h.layers("text.chunk_us_per_doc") = h.since(t0) * 1e6 / texts.size
    h.layers("text.chunks_per_doc") = chunks.map(_.length).sum.toDouble / texts.size
    val chunkTexts = chunks.flatten.map(_.text)
    val t1 = System.nanoTime()
    chunkTexts.grouped(100).foreach(b => embedder.embedBatch(b))
    h.layers("rag.embed_us_per_chunk") = h.since(t1) * 1e6 / chunkTexts.size
    h.layers("rag.index_rows") = latestRows.toDouble
    probeTableWrite(RagJobs.buildIndex(spark.read.parquet(fullDir)).toDF(), 2)
    val man = manifest(latest)
    h.layers("table.bytes_per_input_byte") = man.values.map(_("bytes").toDouble).sum / h.info("staged_bytes").asInstanceOf[Long]
    h.layers("table.files_per_unit") = man.values.map(_("files").toDouble).sum / man.size
  }
}
