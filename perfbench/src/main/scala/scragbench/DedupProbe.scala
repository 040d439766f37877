package scragbench

import java.nio.file.Path

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, TextAnalysis}
import graft.table.{IcebergLite, SyntheticPages}
import Harness.gate

/** The dedup layer (`graft.ops`), probed in `crawl_extract`'s traced run.
  *
  * Input is a text table: the given documents plus planted near-duplicate
  * chains (2-5 copies, each a few-word edit of the previous one). One
  * full-width pass runs `Dedup.minhashLshPairs` -> `Dedup.keepBestPerCluster`
  * (quality scores) -> committed write, in the phase spans
  * `near_dup_clusters.pairs` and `near_dup_clusters.keep_best`, and is
  * gated on the planted chains. Then the layer's counts: LSH candidates,
  * verified pairs, their yield and the rounds connected components takes.
  */
final class DedupProbe(h: Harness) {
  private val threshold = 0.8 // Dedup.minhashLshPairs default
  private val minAdjacent = 0.86 // planted neighbours stay well above it
  private val rng = new SyntheticPages.Rng(h.seed ^ 0xd0d0L)

  private def words(s: String): Array[String] = s.split("\\s+").filter(_.nonEmpty)

  /** Exact Jaccard over 5-word shingles (lowercased, whitespace split). */
  private def jaccard(a: String, b: String): Double = {
    def sh(t: String) = {
      val w = words(t).map(_.toLowerCase(java.util.Locale.ROOT))
      if (w.length < 5) Set(w.mkString(" ")) else w.sliding(5).map(_.mkString(" ")).toSet
    }
    val (x, y) = (sh(a), sh(b))
    (x intersect y).size.toDouble / (x union y).size
  }

  /** Replace `k` random words with other words of the same text. */
  private def edit(text: String, k: Int): String = {
    val w = words(text)
    (0 until k).foreach { _ => w(rng.nextInt(w.length)) = w(rng.nextInt(w.length)) + "x" }
    w.mkString(" ")
  }

  /** Stage `base` plus planted chains under `dir`; returns the table's
    * path and the planted chains as doc ids.
    */
  private def stage(dir: Path, base: Array[String]): (String, Seq[Seq[Long]]) = {
    val spark = h.spark
    import spark.implicits._
    // plant chains on a quarter of the base docs; every adjacent pair is
    // verified above the threshold here, at generation time
    val groups = base.zipWithIndex.map { case (t, i) =>
      if ((i / 4) % 4 != 0) Seq(t)
      else {
        val len = 2 + rng.nextInt(4)
        val k = math.max(1, words(t).length / 120)
        Iterator.iterate(t)(prev => edit(prev, k)).take(len).toSeq
      }
    }
    for (g <- groups; Seq(a, b) <- g.sliding(2))
      require(jaccard(a, b) >= minAdjacent, f"planted neighbours at Jaccard ${jaccard(a, b)}%.3f")
    // doc ids are a seeded permutation, so a chain's minimum id sits
    // anywhere along it
    val total = groups.map(_.size).sum
    val perm = (0 until total).map(_.toLong).toArray
    for (i <- perm.indices.reverse) {
      val j = rng.nextInt(i + 1)
      val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    var next = 0
    val idGroups = groups.map(g => g.map { t => val id = perm(next); next += 1; (id, t) })
    val path = dir.resolve("docs").toString
    idGroups.toSeq.flatten.toDF("doc_id", "text").repartition(h.maxThreads).write.parquet(path)
    (path, idGroups.toSeq.filter(_.size > 1).map(_.map(_._1)))
  }

  /** One pass into a committed keep-best table, gated on the planted
    * chains; returns the seconds of the pairs and the keep-best phases.
    */
  private def run(docsDir: String, chains: Seq[Seq[Long]]): (Double, Double) = {
    val spark = h.session(h.maxThreads)
    val docs = spark.read.parquet(docsDir)
    val out = new IcebergLite(h.work.resolve("out").resolve("dedup-probe").toString)
    val root = h.tracer.open("near_dup_clusters")
    var pairs: DataFrame = null
    val t0 = System.nanoTime()
    var t1 = 0L
    try {
      val s1 = h.tracer.open("near_dup_clusters.pairs")
      if (s1 != null) s1.attrs("cores") = h.maxThreads
      // materialized here, so the stage boundary is timed and the pairs
      // are computed once for everything downstream
      try pairs = Dedup.minhashLshPairs(docs, threshold).localCheckpoint(true)
      finally h.tracer.close(s1)
      t1 = System.nanoTime()
      val s2 = h.tracer.open("near_dup_clusters.keep_best")
      if (s2 != null) s2.attrs("cores") = h.maxThreads
      try {
        val scores = docs.select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("score"))
        out.writeData(Dedup.keepBestPerCluster(pairs, scores), 0)
        out.publish(spark, 0)
      } finally h.tracer.close(s2)
    } finally {
      h.tracer.close(root)
      if (pairs != null) pairs.unpersist()
    }
    val times = ((t1 - t0) / 1e9, h.since(t1))
    try {
      val rows = out.read(spark).select("doc_id", "component", "kept").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      val got = rows.groupBy(_._2).map { case (c, rs) => c -> rs.map(_._1).toSet }
      val want = chains.map(c => c.min -> c.toSet).toMap
      gate(got == want, s"${got.size} output components vs ${want.size} planted chains; " +
        s"${(got.toSet diff want.toSet).size} differ")
      gate(rows.groupBy(_._2).values.forall(_.count(_._3) == 1), "a component keeps other than one doc")
    } finally out.drop(spark)
    times
  }

  /** Stage `base` with planted chains under `dir`, run one gated pass and
    * record the `ops.*` layer metrics.
    */
  def probe(dir: Path, base: Array[String]): Unit = {
    h.session(h.maxThreads)
    val (docsDir, chains) = stage(dir, base)
    h.attempt("dedup") {
      val (pairsS, keepBestS) = run(docsDir, chains)
      h.layers("ops.pairs_s") = pairsS
      h.layers("ops.keep_best_s") = keepBestS
    }
    val spark = h.session(h.maxThreads)
    val docs = spark.read.parquet(docsDir)
    val bands = Dedup.lshBandIndex(docs)
    val candidates = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
    val pairs = Dedup.minhashLshPairs(docs, threshold).localCheckpoint(true)
    val verified = pairs.count()
    h.layers("ops.candidates") = candidates.toDouble
    h.layers("ops.verified_pairs") = verified.toDouble
    h.layers("ops.verify_yield") = if (candidates > 0) verified.toDouble / candidates else 0.0
    h.layers("ops.cc_rounds") = Dedup.connectedComponentsWithRounds(pairs)._2.toDouble
    pairs.unpersist()
  }
}
