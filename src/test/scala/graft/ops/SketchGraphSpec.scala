package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SketchGraphSpec extends AnyFunSuite with SparkSuite {

  import testImplicits._

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  // ------------------------------------------------------------ pageRank

  test("pageRank: hand-computed integer fixed point on a 3-node chain") {
    // 0 -> 1 -> 2 ; node 0 has no in-links, 2 is a sink
    val nodes = Seq(0L, 1L, 2L).toDF("id")
    val edges = Seq((0L, 1L), (1L, 2L)).toDF("u", "v")
    val r1 = Graph.pageRank(nodes, edges, 1).orderBy("id").collect()
    val S = Graph.Scale
    val base = 15L * S / 100L
    // after round 1: node0 = base; node1 = base + 85*S/100 (all of 0's
    // mass, outdeg 1); node2 = base + 85*S/100 (all of 1's INITIAL mass)
    assert(r1(0).getLong(1) == base)
    assert(r1(1).getLong(1) == base + 85L * S / 100L)
    assert(r1(2).getLong(1) == base + 85L * S / 100L)
    // round 2: node1 receives node0's round-1 rank (= base)
    val r2 = Graph.pageRank(nodes, edges, 2).orderBy("id").collect()
    assert(r2(1).getLong(1) == base + 85L * base / 100L)
  }

  test("pageRank: self-loops and duplicate edges are dropped; isolated nodes keep base mass") {
    val nodes = Seq(0L, 1L, 9L).toDF("id")
    val edges = Seq((0L, 0L), (0L, 1L), (0L, 1L)).toDF("u", "v")
    val out = Graph.pageRank(nodes, edges, 1).orderBy("id").collect()
    val S = Graph.Scale
    val base = 15L * S / 100L
    // self-loop gone -> outdeg(0) = 1, node1 gets the full 85% once
    assert(out(1).getLong(1) == base + 85L * S / 100L)
    // 9 has no in-edges and no out-edges: base mass exactly
    assert(out(2).getLong(1) == base)
  }

  test("pageRank: result is exactly partitioning-independent (integer sums)") {
    // deterministic node subset (an unordered limit() could pick
    // different rows across the two runs and fake a dependence bug)
    val nodes = docs.select(col("doc_id").as("id")).where(col("id") < 200)
    val edges = nodes.select(col("id").as("u"), pmod(col("id") * 7L + 3L, lit(200L)).as("v"))
    val a = Graph.pageRank(nodes.repartition(1), edges.repartition(1), 3)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val b = Graph.pageRank(nodes.repartition(7), edges.repartition(5), 3)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(a.sameElements(b))
  }

  // ---------------------------------------------------------------- HLL

  test("hllDistinct: estimate within a few percent on real event data, deterministic") {
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val out = Sketch.hllDistinct(events, "user_id", "event_type").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val est = r.getLong(1); val exact = r.getLong(2); val errBp = r.getLong(3)
      assert(est > 0)
      // b=5 raw estimator, sigma ~ 1.04/sqrt(32) ~ 18%: hold 3 sigma in
      // its home range (cardinality >= 2.5*m — the operator's documented
      // contract; below it the raw estimate biases high by design and
      // only determinism is promised)
      if (exact >= 80) assert(errBp <= 5500, s"err_bp=$errBp est=$est exact=$exact")
    }
    // bit-reproducible across partitionings (max/sum of integers)
    val again = Sketch.hllDistinct(events.repartition(13), "user_id", "event_type")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    out.foreach(r => assert(again(r.getString(0)) == r.getLong(1)))
  }

  // ------------------------------------------------------- heavy tokens

  test("heavyTokens: equals the exact > N/k token set, partitioning-independent") {
    val k = 50
    val got = Sketch.heavyTokens(docs, "text", k)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // ground truth the expensive way: full explode + global agg
    val toks = docs.select(explode(split(trim(col("text")), "[ \t\n\f\r]+")).as("t"))
      .where(col("t") =!= "")
    val total = toks.count()
    val want = toks.groupBy("t").count()
      .where(col("count") * k > total)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == want, s"got ${got.size} want ${want.size}")
    val got2 = Sketch.heavyTokens(docs.repartition(11), "text", k)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got2 == want)
  }

  test("heavyTokens: space-saving candidates survive an adversarial skew split") {
    // EXPLICIT partition layout (repartition() would round-robin the
    // heavy rows across both): partition 0 holds only unique filler —
    // its k=10 counters churn constantly — and partition 1 holds ALL
    // the heavy mass; the pigeonhole guarantee must still nominate it
    val filler = (1 to 400).map(i => s"filler$i unique$i")
    val heavy = (1 to 300).map(_ => "HEAVY")
    val df = spark.createDataFrame(
      spark.sparkContext.makeRDD(Seq(filler, heavy), 2)
        .flatMap(_.iterator).map(org.apache.spark.sql.Row(_)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))
    assert(df.rdd.getNumPartitions == 2)
    val out = Sketch.heavyTokens(df, "text", k = 10)
      .collect().map(_.getString(0)).toSet
    assert(out == Set("HEAVY"))
  }

  // ---------------------------------------------------- exact quantiles

  test("exactQuantiles: ceil(q*n) order statistic on a hand case with ties") {
    val df = Seq(("a", 1L), ("a", 1L), ("a", 2L), ("a", 100L),
      ("b", 5L)).toDF("g", "v")
    val out = Sketch.exactQuantiles(df, "v", "g",
      Seq(("p50", 1, 2), ("p75", 3, 4), ("p100", 1, 1)))
      .orderBy("g").collect()
    // group a, n=4: p50 -> 2nd order stat = 1; p75 -> 3rd = 2; p100 -> 100
    assert(out(0).getLong(1) == 1L)
    assert(out(0).getLong(2) == 2L)
    assert(out(0).getLong(3) == 100L)
    // group b: single value is every quantile
    assert(out(1).getLong(1) == 5L && out(1).getLong(3) == 5L)
  }

  test("exactQuantiles: agrees with sort-based percentile on real doc lengths") {
    val out = Sketch.exactQuantiles(docs, "n_chars", "lang",
      Seq(("p50", 1, 2), ("p99", 99, 100))).collect()
    out.foreach { r =>
      val lang = r.getString(0)
      val vals = docs.where(col("lang") === lang).select("n_chars")
        .collect().map(_.getLong(0)).sorted
      def orderStat(num: Int, den: Int): Long =
        vals((num * vals.length + den - 1) / den - 1) // ceil(q*n)-th, 1-based
      assert(r.getLong(1) == orderStat(1, 2), s"$lang p50")
      assert(r.getLong(2) == orderStat(99, 100), s"$lang p99")
    }
  }

  // --------------------------------------------------------- Count-Min

  test("countMinFreq: one-sided (est >= exact on every key), exact counts true, deterministic") {
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val out = Sketch.countMinFreq(events, "user_id").collect()
    assert(out.nonEmpty)
    val truth = events.groupBy("user_id").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    out.foreach { r =>
      val k = r.getLong(0); val est = r.getLong(1); val exact = r.getLong(2)
      assert(exact == truth(k))
      assert(est >= exact, s"CM underestimated key $k: $est < $exact") // hard invariant
    }
    // integer counters + min: bit-reproducible across partitionings
    val again = Sketch.countMinFreq(events.repartition(13), "user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    out.foreach(r => assert(again(r.getLong(0)) == r.getLong(1)))
  }

  // ------------------------------------------------------------- bloom

  test("bloomSeen: zero false negatives; false-positive rate near the 3% design point") {
    val history = docs.where(pmod(col("doc_id"), lit(2L)) === 0L).select("doc_id")
    val inHist = history.collect().map(_.getLong(0)).toSet
    val batch = docs.select("doc_id")
    val out = Sketch.bloomSeen(history, batch, "doc_id").collect()
    var fp = 0; var negs = 0
    out.foreach { r =>
      val id = r.getLong(0); val maybe = r.getBoolean(1)
      if (inHist(id)) assert(maybe, s"FALSE NEGATIVE on $id") // hard contract
      else { negs += 1; if (maybe) fp += 1 }
    }
    assert(negs > 0)
    // k=3, 8 bits/key -> theoretical fpr ~3.1%; generous bound for a
    // 250-key filter
    assert(fp.toDouble / negs < 0.12, s"fp=$fp of $negs")
  }

  test("bloomSeen: probe is a pure projection over the broadcast word array (no join in plan)") {
    val history = docs.limit(100).select("doc_id")
    val batch = docs.select("doc_id")
    val plan = Sketch.bloomSeen(history, batch, "doc_id")
      .queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("join"), s"probe side must not join:\n$plan")
  }

  test("logHistQuantiles: one-sided (est <= exact, relative err < 1/8) on real doc lengths") {
    val qs = Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100))
    val rows = Sketch.logHistQuantiles(docs, "n_chars", "lang", qs).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      qs.foreach { case (name, _, _) =>
        val est = r.getLong(r.fieldIndex(name))
        val exact = r.getLong(r.fieldIndex(s"${name}_exact"))
        val err = r.getLong(r.fieldIndex(s"${name}_err_bp"))
        assert(est <= exact, s"$name: est $est > exact $exact")
        assert(err >= 0 && err < 1250, s"$name err_bp=$err out of [0, 1250)")
      }
    }
  }

  test("logHistQuantiles: bin lower bound is exact below 8, within one octave-eighth above") {
    // pin the bin rule itself on a crafted value set spanning octaves
    val vals = Seq(0L, 1L, 7L, 8L, 9L, 15L, 16L, 31L, 100L, 1000L, 123456L)
      .flatMap(v => Seq(("g", v)))
    val df = spark.createDataFrame(vals).toDF("lang", "n_chars")
    val r = Sketch.logHistQuantiles(df, "n_chars", "lang",
      Seq(("p50", 1, 2))).collect()(0)
    val est = r.getLong(r.fieldIndex("p50"))
    val exact = r.getLong(r.fieldIndex("p50_exact"))
    assert(exact == 15L) // 6th of 11 ordered values
    assert(est == 15L)   // < 16 so the bin is exact-resolution
  }

  test("prefixJaccardPairs: equals the brute-force threshold pair set, any partitioning") {
    import testImplicits._
    val base = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"),   // J(1,2) = 3/5
      (3L, "alpha beta gamma delta epsilon zeta"),  // dup of 1, J = 1
      (4L, "one two three four five six seven"),
      (5L, "totally different words entirely here now")
    ).toDF("doc_id", "text")
    def run(parts: Int) =
      Dedup.prefixJaccardPairs(base.repartition(parts), 1, 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val out = run(1)
    assert(run(4) == out, "pair set depends on partitioning")
    // brute force over the same shingle kernel
    val sets = base.collect().map { r =>
      r.getLong(0) -> Dedup.shingleHashes(r.getString(1), 3).toSet
    }.toMap
    val expect = (for {
      a <- sets.keys; b <- sets.keys; if a < b
      inter = (sets(a) & sets(b)).size
      uni = sets(a).size + sets(b).size - inter
      if inter * 2 >= uni
    } yield (a, b, inter.toLong * 10000L / uni)).toSet
    assert(out == expect)
    assert(out.exists { case (a, b, bp) => a == 1L && b == 3L && bp == 10000L })
  }

  test("prefixJaccardPairs: real-document run yields pairs and a 10000-bp self-consistency cap") {
    val d = docs.where(col("doc_id") < 300)
    val rows = Dedup.prefixJaccardPairs(d, 1, 2).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val bp = r.getLong(2)
      assert(bp >= 5000L && bp <= 10000L, s"bp=$bp outside [t, 1]")
    }
  }

  test("resolveRedirects: chains resolve with hop counts, cycles and cycle-reaching srcs flag") {
    // 5 -> 4 -> 3 -> 2 -> 1 -> 0 (terminal); 10 -> 11 -> 12 -> 10 (cycle);
    // 9 -> 10 (chain INTO the cycle)
    val edges = Seq(
      (5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L), (1L, 0L),
      (10L, 11L), (11L, 12L), (12L, 10L), (9L, 10L)
    ).toDF("src", "dst")
    val out = Graph.resolveRedirects(edges, maxRounds = 8)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2), r.getBoolean(3))).toMap
    assert(out(5L) == ((0L, 5L, false))) // 5 hops to terminal 0
    assert(out(1L) == ((0L, 1L, false)))
    assert(out(10L) == ((-1L, -1L, true)))
    assert(out(11L) == ((-1L, -1L, true)))
    assert(out(12L) == ((-1L, -1L, true)))
    assert(out(9L) == ((-1L, -1L, true))) // reaches the cycle -> unresolvable
    assert(out.size == 9)
  }

  test("resolveRedirects: doubling beats per-hop walking — a 100-chain resolves in <= 8 rounds") {
    // maxRounds = 8 allows 2^8 = 256 hops; a naive walk would need 100
    val edges = (1L to 100L).map(i => (i, i - 1)).toDF("src", "dst")
    val out = Graph.resolveRedirects(edges, maxRounds = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(out.length == 100)
    assert(out.forall { case (s, f, h, c) => f == 0L && h == s && !c })
  }
}
