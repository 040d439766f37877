package graft.ops

import graft.{SparkSuite, TempDirs}
import graft.fixtures.MediaFixtures
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OpsSpec extends AnyFunSuite with SparkSuite with TempDirs {

  import testImplicits._

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  test("exact dedup: canonical row per distinct text") {
    val base = Seq((1L, "same text"), (2L, "same text"), (3L, "other")).toDF("doc_id", "text")
    val out = Dedup.exact(base).orderBy("doc_id").collect()
    assert(out.length == 2)
    assert(out(0).getLong(0) == 1 && out(0).getLong(2) == 2) // min id, dup_count
  }

  test("asofJoin: prevailing build row per probe, <= tie rule, null before first") {
    val probe = Seq(
      (1L, 10L, 100L, 1.0), // before any build row -> null
      (2L, 10L, 200L, 2.0), // exactly at build ts 200 -> matches it (>= tie)
      (3L, 10L, 350L, 3.0), // between 300 and 400 -> 300's payload
      (4L, 20L, 500L, 4.0)  // other key, after its only build row
    ).toDF("event_id", "user_id", "ts", "value")
    val build = Seq(
      (10L, 200L, 11.0), (10L, 300L, 12.0), (10L, 400L, 13.0),
      (20L, 100L, 21.0)
    ).toDF("user_id", "ts", "value")
    val out = AsofJoin.asofJoin(probe, build, "user_id", "ts", "value")
      .orderBy("event_id").collect()
    assert(out(0).isNullAt(4))
    assert(out(1).getDouble(4) == 11.0)
    assert(out(2).getDouble(4) == 12.0)
    assert(out(3).getDouble(4) == 21.0)
    // duplicate build timestamps collapse deterministically (max payload)
    val dup = Seq((10L, 200L, 5.0), (10L, 200L, 9.0)).toDF("user_id", "ts", "value")
    val collapsed = AsofJoin.latestPerKeyTime(dup, "user_id", "ts", "value").collect()
    assert(collapsed.length == 1 && collapsed(0).getDouble(2) == 9.0)
  }

  test("asofJoin: a genuinely-NULL build payload is matched, not skipped") {
    // DuckDB ASOF semantics: the most recent row wins REGARDLESS of its
    // payload's nullness — the struct carry must not let ignoreNulls
    // fall through to an older non-null row
    val probe = Seq((1L, 10L, 250L, 0.0)).toDF("event_id", "user_id", "ts", "value")
    val build = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(10L, 100L, java.lang.Double.valueOf(7.0)),
        org.apache.spark.sql.Row(10L, 200L, null: java.lang.Double)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType))))
    val out = AsofJoin.asofJoin(probe, build, "user_id", "ts", "value").collect()
    assert(out.length == 1)
    assert(out(0).isNullAt(4), "prevailing row at ts=200 has NULL payload and must win")
  }

  test("substringDupPairs: planted shared span found, unrelated docs not paired") {
    val span = ('a' to 'z').map(c => s"shared$c token$c").mkString(" ") // ~400 chars
    val d = Seq(
      (1L, s"alpha unique opening text one ${span} closing one"),
      (2L, s"totally different preamble two here ${span} and a different tail"),
      (3L, "no overlap at all in this document body whatsoever three"),
      (4L, "another disjoint document with its own words four")
    ).toDF("doc_id", "text")
    val pairs = Dedup.substringDupPairs(d, minSharedFps = 4, maxDocFreq = 64, minRun = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(pairs.length == 1)
    val (a, b, run) = pairs.head
    assert(a == 1L && b == 2L)
    assert(run >= 4, s"shared span must produce a contiguous fp run, got $run")
  }

  test("gopherMetrics: hand-computed repetition and format stats") {
    // "aa bb aa bb aa" — n=5 words, mean len 2, all alpha, top 2-gram
    // "aa bb" count 2 len 5 over 14 chars, top 3-gram "aa bb aa" count 2
    // (positions 0 and 2) len 8 over 14 chars
    val (nw, mean, sym, alpha, g2, g3) = TextAnalysis.gopherMetrics("aa bb aa bb aa")
    assert(nw == 5 && mean == 20000 && sym == 0 && alpha == 10000)
    assert(g2 == math.floor(2.0 * 5 / 14 * 10000).toLong)
    assert(g3 == math.floor(2.0 * 8 / 14 * 10000).toLong)
    // symbols: two '#' plus one non-overlapping '...' in 4 dots over 3 words
    val (n2, _, sym2, alpha2, _, _) = TextAnalysis.gopherMetrics("x# #.... y z")
    assert(n2 == 4 && sym2 == math.floor(3.0 / 4 * 10000).toLong)
    assert(alpha2 == math.floor(3.0 / 4 * 10000).toLong) // "#...." has no a-z
    // degenerate inputs
    assert(TextAnalysis.gopherMetrics("") == ((0L, 0L, 0L, 0L, 0L, 0L)))
    assert(TextAnalysis.gopherMetrics(null) == ((0L, 0L, 0L, 0L, 0L, 0L)))
    // non-BMP text: lengths are CODE POINTS (DuckDB length()), not
    // UTF-16 units — "😀a bb" = words of cp-len 2 and 2 over 5 cps
    val (n3, mean3, _, _, g23, _) = TextAnalysis.gopherMetrics("😀a bb")
    assert(n3 == 2 && mean3 == 20000,
      s"astral word length must count code points, got mean=$mean3")
    assert(g23 == math.floor(1.0 * 5 / 5 * 10000).toLong)
    // tie-break follows code-point (UTF-8 byte) order: U+1F600 < U+E000
    // is FALSE in UTF-16-unit order but TRUE never — supplementary chars
    // sort above all BMP chars
    assert(TextAnalysis.cpCompare("😀", "") > 0)
    assert("😀" < "", "JVM order differs — the kernel must not use it")
  }

  test("lmPerplexity: hand-built model, OOV fallback, floored integer mean") {
    val dir = tempDir("lm-artifact").toString
    Seq(("ab", 1000L), ("bc", 2001L), ("<OOV>", 9000L))
      .toDF("bigram", "surprise_mb").write.mode("overwrite").parquet(dir)
    val docs = Seq((1L, "abc"), (2L, "xy"), (3L, "a")).toDF("doc_id", "text")
    val out = TextAnalysis.lmPerplexity(docs, dir)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // doc 1: ab + bc -> floor(3001 / 2) = 1500; doc 2: one OOV bigram;
    // doc 3: no bigrams -> 0
    assert(out.toSeq == Seq((1L, 2L, 1500L), (2L, 1L, 9000L), (3L, 0L, 0L)))
    // SIMPLE per-code-point lowercase (DuckDB semantics): U+0130 maps
    // to 'i' (one cp), NOT i + combining dot — "İb" is exactly the one
    // bigram "ib" (OOV here), n_bigrams 1
    val turk = TextAnalysis.lmPerplexity(
        Seq((9L, "İb")).toDF("doc_id", "text"), dir)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(turk.toSeq == Seq((1L, 9000L)),
      "full case mapping leaked in — U+0130 must lower to a single cp")
  }

  test("semanticDedup: per-cell earlier-near-dup rule, cross-cell isolation") {
    val centroids = Array(Array(1.0, 0, 0, 0), Array(0.0, 1, 0, 0))
    val vecs = Seq(
      (0L, Array(1.0f, 0f, 0f, 0f)),    // cell 0, first -> kept
      (1L, Array(0.9f, 0.1f, 0f, 0f)),  // cell 0, cos(v0)=0.994 -> dropped
      (2L, Array(0.1f, 0.9f, 0f, 0f)),  // cell 1, first -> kept
      (3L, Array(0.2f, 0.8f, 0f, 0f)),  // cell 1, cos(v2)=0.99 -> dropped
      (4L, Array(0.6f, -0.8f, 0f, 0f))  // cell 0, cos(v0)=0.6, cos(v1)=0.51 -> kept
    ).toDF("vec_id", "embedding")
    val out = Similarity.semanticDedupOnIndex(
        Similarity.ivfIndex(vecs, centroids), threshold = 0.8)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
    assert(out.toSeq == Seq((0L, 0, true), (1L, 0, false),
      (2L, 1, true), (3L, 1, false), (4L, 0, true)))
  }

  test("rotationMatrix is orthonormal; rotation preserves cosine structure") {
    val r = graft.ops.Pq.rotationMatrix(64)
    for (i <- 0 until 64; j <- i until 64) {
      var d = 0.0; var k = 0
      while (k < 64) { d += r(i)(k) * r(j)(k); k += 1 }
      assert(math.abs(d - (if (i == j) 1.0 else 0.0)) < 1e-12,
        s"rows $i,$j not orthonormal: $d")
    }
    // cosine invariance through the float round-trip (~1e-6 tolerance)
    val rnd = new scala.util.Random(3)
    val a = Array.fill(64)(rnd.nextGaussian().toFloat)
    val b = Array.fill(64)(rnd.nextGaussian().toFloat)
    def cos(x: Array[Float], y: Array[Float]): Double = {
      var d = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      while (i < 64) { d += x(i).toDouble * y(i); nx += x(i).toDouble * x(i); ny += y(i).toDouble * y(i); i += 1 }
      d / math.sqrt(nx * ny)
    }
    val (ra, rb) = (graft.ops.Pq.rotateVec(a, r), graft.ops.Pq.rotateVec(b, r))
    assert(math.abs(cos(a, b) - cos(ra, rb)) < 1e-5)
  }

  test("shardByBudget: two-phase prefix sum equals the serial cumsum on any partitioning") {
    val rows = (0L until 300L).map(i => (i, 1L + (i * 31) % 97))
    val df = rows.toDF("doc_id", "n_chars").repartition(7) // scrambled input
    val got = graft.ops.Sharding.shardByBudget(df, "n_chars", budget = 500)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    var prefix = 0L
    val expected = rows.sortBy(_._1).map { case (id, w) =>
      val t = (id, prefix / 500, prefix % 500)
      prefix += w
      t
    }
    assert(got.toSeq == expected)
    // every shard except the last carries at least the budget boundary
    val shards = got.map(_._2).distinct
    assert(shards.length > 1, "test must span multiple shards")
  }

  test("mmrRerank: redundancy penalty demotes the near-duplicate of the first pick") {
    // query NOT among candidates (else penalty == relevance and MMR
    // cannot reorder): b best, a a near-dup of b, c diverse
    val vecs = Seq(
      (1L, Array(0.90f, 0.43f, 0f, 0f)),  // a: rel ~0.90, cos(a,b) ~0.998
      (2L, Array(0.92f, 0.39f, 0f, 0f)),  // b: top relevance ~0.92
      (3L, Array(0.60f, -0.80f, 0f, 0f))  // c: rel 0.60, cos(c,b) ~0.24
    ).toDF("vec_id", "embedding")
    val q = Array(1.0f, 0f, 0f, 0f)
    val out = Similarity.mmrRerank(vecs, q, m = 3, k = 3)
      .orderBy("rank").collect().map(r => (r.getLong(0), r.getLong(1)))
    // pure top-k order would be 2, 1, 3; MMR demotes the near-dup: 2, 3, 1
    assert(out.map(_._2).toSeq == Seq(2L, 3L, 1L),
      s"expected diversity reorder 2,3,1: ${out.toSeq}")
  }

  test("connectedComponents: 2048-node path converges in O(log diameter) rounds") {
    // one path graph, diameter 2047: the worst case for contraction
    // schemes that move a label one hop per round. Under the one-partition
    // bound it is one exact pass, with every node labeled by the path min
    val pairs = (0L until 2047L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (cc, rounds) = Dedup.connectedComponentsWithRounds(pairs)
    val rows = cc.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length == 2048 && rows.forall(_._2 == 0L),
      "every path node must canonicalize to the minimum id")
    assert(rounds <= 15, s"path-graph rounds must stay logarithmic, got $rounds")
  }

  test("incrementalNearDupPairs == full-corpus pairs restricted to new-touching, old history untouched") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val isNew = pmod(col("doc_id"), lit(5)) === 0
    val oldDocs = docs.where(!isNew)
    val newDocs = docs.where(isNew)
    val history = Dedup.lshBandIndex(oldDocs, 64, 32, 3)
    val inc = Dedup.incrementalNearDupPairs(history, oldDocs, newDocs,
        threshold = 0.8, numHashes = 64, bands = 32, shingleSize = 3)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val full = Dedup.minhashLshPairs(docs,
        threshold = 0.8, numHashes = 64, bands = 32, shingleSize = 3)
      .where(col("id_a") % 5 === 0 || col("id_b") % 5 === 0)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(inc.nonEmpty, "tier should contain new-touching dup pairs")
    assert(inc.toSeq == full.toSeq)
  }

  test("incrementalNearDupPairs: a re-crawled id on both sides yields no self-pair, no duplicate rows") {
    val body = "the quick analytics engine processes large web corpus data with spark"
    val oldDocs = Seq((1L, body), (2L, "totally different words here entirely unrelated")).toDF("doc_id", "text")
    // doc 1 is RE-CRAWLED (same id, same content) plus a fresh near-dup doc 9
    val newDocs = Seq((1L, body), (9L, body)).toDF("doc_id", "text")
    val history = Dedup.lshBandIndex(oldDocs, 64, 32, 3)
    val out = Dedup.incrementalNearDupPairs(history, oldDocs, newDocs,
        threshold = 0.8, numHashes = 64, bands = 32, shingleSize = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(!out.exists(p => p._1 == p._2), s"self-pair emitted: $out")
    assert(out.distinct.length == out.length, s"duplicate rows: $out")
    assert(out.map(p => (p._1, p._2)).contains((1L, 9L)), s"missing true pair: $out")
  }

  test("lineDedup: cross-doc boilerplate lines removed, structure and unique lines kept") {
    val docs = Seq(
      (1L, "unique alpha\nCOMMON FOOTER\n\nbody one"),
      (2L, "COMMON FOOTER\nbody two"),
      (3L, "body three\nCOMMON FOOTER"),
      (4L, "unique alpha\nbody four"), // "unique alpha" in 2 docs < minDocs
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = Dedup.lineDedup(docs, minDocs = 3).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(out.toSeq == Seq(
      (1L, "unique alpha\n\nbody one", 1), // empty line is structure, kept
      (2L, "body two", 1),
      (3L, "body three", 1),
      (4L, "unique alpha\nbody four", 0),
      (5L, null, 0)))
  }

  test("derepLines: within-doc repeats dropped after first, empty lines kept") {
    val docs = Seq(
      (1L, "banner\nbody a\n\nbanner\nbody a\nbody b\n\nbanner"),
      (2L, "solo line"),
      (3L, ""),          // one empty line, kept
      (4L, "\n\n"),      // three empty lines, ALL kept (structure)
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = Dedup.derepLines(docs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(out.toSeq == Seq(
      (1L, "banner\nbody a\n\nbody b\n", 3), // trailing '' from the cut repeat kept
      (2L, "solo line", 0),
      (3L, "", 0),
      (4L, "\n\n", 0),
      (5L, null, 0)))
  }

  test("decontaminate: train doc carrying an eval passage is dropped, rest survive") {
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely unrelated text about distributed query engines"),
      (3L, "more benign prose with no overlap whatsoever here")
    ).toDF("doc_id", "text")
    val eval = Seq(
      (100L, "quick brown fox jumps over the lazy")).toDF("doc_id", "text")
    val out = Dedup.decontaminate(train, eval, minShared = 2, maxDocFreq = 64)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(2L, 3L))
  }

  test("c4Clean: line rules, page poisons with precedence, empty input") {
    val good = "This is a proper sentence with enough words."
    val docs = Seq(
      (1L, s"$good\nno terminal punct line\nShort one.\n$good\n$good"),
      (2L, s"$good\n$good"),                      // only 2 kept -> too few
      (3L, s"$good\n$good\n$good\nvar x = { 1 }"), // brace beats everything
      (4L, s"$good\n$good\n$good\nWe love Lorem IPSUM text."), // lowercased match
      (5L, s"$good\n$good\n$good\nthe banned token appears."),
      (6L, s"$good\nUses the javascript keyword in a sentence.\n$good\n$good"),
      (7L, null.asInstanceOf[String]),
      (8L, "   ")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.c4Clean(docs, badWords = Set("banned"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    assert(out(0) == ((1L, s"$good\n$good\n$good", 3L, null)))
    assert(out(1) == ((2L, null, 2L, "too_few_sentences")))
    assert(out(2) == ((3L, null, 0L, "brace")))
    assert(out(3) == ((4L, null, 0L, "lorem_ipsum")))
    assert(out(4) == ((5L, null, 0L, "bad_word")))
    // the javascript LINE drops but the page survives on the other 3
    assert(out(5) == ((6L, s"$good\n$good\n$good", 3L, null)))
    assert(out(6) == ((7L, null, 0L, "empty")))
    assert(out(7) == ((8L, null, 0L, "empty")))
  }

  test("int8Quantize: round-trip error bounded by scale/254, zero vector, saturation") {
    val vs = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)),     // zero vector
      (3L, Array(1e-8f, -1e-8f, 1e-8f, 1e-8f)) // tiny but nonzero scale
    ).toDF("vec_id", "embedding")
    val out = Pq.int8Quantize(vs).orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getAs[Array[Byte]](2)))
    val (_, s1, c1) = out(0)
    assert(s1 == 1.0 && c1.length == 4)
    assert(c1(1) == -127, "the max-magnitude component saturates")
    // reconstruction error of every component <= half a quantization step
    Seq(0.5f, -1.0f, 0.25f, 0.0f).zip(c1).foreach { case (v, c) =>
      assert(math.abs(v - c * s1 / 127.0) <= s1 / 254.0 + 1e-12)
    }
    val (_, s2, c2) = out(1)
    assert(s2 == 0.0 && c2.forall(_ == 0))
    val (_, s3, c3) = out(2)
    assert(s3 > 0 && c3(0) == 127 && c3(1) == -127)
  }

  test("keepBestPerCluster: highest score wins the cluster, tie -> lowest id") {
    // cluster {1,2,3} via chain 1-2, 2-3; cluster {7,8}; scores favor 2 and tie 7/8
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b")
    val scores = Seq((1L, 10L), (2L, 99L), (3L, 50L), (7L, 5L), (8L, 5L))
      .toDF("doc_id", "score")
    val out = Dedup.keepBestPerCluster(pairs, scores).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(3))).toMap
    assert(out(2L)._2 && !out(1L)._2 && !out(3L)._2) // 99 beats min-id 1
    assert(out(7L)._2 && !out(8L)._2)                // tie -> lowest id
    assert(out(1L)._1 == out(2L)._1 && out(2L)._1 == out(3L)._1)
    assert(out.size == 5)
  }

  test("topNPerKey: salted two-phase rank equals the exact single-window rank under skew") {
    // hot key owns 80% of rows, spread over 8 partitions
    val rows = (0 until 500).map { i =>
      val key = if (i % 5 != 0) "hot" else s"cold${i % 17}"
      (i.toLong, key, (i * 37) % 211)
    }
    val df = rows.toDF("doc_id", "source", "n_chars").repartition(8)
    val got = graft.ops.DomainCap.topNPerKey(df,
        keys = Seq(col("source")),
        order = Seq(col("n_chars").desc, col("doc_id").asc), n = 3)
      .orderBy("source", "rank").collect()
      .map(r => (r.getString(1), r.getLong(0), r.getInt(3)))
    val expected = rows.groupBy(_._2).toSeq.flatMap { case (k, g) =>
      g.sortBy(r => (-r._3, r._1)).take(3).zipWithIndex
        .map { case (r, i) => (k, r._1, i + 1) }
    }.sortBy(r => (r._1, r._3))
    assert(got.toSeq == expected)
  }

  test("twoLevelQuantizer: coarse layering is exhaustive, members partition the fine set") {
    // 9 fine centroids on 3 well-separated directions -> kc = 3
    val fine = (0 until 9).map { i =>
      val base = Array.fill(4)(0.0); base(i / 3) = 1.0
      base(3) = 0.01 * (i % 3) // small within-group spread
      base
    }.toArray
    val q = Similarity.twoLevelQuantizer(fine)
    assert(q.coarse.nonEmpty && q.coarse.length <= 3)
    // membership partitions 0..8: disjoint, covering, ascending
    val all = q.members.flatten.sorted
    assert(all.toSeq == (0 until 9),
      "fine members must partition the fine index space")
    assert(q.members.forall(ms => ms.sameElements(ms.sorted)))
    // assignment consistency: two-level picks a member of the chosen
    // coarse cell, and for these separated groups equals flat argmax
    for (i <- 0 until 9) {
      val flat = Similarity.nearestCentroid(fine(i), fine)
      assert(Similarity.nearestTwoLevel(fine(i), q) == flat)
    }
  }

  test("semanticDedupAuto: two-level assignment matches the serial recomputation") {
    // deterministic vectors; auto path trains sizing+quantizer itself
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 96L).map { i =>
      (i, Array.fill(8)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val out = Similarity.semanticDedupAuto(vecs, threshold = 0.8)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
    // recompute serially with the same public rule
    val q = Similarity.trainTwoLevel(vecs, 96L)
    val rows = vecs.orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble)))
    val cells = rows.map { case (_, v) => Similarity.nearestTwoLevel(v, q) }
    val expected = rows.indices.map { i =>
      val dropped = (0 until i).exists { j =>
        cells(j) == cells(i) && {
          val (a, b) = (rows(j)._2, rows(i)._2)
          var dot = 0.0; var na = 0.0; var nb = 0.0; var d = 0
          while (d < a.length) { dot += a(d) * b(d); na += a(d) * a(d); nb += b(d) * b(d); d += 1 }
          dot / (math.sqrt(na) * math.sqrt(nb)) >= 0.8
        }
      }
      (rows(i)._1, cells(i), !dropped)
    }
    assert(out.toSeq == expected)
  }

  test("connectedComponents: transitive chains, multiple clusters, bounded rounds") {
    // chain 1-2-3-4 (greedy applyPairDedup would mis-drop here), clique
    // {10,11,12}, isolated pair {20,21}
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (10L, 12L), (11L, 12L),
      (20L, 21L)
    ).toDF("id_a", "id_b")
    val (cc, rounds) = Dedup.connectedComponentsWithRounds(pairs)
    val got = cc.orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
    assert(rounds <= 4, s"chain of diameter 3 should contract in O(log) rounds, took $rounds")
  }

  /** Components of `pairs` through the multi-partition fixpoint (edge
    * bound 0), checked against the expected minimum label per node.
    */
  private def contractedPasses(pairs: Seq[(Long, Long)], minLabel: Map[Long, Long]): Int = {
    val (cc, passes) = Dedup.connectedComponentsWithRounds(pairs.toDF("id_a", "id_b"), 0L)
    val got = cc.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == minLabel.size && got.toMap == minLabel)
    passes
  }

  test("connectedComponents above the edge bound: 2048-node path in few passes") {
    val pairs = (0L until 2047L).map(i => (i, i + 1))
    val passes = contractedPasses(pairs, (0L until 2048L).map(_ -> 0L).toMap)
    assert(passes <= 8, s"path-graph contraction took $passes passes")
  }

  test("connectedComponents above the edge bound: permuted 3000-node path in few passes") {
    // ids along the path are a seeded permutation, so the minimum sits
    // mid-path and neighbouring ids hash to unrelated partitions
    val ids = new scala.util.Random(7).shuffle((0L until 3000L).toVector)
    val pairs = ids.sliding(2).map(p => (p(0), p(1))).toSeq
    val passes = contractedPasses(pairs, ids.map(_ -> 0L).toMap)
    assert(passes <= 8, s"permuted-path contraction took $passes passes")
  }

  test("redactPii: counts and sequential replacement") {
    val df = Seq((1L, "mail a.b@x.org and 10.0.0.1 ref 123-45-6789 done"))
      .toDF("doc_id", "text")
    val (ne, ni, nid, red) = TextAnalysis.redactPii(col("text"))
    val r = df.select(ne, ni, nid, red).collect()(0)
    assert(r.getLong(0) == 1 && r.getLong(1) == 1 && r.getLong(2) == 1)
    assert(r.getString(3) == "mail <EMAIL> and <IP> ref <ID> done")
  }

  test("contaminationCheck: planted eval text inside a train doc is flagged") {
    val evalText = "the quick brown fox jumps over the lazy dog near the river bank"
    val train = Seq(
      (1L, s"train doc prefix words then $evalText and trailing content here"),
      (2L, "completely unrelated training document with other words entirely")
    ).toDF("doc_id", "text")
    val eval = Seq((100L, evalText)).toDF("doc_id", "text")
    val out = Dedup.contaminationCheck(train, eval, minShared = 2, maxDocFreq = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length == 1)
    val (trainId, evalId, shared, bp) = out.head
    assert(trainId == 1L && evalId == 100L)
    // all of the eval doc's interior trigrams appear in train doc 1
    assert(shared >= 8 && bp >= 9000, s"shared=$shared bp=$bp")
  }

  test("bucketIntervalJoin: containment matches, bucket-boundary spans, no dups") {
    def ts(us: Long) = new java.sql.Timestamp(us / 1000) // helper: ms precision
    val W = 1000000L // 1s buckets for the test
    val points = Seq(
      (1L, 10L, ts(500000L)),   // inside interval A
      (2L, 10L, ts(2500000L)),  // inside interval B (which spans buckets)
      (3L, 10L, ts(9000000L)),  // no interval
      (4L, 20L, ts(500000L))    // other key, no interval
    ).toDF("event_id", "user_id", "ts")
    val intervals = Seq(
      (10L, 100L, ts(0L), ts(900000L)),        // A: within one bucket
      (10L, 101L, ts(1800000L), ts(4200000L))  // B: spans buckets 1..4
    ).toDF("user_id", "session_id", "start_ts", "end_ts")
    val out = RangeJoin.bucketIntervalJoin(points, intervals,
        "user_id", "ts", "start_ts", "end_ts", bucketWidthUs = W)
      .select("event_id", "session_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(out.toSeq == Seq((1L, 100L), (2L, 101L))) // exactly once each
  }

  test("shingle tokenizer splits on Python whitespace (NBSP et al.) like its oracle") {
    // the dedup oracles split on the pyWs RE2 class; the kernel must
    // produce the identical shingle set for text where the two classes
    // differ from plain ASCII \s (NBSP \xa0, NEL \x85, ideographic space)
    val nbsp = "alpha\u00a0beta gamma\u0085delta epsilon\u3000zeta eta"
    val ascii = "alpha beta gamma delta epsilon zeta eta"
    assert(Dedup.shingleHashes(nbsp, 3).sorted.sameElements(
      Dedup.shingleHashes(ascii, 3).sorted),
      "Python-whitespace chars must delimit tokens identically to ASCII space")
  }

  test("minhash-LSH finds the same pairs as exact trigram jaccard (full recall here)") {
    val exact = Dedup.trigramJaccardPairs(docs, 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docs, 0.8, shingleSize = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty) // the corpus plants near-dups
    assert(lsh == exact, s"missed=${exact -- lsh} extra=${lsh -- exact}")
  }

  test("simhash: near-dup texts within small hamming distance, unrelated far") {
    val a = Dedup.simhash64("the quick brown fox jumps over the lazy dog again and again")
    val b = Dedup.simhash64("the quick brown fox jumps over the lazy dog again and once")
    val c = Dedup.simhash64("completely different words about spark shuffle partitions")
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(a, b) < ham(a, c))
    // pair query finds planted near-dups
    val pairs = Dedup.simhashPairs(docs, maxHamming = 6)
    assert(pairs.count() > 0)
  }

  test("LSH-ANN recall vs brute force on real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.where(col("vec_id") === 1).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    val brute = Similarity.bruteTopK(emb, q, 10)
      .select("vec_id").as[Long].collect().toSet
    val idx = Similarity.lshIndex(emb, bits = 8)
    val approx = Similarity.lshTopK(idx, q, 10, bits = 8, probeHamming = 3)
      .select("vec_id").as[Long].collect().toSet
    val recall = (brute & approx).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall=$recall brute=$brute approx=$approx")
    // the query vector itself must always be found
    assert(approx.contains(1L))
  }

  test("applyPairDedup removes the non-canonical side of every pair") {
    val pairs = Dedup.trigramJaccardPairs(docs, 0.8)
    val kept = Dedup.applyPairDedup(docs, pairs)
    val dropped = pairs.select("id_b").distinct().count()
    assert(kept.count() == docs.count() - dropped)
    // no surviving pair among kept docs
    val keptPairs = Dedup.trigramJaccardPairs(kept, 0.8)
    // greedy: only pairs whose both endpoints survived can remain; with
    // planted pairwise dups (no transitive chains) none should
    assert(keptPairs.count() == 0)
  }

  test("LSH near-dup pairs: high recall on planted near-duplicates") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(100)
    // plant near-duplicates: copy of each vector with one component nudged
    val planted = emb.select(
      (col("vec_id") + 100000).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        when(i === 0, x + lit(0.01f)).otherwise(x)).as("embedding"))
    val all = emb.select("vec_id", "embedding").unionByName(planted)
    val pairs = Similarity.lshNearDupPairs(all, threshold = 0.98)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0L until 100L).map(i => (i, i + 100000)).toSet
    val recall = (pairs & expected).size.toDouble / expected.size
    assert(recall >= 0.9, s"recall=$recall found=${pairs.size}")
  }

  test("LSH sizing rule: occupancy-constant bits, recall-holding tables") {
    // anchor points: the driver tier, the validated sf1 experiment, and
    // the 10^9-vector asymptote (caps engaged)
    assert(Similarity.lshSizing(500L) == (8, 8))
    assert(Similarity.lshSizing(2000L) == (10, 12))
    assert(Similarity.lshSizing(20000L) == (14, 23))
    assert(Similarity.lshSizing(1000000000L) == (24, 128))
    // monotone non-decreasing in n
    val sizes = Seq(100L, 1000L, 10000L, 100000L, 1000000L, 100000000L)
      .map(Similarity.lshSizing)
    assert(sizes == sizes.sorted)
  }

  test("LSH auto near-dup == explicit sizing at the same n") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = emb.count()
    val (bits, tables) = Similarity.lshSizing(n)
    val auto = Similarity.lshNearDupPairsAuto(emb, threshold = 0.5)
      .collect().map(_.toSeq).toSet
    val explicit = Similarity.lshNearDupPairs(emb, threshold = 0.5, bits, tables)
      .collect().map(_.toSeq).toSet
    assert(auto == explicit)
  }

  test("winnowing fingerprints: deterministic, shift-tolerant overlap") {
    val t1 = "the quick brown fox jumps over the lazy dog and runs away fast"
    val t2 = "PREFIX then " + t1 + " plus a suffix"
    val f1 = TextAnalysis.winnow(t1).toSet
    val f2 = TextAnalysis.winnow(t2).toSet
    assert(TextAnalysis.winnow(t1).toSeq == TextAnalysis.winnow(t1).toSeq)
    val overlap = (f1 & f2).size.toDouble / f1.size
    assert(overlap > 0.6, s"winnow overlap=$overlap")
    assert(TextAnalysis.winnow("short").isEmpty == ("short".length < 8))
  }

  test("langId: picks the right stopword language") {
    val df = Seq(
      ("the cat is on the mat and it was good", "en"),
      ("der hund ist nicht mit der katze und das ist gut", "de"),
      ("le chat est dans la maison et il est pour les enfants", "fr"),
      ("el perro es grande y no es para los gatos", "es"),
      ("zzz qqq xxx", "und")).toDF("text", "expected")
    val out = df.withColumn("got", TextAnalysis.langId(col("text"))).collect()
    out.foreach(r => assert(r.getString(2) == r.getString(1), r.getString(0)))
  }

  test("multimodal plumbing: decode/resize/frame-sample stubs over binary columns") {
    val media = spark.range(0, 50).map(id => (id, MediaFixtures.goldenMedia(id)._1))
      .toDF("id", "payload")
    val decoded = Multimodal.decode(media).cache()
    assert(decoded.count() == 50)
    assert(decoded.where(!col("valid")).count() == 0)
    val resized = Multimodal.aspectFit(decoded, maxSide = 128)
    val bad = resized.where(greatest(col("out_width"), col("out_height")) > 128)
    assert(bad.count() == 0)
    // corrupt payload → valid=false row, not an exception
    val corrupt = Seq((99L, Array[Byte](1, 2, 3))).toDF("id", "payload")
    val d = Multimodal.decode(corrupt).collect()(0)
    assert(!d.getBoolean(6))
    decoded.unpersist()
  }

  test("PQ ANN: deterministic codebooks, 32x compression, sane recall vs brute") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cb = Pq.train(emb, m = 8, k = 64, iters = 4)
    val again = Pq.train(emb, m = 8, k = 64, iters = 4)
    assert(cb.zip(again).forall { case (a, b) =>
      a.zip(b).forall { case (x, y) => x.sameElements(y) } })
    // artifact round-trip is exact
    val back = {
      val f = tempDir("pq").resolve("codebooks.txt")
      java.nio.file.Files.writeString(f, Pq.toLines(cb))
      Pq.fromFile(f.toString)
    }
    assert(cb.zip(back).forall { case (a, b) =>
      a.zip(b).forall { case (x, y) => x.sameElements(y) } })
    val enc = Pq.encode(emb, cb).cache()
    assert(enc.count() == emb.count())
    // 8 bytes per 64-float vector = 32x compression
    assert(enc.select("codes").collect().forall(_.getAs[Array[Byte]](0).length == 8))
    val q = emb.where(col("vec_id") === 3)
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    val brute = Similarity.bruteTopK(emb, q, 10).collect().map(_.getLong(0)).toSet
    val pq = Pq.adcTopK(enc, cb, q, 10).collect().map(_.getLong(0)).toSet
    val recall = (brute & pq).size.toDouble / brute.size
    assert(recall >= 0.5, s"PQ recall collapsed: $recall") // lossy, but not random
    assert(pq.contains(3L), "the query's own (quantized) vector must rank top-10")
    enc.unpersist()
  }

  test("IVF+PQ: composed pruning+compression; full-probe equals pure PQ") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val centroids = Similarity.kmeansTrainSample(emb, k = 8, iters = 4)
    val cb = Pq.train(emb, m = 8, k = 64, iters = 4)
    val idx = Pq.ivfPqIndex(emb, centroids, cb).cache()
    assert(idx.count() == emb.count())
    val q = emb.where(col("vec_id") === 3)
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    // probing every cell must equal pure-PQ ADC (pruning only removes)
    val full = Pq.ivfPqTopK(idx, centroids, cb, q, 10, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val pure = Pq.adcTopK(Pq.encode(emb, cb), cb, q, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(full == pure)
    // partial probe keeps most of the full-probe result
    val partial = Pq.ivfPqTopK(idx, centroids, cb, q, 10, nprobe = 4)
      .collect().map(_.getLong(0)).toSet
    val recall = (full.map(_._1).toSet & partial).size.toDouble / full.size
    assert(recall >= 0.5, s"ivfpq partial-probe recall=$recall")
    idx.unpersist()
  }

  test("IVF ANN: probing every cell equals brute force; partial probe keeps recall") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val centroids = Similarity.kmeansTrainSample(emb, k = 8, iters = 4)
    assert(centroids.length == 8 && centroids(0).length == 64)
    // deterministic: same input → identical centroids
    val again = Similarity.kmeansTrainSample(emb, k = 8, iters = 4)
    assert(centroids.zip(again).forall { case (a, b) => a.sameElements(b) })
    val idx = Similarity.ivfIndex(emb, centroids).cache()
    assert(idx.select("cell").distinct().count() > 1) // cells actually split
    val q = emb.where(col("vec_id") === 3)
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    val brute = Similarity.bruteTopK(emb, q, 10).collect().map(_.getLong(0)).toSet
    val full = Similarity.ivfTopK(idx, centroids, q, 10, nprobe = 8)
      .collect().map(_.getLong(0)).toSet
    assert(full == brute) // nprobe = k cells → exact
    val partial = Similarity.ivfTopK(idx, centroids, q, 10, nprobe = 4)
      .collect().map(_.getLong(0)).toSet
    assert(partial.contains(3L)) // the query's own cell is always probed
    val recall = partial.intersect(brute).size
    assert(recall >= 4, s"recall@10 with nprobe=4/8: $recall")
    idx.unpersist()
  }

  test("multimodal feature extraction: entropy/zero-ratio/aspect from payload bytes") {
    val media = spark.range(0, 120).map { id =>
      (id, MediaFixtures.goldenMedia(id)._1)
    }.toDF("id", "payload")
    val f = Multimodal.extractFeatures(media).collect()
    assert(f.length == 120)
    f.foreach { r =>
      assert(r.getBoolean(2), s"invalid row: $r") // all golden payloads decode
      val entropy = r.getDouble(4)
      assert(entropy >= 0.0 && entropy <= 8.0) // Shannon bounds for bytes
      val aspect = r.getDouble(6)
      assert(aspect > 0.0)
    }
    // hand-check one known payload: uniform content has higher entropy
    // than the near-empty GIF header
    val gif = Multimodal.extractFeatures(
      Seq((0L, MediaFixtures.makeGif(100, 50))).toDF("id", "payload")).collect()(0)
    assert(math.abs(gif.getDouble(6) - 2.0) < 1e-9) // aspect 100/50
    assert(gif.getInt(3) == 14 || gif.getLong(3) == 14L)
  }

  test("real image header kernels: PNG/GIF/JPEG encode→decode round-trip") {
    // PNG color types → channel map
    for ((ct, ch) <- Seq((0, 1), (2, 3), (6, 4))) {
      val m = Multimodal.decodeMeta(MediaFixtures.makePng(1234, 567, ct))
      assert(m.kind == "image" && m.valid, s"png ct=$ct")
      assert((m.width, m.height, m.channels) == ((1234, 567, ch)))
    }
    val g = Multimodal.decodeMeta(MediaFixtures.makeGif(320, 200))
    assert(g.valid && (g.width, g.height, g.channels) == ((320, 200, 3)))
    for (comps <- Seq(1, 3)) {
      val j = Multimodal.decodeMeta(MediaFixtures.makeJpeg(640, 480, comps))
      assert(j.valid && (j.width, j.height, j.channels) == ((640, 480, comps)),
        s"jpeg comps=$comps")
    }
    // truncated real headers → invalid rows, never exceptions
    for (payload <- Seq(
        MediaFixtures.makePng(10, 10, 2).take(20),
        MediaFixtures.makeGif(10, 10).take(9),
        MediaFixtures.makeJpeg(10, 10, 3).take(6),
        Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xd9.toByte))) // JPEG with no frame
      assert(!Multimodal.decodeMeta(payload).valid)
  }

  test("real audio/video container headers: WAV and MP4 round-trips") {
    val w = Multimodal.decodeAvMeta(MediaFixtures.makeWav(2, 44100, 44100))
    assert(w.valid && w.kind == "audio")
    assert(w.channels == 2 && w.sample_rate == 44100 && w.duration_ms == 1000)
    val m = Multimodal.decodeAvMeta(MediaFixtures.makeMp4(600, 1800, 2))
    assert(m.valid && m.kind == "video")
    assert(m.duration_ms == 3000 && m.n_tracks == 2)
    // garbage/truncation → invalid rows, never exceptions
    assert(!Multimodal.decodeAvMeta(Array[Byte](1, 2, 3)).valid)
    assert(!Multimodal.decodeAvMeta(MediaFixtures.makeWav(1, 8000, 100).take(20)).valid)
    assert(!Multimodal.decodeAvMeta(MediaFixtures.makeMp4(600, 600, 1).take(25)).valid)
    // adversarial chunk/box sizes must terminate (not wedge the task):
    // a RIFF chunk size of 0xFFFFFFF8 once truncated to a zero step in
    // Int arithmetic and hung the walk forever
    def wavWithChunkSize(size: Long): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(24)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(16)
        .put("WAVE".getBytes("US-ASCII"))
      bb.put("junk".getBytes("US-ASCII")).putInt(size.toInt)
      bb.array()
    }
    for (sz <- Seq(0xFFFFFFF8L, 0xFFFFFFF7L, 0xFFFFFFFFL, 0L))
      assert(!Multimodal.decodeAvMeta(wavWithChunkSize(sz)).valid, s"wav size=$sz")
    def mp4WithBoxSize(size: Long): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(24) // big-endian by default
      bb.putInt(16).put("ftypisom".getBytes("US-ASCII")).putInt(0)
      bb.putInt(size.toInt).put("free".getBytes("US-ASCII"))
      bb.array()
    }
    for (sz <- Seq(0xFFFFFFF8L, 0xFFFFFFFFL, 1L, 0L))
      assert(!Multimodal.decodeAvMeta(mp4WithBoxSize(sz)).valid, s"mp4 size=$sz")
    // moov child with a garbage size must terminate too
    val moovBad = {
      val bb = java.nio.ByteBuffer.allocate(32)
      bb.putInt(16).put("ftypisom".getBytes("US-ASCII")).putInt(0)
      bb.putInt(16).put("moov".getBytes("US-ASCII"))
      bb.putInt(0xFFFFFFF8).put("trak".getBytes("US-ASCII"))
      bb.array()
    }
    assert(!Multimodal.decodeAvMeta(moovBad).valid)
    // corpus: deterministic, kernel re-derives the truth columns
    (0L until 200L).foreach { id =>
      val (payload, kind, ch, sr, dur, tracks) = MediaFixtures.goldenAv(id)
      val r = Multimodal.decodeAvMeta(payload)
      assert(r.valid, s"id=$id")
      assert((r.kind, r.channels, r.sample_rate, r.duration_ms, r.n_tracks) ==
        ((kind, ch, sr, dur, tracks)), s"id=$id")
    }
  }

  test("PNG pixel path: encode -> decode recovers exact pixels; resize is deterministic") {
    (0L until 60L).foreach { id =>
      val img = MediaFixtures.goldenPixels(id)
      val png = MediaFixtures.makePngPixels(img, MediaFixtures.goldenColorType(id))
      val back = Multimodal.decodePngPixels(png)
      assert(back.isDefined, s"id=$id failed to decode")
      val d = back.get
      assert((d.width, d.height, d.channels) == ((img.width, img.height, img.channels)), s"id=$id")
      assert(java.util.Arrays.equals(d.pixels, img.pixels),
        s"id=$id pixels diverged after filter+deflate round-trip")
      // resize: aspect preserved, bounded, deterministic
      val r1 = Multimodal.resizePixels(img, 64)
      val r2 = Multimodal.resizePixels(img, 64)
      assert(math.max(r1.width, r1.height) <= 64 || math.max(img.width, img.height) <= 64)
      assert(Multimodal.pixelCrc(r1) == Multimodal.pixelCrc(r2))
    }
    // a 4x4 gray gradient box-filters to the exact integer means
    val tiny = Multimodal.PixelImage(4, 4, 1,
      Array.tabulate(16)(i => (i * 16).toByte))
    val half = Multimodal.resizePixels(tiny, 2)
    assert(half.width == 2 && half.height == 2)
    // block means: (0+16+64+80)/4=40, (32+48+96+112)/4=72, +128 below
    assert(half.pixels.map(_ & 0xff).toSeq == Seq(40, 72, 168, 200))
    // corrupt/truncated payloads: None, never an exception
    assert(Multimodal.decodePngPixels(null).isEmpty)
    assert(Multimodal.decodePngPixels(Array[Byte](1, 2, 3)).isEmpty)
    val full = MediaFixtures.makePngPixels(MediaFixtures.goldenPixels(1), MediaFixtures.goldenColorType(1))
    assert(Multimodal.decodePngPixels(full.take(full.length / 2)).isEmpty)
    // palette PNGs are out of scope -> None (valid=false rows downstream)
    assert(Multimodal.decodePngPixels(MediaFixtures.makePng(10, 10, 3)).isEmpty)
  }

  test("GIF pixel path: LZW encode -> decode recovers exact palette-mapped RGB") {
    (300L until 360L).foreach { id =>
      val (payload, truth) = MediaFixtures.goldenGif(id)
      val back = Multimodal.decodeGifPixels(payload)
      assert(back.isDefined, s"id=$id failed to decode")
      val d = back.get
      assert((d.width, d.height, d.channels) == ((truth.width, truth.height, 3)), s"id=$id")
      assert(java.util.Arrays.equals(d.pixels, truth.pixels),
        s"id=$id pixels diverged after LZW round-trip")
    }
    // a big uniform image forces dictionary overflow + CLEAR mid-stream
    val flat = Array.fill[Byte](200 * 200)(7)
    val pal = Array.tabulate[Byte](768)(i => (i * 11).toByte)
    val gif = MediaFixtures.makeGifPixels(200, 200, flat, pal)
    val dec = Multimodal.decodeGifPixels(gif)
    assert(dec.isDefined && dec.get.width == 200)
    assert(dec.get.pixels(0) == pal(21) && dec.get.pixels(1) == pal(22) && dec.get.pixels(2) == pal(23))
    assert(dec.get.pixels.grouped(3).map(_.toSeq).toSet.size == 1) // all pixels identical
    // sniffer routes both formats; garbage stays None
    assert(Multimodal.decodePixels(gif).isDefined)
    assert(Multimodal.decodePixels(
      MediaFixtures.makePngPixels(MediaFixtures.goldenPixels(2), MediaFixtures.goldenColorType(2))).isDefined)
    assert(Multimodal.decodePixels(Array[Byte](9, 9, 9, 9, 9, 9)).isEmpty)
    assert(Multimodal.decodeGifPixels(gif.take(gif.length / 2)).isEmpty)
    // header-only GIFs (no image data) are metadata-valid but pixel-None
    assert(Multimodal.decodeGifPixels(MediaFixtures.makeGif(10, 10)).isEmpty)
  }

  test("animated GIF: every frame round-trips; frameSample keeps the stride") {
    (0L until 30L).foreach { id =>
      val (payload, truth) = MediaFixtures.goldenAnimGif(id)
      val frames = Multimodal.decodeGifFrames(payload)
      assert(frames.isDefined, s"id=$id failed to decode")
      assert(frames.get.length == truth.length, s"id=$id frame count")
      frames.get.zip(truth).zipWithIndex.foreach { case ((d, t), i) =>
        assert(java.util.Arrays.equals(d.pixels, t.pixels), s"id=$id frame=$i")
      }
    }
    // sampling semantics over the DataFrame kernel
    val media = Seq((7L, MediaFixtures.goldenAnimGif(7L)._1),
      (9L, Array[Byte](1, 2, 3))).toDF("id", "payload")
    val out = Multimodal.frameSample(media, stride = 2)
      .orderBy("id", "frame_idx").collect()
    val nTruth = MediaFixtures.goldenAnimGif(7L)._2.length
    val sampled = out.filter(_.getLong(0) == 7L)
    assert(sampled.forall(_.getBoolean(6)))
    assert(sampled.map(_.getInt(1)).toSeq == (0 until nTruth by 2).toSeq)
    // corrupt payload: one errors-as-data row
    val bad = out.filter(_.getLong(0) == 9L)
    assert(bad.length == 1 && !bad(0).getBoolean(6))
    // single-frame view still works through decodeGifPixels
    assert(Multimodal.decodeGifPixels(MediaFixtures.goldenAnimGif(3L)._1).isDefined)
  }

  test("JPEG pixel path: huffman/DCT round-trip equals coefficient-derived truth") {
    (500L until 540L).foreach { id =>
      val (payload, truth) = MediaFixtures.goldenJpeg(id)
      val back = Jpeg.decode(payload)
      assert(back.isDefined, s"id=$id failed to decode")
      val d = back.get
      assert((d.width, d.height, d.channels) == ((truth.width, truth.height, 3)), s"id=$id")
      assert(java.util.Arrays.equals(d.pixels, truth.pixels),
        s"id=$id pixels diverged from the coefficient-derived truth")
    }
    // and the decoded image is CLOSE to the source (lossy, but smooth
    // gradients should survive quantization within a small error)
    val (payload, _) = MediaFixtures.goldenJpeg(500L)
    val dec = Jpeg.decode(payload).get
    // regenerate the source pixels exactly as goldenJpeg does
    var h = 500L * 0x9e3779b97f4a7c15L
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
    val w = 8 * (2 + Math.floorMod(h, 14).toInt)
    val ht = 8 * (2 + Math.floorMod(h >> 16, 14).toInt)
    var errSum = 0L
    var i = 0
    while (i < dec.pixels.length) {
      val y = i / (w * 3); val x = (i % (w * 3)) / 3; val ch = i % 3
      val src = ((x * (ch + 2) / 2 + y * 3 + ((h >> (ch * 8)) & 63)) & 0xff).toInt
      val got = dec.pixels(i) & 0xff
      errSum += math.abs(src - got)
      i += 1
    }
    // mean abs error small = decode genuinely reconstructs the image
    // (mod-256 gradient seams ring locally, so mean not max)
    val meanErr = errSum.toDouble / dec.pixels.length
    assert(meanErr <= 8.0, s"decoded image too far from source: meanErr=$meanErr")
    // totality: truncation and garbage return None
    assert(Jpeg.decode(payload.take(payload.length / 2)).isEmpty)
    assert(Jpeg.decode(Array[Byte](0xff.toByte, 0xd8.toByte, 1, 2, 3)).isEmpty)
    // header-only JPEGs (no scan) are metadata-valid but pixel-None
    assert(Jpeg.decode(MediaFixtures.makeJpeg(32, 32, 3)).isEmpty)
    assert(Multimodal.decodePixels(payload).isDefined) // sniffer routes
  }

  test("goldenMedia corpus: deterministic, kernel re-derives the truth columns") {
    val rows = (0L until 300L).map { id =>
      val (payload, w, h, ch) = MediaFixtures.goldenMedia(id)
      val again = MediaFixtures.goldenMedia(id)
      assert(java.util.Arrays.equals(payload, again._1)) // bit-stable
      val m = Multimodal.decodeMeta(payload)
      assert(m.valid && m.kind == "image", s"id=$id")
      assert((m.width, m.height, m.channels) == ((w, h, ch)), s"id=$id")
      m
    }
    // the generator spans both resize branches
    assert(rows.exists(m => math.max(m.width, m.height) <= 256))
    assert(rows.exists(m => math.max(m.width, m.height) > 256))
  }

  test("lexicalTopK: rarity weighting, tf saturation, deterministic tie order") {
    val corpus = Seq(
      (1L, "rare common common common"),
      (2L, "common"),
      (3L, "rare rare rare rare rare"), // tf 5 saturates to 3
      (4L, "common other"),
      (5L, "common filler")
    ).toDF("doc_id", "text")
    val q = Seq("rare", "common").toDF("tok")
    val out = Lexical.lexicalTopK(corpus, q, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // df(rare)=2 -> w=62; df(common)=4 -> w=61
    // doc1 = 1*62 + 3*61 = 245; doc3 = 3*62 = 186; docs 2/4/5 = 61
    assert(out.toSeq == Seq((1L, 245L), (3L, 186L),
      (2L, 61L), (4L, 61L), (5L, 61L)))
  }

  test("lexicalTopK: result independent of partitioning") {
    val d = docs.select(col("doc_id"), col("text"))
    val q = Seq("the", "a", "of").toDF("tok")
    def run(p: Int) = Lexical.lexicalTopK(d.repartition(p), q, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(run(1) == run(7))
  }

  test("invertedIndex: gap encoding, block boundaries, stopwording") {
    val corpus = Seq(
      (10L, "a b"), (20L, "a"), (25L, "a a"),
      (40L, "a b c"), (41L, "b b x")
    ).toDF("doc_id", "text")
    val out = Lexical.invertedIndex(corpus, blockSize = 2, dfCap = 3)
      .orderBy(col("tok"), col("block_id"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    assert(out.toSeq == Seq(
      // 'a' df=4 > cap -> stopworded summary, no postings
      ("a", 4L, -1L, 4L, null),
      // 'b' df=3, blocks of 2: [abs 10, gap 30], new block restarts abs
      ("b", 3L, 0L, 2L, "10:1,30:1"),
      ("b", 3L, 1L, 1L, "41:2"), // tf 2 at doc 41
      ("c", 1L, 0L, 1L, "40:1"),
      ("x", 1L, 0L, 1L, "41:1")))
  }

  test("invertedIndex: result independent of partitioning") {
    def run(p: Int) = Lexical.invertedIndex(
        docs.select(col("doc_id"), col("text")).repartition(p), 4, 30)
      .orderBy(col("tok"), col("block_id"))
      .collect().map(_.toSeq).toSeq
    assert(run(1) == run(7))
  }

  test("urlFilter: label-boundary suffix, prefix match, longest-entry winner") {
    val urls = Seq(
      (1L, "https://ads.host-7.example/shop/x.html"),   // subdomain of entry
      (2L, "https://xhost-7.example/blog/y.html"),      // NO label boundary
      (3L, "https://host-7.example/a/b.html"),          // exact host
      (4L, "https://deep.static.host-21.example/x/y"),  // 2 entries match
      (5L, "https://host-11.example/shop/z"),           // prefix beats domain
      (6L, "https://clean.example/a/b")                 // unlisted
    ).toDF("doc_id", "url")
    val bl = Seq(
      ("host-7.example", "adult", "domain"),
      ("host-21.example", "ads", "domain"),
      ("static.host-21.example", "tracker", "domain"),
      ("host-11.example", "annoyance", "domain"),
      ("host-11.example/shop", "commerce", "prefix")
    ).toDF("entry", "category", "kind")
    val out = CrawlOps.urlFilter(urls, bl).orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getBoolean(2), r.getString(3), r.getString(4)))
    assert(out.toSeq == Seq(
      (1L, true, "adult", "host-7.example"),
      (2L, false, null, null),
      (3L, true, "adult", "host-7.example"),
      (4L, true, "tracker", "static.host-21.example"),
      (5L, true, "commerce", "host-11.example/shop"),
      (6L, false, null, null)))
  }

  test("robotsEval: longest match wins, allow wins ties, no rule = allow") {
    val urls = Seq(
      (1L, "a.example", "/shop/x"),    // disallow / beats nothing else
      (2L, "a.example", "/blog/y"),    // allow /blog (longer) rescues
      (3L, "b.example", "/news/z"),    // equal-length tie: allow wins
      (4L, "c.example", "/any/p"),     // unruled host: default allow
      (5L, "a.example", "/blo"),       // prefix of the allow, NOT a match
      (6L, "d.example", "/shop/q")     // ruled host, unmatched path
    ).map { case (id, h, p) => (id, s"https://$h$p", h, p) }
      .toDF("doc_id", "url", "host", "path")
    val rules = Seq(
      ("a.example", "disallow", "/"),
      ("a.example", "allow", "/blog"),
      ("b.example", "disallow", "/news"),
      ("b.example", "allow", "/news"),
      ("d.example", "disallow", "/private")
    ).toDF("host", "kind", "prefix")
    val out = CrawlOps.robotsEval(urls, rules).orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getBoolean(2), r.getString(3), r.getString(4)))
    assert(out.toSeq == Seq(
      (1L, false, "disallow", "/"),
      (2L, true, "allow", "/blog"),
      (3L, true, "allow", "/news"),
      (4L, true, null, null),
      (5L, false, "disallow", "/"),
      (6L, true, null, null)))
  }

  test("floorMillibitLog2: exact integer floor of 1000*log2(a/b)") {
    // powers of two are exact anchors
    assert(TextAnalysis.floorMillibitLog2(1, 1) == 0L)
    assert(TextAnalysis.floorMillibitLog2(2, 1) == 1000L)
    assert(TextAnalysis.floorMillibitLog2(1024, 1) == 10000L)
    assert(TextAnalysis.floorMillibitLog2(1, 2) == -1000L)
    // general values: k <= 1000*log2(a/b) < k+1 (double check is sound
    // away from boundaries; the implementation is exact AT them)
    for ((a, b) <- Seq((148788L, 1L), (148788L, 70L), (3L, 7L), (999983L, 17L))) {
      val k = TextAnalysis.floorMillibitLog2(a, b)
      val x = 1000.0 * (math.log(a.toDouble) - math.log(b.toDouble)) / math.log(2.0)
      assert(k <= x + 1e-6 && x < k + 1 + 1e-6, s"($a,$b) -> $k vs $x")
    }
  }

  test("trainBigramLm reproduces the committed artifact (independent Python derivation)") {
    val sf001 = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val got = TextAnalysis.trainBigramLm(sf001)
      .orderBy(col("bigram")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val want = spark.read
      .parquet(s"${graft.SparkEntry.goldenDir}/bigram_lm_sf001.parquet")
      .orderBy(col("bigram")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == want)
  }

  test("floorMillibitLog2Rat: agrees with single-ratio floor, survives overflow") {
    // product form must equal the single-ratio floor when a2 = b2
    for ((a, b) <- Seq((148788L, 70L), (3L, 7L), (2L, 1L), (999983L, 17L)))
      assert(TextAnalysis.floorMillibitLog2Rat(a, 5L, b, 5L) ==
        TextAnalysis.floorMillibitLog2(a, b))
    // (a1*a2) overflows Long (2^62 * 2^62): exact answer is 1000*(62+62-0-0)
    val big = 1L << 62
    assert(TextAnalysis.floorMillibitLog2Rat(big, big, 1L, 1L) == 124000L)
    // powers of two are exact anchors in product form too
    assert(TextAnalysis.floorMillibitLog2Rat(8L, 4L, 2L, 1L) == 4000L)
  }

  test("fixMojibake: repairs UTF-8-as-Latin-1, leaves genuine Latin-1 and ASCII") {
    import TextAnalysis.fixMojibake
    val clean = "caf\u00e9 d\u00e9j\u00e0"
    val moji = new String(clean.getBytes("UTF-8"), "ISO-8859-1")
    assert(moji != clean)
    assert(fixMojibake(moji) == ((clean, true)))
    // genuine Latin-1-range text: strict UTF-8 re-decode fails -> untouched
    assert(fixMojibake("caf\u00e9") == (("caf\u00e9", false)))
    // pure ASCII: untouched, reported unfixed
    assert(fixMojibake("plain ascii") == (("plain ascii", false)))
    // any char above U+00FF means it is NOT a Latin-1 reading
    assert(fixMojibake("ok \u20ac here") == (("ok \u20ac here", false)))
    // null/empty pass through
    assert(fixMojibake("") == (("", false)))
    assert(fixMojibake(null) == ((null, false)))
    // double-encoded needs two applications; one pass is idempotent-safe
    val dbl = new String(moji.getBytes("UTF-8"), "ISO-8859-1")
    val (once, fixed1) = fixMojibake(dbl)
    assert(fixed1 && once == moji)
    assert(fixMojibake(once) == ((clean, true)))
    // repaired output is a fixpoint
    assert(fixMojibake(clean) == ((clean, false)))
  }

  test("nbClassify: scores match a hand NB computation; partitioning-independent") {
    val docs = Seq(
      (1L, "good good fine", true),
      (2L, "bad bad awful", false),
      (3L, "good bad", true),
      (4L, "awful fine", false),
      (5L, "good good good", true),
      (6L, "", false) // zero tokens: bare prior
    ).toDF("doc_id", "text", "en")
    val out = TextAnalysis.nbClassify(docs, col("en"))
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getBoolean(3)))
    // hand model: N1=8, N0=5, V=4, D1=3, D0=3
    // c1: good=6, fine=1, bad=1, awful=0; c0: bad=2, awful=2, fine=1, good=0
    def w(c1: Long, c0: Long) =
      TextAnalysis.floorMillibitLog2Rat(c1 + 1, 5 + 4, c0 + 1, 8 + 4)
    val prior = TextAnalysis.floorMillibitLog2(4, 4)
    val wGood = w(6, 0); val wFine = w(1, 1); val wBad = w(1, 2); val wAwful = w(0, 2)
    val expect = Seq(
      (1L, prior + 2 * wGood + wFine),
      (2L, prior + 2 * wBad + wAwful),
      (3L, prior + wGood + wBad),
      (4L, prior + wAwful + wFine),
      (5L, prior + 3 * wGood),
      (6L, prior))
    assert(out.map(r => (r._1, r._2)).toSeq == expect)
    assert(out.forall(r => r._3 == (r._2 >= 0)))
    // partitioning independence (integer arithmetic, no float summation)
    val rep = TextAnalysis.nbClassify(docs.repartition(7), col("en"))
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getBoolean(3)))
    assert(rep.toSeq == out.toSeq)
  }

  test("applyTokens: sequence matches applyCount's count on corpus pieces") {
    val merges = graft.text.Bpe.fromFile(s"${graft.SparkEntry.goldenDir}/bpe_merges.txt")
    val ranks = graft.text.Bpe.ranksOf(merges)
    val pieces = Seq("the", " value", " aggregation", "window",
      " 12345", "  ", "a", "", " spark-sql", "queryquery")
    for (p <- pieces) {
      val toks = graft.text.Bpe.applyTokens(p, ranks)
      assert(toks.mkString == p, s"tokens must concatenate back to '$p'")
      assert(toks.length == graft.text.Bpe.applyCount(p, ranks),
        s"count/sequence drift on '$p'")
    }
  }

  test("packSequences: hand case — boundaries, EOS, checksum; partition-independent") {
    val merges = Seq.empty[(String, String)] // no merges: 1 token per char
    // doc 1: "abc" -> a b c <eos>; doc 2: "de" -> d e <eos>; doc 3: "" -> <eos>
    val docs = Seq((1L, "abc"), (2L, "de"), (3L, "")).toDF("doc_id", "text")
    val out = SeqPack.packSequences(docs, merges, seqLen = 4)
      .orderBy(col("seq_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    def k(s: String) = SeqPack.tokKey(s)
    val eos = k(SeqPack.EosToken)
    // global stream: a b c EOS | d e EOS EOS  (8 tokens, 2 seqs of 4)
    val seq0 = 1L * k("a") + 2L * k("b") + 3L * k("c") + 4L * eos
    val seq1 = 1L * k("d") + 2L * k("e") + 3L * eos + 4L * eos
    assert(out.toSeq == Seq(
      (0L, 4L, 1L, 1L, 1L, seq0),
      (1L, 4L, 2L, 2L, 3L, seq1)))
    val rep = SeqPack.packSequences(docs.repartition(5), merges, seqLen = 4)
      .orderBy(col("seq_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rep.toSeq == out.toSeq)
  }

  test("packSequences: doc spanning a boundary splits; totals conserved") {
    val docs = Seq((10L, "abcdef"), (11L, "gh")).toDF("doc_id", "text")
    val out = SeqPack.packSequences(docs, Seq.empty, seqLen = 4)
      .orderBy(col("seq_id")).collect()
    // stream: a b c d | e f EOS g | h EOS -> seqs of 4, 4, 2
    assert(out.map(_.getLong(1)).sum == 6 + 1 + 2 + 1) // all tokens land once
    assert(out.length == 3)
    val s1 = out(1)
    assert(s1.getLong(2) == 2 && s1.getLong(3) == 10L && s1.getLong(4) == 11L)
    val last = out(2)
    assert(last.getLong(1) == 2L) // ragged tail kept, not padded
  }
}
