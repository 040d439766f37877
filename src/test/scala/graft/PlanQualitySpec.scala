package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Catalyst plan-quality gates (the SURVEY.md §4 design rule: cheap
  * predicates stay BEFORE opaque kernels so pushdown/pruning reach the
  * parquet scan). These assertions fail if a refactor accidentally
  * hides a filter behind a mapPartitions or widens a scan.
  */
class PlanQualitySpec extends AnyFunSuite with SparkSuite with TempDirs {

  /** 300 synthetic pages as parquet, in a dir that lives as long as the test. */
  private def pagesPath: String = {
    val dir = tempDir("plan-pages").toString
    graft.table.SyntheticPages.generate(spark, 300, partitions = 4)
      .toDF().write.mode("overwrite").parquet(dir)
    dir
  }

  test("lang filter pushes down to the parquet scan") {
    val plan = spark.read.parquet(pagesPath)
      .where(col("lang") === "en")
      .select("url", "html")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]"), plan)
  }

  test("extraction scan prunes to url+html even with filters upstream") {
    val pages = spark.read.parquet(pagesPath).where(col("lang") === "en")
    val plan = graft.extract.Extract.extractPages(pages)
      .queryExecution.executedPlan.toString
    // ReadSchema must not include warc_ts/text — only what the kernel uses
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("url") && readSchema.contains("html"), readSchema)
    assert(!readSchema.contains("warc_ts") && !readSchema.contains("text"), readSchema)
  }

  test("q1-style agg keeps partial aggregation (map-side combine)") {
    val plan = SparkEntry.queries("q1_agg")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    // partial + final HashAggregate pair around a single Exchange
    assert(plan.contains("HashAggregate"))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
  }

  test("join_enrich broadcasts the dimension side") {
    val plan = SparkEntry.queries("join_enrich")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("anti_join plans as a broadcast/shuffled anti join, not a cartesian") {
    val plan = SparkEntry.queries("anti_join")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("dedup_jaccard plan: hash-agg df cap + broadcast anti-join, no sort window") {
    val plan = graft.ops.Dedup.trigramJaccardPairs(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"),
        threshold = 0.8, maxDocFreq = 64)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"df cap regressed to a sort window:\n$plan")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"hot-shingle removal is not a broadcast anti-join:\n$plan")
  }

  test("bucketed tables co-locate the join: no shuffle exchange") {
    // bucketing = the co-located-join story at 100 TB: both sides
    // pre-hashed into the same bucket count on the join key, so the
    // sort-merge join reads bucket i against bucket i with NO exchange
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      import testImplicits._
      val facts = (0L until 2000L).map(i => (i % 97, i, i * 1.5)).toDF("k", "a", "b")
      val dims = (0L until 97L).map(i => (i, s"dim_$i")).toDF("k", "name")
      facts.write.mode("overwrite").bucketBy(8, "k").sortBy("k").saveAsTable("pq_facts")
      dims.write.mode("overwrite").bucketBy(8, "k").sortBy("k").saveAsTable("pq_dims")
      val joined = spark.table("pq_facts").join(spark.table("pq_dims"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join should be exchange-free:\n$plan")
      assert(joined.count() == 2000)
    } finally {
      spark.sql("DROP TABLE IF EXISTS pq_facts")
      spark.sql("DROP TABLE IF EXISTS pq_dims")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }

  test("AQE splits a skewed join partition at runtime") {
    // one hot key carrying ~100x the rows of the others; with tiny
    // advisory sizes AQE's skew-join optimization must split it
    val conf = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import testImplicits._
      val skewed = spark.range(0, 200000).map { i =>
        val k = if (i % 2 == 0) 0L else i % 97 // half the rows on key 0
        (k, "payload-" + i)
      }.toDF("k", "v").repartition(8)
      val dim = (0L until 97L).map(i => (i, s"d$i")).toDF("k", "name")
      val joined = skewed.join(dim, "k")
      // execute THIS Dataset's own QueryExecution (count() would plan a
      // separate aggregate and leave this plan unexecuted/non-final)
      assert(joined.collect().length == 200000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"no skew handling in final AQE plan:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("neardup_lsh bucket exchange carries ids only, never the embedding") {
    // the LSH self-join must shuffle (vec_id, table, bucket) triples;
    // if the embedding column rides through the bucket exchange the
    // shuffle volume multiplies by `tables` at 100 TB
    // force the shuffle path (at sf0.001 the bucket join broadcasts,
    // leaving nothing to inspect — at scale it shuffles) and disable AQE
    // (AdaptiveSparkPlanExec hides the exchanges from plan.collect)
    val conf = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val prev = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      val plan = graft.ops.Similarity.lshNearDupPairs(emb, threshold = 0.9)
        .queryExecution.executedPlan
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.Exchange => e
      }
      val bucketExchanges = exchanges.filter(_.output.exists(_.name == "bucket"))
      assert(bucketExchanges.nonEmpty, plan.toString)
      bucketExchanges.foreach { e =>
        assert(!e.output.exists(_.name.toLowerCase.contains("emb")),
          s"bucket exchange carries an embedding column: ${e.output.map(_.name).mkString(", ")}")
      }
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("dedup_substring exchanges carry fingerprints/ids only, never text") {
    // the substring miner's scale premise: only (doc_id, fp_index, fp)
    // triples shuffle through the inverted-index self-join and the
    // window — document text must never cross an exchange
    val conf = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val prev = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      // gate the MATCH stage directly (substringDupPairs materializes
      // it with localCheckpoint for its three consumers, which would
      // hide the kernel/self-join exchanges from the downstream plan)
      val plan = graft.ops.Dedup.substringMatchTable(docs, maxDocFreq = 64)
        .queryExecution.executedPlan
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.Exchange => e
      }
      assert(exchanges.nonEmpty, plan.toString)
      exchanges.foreach { e =>
        assert(!e.output.exists(_.name.toLowerCase.contains("text")),
          s"exchange carries text: ${e.output.map(_.name).mkString(", ")}")
      }
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** substringDupPairs' own plan over the checkpointed match table: the
    * diagonal prefilter, the island window and the shared-mass aggregate.
    * Planned without broadcasts or AQE, so the gates see every exchange.
    */
  private def substringPairsPlan: org.apache.spark.sql.execution.SparkPlan = {
    val conf = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val prev = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import testImplicits._
      // the plan past the checkpoint does not depend on the input
      val shared = (1 to 40).map(i => s"w$i").mkString(" ")
      val docs = Seq((1L, s"alpha $shared beta"), (2L, s"gamma $shared delta"),
        (3L, "unrelated words only")).toDF("doc_id", "text")
      graft.ops.Dedup.substringDupPairs(docs).queryExecution.executedPlan
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("dedup_substring past the checkpoint: no text in any exchange, bounded exchange count") {
    // the bound is the plan's exchange count when the gate was added (5)
    val plan = substringPairsPlan
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }
    exchanges.foreach { e =>
      assert(!e.output.exists(_.name.toLowerCase.contains("text")),
        s"exchange carries text: ${e.output.map(_.name).mkString(", ")}")
    }
    assert(exchanges.nonEmpty && exchanges.size <= 5, plan.toString)
  }

  test("dedup_substring past the checkpoint: prefilter and shared mass hash-aggregate map-side, one island window") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = substringPairsPlan
    val aggs = plan.collect { case a: HashAggregateExec => a }
    def keys(a: HashAggregateExec) = a.groupingExpressions.map(_.name)
    // the diagonal prefilter's count combines map-side, before its exchange
    assert(aggs.exists(a => keys(a) == Seq("id_a", "id_b", "diag") &&
      a.aggregateExpressions.exists(_.mode == Partial)), plan.toString)
    // shared mass, count(distinct fp) per pair: (pair, fp) is deduped on
    // both sides of its exchange
    assert(aggs.count(a => keys(a) == Seq("id_a", "id_b", "fp")) == 2, plan.toString)
    assert(plan.collect { case a: SortAggregateExec => a }.isEmpty, plan.toString)
    // exactly one window: the island numbering, per diagonal, in ia order
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.size == 1, plan.toString)
    assert(windows.head.partitionSpec.map(_.sql) == Seq("id_a", "id_b", "diag") &&
      windows.head.orderSpec.map(_.child.sql) == Seq("ia"), plan.toString)
  }

  test("connected components: a contraction pass has one endpoint-keyed exchange, one for distinct, no join") {
    import testImplicits._
    val edges = Seq((2L, 1L), (3L, 2L), (5L, 4L)).toDF("u", "v")
    val plan = graft.ops.Dedup.contractionPass(edges, 4).queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"a contraction pass must not join:\n$plan")
    assert("""Exchange hashpartitioning\(k#\d+L?, 4\)""".r.findAllIn(plan).size == 1, plan)
    assert("""Exchange hashpartitioning\(u#\d+L?, v#\d+L?, \d+\)""".r.findAllIn(plan).size == 1, plan)
    assert("Exchange".r.findAllIn(plan).size == 2, plan)
  }

  test("contamination_check broadcasts the eval side; train never shuffles pre-join") {
    // the 10^12-train-doc shape: the held-out eval set is small by
    // construction, so its shingles must arrive at the train side via
    // BroadcastExchange — a shuffle of train shingles keyed by tok
    // would move the whole corpus
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = graft.ops.Dedup.contaminationCheck(
      docs.where(col("doc_id") % 29 =!= 3),
      docs.where(col("doc_id") % 29 === 3))
    out.collect() // materialize so AQE settles the final plan
    val planStr = out.queryExecution.executedPlan.toString
    assert(planStr.contains("BroadcastExchange"), planStr)
    // tok-keyed exchanges may carry only AGGREGATED (tok, count) rows —
    // the df-cap's partial combine; a raw (tok, id) exchange would move
    // the whole train corpus's shingles
    val raw = "hashpartitioning\\(tok[^)]*id".r.findFirstIn(planStr)
    assert(raw.isEmpty, s"raw (tok, id) shingles shuffled:\n$planStr")
  }

  test("no CartesianProduct in any driver query plan (sweep)") {
    // neardup_cosine is the labeled brute-force oracle path — the one
    // intentional cross join; every other query must plan cartesian-free
    val allowed = Set("neardup_cosine")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, _) if allowed(name) => None
      case (name, fn) =>
        val plan = fn(spark, "/root/testdata/sf0.001")
          .queryExecution.executedPlan.toString
        if (plan.contains("CartesianProduct")) Some(name) else None
    }
    assert(offenders.isEmpty, s"cartesian products in: ${offenders.mkString(", ")}")
  }

  test("runtime bloom filter prunes the fact side of a selective join") {
    // Spark's runtime row-level filtering: a selective dim side injects a
    // bloom filter into the fact scan, cutting shuffle volume — a
    // first-order lever at 100 TB. Thresholds lowered so the sf-scale
    // fixture qualifies as a creation side.
    val conf = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "1GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      val o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .where(col("o_orderpriority") === "1-URGENT") // selective dim side
      val joined = li.join(o, col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain") && plan.contains("bloom_filter_agg"),
        s"no runtime bloom filter injected:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("asof_join plans ONE keyed exchange and no join operator") {
    // the union-window composition must cost exactly ONE key-only hash
    // shuffle (the window exchange — what a native ASOF strategy would
    // pay); the build side's (key, time) dedup pre-agg and the final
    // orderBy range exchange are separate and expected. Any *Join
    // operator means the composition regressed to an actual join.
    val plan = SparkEntry.queries("asof_join")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"asof composition regressed to a join:\n$plan")
    val keyOnly = """Exchange hashpartitioning\(user_id#\d+L?, \d+\)""".r
      .findAllIn(plan).size
    assert(keyOnly == 1, s"expected 1 key-only exchange, got $keyOnly:\n$plan")
  }

  test("dedup_semantic plans ONE cell exchange, no join, floats on the wire") {
    // the SemDeDup scale story: assignment is a shuffle-free map, the
    // pairwise compare costs exactly ONE hash exchange on cell id, and
    // the vectors cross it as FLOATS (half the bytes of double)
    val plan = SparkEntry.queries("dedup_semantic")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"semantic dedup regressed to a join:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 cell exchange, got $exchanges:\n$plan")
    assert(!plan.contains("cast(embedding"),
      s"embedding must cross the exchange as float, not pre-cast:\n$plan")
  }

  test("chunk_chars scan prunes to doc_id+text") {
    val plan = SparkEntry.queries("chunk_chars")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    val readSchema = "ReadSchema: [^\\n]+".r.findFirstIn(plan).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text") &&
      !readSchema.contains("lang") && !readSchema.contains("source"),
      s"chunker scan must prune to doc_id+text: $readSchema")
  }

  test("line_dedup: counting exchange carries 8-byte hashes only; removal pass is shuffle-free") {
    // AQE off so Exchange nodes are directly collectable (the adaptive
    // wrapper hides children until execution)
    val prevAqe = spark.conf.getOption("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // pass 1: only (h, partial count) may cross the exchange
    val countPlan = graft.ops.Dedup.boilerplateLineHashes(docs, 3)
      .queryExecution.executedPlan
    val exchanges = countPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }
    assert(exchanges.nonEmpty, countPlan.toString)
    exchanges.foreach { e =>
      assert(e.output.forall(a => a.name == "h" || a.name.startsWith("count")),
        s"line-count exchange must carry hash+count only: ${e.output.map(_.name)}")
    }
    assert(countPlan.toString.contains("partial_count") ||
      countPlan.toString.contains("partial count") ||
      "HashAggregate.*partial".r.findFirstIn(countPlan.toString).isDefined,
      s"line counting must combine map-side:\n$countPlan")
    // pass 2 (the returned frame): per-row kernel, NO exchange at all
    val outPlan = graft.ops.Dedup.lineDedup(docs, minDocs = 3)
      .queryExecution.executedPlan
    assert(outPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }.isEmpty, s"line removal must not shuffle text:\n$outPlan")
    } finally prevAqe match {
      case Some(v) => spark.conf.set("spark.sql.adaptive.enabled", v)
      case None => spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("dedup_incremental: candidate mining exchanges carry ids/bands only, never text") {
    // the ingest-loop scale premise: history text is point-read for the
    // verified candidate set only — no exchange upstream of the verify
    // join may carry a text column
    val prevAqe = spark.conf.getOption("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      val isNew = pmod(col("doc_id"), lit(5)) === 0
      val history = graft.ops.Dedup.lshBandIndex(docs.where(!isNew), 64, 32, 3)
      val nb = graft.ops.Dedup.lshBandIndex(docs.where(isNew), 64, 32, 3)
      val candidates = nb.as("a").join(history.as("b"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key"))
        .select(col("a.doc_id"), col("b.doc_id"))
      val plan = candidates.queryExecution.executedPlan
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.Exchange => e
      }
      assert(exchanges.nonEmpty, plan.toString)
      exchanges.foreach { e =>
        assert(!e.output.exists(_.name.toLowerCase.contains("text")),
          s"band-index exchange carries text: ${e.output.map(_.name)}")
      }
    } finally prevAqe match {
      case Some(v) => spark.conf.set("spark.sql.adaptive.enabled", v)
      case None => spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("domain_cap: salted two-phase rank — hot domains split across reducers") {
    val plan = SparkEntry.queries("domain_cap")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert("Window".r.findAllIn(plan).size >= 2,
      s"expected the two-phase (salted + exact) window pair:\n$plan")
    assert("hashpartitioning\\(source[^)]*__salt".r.findFirstIn(plan).isDefined,
      s"phase-1 exchange must salt the domain key with the partition id:\n$plan")
  }

  test("sketch_hll: register build keeps partial aggregation (the shuffle carries the sketch)") {
    val plan = SparkEntry.queries("sketch_hll")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    // map-side partial max collapses each partition to <= m rows per
    // group BEFORE the exchange — without it the shuffle carries the
    // raw event stream and the sketch buys nothing
    assert(plan.contains("partial_max"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("sketch_heavy: exact pass joins the candidate set by BROADCAST, counts map-side") {
    val plan = SparkEntry.queries("sketch_heavy")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    // the <= k*parts candidate set must broadcast (never shuffle the
    // exploded token stream to meet it), and the exact count must
    // partial-aggregate before its exchange
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("partial_count"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("sketch_cm: counter build partial-aggregates; the d*w sketch broadcasts to the probe") {
    val plan = SparkEntry.queries("sketch_cm")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    // map-side combine bounds each partition's exchange at d*w counter
    // rows however many events scan in; the probe must meet the sketch
    // by broadcast, never by shuffling events against it
    assert(plan.contains("partial_count"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("quantile_exact: histogram partial-aggregates; no global sort in the operator") {
    // gate the OPERATOR, not the registered query — the query's final
    // orderBy over <= |groups| result rows legitimately range-partitions
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = graft.ops.Sketch.exactQuantiles(docs, "n_chars", "lang",
        Seq(("p50", 1, 2), ("p99", 99, 100)))
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_count"), plan)
    // the whole point: |distinct v| histogram rows shuffle and sort
    // per-group — a rangepartitioning exchange would mean Catalyst
    // planned the global-sort spelling this operator exists to avoid
    assert(!plan.contains("rangepartitioning"), plan)
  }

  test("graph_pagerank: one round = edge join + map-side-combined contribution sum") {
    import org.apache.spark.sql.functions.{col, pmod, lit, count}
    val ids = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id").as("id"))
    val edges = ids.select(col("id").as("u"),
      pmod(col("id") * 7L + 3L, lit(500L)).as("v"))
    val simple = edges.where(col("u") =!= col("v")).distinct()
    val withDeg = simple.join(
      simple.groupBy("u").agg(count(lit(1)).as("outdeg")), "u")
    val ranks = ids.select(col("id"), lit(graft.ops.Graph.Scale).as("rank"))
    // gate the operator's OWN round body (Graph.rankRound — the exact
    // code pageRank checkpoints each round, so this cannot drift from
    // the operator): contributions must partial-sum before their
    // exchange, so at 10^12 edges the per-round shuffle carries one row
    // per (dst, mapper), not one per edge
    val plan = graft.ops.Graph.rankRound(ids, withDeg, ranks)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_sum"), plan)
  }

  test("crawl_diff: the full-outer join exchanges digests only, never text") {
    // the incremental-recrawl premise: both snapshots reduce to (key,
    // 32-byte sha256) BEFORE the join, so the diff of 10^12 pages
    // shuffles fixed-width rows, not document bodies
    val prevAqe = spark.conf.getOption("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      val plan = graft.ops.CrawlOps.snapshotDiff(
          docs.where(pmod(col("doc_id"), lit(11L)) =!= 3L),
          docs.where(pmod(col("doc_id"), lit(13L)) =!= 5L))
        .queryExecution.executedPlan
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.Exchange => e
      }
      assert(exchanges.nonEmpty, plan.toString)
      exchanges.foreach { e =>
        assert(!e.output.exists(_.name.toLowerCase.contains("text")),
          s"diff exchange carries text: ${e.output.map(_.name)}")
      }
    } finally prevAqe match {
      case Some(v) => spark.conf.set("spark.sql.adaptive.enabled", v)
      case None => spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("sample_stratified: kernel bounds the exchange; no text or raw rows shuffle") {
    // phase 1 (mapPartitions capped heaps) must sit BELOW every
    // exchange: only <= k*partitions (stratum, key, pri) candidate
    // triples may shuffle into the ranking window — a window over the
    // raw table would shuffle all 10^12 rows
    val prevAqe = spark.conf.getOption("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      val plan = graft.ops.CrawlOps.stratifiedSample(
          docs.select(col("lang"), col("doc_id")), "lang", "doc_id", 20)
        .queryExecution.executedPlan
      val planStr = plan.toString
      assert(planStr.contains("MapPartitions"), planStr)
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.Exchange => e
      }
      assert(exchanges.nonEmpty, planStr)
      exchanges.foreach { e =>
        // candidate triples (+ the window's rank output) only
        assert(e.output.size <= 4 &&
          !e.output.exists(_.name.toLowerCase.contains("text")),
          s"sampler exchange too wide: ${e.output.map(_.name)}")
        // every exchange consumes the kernel's output, not the scan:
        // the kernel's SerializeFromObject must appear in its subtree
        assert(e.toString.contains("SerializeFromObject"),
          s"exchange below the sampling kernel:\n$e")
      }
    } finally prevAqe match {
      case Some(v) => spark.conf.set("spark.sql.adaptive.enabled", v)
      case None => spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("anchor_topk: anchors aggregate map-side; token arrays never shuffle") {
    // the 10^13-link shape: the per-anchor count partial-combines
    // before its exchange, the top-1 window runs over aggregated rows,
    // and the source page's token array stays partition-local (AQE off
    // so Exchange nodes are directly collectable)
    val prevAqe = spark.conf.getOption("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = SparkEntry.queries("anchor_topk")(spark, "/root/testdata/sf0.001")
        .queryExecution.executedPlan
      val planStr = plan.toString
      assert(planStr.contains("partial_count"), planStr)
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.Exchange => e
      }
      assert(exchanges.nonEmpty, planStr)
      exchanges.foreach { e =>
        assert(!e.output.exists(a => a.name == "tk" ||
            a.name.toLowerCase.contains("text")),
          s"anchor exchange carries tokens/text: ${e.output.map(_.name)}")
      }
    } finally prevAqe match {
      case Some(v) => spark.conf.set("spark.sql.adaptive.enabled", v)
      case None => spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("quantile_hdr: bin counts partial-aggregate map-side; no global sort anywhere") {
    // the sketch's scale premise: the exchange carries <= |bins| partial
    // counts per (group, partition) — and quantiles never cost a
    // rangepartitioning (the global-sort spelling this operator avoids)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = graft.ops.Sketch.logHistQuantiles(docs, "n_chars", "lang",
        Seq(("p50", 1, 2), ("p99", 99, 100)))
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_count"), plan)
    assert(!plan.contains("rangepartitioning"), plan)
  }

  test("dedup_prefix: every exchange carries ids/hashes/counts only, never text") {
    // prefix filtering's scale premise: the shingle kernel reduces text
    // to 8-byte hashes BEFORE any exchange; df, ranking, candidate and
    // verify joins all shuffle fixed-width rows
    val prevAqe = spark.conf.getOption("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      val plan = graft.ops.Dedup.prefixJaccardPairs(docs, 1, 2)
        .queryExecution.executedPlan
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.Exchange => e
      }
      assert(exchanges.nonEmpty, plan.toString)
      exchanges.foreach { e =>
        assert(!e.output.exists(_.name.toLowerCase.contains("text")),
          s"prefix-join exchange carries text: ${e.output.map(_.name)}")
      }
    } finally prevAqe match {
      case Some(v) => spark.conf.set("spark.sql.adaptive.enabled", v)
      case None => spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("index_build exchanges carry posting columns only, never text") {
    // sort-based indexing's scale premise: after the tokenize explode,
    // only (tok, doc_id, tf/rn/df) rows move — document text must never
    // cross an exchange on the way to the posting blocks
    val conf = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val prev = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      val plan = graft.ops.Lexical.invertedIndex(docs, 128, 400)
        .queryExecution.executedPlan
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.Exchange => e
      }
      assert(exchanges.nonEmpty, plan.toString)
      exchanges.foreach { e =>
        assert(!e.output.exists(_.name.toLowerCase.contains("text")),
          s"exchange carries text: ${e.output.map(_.name).mkString(", ")}")
      }
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("url_filter resolves the blocklist via broadcast equi-joins, no LIKE scan") {
    // per-row work must be O(host labels) equi-probes against the
    // broadcast list — never a nested-loop/LIKE comparison per entry
    val plan = SparkEntry.queries("url_filter")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("search_lexical: query terms broadcast before tf; ranking is TakeOrdered") {
    // the query-time premise: the token stream filters against the
    // BROADCAST query bag before any aggregation (only matching tokens
    // shuffle), tf partial-combines, and the ranking never global-sorts
    val plan = SparkEntry.queries("search_lexical")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("partial_count"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("vector scoring stays inside WholeStageCodegen") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = Array.fill(64)(0.1f)
    val df = emb.withColumn("score",
      graft.functions.VectorExpr.cosineSim(col("embedding"), typedLit(q.toSeq)))
    val plan = df.queryExecution.executedPlan.toString
    // the "*(n)" prefix marks operators fused into WholeStageCodegen
    assert("""\*\(\d+\) Project""".r.findFirstIn(plan).isDefined, plan)
    // and the codegen'd expression evaluates correctly vs a manual dot
    val row = df.orderBy("vec_id").select("embedding", "score").collect()(0)
    val e = row.getSeq[Float](0).toArray
    val dot = e.map(_.toDouble * 0.1).sum
    val n1 = math.sqrt(e.map(x => x.toDouble * x).sum)
    val n2 = math.sqrt(64 * 0.01)
    assert(math.abs(row.getDouble(1) - dot / (n1 * n2)) < 1e-9)
  }

  test("select_dsir: scoring plan has no shuffle — broadcast flag join + TakeOrdered only") {
    // the bucket-count pass collects driver-side at weight-build time;
    // the SCORING job must be two scans + a broadcast top-k flag join,
    // with no hash exchange anywhere (nothing in it grows with corpus)
    val plan = SparkEntry.queries("select_dsir")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("hashpartitioning"),
      s"scoring path should not shuffle:\n$plan")
  }

  test("pure per-row kernels plan zero wide exchanges (derep/c4/sitemap/robots parse)") {
    // these four ride the scan: the ONLY exchange allowed is the result
    // sort's range partitioning — a hash exchange would mean the kernel
    // grew a shuffle
    Seq("text_derep", "c4_filter", "sitemap_parse", "robots_parse").foreach { q =>
      val plan = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
        .queryExecution.executedPlan.toString
      assert(!plan.contains("hashpartitioning"),
        s"$q kernel should not shuffle:\n$plan")
      assert(!plan.contains("SortMergeJoin"), s"$q:\n$plan")
    }
  }

  test("dedup_keep_best: cluster pick is an aggregate, not a window") {
    val plan = SparkEntry.queries("dedup_keep_best")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"best-member pick must be the min(struct) aggregate, not a window:\n$plan")
    assert(plan.contains("partial_min") || plan.contains("partial_"),
      s"pick aggregate should partial-combine map-side:\n$plan")
  }

  test("decontam_apply: the drop is a broadcast anti-join; train text never shuffles") {
    val plan = SparkEntry.queries("decontam_apply")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin [^\n]*LeftAnti".r.findFirstIn(plan).isDefined,
      s"drop must be a broadcast anti-join:\n$plan")
    val raw = "hashpartitioning\\([^)]*text".r.findFirstIn(plan)
    assert(raw.isEmpty, s"train text crossed an exchange:\n$plan")
  }

  test("crawl_schedule: one host-keyed window exchange, delay join broadcast") {
    val plan = SparkEntry.queries("crawl_schedule")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert("hashpartitioning\\(host".r.findFirstIn(plan).isDefined, plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }
}
