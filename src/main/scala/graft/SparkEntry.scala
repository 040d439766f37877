package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Query contract of Verify and Bench — see SURVEY.md §7.
  *
  * Every query except dedup_simhash carries a DuckDB oracle (same
  * logic, same rounding, same total ORDER BY). Kernel operators that
  * plain SQL cannot recompute use one of three techniques (all
  * hash-checked): inlined kernel constants (LSH hyperplanes), exact
  * set-similarity ground truth (minhash), or committed golden parquet
  * (cascade/chunker/winnowing — frozen outputs of the byte-pinned
  * kernels; media additionally carries generation-time truth columns
  * the decoder must re-derive from payload bytes). simhash stays
  * rows-only: its Java-hash kernel is not SQL-expressible; sbt recall
  * tests pin it instead.
  */
object SparkEntry {
  /** Flagship: the extraction cascade (the north-star operator) over the
    * deterministic synthetic pages corpus. Driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("cascade_extract")(spark, "/root/testdata/sf0.001")

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Synthetic-page count scaled to the sf tier of `dir`. */
  private def pagesFor(dir: String): Long =
    if (dir.contains("sf0.1")) 20000L
    else if (dir.contains("sf0.01")) 5000L
    else 1000L

  /** Embedding of a fixed anchor row, used as the ANN query vector. */
  private def anchorVec(s: SparkSession, dir: String): Array[Float] =
    t(s, dir, "embeddings").where(col("vec_id") === 0)
      .select("embedding").collect()(0)
      .getSeq[Float](0).toArray

  /** Committed golden-parquet dir: expected outputs for operators whose
    * semantics DuckDB cannot recompute (extraction cascade, chunker)
    * plus the real-format media corpus. The operator goldens are frozen
    * outputs of the spec'd kernels at sf0.01 (regenerated only on a
    * deliberate semantics change via GoldenGen, like the byte goldens);
    * the media parquet carries generation-time truth columns the decode
    * kernel must re-derive from the payload BYTES. Resolved against the
    * working directory, which is the project base for forked `run` and
    * `Test`; the absolute form keeps the oracle SQL's paths valid from
    * any directory.
    */
  val goldenDir: String =
    java.nio.file.Paths.get("src/test/resources/golden").toAbsolutePath.toString

  /** The sf-tier dir oracleSql is being generated against. Verify
    * publishes its sfDir argument here before dumping oracle_sql.json,
    * so SELF-SIZING oracles (the neardup_lsh plane set, the
    * dedup_semantic centroid literals) derive their inlined constants
    * from the LIVE tier by the same deterministic rules the registered
    * queries apply at runtime — no hand-maintained tier constants to
    * desynchronize when testdata is regenerated.
    */
  def tierDir: Option[String] = sys.props.get("graft.sf.dir")

  private def tierEmbeddings: Option[DataFrame] = for {
    s <- SparkSession.getActiveSession
    d <- tierDir
  } yield s.read.parquet(s"$d/embeddings.parquet")

  /** Verification tier's embeddings row count (a metadata-only parquet
    * count). Falls back to the sf0.01 contract value in contexts that
    * only inspect the SQL text (no live session / tier property).
    */
  private lazy val tierEmbeddingCount: Long =
    tierEmbeddings.map(_.count()).getOrElse(500L)

  /** The two-level quantizer semanticDedupAuto derives at the
    * verification tier — recomputed here by the SAME sizing +
    * deterministic trainer + coarse-layering rule, then inlined into
    * the dedup_semantic oracle as literal tables. Fallback: the
    * committed sf0.01 artifact layered by the same rule (identical by
    * construction: semanticSizing(500) = 16 = the artifact's k).
    */
  private lazy val tierSemanticQuantizer: graft.ops.Similarity.TwoLevel =
    tierEmbeddings match {
      case Some(e) =>
        graft.ops.Similarity.trainTwoLevel(e, tierEmbeddingCount)
      case None =>
        graft.ops.Similarity.twoLevelQuantizer(
          graft.ops.Similarity.centroidsFromFile(s"$goldenDir/ivf_centroids.txt"))
    }

  /** OPQ codebooks trained at the verification tier over ROTATED
    * vectors — recomputed here by the same deterministic rule the
    * registered ann_opq query applies (rotationMatrix is a pure
    * function of (dim, seed); Pq.train is vec_id-order deterministic).
    * Fallback (no live tier — SQL-text inspection only): the committed
    * unrotated PQ artifact, which keeps the SQL shape identical.
    */
  private lazy val tierOpqCodebooks: graft.ops.Pq.Codebooks =
    tierEmbeddings match {
      case Some(e) =>
        graft.ops.Pq.train(
          graft.ops.Pq.rotate(e, graft.ops.Pq.rotationMatrix(64)), m = 8, k = 16)
      case None => graft.ops.Pq.fromFile(s"$goldenDir/pq_codebooks.txt")
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---------------- relational coverage (SURVEY.md §2.6) ----------------
    "q1_agg" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),

    "join_enrich" -> ((s, dir) =>
      // broadcast dim join: orders enriched by customer segment
      t(s, dir, "orders").join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy(col("c_mktsegment"))),

    "window_topk" -> ((s, dir) => {
      // top-2 orders per customer by price (rank window, total order)
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 2)
        .select(col("o_custkey"), col("rk"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("price"))
        .orderBy(col("o_custkey"), col("rk"))
    }),

    "anti_join" -> ((s, dir) =>
      // customers with no orders (left anti — the resume-join shape)
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))),

    "events_window" -> ((s, dir) => {
      // event-stream shape: per-user running value sum ordered by time
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .withColumn("running_value", round(sum(col("value")).over(w), 4))
        .select(col("event_id"), col("user_id"), col("running_value"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    "events_sessionize" -> ((s, dir) => {
      // gap-based sessionization (30-min inactivity): lag → boundary →
      // running-sum session ids → per-session rollup
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val runSum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("brk",
          when(col("prev_ts").isNull ||
            unix_millis(col("ts").cast("timestamp")) -
            unix_millis(col("prev_ts").cast("timestamp")) > 30L * 60 * 1000, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("brk")).over(runSum))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"),
          round(sum(col("value")), 2).as("session_value"))
        .orderBy(col("user_id"), col("session_id"))
    }),

    "stream_events" -> ((s, dir) =>
      // Structured Streaming ingest (readStream → watermark → windowed
      // agg → memory sink); complete-mode result equals the batch
      // GROUP BY, which is the oracle
      graft.streaming.StreamingOps
        .windowedEventCounts(s, s"$dir/events.parquet", "se_stream_events")
        .select(to_date(col("day")).as("day"), col("event_type"),
          col("n"), col("sum_value"))
        .orderBy(col("day"), col("event_type"))),

    "asof_join" -> ((s, dir) => {
      // as-of join (time-series enrichment Spark lacks natively):
      // each purchase matched to the user's prevailing view value at
      // purchase time. Composed as union + one keyed window (ONE shuffle,
      // the same cost a native ASOF strategy would pay); the oracle is
      // DuckDB's native ASOF LEFT JOIN — a genuinely independent
      // implementation of the operator's semantics.
      val ev = t(s, dir, "events")
      val probe = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val build = graft.ops.AsofJoin.latestPerKeyTime(
        ev.where(col("event_type") === "view")
          .select(col("user_id"), col("ts"), col("value")),
        "user_id", "ts", "value")
      graft.ops.AsofJoin.asofJoin(probe, build, "user_id", "ts", "value")
        .select(col("event_id"), col("user_id"),
          round(col("value"), 2).as("purchase_value"),
          round(col("asof_value"), 2).as("last_view_value"))
        .orderBy(col("event_id"))
    }),

    "interval_join" -> ((s, dir) => {
      // range join via time-bucket decomposition (a raw BETWEEN join
      // predicate plans as a nested-loop/cartesian — the classic trap):
      // every error event attributed to the gap-session containing it.
      // The oracle is the plain SQL BETWEEN join DuckDB can afford at
      // this scale.
      val sessions = queries("events_sessionize")(s, dir)
        .select(col("user_id"), col("session_id"), col("start_ts"), col("end_ts"))
      val errors = t(s, dir, "events").where(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts"))
      graft.ops.RangeJoin
        .bucketIntervalJoin(errors, sessions, "user_id", "ts", "start_ts", "end_ts")
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_errors"), min(col("event_id")).as("first_error_id"))
        .orderBy(col("user_id"), col("session_id"))
    }),

    "stream_sessions" -> ((s, dir) =>
      // stateful streaming sessionizer (flatMapGroupsWithState +
      // event-time timeout): emitted closed sessions equal the batch
      // sessionization restricted to sessions whose close deadline
      // (end + gap) the final watermark (= max ts, 0s delay) strictly
      // passed — in-batch gap closes satisfy this by construction, and
      // the timeout flush fires exactly on it
      graft.streaming.StreamingOps
        .sessionizeStream(s, s"$dir/events.parquet", "se_stream_sessions")
        .select(col("user_id"),
          timestamp_micros(col("start_us")).cast("timestamp_ntz").as("start_ts"),
          timestamp_micros(col("end_us")).cast("timestamp_ntz").as("end_ts"),
          col("n_events"), round(col("session_value"), 2).as("session_value"))
        .orderBy(col("user_id"), col("start_ts"))),

    "stream_join" -> ((s, dir) =>
      // stream-stream interval join (symmetric hash join with
      // watermark-bounded state): click→purchase funnel within 30 min.
      // Oracle = the equivalent batch join (append-mode equality over
      // bounded input).
      graft.streaming.StreamingOps
        .streamStreamJoin(s, s"$dir/events.parquet")
        .select(col("click_id").cast("long"), col("purchase_id").cast("long"),
          col("user_id").cast("long"))
        .orderBy(col("click_id"), col("purchase_id"))),

    "stream_dedup" -> ((s, dir) =>
      // streaming ingest dedup with BOUNDED state
      // (dropDuplicatesWithinWatermark): re-delivered documents (every
      // 3rd delivered twice in-stream, at-least-once simulation) dedup
      // to exactly the batch DISTINCT hash set, which is the oracle
      graft.streaming.StreamingOps
        .streamDedup(s, s"$dir/documents.parquet")
        .orderBy(col("sha"))),

    "stream_ingest" -> ((s, dir) =>
      // the production crawl loop as a stream: new docs (id % 5 == 0)
      // arrive in 4 micro-batches, each mined against the persisted
      // band index (history + prior batches) then committed to it —
      // pair set equals the one-shot incremental miner regardless of
      // batch boundaries, which is what the shared oracle checks
      graft.streaming.StreamingOps
        .streamIncrementalDedup(s, s"$dir/documents.parquet", nBatches = 4)
        .orderBy(col("id_a"), col("id_b"))),

    "warc_roundtrip" -> ((s, dir) => {
      // WARC (ISO 28500) encode→decode roundtrip over real per-record
      // gzip members — the Common-Crawl .warc.gz layout whose member
      // framing is what makes the format splittable for distributed
      // reads. Batches of 16 records per file exercise multi-member
      // parsing; the oracle needs only the documents table because the
      // roundtrip is lossless (payload bytes + target URI survive).
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .mapPartitions { it =>
          it.grouped(16).flatMap { batch =>
            val encoded = graft.sources.Warc.encodeFile(batch.map { case (id, text) =>
              graft.sources.Warc.encodeRecord(s"https://docs.example/$id",
                "2024-01-01T00:00:00Z", text.getBytes("UTF-8"))
            })
            graft.sources.Warc.parseFile(encoded).iterator.map { r =>
              val id = r.targetUri.substring(r.targetUri.lastIndexOf('/') + 1).toLong
              val sha = java.security.MessageDigest.getInstance("SHA-256")
                .digest(r.payload).map("%02x".format(_)).mkString
              (id, r.payload.length.toLong, sha, r.warcType == "response")
            }
          }
        }.toDF("doc_id", "payload_len", "payload_sha", "type_ok")
        .orderBy(col("doc_id"))
    }),

    // ---------------- extraction tier (north rule) ----------------
    "cascade_extract" -> ((s, dir) => {
      val pages = graft.table.SyntheticPages.generate(s, pagesFor(dir))
      graft.extract.Extract.extractPages(pages.toDF())
        .toDF()
        .select(col("url"), col("strategy_used"), col("succeeded"),
          col("partial"), length(col("extracted_text")).as("text_len"),
          col("title"), col("failure_reason"))
        .orderBy(col("url"))
    }),

    "stream_extract" -> ((s, dir) => {
      // the streaming-extraction leg of the north rule: the SAME pages
      // flow through readStream → cascade → exactly-once checkpointed
      // parquet sink; the result must equal the batch cascade, so it
      // shares cascade_extract's golden oracle
      val pages = graft.table.SyntheticPages.generate(s, pagesFor(dir))
      val work = java.nio.file.Files.createTempDirectory("se-stream-extract")
      val pagesDir = s"$work/pages"
      pages.toDF().write.mode("overwrite").parquet(pagesDir)
      graft.streaming.StreamingOps.streamingExtract(
        s, pagesDir, s"$work/out", s"$work/ck")
      s.read.parquet(s"$work/out")
        .select(col("url"), col("strategy_used"), col("succeeded"),
          col("partial"), length(col("extracted_text")).as("text_len"),
          col("title"), col("failure_reason"))
        .orderBy(col("url"))
    }),

    "pdf_extract" -> ((s, dir) => {
      // the north rule's PDF/layout-parse leg: real FlateDecode content
      // streams — the kernel must inflate and parse the text-showing
      // operators from the BYTES, while the oracle reads the
      // generation-time truth columns of the committed corpus
      val pdfs = s.read.parquet(s"$goldenDir/pdfs.parquet")
        .select(col("id"), col("payload"))
      graft.extract.PdfExtract.extractPdfs(pdfs).orderBy(col("id"))
    }),

    "chunk_documents" -> ((s, dir) => {
      // sentence-preserving chunker (bit-parity with the reference, see
      // ChunkerSpec) + the reference's full per-chunk metadata
      // projection (chunking.py:50-58); oracled against the committed
      // golden chunk table at sf0.01
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .flatMap { case (id, text) =>
          graft.text.Chunker.chunkWithMeta(text,
            graft.text.ChunkConfig(chunkSize = 200, overlap = 30, minChunkSize = 20))
            .map(c => (id, c.chunk_id, c.text, c.start, c.end,
              c.chunk_size, c.total_chunks, c.overlap_size))
        }
        .toDF("doc_id", "chunk_id", "chunk_text", "chunk_start", "chunk_end",
          "chunk_size", "total_chunks", "overlap_size")
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    // ---------------- dedup family ----------------
    "dedup_exact" -> ((s, dir) =>
      graft.ops.Dedup.exact(t(s, dir, "documents")).orderBy(col("doc_id"))),

    "dedup_jaccard" -> ((s, dir) =>
      // df cap 64 = stop-shingle removal; bounds the inverted-index
      // self-join fan-out (the oracle applies the identical cap)
      graft.ops.Dedup.trigramJaccardPairs(
          t(s, dir, "documents").where(col("doc_id") < 2000),
          threshold = 0.8, maxDocFreq = 64)
        .orderBy(col("id_a"), col("id_b"))),

    "dedup_minhash" -> ((s, dir) =>
      // 32 bands x 2 rows: P(miss a j=0.8 pair) = (1-0.8^2)^32 ~ 6e-15,
      // so LSH recall is exhaustive at the oracle threshold and the
      // exact-jaccard verify makes the result equal the full pair set —
      // DuckDB-oracled against exact trigram-set jaccard (no df cap)
      graft.ops.Dedup.minhashLshPairs(
          t(s, dir, "documents").where(col("doc_id") < 2000),
          threshold = 0.8, numHashes = 64, bands = 32, shingleSize = 3)
        .orderBy(col("id_a"), col("id_b"))),

    "dedup_simhash" -> ((s, dir) =>
      graft.ops.Dedup.simhashPairs(
          t(s, dir, "documents").where(col("doc_id") < 2000), maxHamming = 6)
        .orderBy(col("id_a"), col("id_b"))),

    "dedup_apply" -> ((s, dir) => {
      // end-to-end dedup: minhash pair mining → greedy one-pass applier
      // (keep every doc never appearing as the larger id of a pair);
      // the oracle recomputes the exact-jaccard pair set and anti-joins
      val docs = t(s, dir, "documents").where(col("doc_id") < 2000)
      val pairs = graft.ops.Dedup.minhashLshPairs(docs,
        threshold = 0.8, numHashes = 64, bands = 32, shingleSize = 3)
      graft.ops.Dedup.applyPairDedup(docs, pairs)
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    "dedup_cc" -> ((s, dir) => {
      // exact-cluster dedup: minhash pair mining → alternating
      // large-star/small-star connected components (Kiveris et al.
      // 2014) — every pair member canonicalizes to its cluster-MINIMUM
      // id, fixing the greedy applier's transitive-chain misses. The
      // oracle recomputes components with a recursive CTE over the
      // same exact-jaccard pair set
      val docs = t(s, dir, "documents").where(col("doc_id") < 2000)
      val pairs = graft.ops.Dedup.minhashLshPairs(docs,
        threshold = 0.8, numHashes = 64, bands = 32, shingleSize = 3)
      graft.ops.Dedup.connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("component"),
          (col("id") === col("component")).as("kept"))
        .orderBy(col("doc_id"))
    }),

    "ann_opq" -> ((s, dir) => {
      // OPQ-RR (Ge et al. 2013 baseline): deterministic random rotation
      // decorrelates dimensions before PQ so no subspace hoards the
      // variance; codebooks train on the ROTATED tier (deterministic,
      // the oracle re-derives them by the same rule). Rotation is a
      // shuffle-free map; everything downstream is the ann_pq pipeline
      val r = graft.ops.Pq.rotationMatrix(64)
      val rot = graft.ops.Pq.rotate(t(s, dir, "embeddings"), r)
      val cb = graft.ops.Pq.train(rot, m = 8, k = 16)
      graft.ops.Pq.adcTopK(graft.ops.Pq.encode(rot, cb), cb,
        graft.ops.Pq.rotateVec(anchorVec(s, dir), r), k = 10)
    }),

    "shard_pack" -> ((s, dir) =>
      // contiguous budget sharding for sequential corpus writers:
      // shard = floor(exclusive-prefix-sum(n_chars) / 50000). Two-phase
      // distributed prefix sum — the naive un-partitioned window is a
      // one-task trap (the whole corpus on a single reducer)
      graft.ops.Sharding.shardByBudget(
          t(s, dir, "documents"), weight = "n_chars", budget = 50000L)
        .orderBy(col("doc_id"))),

    "cdx_build" -> ((s, dir) =>
      // CDX index construction + point-read verification (the Common
      // Crawl cdx artifact: what makes a 100 TB .warc.gz archive
      // random-accessible). Every member's (offset, length) is proven
      // by re-parsing ONLY that byte slice; digests of the point-read
      // payloads must equal sha-256 recomputed from the source table
      graft.sources.Warc.cdxIndex(t(s, dir, "documents"),
          recordsPerFile = 16)
        .orderBy(col("doc_id"))),

    "html_links" -> ((s, dir) => {
      // DOM-based out-link extraction (the link-graph producer). The
      // corpus carries no HTML, so the query PLANTS identical pages in
      // both engines from doc_id/lang/source/text — including two
      // regex traps: an anchor inside a comment and an anchor-shaped
      // string inside a <script> body, which the DOM parser must NOT
      // emit (the oracle expects exactly the two real links per doc)
      val j = pmod(col("doc_id"), lit(20L)).cast("string")
      val k = pmod(col("doc_id"), lit(7L)).cast("string")
      val m = pmod(col("doc_id"), lit(50L)).cast("string")
      val url = concat(lit("https://src-"), j, lit(".example/p/"),
        col("doc_id").cast("string"), lit(".html"))
      val html = concat(
        lit("<html><head><title>t</title><script>var x = '<a href=\"/fake\">no</a>';</script></head><body>"),
        lit("<!-- <a href=\"/c\">out</a> -->"),
        lit("<nav><a href=\"/s-"), k, lit("\">sec "), col("lang"),
        lit("</a></nav><p>"), col("text"), lit("</p>"),
        lit("<a href=\"https://host-"), m, lit(".example/deep\">ext "),
        col("source"), lit("</a></body></html>"))
      graft.extract.Links.extractLinks(
          t(s, dir, "documents")
            .select(col("doc_id"), url.as("url"), html.as("html")))
        .orderBy(col("doc_id"), col("link_idx"))
    }),

    "seq_pack" -> ((s, dir) =>
      // LM-pretraining sequence packing (GPT-2 concat-and-chunk): the
      // global BPE token stream (+ per-doc EOS) cut into 64-token
      // training sequences via the two-phase prefix sum — the naive
      // global window + per-token shuffle is a one-task trap at
      // corpus scale; here only per-(doc, seq) partials shuffle. The
      // positional checksum pins every token identity at every
      // position; oracle = relational packing over an INDEPENDENT
      // Python token-stream golden (tools/seq_tokens_expected.py)
      graft.ops.SeqPack.packSequences(t(s, dir, "documents"),
          graft.text.Bpe.fromFile(s"$goldenDir/bpe_merges.txt"),
          seqLen = 64)
        .orderBy(col("seq_id"))),

    "rag_mmr" -> ((s, dir) =>
      // MMR diversity re-rank over the brute top-20: 5 greedy picks by
      // bp-floored λ-relevance − (1−λ)-redundancy. Distributed work is
      // ONE TakeOrdered pass; the greedy loop is the bounded
      // serving-path step (20 rows collected, like rag_format)
      graft.ops.Similarity.mmrRerank(
        t(s, dir, "embeddings"), anchorVec(s, dir), m = 20, k = 5)),

    "dedup_incremental" -> ((s, dir) => {
      // the production ingestion loop: today's batch (doc_id % 5 == 0,
      // ~20% of the corpus) mines near-dups against the HISTORY's
      // persisted band index — history text is only point-read for
      // verification, old×old pairs are never re-mined. Same
      // (64, 32, 3) LSH as dedup_minhash, so recall at j >= 0.8 is
      // exhaustive ((1-0.8^2)^32 ~ 6e-15) and the oracle is the exact
      // pair set restricted to pairs touching a new doc
      val docs = t(s, dir, "documents").where(col("doc_id") < 2000)
      val isNew = pmod(col("doc_id"), lit(5)) === 0
      val oldDocs = docs.where(!isNew)
      val newDocs = docs.where(isNew)
      val history = graft.ops.Dedup.lshBandIndex(oldDocs,
        numHashes = 64, bands = 32, shingleSize = 3)
      graft.ops.Dedup.incrementalNearDupPairs(history, oldDocs, newDocs,
          threshold = 0.8, numHashes = 64, bands = 32, shingleSize = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "line_dedup" -> ((s, dir) => {
      // RefinedWeb/CCNet line-level boilerplate removal. The tier's
      // documents are single-line, so the query reconstructs the
      // multi-line web-page shape deterministically — a universal
      // header line, the document body, one of 7 rotating footers —
      // and the pass must excise exactly the lines recurring in >= 3
      // distinct docs (header, every footer, and any body shared by an
      // exact-dup family of >= 3) while leaving unique bodies intact.
      // The oracle rebuilds the same pages and recomputes the rule
      // with string_split + count(DISTINCT doc_id) + string_agg
      val pages = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("SITE NAVIGATION MENU\n"), col("text"), lit("\n"),
          lit("Copyright footer variant "), pmod(col("doc_id"), lit(7)))
          .as("text"))
      graft.ops.Dedup.lineDedup(pages, minDocs = 3)
        .withColumn("n_removed", col("n_removed").cast("long"))
        .orderBy(col("doc_id"))
    }),

    "domain_cap" -> ((s, dir) =>
      // Gopher/C4 per-domain cap: keep the 5 longest docs per source,
      // ties by doc_id. Skew-safe two-phase rank (salt = physical
      // partition id) — a hot domain never lands whole on one reducer
      graft.ops.DomainCap.domainCap(t(s, dir, "documents"), cap = 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("doc_id"))),

    "text_winnow" -> ((s, dir) => {
      // winnowing fingerprints (Schleimer et al. rolling-hash local
      // fingerprints); golden-parquet oracle like the chunker
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .flatMap { case (id, text) =>
          graft.ops.TextAnalysis.winnow(text).iterator.zipWithIndex
            .map { case (fp, i) => (id, i, fp) }
        }
        .toDF("doc_id", "fp_index", "fp")
        .orderBy(col("doc_id"), col("fp_index"))
    }),

    "neardup_cosine" -> ((s, dir) =>
      graft.ops.Dedup.cosineNearDupPairs(
          t(s, dir, "embeddings").where(col("vec_id") < 2000)
            .withColumn("embedding", col("embedding").cast("array<double>")),
          threshold = 0.4)
        .orderBy(col("id_a"), col("id_b"))),

    // ---------------- similarity search ----------------
    "ann_brute" -> ((s, dir) =>
      graft.ops.Similarity.bruteTopK(
        t(s, dir, "embeddings")
          .withColumn("embedding", col("embedding").cast("array<double>")),
        anchorVec(s, dir), k = 10)),

    "ann_lsh" -> ((s, dir) => {
      val idx = graft.ops.Similarity.lshIndex(t(s, dir, "embeddings"), bits = 8)
      graft.ops.Similarity.lshTopK(idx, anchorVec(s, dir), k = 10,
        bits = 8, probeHamming = 2)
    }),

    "dedup_semantic" -> ((s, dir) =>
      // SemDeDup-style semantic dedup (Abbas et al. 2023): IVF cells
      // bound the pairwise compare to (n/k)^2 per cell after one
      // shuffle; a vector is dropped when an earlier same-cell vector
      // has cosine >= 0.4. SELF-SIZING: k derives from the corpus
      // count via Similarity.semanticSizing (occupancy pinned at ~32
      // vectors/cell — fixed k=16 measured 3.0x cost at 10x data) and
      // the quantizer trains on the deterministic bounded sample, so
      // the oracle reproduces the exact centroid set by running the
      // same rule against the live tier
      graft.ops.Similarity.semanticDedupAuto(
          t(s, dir, "embeddings"), threshold = 0.4)
        .orderBy(col("vec_id"))),

    "ann_ivf" -> ((s, dir) => {
      // IVF ANN: coarse quantizer trained once offline (committed
      // centroid artifact, like a production faiss quantizer) → cell
      // assignment → probe the nprobe nearest cells only. The oracle
      // recomputes cells/probes from the same centroid literals.
      val centroids = graft.ops.Similarity
        .centroidsFromFile(s"$goldenDir/ivf_centroids.txt")
      val idx = graft.ops.Similarity.ivfIndex(t(s, dir, "embeddings"), centroids)
      graft.ops.Similarity.ivfTopK(idx, centroids, anchorVec(s, dir),
        k = 10, nprobe = 4)
    }),

    "ann_pq" -> ((s, dir) => {
      // product quantization (the faiss IVF+PQ compression leg): vectors
      // become m=8 one-byte codes against committed per-subspace
      // codebooks; queries score via ADC lookup tables. The oracle
      // re-derives codes AND the decomposed cosine from the same
      // codebook literals in SQL.
      val cb = graft.ops.Pq.fromFile(s"$goldenDir/pq_codebooks.txt")
      val enc = graft.ops.Pq.encode(t(s, dir, "embeddings"), cb)
      graft.ops.Pq.adcTopK(enc, cb, anchorVec(s, dir), k = 10)
    }),

    "ann_ivfpq" -> ((s, dir) => {
      // IVF + PQ composed (coarse cell pruning, then ADC over byte
      // codes): the index build is ONE shuffle-free pass emitting
      // (vec_id, cell, codes); a query touches ~nprobe/k of the corpus
      // at 32x-compressed width — the 10^9-vector serving shape
      val centroids = graft.ops.Similarity
        .centroidsFromFile(s"$goldenDir/ivf_centroids.txt")
      val cb = graft.ops.Pq.fromFile(s"$goldenDir/pq_codebooks.txt")
      val idx = graft.ops.Pq.ivfPqIndex(t(s, dir, "embeddings"), centroids, cb)
      graft.ops.Pq.ivfPqTopK(idx, centroids, cb, anchorVec(s, dir),
        k = 10, nprobe = 4)
    }),

    "neardup_lsh" -> ((s, dir) =>
      // the SCALE path for embedding near-dup (multi-table hyperplane
      // LSH buckets → candidate pairs → exact cosine verify): shuffles
      // (table, bucket, id) triples, never the full pair matrix.
      // SELF-SIZING: bits/tables derive from the corpus count via
      // Similarity.lshSizing (buckets ≈ n/2, tables scaled to hold
      // recall) — fixed bits=8 measured 24.8× cost at 10× data. The
      // oracle inlines the plane set the SAME rule yields at the
      // driver's sf0.01 tier (500 vectors → bits=8, tables=8).
      graft.ops.Similarity.lshNearDupPairsAuto(
          t(s, dir, "embeddings"), threshold = 0.4)
        .orderBy(col("id_a"), col("id_b"))),

    "rag_topk" -> ((s, dir) => {
      // the flagship retrieval path (Rag.search, file_store.py:82-127):
      // threshold, total-order tiebreak, and the reference's post-k
      // metadata-filter quirk (filters applied AFTER the k-cut,
      // :104-121) — all DuckDB-oracled. Index = documents joined to the
      // provided embeddings (no hash embedder in the oracle path).
      val index = t(s, dir, "embeddings")
        .join(t(s, dir, "documents"), col("vec_id") === col("doc_id"))
        .select(format_string("doc_%05d", col("vec_id")).as("id"),
          col("text").as("content"),
          col("embedding").cast("array<double>").as("embedding"),
          col("label").cast("string").as("label"))
      graft.rag.Rag.search(index, anchorVec(s, dir), topK = 10,
          threshold = 0.0, filters = Map("label" -> "2"),
          parityPostKFilter = true)
        .select(col("id"),
          floor(col("score") * 10000).cast("long").as("score_bp"), col("label"))
        .orderBy(col("id"))
    }),

    "rag_index_ops" -> ((s, dir) => {
      // vector-index sink lifecycle (file_store.py:46-168) as one
      // relational flow: build → upsert → delete → stats. The incoming
      // batch re-embeds ids 0-9 with vec (id+100)'s embedding, except
      // id 5 arrives TRUNCATED to 10 floats — the dim-mismatch skip
      // must leave its old row intact; id 3 is then deleted. Output:
      // the affected id range with its first component (proves which
      // embedding won) plus the index stats
      val emb = t(s, dir, "embeddings")
      def asIndex(df: DataFrame) = df.select(
        format_string("doc_%05d", col("vec_id")).as("id"), col("embedding"))
      val inc = emb.where(col("vec_id") < 10).alias("a")
        .join(emb.alias("b"), expr("b.vec_id = a.vec_id + 100"))
        .select(format_string("doc_%05d", col("a.vec_id")).as("id"),
          when(expr("a.vec_id = 5"), slice(col("b.embedding"), 1, 10))
            .otherwise(col("b.embedding")).as("embedding"))
      val upserted = graft.rag.Rag.upsertDocuments(asIndex(emb), inc, dim = 64)
      val afterDelete = graft.rag.Rag.deleteDocument(upserted, "doc_00003")
      afterDelete.where(expr("CAST(substring(id, 5) AS INT) < 15"))
        .select(col("id"),
          floor(element_at(col("embedding"), 1).cast("double") * 10000)
            .cast("long").as("e0_bp"),
          size(col("embedding")).as("dim"))
        .crossJoin(graft.rag.Rag.stats(afterDelete))
        .orderBy(col("id"))
    }),

    "rag_format" -> ((s, dir) => {
      // the reference's result formatting ("[Result i, Score: %.3f]\n
      // content" joined by "\n\n---\n\n", query.py:109-141) over the
      // same index as rag_topk — the driver-side tail of the query
      // orchestration path. Bounded collect (k rows), like the
      // reference's own formatting step
      import s.implicits._
      val index = t(s, dir, "embeddings")
        .join(t(s, dir, "documents"), col("vec_id") === col("doc_id"))
        .select(format_string("doc_%05d", col("vec_id")).as("id"),
          col("text").as("content"),
          col("embedding").cast("array<double>").as("embedding"))
      val rows = graft.rag.Rag.search(index, anchorVec(s, dir), topK = 5,
          threshold = 0.0)
        .orderBy(desc("score"), asc("id"))
        .select("content", "score").collect()
      val formatted = graft.rag.Rag.formatResults(
        rows.toSeq.map(r => (r.getString(0), r.getDouble(1))))
      Seq(formatted).toDF("formatted")
    }),

    "semi_join" -> ((s, dir) =>
      // customers having orders (left semi — EXISTS)
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))),

    "multiway_join" -> ((s, dir) =>
      // 4-table star join with grouped rollup: the fact side shuffles
      // once (orders⋈customer on custkey); nation (25 rows) and region
      // (5 rows) are broadcast so the geography lookups add no exchange
      t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("revenue"),
          floor(avg(col("c_acctbal")) * 10000).cast("long").as("acctbal_bp"))
        .orderBy(col("r_name"), col("n_name"))),

    "events_json" -> ((s, dir) =>
      // JSON functions over the props column (string JSON payloads):
      // extract → cast → grouped integer stats (no float rounding risk)
      t(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy(col("event_type"))),

    "set_ops" -> ((s, dir) => {
      // union / intersect / except over distinct label domains (Spark
      // union is UNION ALL; except/intersect are the DISTINCT forms —
      // the oracle mirrors exactly)
      val segs = t(s, dir, "customer").select(col("c_mktsegment").as("v")).distinct()
      val prios = t(s, dir, "orders").select(col("o_orderpriority").as("v")).distinct()
      segs.union(prios).except(segs.intersect(prios)).orderBy(col("v"))
    }),

    "rollup_agg" -> ((s, dir) =>
      // grouped rollup (subtotals + grand total in one pass)
      t(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)),

    "q9_profit" -> ((s, dir) =>
      // lineitem fact joined to part + supplier + nation: supplier and
      // nation are broadcast (bounded dims); part grows with SF so it
      // keeps a shuffle join that AQE can re-plan — at 100 TB a
      // broadcast(part) would OOM the executors
      t(s, dir, "lineitem")
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("p_brand"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("net_revenue"),
          sum(col("l_quantity")).as("qty"))
        .orderBy(col("n_name"), col("p_brand"))),

    // ---------------- text analysis ----------------
    "text_analysis" -> ((s, dir) =>
      graft.ops.TextAnalysis.analyze(t(s, dir, "documents"))
        .orderBy(col("doc_id"))),

    "corpus_mix" -> ((s, dir) => {
      // deterministic corpus mixing + split assignment — the
      // pretraining data-mixture op. Per-source target sampling rates
      // (100/50/25/10% by source index mod 4) apply via a portable
      // integer hash (pure BIGINT arithmetic, identical in both
      // engines; no RNG — the sample is reproducible and
      // partitioning-independent, which is what makes it re-runnable
      // at 100 TB), plus a 98/1/1 train/val/test split from an
      // INDEPENDENT hash so split membership never correlates with
      // sampling. Each hash is TWO MINSTD steps (multiply mod a 31-bit
      // prime, twice, different multipliers) then mod 100 — one affine
      // step `(a*d+c) % 100` depends only on d mod 100, which silently
      // correlates the two hashes (every sub-100% source would lose
      // its entire val split), and a single mod-p step is still affine
      // for d < p/a; the second multiply wraps p even at d = 0.
      // Overflow-safe in DuckDB (which ERRORS on BIGINT overflow, no
      // wraparound): max intermediate ~ 1e14 << 2^63.
      // Output: per (source, split) kept counts + ws-token budget,
      // the numbers a mixture config is tuned against
      val weight = expr(
        """CASE CAST(substring(source, 4) AS INT) % 4
          |  WHEN 0 THEN 100 WHEN 1 THEN 50 WHEN 2 THEN 25 ELSE 10 END""".stripMargin)
      val p = lit(2147483647L)
      val h1 = pmod(pmod(pmod((col("doc_id") + lit(1L)) * lit(48271L), p)
        * lit(48271L), p), lit(100L))
      val h2 = pmod(pmod(pmod((col("doc_id") + lit(1L)) * lit(69621L), p)
        * lit(69621L), p), lit(100L))
      t(s, dir, "documents")
        .where(h1 < weight)
        .withColumn("split",
          when(h2 < 98, "train").when(h2 === 98, "val").otherwise("test"))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n"),
          sum(graft.ops.TextAnalysis.tokenCount(col("text"))).as("ws_tokens"))
        .orderBy(col("source"), col("split"))
    }),

    "token_count" -> ((s, dir) =>
      // whitespace words + BPE-ish pre-tokenizer pieces (the metric a
      // training pipeline bills by); both codegen'd regex columns
      t(s, dir, "documents").select(col("doc_id"),
          graft.ops.TextAnalysis.tokenCount(col("text")).as("ws_tokens"),
          graft.ops.TextAnalysis.bpeTokenCount(col("text")).as("bpe_tokens"))
        .orderBy(col("doc_id"))),

    "token_bpe" -> ((s, dir) =>
      // REAL post-merge BPE token counts: greedy lowest-rank merges
      // from the committed offline-trained artifact (the quantizer
      // discipline — Bpe.train ran once, golden/bpe_merges.txt is the
      // artifact). Oracle = golden generated by the INDEPENDENT Python
      // reimplementation tools/bpe_expected.py from the same artifact.
      graft.text.Bpe.tokenCountDf(t(s, dir, "documents"),
          graft.text.Bpe.fromFile(s"$goldenDir/bpe_merges.txt"))
        .orderBy(col("doc_id"))),

    "dedup_substring" -> ((s, dir) =>
      // cross-document SUBSTRING dedup over winnowing fingerprints:
      // inverted index on the fps -> diagonal-island extend-verify, all
      // relational (only (fp, id, pos) triples shuffle). The oracle
      // re-mines pairs IN SQL from the winnow golden.
      graft.ops.Dedup.substringDupPairs(t(s, dir, "documents"),
          minSharedFps = 4, maxDocFreq = 64, minRun = 8)
        .orderBy(col("id_a"), col("id_b"))),

    "contamination_check" -> ((s, dir) => {
      // eval-set contamination: held-out eval = every doc_id % 29 == 3
      // (deterministic synthetic split — no external data); train = the
      // rest. Eval shingles broadcast; train never shuffles.
      val docs = t(s, dir, "documents")
      graft.ops.Dedup.contaminationCheck(
          docs.where(col("doc_id") % 29 =!= 3),
          docs.where(col("doc_id") % 29 === 3),
          minShared = 2, maxDocFreq = 64)
        .orderBy(col("train_id"), col("eval_id"))
    }),

    "chunk_chars" -> ((s, dir) => {
      // character-mode chunker (chunking.py:117-172) as a driver query.
      // The corpus is punctuation-free word soup, so both derivations
      // plant identical sentence enders (literal replaces) to exercise
      // the sentence-end break path as well as the whitespace one;
      // oracle = committed golden from an INDEPENDENT Python
      // implementation (tools/char_chunk_expected.py), pinned at sf0.01
      import s.implicits._
      val cfg = graft.text.ChunkConfig(chunkSize = 120, overlap = 30,
        minChunkSize = 20, preserveSentences = false)
      t(s, dir, "documents").select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .flatMap { case (id, txt) =>
          val aug = txt.replace("row ", "row. ").replace("fast ", "fast! ")
            .replace("key ", "key? ")
          graft.text.Chunker.chunk(aug, cfg).map(c =>
            (id, c.chunk_id, c.text, c.start, c.end))
        }
        .toDF("doc_id", "chunk_id", "chunk_text", "chunk_start", "chunk_end")
        .orderBy("doc_id", "chunk_id")
    }),

    "iceberg_travel" -> ((s, dir) => {
      // snapshot time travel as a driver query: publish unit 0 twice
      // (v1 = even doc_ids, v2 = all), then read snapshot 1 — which
      // must still see v1 after the republish (immutable versioned
      // data) — alongside the live table. The oracle recomputes both
      // states relationally from `documents`
      val root = java.nio.file.Files.createTempDirectory("graft-travel").toString
      val lite = new graft.table.IcebergLite(root)
      val docs = t(s, dir, "documents")
      lite.commitUnit(docs.where(pmod(col("doc_id"), lit(2)) === 0)
        .select("doc_id"), 0) // snapshot 1
      lite.commitUnit(docs.select("doc_id"), 0) // snapshot 2
      val out = lite.readAt(s, 1).select(col("doc_id"))
        .withColumn("state", lit("snap1"))
        .unionByName(lite.read(s).select(col("doc_id"))
          .withColumn("state", lit("live")))
        .groupBy("state")
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_id"))
        .orderBy("state")
      // bounded collect (2 rows) so the temp table can be dropped
      // before the caller materializes the result
      val rows = out.collect()
      lite.drop(s)
      s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    }),

    "format_envelopes" -> ((s, dir) => {
      // the reference's four storage envelopes (storage/base.py:89-123)
      // as a driver query: the exact serialized string each sink format
      // would write, hashed — json / ndjson / md (txt is the identity
      // envelope). title is null on every 4th row to exercise the md
      // envelope's conditional header lines
      import graft.text.TextFunctions._
      val ts = lit("2024-01-01T00:00:00Z")
      val title = when(pmod(col("doc_id"), lit(4)) === 0,
        lit(null).cast("string")).otherwise(concat(lit("Doc "), col("doc_id")))
      val url = concat(lit("https://"), col("source"),
        lit(".example/d/"), col("doc_id"))
      t(s, dir, "documents").select(
          col("doc_id"),
          sha2(jsonEnvelope(col("text"), col("source"), ts), 256).as("json_sha"),
          sha2(ndjsonEnvelope(col("text"), col("source"), ts), 256).as("nd_sha"),
          sha2(mdEnvelope(col("text"), title, url, col("source"),
            lit("2024-01-01")), 256).as("md_sha"),
          sha2(col("text"), 256).as("txt_sha"))
        .orderBy(col("doc_id"))
    }),

    "url_slug" -> ((s, dir) => {
      // URL normalization (cli/app.py:436-450 scheme defaulting) +
      // filename slugging (storage/base.py:147-160) as a driver query.
      // The corpus carries no URLs, so both engines synthesize the
      // SAME url/title variants from doc_id — scheme'd, schemeless,
      // protocol-relative, padded, uppercase-scheme — exercising every
      // branch of both functions against the SQL oracle
      val urlRaw = expr(
        """CASE doc_id % 5
          |  WHEN 0 THEN concat('https://', source, '.example/a/', doc_id)
          |  WHEN 1 THEN concat(source, '.example/path/', doc_id)
          |  WHEN 2 THEN concat('//cdn.', source, '.example/x/', doc_id)
          |  WHEN 3 THEN concat('  ftp://files.', source, '.example/f/', doc_id, ' ')
          |  ELSE concat('HTTP://', source, '.EXAMPLE/Z/', doc_id) END""".stripMargin)
      val title = expr(
        "CASE WHEN doc_id % 3 = 0 THEN NULL " +
        "ELSE concat('Doc #', doc_id, ': ', source, '!!') END")
      t(s, dir, "documents")
        .select(col("doc_id"), urlRaw.as("url_raw"), title.as("title"))
        .select(col("doc_id"),
          graft.text.TextFunctions.normalizeUrl(col("url_raw")).as("url_norm"),
          graft.text.TextFunctions.slug(col("title"), col("url_raw")).as("fname_slug"))
        .orderBy(col("doc_id"))
    }),

    "vocab_topk" -> ((s, dir) =>
      // corpus-level vocabulary: the canonical wordcount — codegen'd
      // split+explode, map-side combine, TakeOrdered top-k; determinism
      // via (count desc, word asc). Casing is the codegen'd per-code-
      // point simple mapping (TextExpr.simpleLower), matching DuckDB's
      // utf8proc lower() — Spark's lower() full case mapping diverges
      // on length-changing code points (U+0130)
      t(s, dir, "documents")
        .select(explode(split(graft.functions.TextExpr.simpleLower(col("text")),
          graft.text.PyText.PyWsClass + "+")).as("word"))
        .where(length(col("word")) > 0)
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("word")).limit(50)),

    "text_ppl" -> ((s, dir) =>
      // CCNet-style LM-perplexity quality filter over the committed
      // char-bigram model (integer millibit surprises — no query-time
      // log on either side); oracle re-derives every doc score from
      // the SAME artifact with an unnest + join
      graft.ops.TextAnalysis.lmPerplexity(t(s, dir, "documents"),
          s"$goldenDir/bigram_lm_sf001.parquet")
        .orderBy(col("doc_id"))),

    "text_gopher" -> ((s, dir) =>
      // Gopher-style repetition/format quality metrics (Rae et al. 2021
      // A1.1, public rules): one kernel pass; oracle re-derives every
      // metric relationally in SQL
      graft.ops.TextAnalysis.gopher(t(s, dir, "documents"))
        .orderBy(col("doc_id"))),

    "text_fix" -> ((s, dir) => {
      // UTF-8-read-as-Latin-1 mojibake repair (the ftfy core case).
      // The corpus is printable-ASCII by construction, so the query
      // PLANTS the three regimes from doc_id: a mojibake suffix
      // ("cafA-tilde-copyright" = UTF-8 'cafe-acute' read as Latin-1)
      // that the strict re-decode repairs, a GENUINE Latin-1-range
      // suffix (lone e-acute) that strict UTF-8 rejects and must leave
      // untouched, and pure ASCII. Both engines build identical
      // augmented text; the oracle applies the known inverse literal
      // substitution. Adversarial cases (>U+00FF chars, double
      // encoding, idempotence) live in the sbt spec.
      val aug = when(pmod(col("doc_id"), lit(3)) === 0,
          concat(col("text"), lit(" caf" + mojiEacute)))
        .when(pmod(col("doc_id"), lit(3)) === 1,
          concat(col("text"), lit(" caf" + cleanEacute)))
        .otherwise(col("text"))
      graft.ops.TextAnalysis.fixMojibakeDf(
          t(s, dir, "documents").select(col("doc_id"), aug.as("text")))
        .orderBy(col("doc_id"))
    }),

    "quality_nb" -> ((s, dir) =>
      // model-based quality classification (the fastText/DCLM-style
      // filter stage): from-scratch multinomial Naive Bayes trained
      // DISTRIBUTED on lang='en' vs rest, integer-millibit exact
      // weights. Oracle = committed golden from an INDEPENDENT Python
      // derivation (tools/nb_expected.py: float log2 scoring verified
      // against an exact integer predicate) over the same tier
      graft.ops.TextAnalysis.nbClassify(
          t(s, dir, "documents"), col("lang") === "en")
        .orderBy(col("doc_id"))),

    "pii_redact" -> ((s, dir) => {
      // the synthetic corpus carries no PII by construction, so the
      // query PLANTS deterministic PII (email/IPv4/SSN-shaped id) from
      // doc_id — both engines build the identical augmented text, so
      // the oracle genuinely exercises cross-dialect regex parity
      val aug = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com at 10."),
        pmod(col("doc_id"), lit(256)).cast("string"), lit("."),
        pmod(col("doc_id"), lit(100)).cast("string"), lit(".7 ref "),
        (pmod(col("doc_id"), lit(900)) + lit(100)).cast("string"), lit("-"),
        (pmod(col("doc_id"), lit(90)) + lit(10)).cast("string"), lit("-"),
        (pmod(col("doc_id"), lit(9000)) + lit(1000)).cast("string"))
      val (ne, ni, nid, red) = graft.ops.TextAnalysis.redactPii(aug)
      t(s, dir, "documents")
        .select(col("doc_id"), ne.as("n_emails"), ni.as("n_ips"),
          nid.as("n_ids"), length(red).cast("long").as("red_len"),
          sha2(red, 256).as("red_sha"))
        .orderBy(col("doc_id"))
    }),

    "text_normalize" -> ((s, dir) =>
      // the reference's normalize_whitespace processor over extraction
      // output shape (processors/base.py:41-61) — Python \s semantics
      t(s, dir, "documents")
        .select(col("doc_id"), col("text").as("content"))
        .transform(d => graft.jobs.Pipeline.registry("normalize_whitespace")(d))
        .select(col("doc_id"), col("content"),
          col("char_count").cast("long").as("char_count"),
          col("meets_threshold"))
        .orderBy(col("doc_id"))),

    "curate_corpus" -> ((s, dir) => {
      // the composite flow a training-data pipeline actually runs:
      // quality gate + language gate + near-dup removal, one anti-join
      val docs = t(s, dir, "documents").where(col("doc_id") < 2000)
      val kept = graft.ops.TextAnalysis.analyze(docs)
        .where(col("quality_bp") >= 2000 && col("lang_guess") === "en")
      val pairs = graft.ops.Dedup.minhashLshPairs(docs,
        threshold = 0.8, numHashes = 64, bands = 32, shingleSize = 3)
      graft.ops.Dedup.applyPairDedup(kept, pairs)
        .select(col("doc_id"), col("n_tokens"), col("quality_bp"))
        .orderBy(col("doc_id"))
    }),

    // ---------------- multimodal ----------------
    "multimodal_av" -> ((s, dir) => {
      // real WAV/MP4 container headers: channels, sample rate, duration
      // and track count derived from the BYTES; truth columns oracled
      val media = s.read.parquet(s"$goldenDir/media_av.parquet")
        .select(col("id"), col("payload"))
      graft.ops.Multimodal.decodeAv(media).orderBy(col("id"))
    }),

    "multimodal_decode" -> ((s, dir) => {
      // committed real-format media corpus (tiny but structurally valid
      // PNG/GIF/JPEG payloads): the kernel derives dimensions/channels
      // from the BYTES; the oracle reads the generation-time truth
      // columns of the same parquet — a genuine dual-derivation check
      val media = s.read.parquet(s"$goldenDir/media.parquet")
        .select(col("id"), col("payload"))
      graft.ops.Multimodal.aspectFit(graft.ops.Multimodal.decode(media))
        .select(col("id"), col("kind"), col("width"), col("height"),
          col("channels"), col("valid"), col("out_width"), col("out_height"))
        .orderBy(col("id"))
    }),

    "multimodal_frames" -> ((s, dir) => {
      // REAL video-style frame sampling: every frame of each animated
      // GIF is LZW-decoded and palette-mapped; each 2nd frame emits its
      // dimensions and pixel CRC. Oracle = the generation-time per-frame
      // truth table (computed from the index planes, never through the
      // encoder) filtered to the same stride.
      val media = graft.jobs.ExtractJob.atClusterWidth(
        s.read.parquet(s"$goldenDir/media_anim.parquet"))
      graft.ops.Multimodal.frameSample(media, stride = 2)
        .orderBy(col("id"), col("frame_idx"))
    }),

    "multimodal_resize" -> ((s, dir) => {
      // REAL pixel path over a mixed PNG+GIF corpus: the kernel sniffs
      // the format, decodes (PNG: IDAT inflate + all five scanline
      // unfilters; GIF: LZW + palette mapping), box-filter downscales,
      // and checksums the pixel buffers. The oracle reads truth columns
      // computed at generation time STRAIGHT FROM THE PROCEDURAL PIXELS
      // (never through either encoder), so encode and decode are
      // independent derivations meeting at the CRC.
      val media = graft.jobs.ExtractJob.atClusterWidth(
        s.read.parquet(s"$goldenDir/media_px.parquet")
          .select(col("id"), col("payload")))
      graft.ops.Multimodal.resizeImages(media, maxSide = 64).orderBy(col("id"))
    }),

    "graph_pagerank" -> ((s, dir) => {
      // host-graph centrality — the corpus-curation quality signal
      // (Common-Crawl-style rankings weigh documents by link centrality
      // of their source). Link graph synthesized deterministically from
      // the tier (out-degree 1 + doc_id % 3, targets by the portable
      // two-step MINSTD hash — no external data; both engines derive
      // the same edge list). The OPERATOR is Graph.pageRank's integer
      // fixed-point loop: 5 synchronous rounds, damping 85/100,
      // per-edge floor contributions — BIGINT-exact, so the result is
      // partitioning-independent and the oracle unrolls the same five
      // rounds as chained CTEs (no float PageRank would hash-match)
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val n = docs.count() // bounded: one scalar sizes the target space
      val p = lit(2147483647L)
      val edges = docs.select(col("doc_id").as("u"),
          explode(sequence(lit(0L), pmod(col("doc_id"), lit(3L)))).as("j"))
        .select(col("u"), pmod(
          pmod(pmod((col("u") * 53L + col("j") + 1L) * 48271L, p) * 48271L, p),
          lit(n)).as("v"))
      graft.ops.Graph.pageRank(docs.select(col("doc_id").as("id")),
          edges, iterations = 5)
        .select(col("id").as("doc_id"), col("rank"))
        .orderBy(col("doc_id"))
    }),

    "sketch_hll" -> ((s, dir) =>
      // distinct-visitors cardinality sketch: HLL (b=5, m=32 registers,
      // raw estimator) per event_type over the portable MINSTD hash,
      // with an EXACT integer harmonic sum (each register contributes
      // 2^(27-rho) as a BIGINT) so the estimate is bit-reproducible in
      // DuckDB. The exact distinct count rides along as a column, so
      // sketch accuracy (err_bp) is visible data, not a claim
      graft.ops.Sketch.hllDistinct(t(s, dir, "events"),
          "user_id", "event_type")
        .orderBy(col("event_type"))),

    "sketch_heavy" -> ((s, dir) =>
      // exact heavy hitters without shuffling the token stream:
      // per-partition space-saving kernels (k=200 counters) nominate
      // candidates, an exact counting pass over ONLY the broadcast
      // candidate set trims them to the true > N/200 tokens — output is
      // partitioning-independent because candidates are a guaranteed
      // superset and the final filter is exact
      graft.ops.Sketch.heavyTokens(t(s, dir, "documents"), "text", k = 200)
        .orderBy(col("cnt").desc, col("token"))),

    "quantile_exact" -> ((s, dir) =>
      // exact per-lang doc-length percentiles by the value-histogram
      // trick: shuffle |distinct n_chars| partial counts, not |rows|,
      // and no global sort. Quantile rule in pure integers (smallest v
      // with den*cum >= num*n), identical on both engines
      graft.ops.Sketch.exactQuantiles(t(s, dir, "documents"),
          "n_chars", "lang",
          Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)))
        .orderBy(col("lang"))),

    "bloom_seen" -> ((s, dir) => {
      // crawl-frontier seen-check: the batch (incremental tranche,
      // doc_id % 5 == 0, plus re-crawled ids doc_id % 7 == 1) probes a
      // broadcast Bloom sketch of the history (self-sized m = 8 bits
      // per key) instead of joining 10^12 rows. actually_seen (the
      // exact check) rides along so the oracle verifies the
      // no-false-negative contract per row and false positives are
      // visible data
      val docs = t(s, dir, "documents")
      val isNew = pmod(col("doc_id"), lit(5L)) === 0L
      val history = docs.where(!isNew).select(col("doc_id"))
      val batch = docs.where(isNew || pmod(col("doc_id"), lit(7L)) === 1L)
        .select(col("doc_id"))
      graft.ops.Sketch.bloomSeen(history, batch, "doc_id")
        .join(history.select(col("doc_id"), lit(true).as("actually_seen")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), col("maybe_seen"),
          coalesce(col("actually_seen"), lit(false)).as("actually_seen"))
        .orderBy(col("doc_id"))
    }),

    "sketch_cm" -> ((s, dir) =>
      // per-user event-frequency estimation under a memory bound:
      // Count-Min (d=3, self-sized w = 2·|users|) over the MINSTD
      // hashes. The sketch is one-sided — est >= exact on every row
      // (collisions only add) — so over_bp is both the oracle-checked
      // accuracy record and a per-row proof of the CM invariant
      graft.ops.Sketch.countMinFreq(t(s, dir, "events"), "user_id")
        .orderBy(col("user_id"))),

    "crawl_diff" -> ((s, dir) => {
      // incremental-recrawl snapshot diff: two crawls of the same url
      // space derived deterministically from the tier (old crawl = ids
      // except %11==3, new crawl = ids except %13==5, every %7==2 page
      // re-crawled with changed content). The OPERATOR reduces each
      // side to 32-byte sha256 digests BEFORE the full-outer join, so
      // the only exchange is digest-wide (plan-gated) — the
      // 10^12-page "what changed since last crawl" primitive
      val docs = t(s, dir, "documents")
      val prevCrawl = docs.where(pmod(col("doc_id"), lit(11L)) =!= 3L)
        .select(col("doc_id"), col("text"))
      val currCrawl = docs.where(pmod(col("doc_id"), lit(13L)) =!= 5L)
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(7L)) === 2L,
            concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
      graft.ops.CrawlOps.snapshotDiff(prevCrawl, currCrawl)
        .orderBy(col("doc_id"))
    }),

    "anchor_topk" -> ((s, dir) => {
      // incoming anchor-text aggregation — the page's external
      // description. Link graph: the graph_pagerank edge rule
      // (out-degree 1 + doc_id % 3, targets by the portable two-step
      // MINSTD hash); anchor = a deterministically-picked word of the
      // SOURCE page's text, so anchors are real corpus strings both
      // engines derive identically. Per target: in-degree, mentions,
      // most frequent anchor (ties by anchor asc)
      val docs = t(s, dir, "documents")
      val n = docs.count() // bounded: one scalar sizes the target space
      val p = lit(2147483647L)
      val links = docs.select(col("doc_id").as("u"),
          split(trim(col("text")), "[ \t\n\f\r]+").as("tk"),
          explode(sequence(lit(0L), pmod(col("doc_id"), lit(3L)))).as("j"))
        .select(col("u"),
          pmod(pmod(
            pmod((col("u") * 53L + col("j") + 1L) * 48271L, p) * 48271L, p),
            lit(n)).as("v"),
          element_at(col("tk"),
            (pmod(col("u") * 7L + col("j"), size(col("tk"))) + 1L)
              .cast("int")).as("anchor"))
        .where(col("u") =!= col("v"))
      graft.ops.CrawlOps.anchorSummary(links).orderBy(col("doc_id"))
    }),

    "sample_stratified" -> ((s, dir) =>
      // reproducible eval-set draw: k=20 docs per lang, winners = the
      // k smallest portable-hash priorities — uniform pseudo-random
      // yet engine- and partitioning-independent, no RNG. The kernel
      // bounds the exchange at k·partitions candidates (the
      // heavyTokens discipline); the oracle ranks the full table —
      // equal because every global winner is a partition-local winner
      graft.ops.CrawlOps.stratifiedSample(
        t(s, dir, "documents").select(col("lang"), col("doc_id")),
        "lang", "doc_id", k = 20)
        .orderBy(col("lang"), col("rk"))),

    "dedup_prefix" -> ((s, dir) =>
      // PPJoin-style LOSSLESS near-dup mining: prefix filtering on the
      // rarest-first df order bounds candidates (12× fewer than the
      // share-any-shingle join at this tier) while the output stays
      // the exact J ≥ 1/2 pair set over FULL shingle sets — the
      // df-capped dedup_jaccard's lossless sibling. Rational threshold,
      // BIGINT cross-multiplication only; same doc subset as the other
      // pair miners
      graft.ops.Dedup.prefixJaccardPairs(
        t(s, dir, "documents").where(col("doc_id") < 2000), 1, 2)
        .orderBy(col("id_a"), col("id_b"))),

    "quantile_hdr" -> ((s, dir) =>
      // mergeable log-histogram quantiles (HDR bins, 8 sub-buckets per
      // octave): the unbounded-domain complement of quantile_exact —
      // the exchange carries ≤ ~8·60 bin counts per group however
      // large the value domain, and per-shard histograms union by SUM.
      // est ≤ exact always (bin lower bound); err_bp < 1250 by
      // construction, oracle-checked per row alongside the exact values
      graft.ops.Sketch.logHistQuantiles(t(s, dir, "documents"),
          "n_chars", "lang",
          Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)))
        .orderBy(col("lang"))),

    "search_lexical" -> ((s, dir) => {
      // BM25-shaped keyword retrieval, the vector module's lexical
      // complement. Query = the 8 RAREST distinct tokens of doc 0
      // (rarity by corpus df, ties by token — deterministic and
      // discriminative). Integer-only scoring: idf = 64 - bitlen(df),
      // tf saturated at 3 — Lexical.lexicalTopK's exact arithmetic.
      // ONE corpus tokenize pass (r06): the (doc, tok, tf) table over
      // doc-0's token set is materialized once and serves both the
      // rarity ranking (df = count of tf rows per tok — tf rows are
      // distinct (doc, tok), so counting them IS the doc frequency,
      // same as the previous count_distinct) and the final scoring,
      // which previously re-tokenized the whole corpus inside
      // lexicalTopK. Only query-term tokens ever shuffle (broadcast
      // semi-join before tf), as before.
      val docs = t(s, dir, "documents")
      def toks(d: org.apache.spark.sql.DataFrame) = d.select(col("doc_id"),
          explode(split(trim(lower(col("text"))), "[ \t\n\f\r]+")).as("tok"))
        .where(col("tok") =!= "")
      val q0 = toks(docs.where(col("doc_id") === 0L))
        .select(col("tok")).distinct()
      // tfAll's (doc_id, tok) agg exchange subtree is shared verbatim by
      // both consumers (rarity ranking + scoring probe), so runtime
      // exchange reuse computes the tokenize pass once — no checkpoint
      val tfAll = toks(docs).join(broadcast(q0), "tok")
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      val dfq = tfAll.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val qterms = dfq.orderBy(col("df"), col("tok")).limit(8)
      // score(d) = Σ_t min(tf, 3) · (64 − bitlen(df)) over the 8 query
      // terms — bit-identical to lexicalTopK(docs, qterms, 10): its
      // internal tf/df over the 8-term subset are exactly these rows
      tfAll.join(broadcast(qterms), "tok")
        .select(col("doc_id"),
          (least(col("tf"), lit(3L)) *
            (lit(64) - length(bin(col("df"))))).as("contrib"))
        .groupBy(col("doc_id")).agg(sum(col("contrib")).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(10)
        .orderBy(col("score").desc, col("doc_id"))
    }),

    "index_build" -> ((s, dir) =>
      // inverted-index construction (classic sort-based indexing):
      // blocked delta-encoded postings, one row per (term, 128-posting
      // block); df > 400 terms are stop-worded to a summary row. The
      // oracle re-derives every block relationally (window + ordered
      // string_agg)
      graft.ops.Lexical.invertedIndex(t(s, dir, "documents"),
          blockSize = 128, dfCap = 400)
        .orderBy(col("tok"), col("block_id"))),

    "lm_train" -> ((s, dir) =>
      // distributed training of the char-bigram LM artifact that
      // text_ppl consumes (CCNet trains its filter LM in-pipeline).
      // Oracle = the committed artifact itself, an INDEPENDENT Python
      // derivation over the same tier (tools/bigram_lm_expected.py) —
      // the exact-integer floor here must land on Python's float
      // floor for every count, a genuine dual derivation
      graft.ops.TextAnalysis.trainBigramLm(t(s, dir, "documents"))
        .orderBy(col("bigram"))),

    "bpe_train" -> ((s, dir) => {
      // distributed BPE tokenizer training (Sennrich 2016): ONE corpus
      // pass builds the piece-freq table, then 48 bounded argmax
      // rounds over it. Oracle = an INDEPENDENT Python trainer over
      // the same tier (tools/bpe_train_expected.py →
      // golden/bpe_train_sf001.parquet)
      import s.implicits._
      graft.text.Bpe.trainDistributed(t(s, dir, "documents"), numMerges = 48)
        .zipWithIndex
        .map { case ((l, r), i) => (i.toLong, l, r) }
        .toDF("rank", "lhs", "rhs").orderBy(col("rank"))
    }),

    "url_filter" -> ((s, dir) => {
      // UT1-style blocklist gate (the filter webtext pipelines run
      // BEFORE spending extraction compute). The corpus carries no
      // urls, so the query PLANTS deterministic ones from doc_id
      // (subdomain depth and section vary by residue) — both engines
      // construct identical urls, so the oracle genuinely exercises
      // the label-boundary suffix match, the section-prefix match, and
      // the longest-entry winner rule
      val sub = when(pmod(col("doc_id"), lit(4)) === 0, lit("ads."))
        .when(pmod(col("doc_id"), lit(4)) === 1, lit("cdn.static."))
        .otherwise(lit(""))
      val sec = when(pmod(col("doc_id"), lit(3)) === 0, lit("shop"))
        .when(pmod(col("doc_id"), lit(3)) === 1, lit("blog"))
        .otherwise(lit("news"))
      val urls = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("https://"), sub, lit("host-"),
          pmod(col("doc_id"), lit(50)).cast("string"), lit(".example/"),
          sec, lit("/item-"), col("doc_id").cast("string"), lit(".html"))
          .as("url"))
      import s.implicits._
      val bl = urlBlocklist.toDF("entry", "category", "kind")
      graft.ops.CrawlOps.urlFilter(urls, bl).orderBy(col("doc_id"))
    }),

    "robots_eval" -> ((s, dir) => {
      // RFC 9309 robots evaluation (longest-match, allow wins ties,
      // no-rule default allow) over the same planted url scheme as
      // url_filter; the rule groups are deliberately adversarial
      // (allow-under-disallow, equal-length tie, disallow-everything
      // with a carve-out, unruled hosts)
      val host = concat(lit("host-"),
        pmod(col("doc_id"), lit(50)).cast("string"), lit(".example"))
      val sec = when(pmod(col("doc_id"), lit(3)) === 0, lit("shop"))
        .when(pmod(col("doc_id"), lit(3)) === 1, lit("blog"))
        .otherwise(lit("news"))
      val path = concat(lit("/"), sec, lit("/item-"),
        col("doc_id").cast("string"), lit(".html"))
      val urls = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("https://"), host, path).as("url"),
        host.as("host"), path.as("path"))
      import s.implicits._
      val rules = robotsRules.toDF("host", "kind", "prefix")
      graft.ops.CrawlOps.robotsEval(urls, rules).orderBy(col("doc_id"))
    }),

    "text_derep" -> ((s, dir) => {
      // WITHIN-document repeated-line removal (intra-doc sibling of
      // line_dedup's cross-doc rule). Planted page shape: a subscribe
      // banner appears twice and the body line repeats once — both
      // second occurrences must go; the empty line must survive
      // (paragraph structure is never deduped). Pure per-row kernel,
      // zero exchanges. Oracle recomputes keep-first-occurrence with
      // string_split + min(pos) per (doc, line).
      val page = concat(lit("SUBSCRIBE NOW\n"), col("text"),
        lit("\n\nSHARE: "), pmod(col("doc_id"), lit(5)).cast("string"),
        lit("\nSUBSCRIBE NOW\n"), col("text"))
      graft.ops.Dedup.derepLines(
          t(s, dir, "documents").select(col("doc_id"), page.as("text")))
        .withColumn("n_removed", col("n_removed").cast("long"))
        .orderBy(col("doc_id"))
    }),

    "crawl_schedule" -> ((s, dir) => {
      // politeness scheduler over a synthetic frontier: host from a
      // 37-way split, priority = n_chars (doc_id breaks ties), known
      // crawl delays for 10 hosts and the 1000 ms default for the
      // rest. The per-host window IS the semantics (a polite crawler
      // is a serial queue per host).
      val frontier = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("h"), pmod(col("doc_id"), lit(37)).cast("string")).as("host"),
        col("n_chars").as("priority"))
      import s.implicits._
      val delays = (0 until 10).map(i => (s"h$i", (i + 1) * 100L))
        .toDF("host", "delay_ms")
      graft.ops.CrawlOps.politenessSchedule(frontier, delays)
        .orderBy(col("doc_id"))
    }),

    "decontam_apply" -> ((s, dir) => {
      // APPLY side of contamination_check — same deterministic split
      // (eval = doc_id % 29 == 3) and the same df-capped trigram rule;
      // train docs sharing >= 2 capped shingles with ANY eval doc are
      // dropped via one broadcast anti-join on id (train text never
      // shuffles). Output is the surviving corpus slice.
      val docs = t(s, dir, "documents")
      graft.ops.Dedup.decontaminate(
          docs.where(col("doc_id") % 29 =!= 3),
          docs.where(col("doc_id") % 29 === 3),
          minShared = 2, maxDocFreq = 64)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    "select_dsir" -> ((s, dir) =>
      // DSIR-style importance selection (hashed unigram+bigram buckets,
      // exact integer millibit log-ratios, top-k by score): target =
      // lang='en' docs, raw = whole corpus. Oracle = committed golden
      // from an INDEPENDENT Python derivation (tools/dsir_expected.py:
      // own tokenizer/hash/floor, float log2 cross-checked against the
      // exact integer predicate), pinned at sf0.01.
      graft.ops.Dsir.selectTopK(t(s, dir, "documents"),
          col("lang") === "en", k = 100)
        .orderBy(col("doc_id"))),

    "sitemap_parse" -> ((s, dir) => {
      // sitemap XML entries via the arena DOM parser. Traps: a
      // commented-out <url> block (regex bait — a comment node to the
      // parser), a loc-less entry (must be skipped without consuming
      // an entry_idx), and REQUIRED &amp; escaping in <loc> that must
      // decode. The oracle rebuilds both surviving entries per site
      // relationally from doc_id.
      val site = pmod(col("doc_id"), lit(40)).cast("string")
      val xml = concat(
        lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?><urlset><url><loc>https://site"),
        site, lit(".example.com/page/"), col("doc_id").cast("string"),
        lit("?a=1&amp;b=2</loc><lastmod>2024-0"),
        (pmod(col("doc_id"), lit(9)) + 1).cast("string"),
        lit("-15</lastmod><priority>0."),
        pmod(col("doc_id"), lit(10)).cast("string"),
        lit("</priority></url><!-- <url><loc>https://trap.example.com/"),
        col("doc_id").cast("string"),
        lit("</loc></url> --><url><lastmod>2020-01-01</lastmod></url><url><loc>https://site"),
        site, lit(".example.com/alt/"), col("doc_id").cast("string"),
        lit("</loc></url></urlset>"))
      graft.extract.Sitemap.parseSitemaps(
          t(s, dir, "documents").select(col("doc_id").as("site_id"), xml.as("xml")))
        .orderBy(col("site_id"), col("entry_idx"))
    }),

    "c4_filter" -> ((s, dir) => {
      // C4's published cleaning heuristics over planted pages: one
      // line per rule — a proper sentence, the word-soup body (no
      // terminal punct), a short line, a javascript line, two more
      // proper sentences (the third withheld on doc_id % 11 == 0 to
      // trip too_few_sentences), plus conditional brace / lorem-ipsum
      // / bad-word page poisons with kernel-mirrored precedence.
      val page = concat(
        lit("Genuine first sentence about "), col("source"),
        lit(" data curation today.\n"),
        col("text"), lit("\n"),
        lit("Too short.\n"),
        lit("This line mentions javascript frameworks and should vanish.\n"),
        lit("A second proper sentence keeps the page going."),
        when(pmod(col("doc_id"), lit(11)) =!= 0,
          lit("\nA third proper sentence keeps the page alive."))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(17)) === 0,
          lit("\nconfig = { \"a\": 1 }")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(23)) === 0,
          lit("\nLorem Ipsum dolor sit amet consectetur.")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(31)) === 0,
          lit("\nThis sentence contains badword1 unfortunately for everyone."))
          .otherwise(lit("")))
      graft.ops.TextAnalysis.c4Clean(
          t(s, dir, "documents").select(col("doc_id"), page.as("text")),
          badWords = Set("badword1", "badword2"))
        .orderBy(col("doc_id"))
    }),

    "redirect_resolve" -> ((s, dir) => {
      // redirect-chain resolution by pointer doubling. Planted edges
      // per 50-block (r = doc_id % 50): {16,17,18} -> +1 and 19 -> -2,
      // giving a 3-cycle 17->18->19->17 plus a chain INTO it from 16;
      // every other non-multiple-of-5 id redirects -1 (chains of
      // length <= 4 ending at multiples of 5, which never redirect).
      val r = pmod(col("doc_id"), lit(50))
      val edges = t(s, dir, "documents").select(col("doc_id").as("src"),
          when(r.isin(16, 17, 18), col("doc_id") + 1)
            .when(r === 19, col("doc_id") - 2)
            .when(pmod(col("doc_id"), lit(5)) =!= 0, col("doc_id") - 1)
            .as("dst"))
        .where(col("dst").isNotNull)
      graft.ops.Graph.resolveRedirects(edges, maxRounds = 6)
        .orderBy(col("src"))
    }),

    "robots_parse" -> ((s, dir) => {
      // robots.txt PARSING over four planted file shapes (v = doc_id
      // % 4): a '*' group with allow/disallow/crawl-delay (v0); the
      // same plus a second group reached across a blank line with a
      // mixed-case directive, an inline comment after the value and an
      // ignored unknown directive (v1); a TWO-agent group sharing one
      // empty-value Disallow (v2); comments + an orphan rule before
      // any User-agent, which must vanish (v3).
      val i = col("doc_id")
      val v = pmod(i, lit(4))
      val common = concat(
        lit("# robots for host "), i.cast("string"),
        lit("\nUser-agent: *\nDisallow: /private/\nAllow: /private/public/\nCrawl-delay: "),
        (pmod(i, lit(5)) + 1).cast("string"))
      val body = when(v === 0, common)
        .when(v === 1, concat(common,
          lit("\n\nuser-AGENT:   graftbot\nDisallow: /trap-"), i.cast("string"),
          lit("/ # stay out\nHost: ignored.example")))
        .when(v === 2,
          lit("User-agent: graftbot\nUser-agent: otherbot\nDisallow:"))
        .otherwise(lit("# comments only\nDisallow: /orphan/"))
      graft.ops.CrawlOps.parseRobots(
          t(s, dir, "documents").select(i.as("host_id"), body.as("robots")))
        .orderBy(col("host_id"), col("rule_idx"), col("agent"))
    }),

    "host_quality" -> ((s, dir) => {
      // empirical-Bayes host quality: per-doc integer quality_bp
      // (the text_analysis expression) grouped on a 37-way host split,
      // shrunk toward the global floor-mean by 20 pseudo-counts —
      // pure integer floor arithmetic, partitioning-independent.
      val docs = t(s, dir, "documents").select(
        concat(lit("h"), pmod(col("doc_id"), lit(37)).cast("string")).as("host"),
        graft.ops.TextAnalysis.qualityScore(col("text")).as("score"))
      graft.ops.CrawlOps.hostQuality(docs, k = 20).orderBy(col("host"))
    }),

    "dedup_keep_best" -> ((s, dir) => {
      // quality-aware cluster dedup: the dedup_cc pair set, but each
      // cluster keeps its HIGHEST-quality_bp member (tie → lowest id)
      // instead of the minimum id — the production canonical-pick.
      // Oracle: recursive-CTE components + the quality CTE + the same
      // (score desc, id) pick re-spelled relationally.
      val docs = t(s, dir, "documents").where(col("doc_id") < 2000)
      val pairs = graft.ops.Dedup.minhashLshPairs(docs,
        threshold = 0.8, numHashes = 64, bands = 32, shingleSize = 3)
      val scores = t(s, dir, "documents").select(col("doc_id"),
        graft.ops.TextAnalysis.qualityScore(col("text")).as("score"))
      graft.ops.Dedup.keepBestPerCluster(pairs, scores)
        .orderBy(col("doc_id"))
    }),

    "frontier_build" -> ((s, dir) => {
      // END-TO-END frontier construction — the crawl-side composition
      // query (the dedup side has curate_corpus): the url_filter
      // planted-url scheme → blocklist gate (broadcast anti on blocked
      // ids) → robots gate (shared rule literals; subdomain'd hosts
      // have no rules → default allow, as in life) → politeness
      // schedule with per-host crawl delays. Every stage is an
      // already-oracled operator; this row proves the composition.
      val sub = when(pmod(col("doc_id"), lit(4)) === 0, lit("ads."))
        .when(pmod(col("doc_id"), lit(4)) === 1, lit("cdn.static."))
        .otherwise(lit(""))
      val sec = when(pmod(col("doc_id"), lit(3)) === 0, lit("shop"))
        .when(pmod(col("doc_id"), lit(3)) === 1, lit("blog"))
        .otherwise(lit("news"))
      val host = concat(sub, lit("host-"),
        pmod(col("doc_id"), lit(50)).cast("string"), lit(".example"))
      val path = concat(lit("/"), sec, lit("/item-"),
        col("doc_id").cast("string"), lit(".html"))
      val urls = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("https://"), host, path).as("url"),
        host.as("host"), path.as("path"))
      import s.implicits._
      val bl = urlBlocklist.toDF("entry", "category", "kind")
      // NO broadcast hints on the gate id-sets: blocked and allowed are
      // corpus-PROPORTIONAL (unlike decontaminate's eval-bounded drop
      // set), so at 10^12 urls these joins must be free to shuffle —
      // AQE broadcasts them when they measure small, as they do here
      val blockedIds = graft.ops.CrawlOps
        .urlFilter(urls.select(col("doc_id"), col("url")), bl)
        .where(col("blocked")).select("doc_id")
      val surviving = urls.join(blockedIds, Seq("doc_id"), "left_anti")
      val rules = robotsRules.toDF("host", "kind", "prefix")
      val allowedIds = graft.ops.CrawlOps.robotsEval(surviving, rules)
        .where(col("allowed")).select("doc_id")
      val frontier = surviving
        .join(allowedIds, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("host"),
          pmod(col("doc_id"), lit(97)).as("priority"))
      val delays = (0 until 10)
        .map(i => (s"host-$i.example", ((i % 7) + 1) * 100L))
        .toDF("host", "delay_ms")
      graft.ops.CrawlOps.politenessSchedule(frontier, delays)
        .orderBy(col("doc_id"))
    }),

    "embed_quantize" -> ((s, dir) => {
      // int8 scalar quantization of the embedding table (4× at-rest/
      // on-wire compression next to PQ's 32×). The result parquet pins
      // every code through integer invariants (position-weighted
      // checksum + L1 + saturation count) plus the scale in exact ppm
      // — the oracle recomputes all of them from the same binary64
      // rule over the float column.
      import s.implicits._
      graft.ops.Pq.int8Quantize(t(s, dir, "embeddings"))
        .as[(Long, Double, Array[Byte])]
        .map { case (id, ma, codes) =>
          var ck = 0L; var l1 = 0L; var sat = 0L
          var i = 0
          while (i < codes.length) {
            ck += codes(i).toLong * (i + 1)
            l1 += math.abs(codes(i).toLong)
            if (math.abs(codes(i).toInt) == 127) sat += 1
            i += 1
          }
          (id, math.floor(ma * 1000000.0).toLong, ck, l1, sat)
        }
        .toDF("vec_id", "scale_ppm", "checksum", "l1", "n_sat")
        .orderBy(col("vec_id"))
    })
  )

  /** U+00E9 (e-acute) and its UTF-8-read-as-Latin-1 mojibake form
    * (bytes C3 A9 seen as chars U+00C3 U+00A9) — the planted pair for
    * text_fix, escape-spelled to keep sources ASCII-clean.
    */
  private val cleanEacute = "\u00e9"
  private val mojiEacute = "\u00c3\u00a9"

  /** Deterministic robots rule groups (RFC 9309 literal-prefix subset)
    * — ONE definition feeds both the Spark DataFrame and the oracle's
    * VALUES literal.
    */
  private val robotsRules: Seq[(String, String, String)] = Seq(
    // disallow-everything with a carve-out: only /blog survives
    ("host-4.example", "disallow", "/"),
    ("host-4.example", "allow", "/blog"),
    // plain section block
    ("host-9.example", "disallow", "/shop"),
    // allow-under-disallow: longer allow rescues /shop/item-1* only
    ("host-14.example", "disallow", "/shop"),
    ("host-14.example", "allow", "/shop/item-1"),
    // equal-length tie on the SAME prefix: allow wins
    ("host-19.example", "disallow", "/news"),
    ("host-19.example", "allow", "/news"),
    // redundant allow (default is allow anyway): exercises matched_kind
    ("host-24.example", "allow", "/"))

  /** Deterministic synthetic blocklist (UT1 shape: domain suffixes +
    * host/section prefixes) — ONE definition feeds both the Spark
    * DataFrame and the oracle's VALUES literal. host-21/host-11 carry
    * deliberately OVERLAPPING entries so the longest-entry winner rule
    * is exercised, not just membership.
    */
  private val urlBlocklist: Seq[(String, String, String)] = Seq(
    ("host-7.example", "adult", "domain"),
    ("host-13.example", "ads", "domain"),
    ("host-3.example", "malware", "domain"),
    ("host-21.example", "ads", "domain"),
    ("static.host-21.example", "tracker", "domain"),
    ("ads.host-49.example", "ads", "domain"),
    ("host-11.example", "annoyance", "domain"),
    ("host-11.example/shop", "commerce", "prefix"),
    // reachability: cdn.static. requires doc_id ≡ 1 (mod 4) — odd —
    // so the host residue must be odd too; 5 also satisfies sec=news
    // (5 ≡ 2 mod 3), giving hits at doc_id ≡ 5 (mod 300)
    ("cdn.static.host-5.example/news", "spam", "prefix"))

  /** SQL fragments for PQ code derivation + ADC scoring, built from the
    * committed codebook artifact (shared by ann_pq and ann_ivfpq; the
    * `d` CTE must expose `v`, the `q` CTE must expose `qv`).
    */
  private final case class PqSql(dlCols: String, codeCols: String, scoreBp: String)
  private def pqSqlParts(
      cb: graft.ops.Pq.Codebooks = graft.ops.Pq.fromFile(s"$goldenDir/pq_codebooks.txt"))
      : PqSql = {
    val m = cb.length
    val subDim = cb(0)(0).length
    def lit(c: Array[Double]) = c.mkString("[", ", ", "]")
    def slice(s: Int, v: String) = s"$v[${s * subDim + 1}:${(s + 1) * subDim}]"
    val dlCols = (0 until m).map { s =>
      cb(s).map(c => s"list_distance(${slice(s, "v")}, ${lit(c)})")
        .mkString("[", ", ", "]") + s" AS dl$s"
    }.mkString(", ")
    val codeCols = (0 until m)
      .map(s => s"list_position(dl$s, list_min(dl$s)) - 1 AS code$s").mkString(", ")
    val cbLits = (0 until m).map(s => cb(s).map(lit).mkString("[", ", ", "]"))
    val normLits = (0 until m).map { s =>
      cb(s).map { c =>
        var n = 0.0; var i = 0
        while (i < c.length) { n += c(i) * c(i); i += 1 }
        n.toString
      }.mkString("[", ", ", "]")
    }
    val dotSum = (0 until m)
      .map(s => s"list_dot_product(${slice(s, "qv")}, ${cbLits(s)}[code$s + 1])")
      .mkString(" + ")
    val nrmSum = (0 until m).map(s => s"${normLits(s)}[code$s + 1]").mkString(" + ")
    PqSql(dlCols, codeCols,
      s"floor(($dotSum) / (sqrt(list_dot_product(qv, qv)) * sqrt($nrmSum)) * 10000)::BIGINT AS score_bp")
  }

  /** Python-\s character class in RE2 syntax — the oracle-side twin of
    * PyText.isPySpace. The dedup-family kernels tokenize with isPySpace
    * (NBSP & co. split tokens — the right call for HTML-extracted text),
    * so their oracles must split on the identical class or any document
    * containing \xa0 flips the comparison red.
    */
  private val pyWs: String =
    """[\t-\r\x1c-\x1f \x{85}\x{a0}\x{1680}\x{2000}-\x{200a}\x{2028}\x{2029}\x{202f}\x{205f}\x{3000}]"""

  /** Exact trigram-set jaccard pairs over documents (doc_id < 2000) —
    * the shared ground-truth CTE for the minhash miner and the greedy
    * dedup applier (mirrors Dedup.shingleHashes semantics: k=3 word
    * shingles of the lowercased isPySpace tokenization, distinct per
    * doc, whole-text shingle for sub-k docs).
    */
  private val exactJaccardCte: String =
    s"""arrs AS (
      |  SELECT doc_id AS id, regexp_split_to_array(
      |    regexp_replace(lower(text), '^$pyWs+|$pyWs+$$', '', 'g'), '$pyWs+') AS arr
      |  FROM documents WHERE doc_id < 2000),""".stripMargin + """
      |toks AS (
      |  SELECT id, unnest(list_distinct(CASE WHEN len(arr) >= 3 THEN
      |    list_transform(range(1, len(arr) - 1),
      |      i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2])
      |    ELSE [array_to_string(arr, ' ')] END)) AS tok
      |  FROM arrs),
      |sizes AS (SELECT id, count(*) AS n FROM toks GROUP BY id),
      |shared AS (
      |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
      |  FROM toks a JOIN toks b ON a.tok = b.tok AND a.id < b.id
      |  GROUP BY 1, 2),
      |exact_pairs AS (
      |  SELECT id_a, id_b,
      |    floor(inter / (sa.n + sb.n - inter) * 10000)::BIGINT AS jaccard_bp
      |  FROM shared JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
      |  WHERE inter / (sa.n + sb.n - inter) >= 0.8)""".stripMargin

  /** Per-doc text-analysis columns as composable CTEs ending in
    * `analysis` — shared by the text_analysis and curate_corpus
    * oracles (same logic as TextAnalysis.analyze).
    */
  private val textAnalysisCtes: String =
    ("""base AS (SELECT doc_id, text, trim(text) AS t FROM documents),
      |c AS (SELECT doc_id, text, t,
      |  CASE WHEN length(t) = 0 THEN 0
      |       ELSE len(regexp_split_to_array(t, '\s+')) END AS n_tokens,
      |  len(regexp_extract_all(lower(t), '\b(""" +
      graft.ops.TextAnalysis.langStopwords("en").mkString("|") + """)\b')) AS c_en,
      |  len(regexp_extract_all(lower(t), '\b(""" +
      graft.ops.TextAnalysis.langStopwords("de").mkString("|") + """)\b')) AS c_de,
      |  len(regexp_extract_all(lower(t), '\b(""" +
      graft.ops.TextAnalysis.langStopwords("fr").mkString("|") + """)\b')) AS c_fr,
      |  len(regexp_extract_all(lower(t), '\b(""" +
      graft.ops.TextAnalysis.langStopwords("es").mkString("|") + """)\b')) AS c_es,
      |  len(regexp_extract_all(t, '[.!?]')) AS sents,
      |  length(regexp_replace(t, '[\p{L}\p{N}\s.,!?;:''"-]', '', 'g')) AS syms
      |FROM base),
      |analysis AS (
      |SELECT doc_id, n_tokens,
      |  CASE WHEN c_en > 0 AND c_en >= c_de AND c_en >= c_fr AND c_en >= c_es THEN 'en'
      |       WHEN c_de > 0 AND c_de >= c_fr AND c_de >= c_es THEN 'de'
      |       WHEN c_fr > 0 AND c_fr >= c_es THEN 'fr'
      |       WHEN c_es > 0 THEN 'es' ELSE 'und' END AS lang_guess,
      |  floor(greatest(0.0,
      |    least(length(t) / 500.0, 1.0) * 0.35 +
      |    least(sents / greatest(n_tokens / 25.0, 1.0), 1.0) * 0.25 +
      |    least(c_en * 10.0 / greatest(n_tokens, 1), 1.0) * 0.25 +
      |    (1.0 - least(syms * 5.0 / greatest(length(t), 1), 1.0)) * 0.15) * 10000)::BIGINT AS quality_bp,
      |  sha256(regexp_replace(lower(t), '\s+', ' ', 'g')) AS fingerprint
      |FROM c)""").stripMargin

  /** DuckDB oracles. Same logic, same rounding, same ORDER BY. */
  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |round(sum(l_extendedprice), 2) AS sum_price,
        |round(avg(l_discount), 6) AS avg_disc,
        |count(*) AS n FROM lineitem GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    "join_enrich" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |round(sum(o_totalprice), 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "window_topk" ->
      """SELECT o_custkey, rk, o_orderkey, price FROM (
        |  SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) WHERE rk <= 2 ORDER BY o_custkey, rk""".stripMargin,

    "anti_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "events_window" ->
      """SELECT event_id, user_id,
        |round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_value
        |FROM events ORDER BY user_id, event_id""".stripMargin,

    "semi_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "multiway_join" ->
      """SELECT r_name, n_name, count(*) AS n_orders,
        |round(sum(o_totalprice), 2) AS revenue,
        |floor(avg(c_acctbal) * 10000)::BIGINT AS acctbal_bp
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "events_json" ->
      // json_extract_string (not json_extract) + explicit outer BIGINT casts:
      // json_extract returns a JSON-typed value and sum() of it promotes to
      // HUGEINT, both of which canonicalize differently across DuckDB
      // versions (the round-2 driver red row). VARCHAR -> BIGINT -> BIGINT
      // is stable everywhere.
      """SELECT event_type, count(*) AS n,
        |sum(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS sum_k,
        |min(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS min_k,
        |max(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS max_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "rag_index_ops" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |inc AS (
        |  SELECT a.vec_id AS tid,
        |    CASE WHEN a.vec_id = 5 THEN b.embedding[1:10] ELSE b.embedding END AS emb
        |  FROM e a JOIN e b ON b.vec_id = a.vec_id + 100
        |  WHERE a.vec_id < 10),
        |valid AS (SELECT * FROM inc WHERE len(emb) = 64),
        |up AS (
        |  SELECT vec_id, embedding FROM e
        |  WHERE vec_id NOT IN (SELECT tid FROM valid)
        |  UNION ALL SELECT tid, emb FROM valid),
        |afterdel AS (SELECT * FROM up WHERE vec_id <> 3),
        |stats AS (SELECT count(*)::BIGINT AS total_documents,
        |                 max(len(embedding))::INT AS embedding_dimension
        |          FROM afterdel)
        |SELECT printf('doc_%05d', vec_id) AS id,
        |  floor(embedding[1]::DOUBLE * 10000)::BIGINT AS e0_bp,
        |  len(embedding)::INT AS dim,
        |  (SELECT total_documents FROM stats) AS total_documents,
        |  (SELECT embedding_dimension FROM stats) AS embedding_dimension
        |FROM afterdel WHERE vec_id < 15 ORDER BY id""".stripMargin,

    "rag_format" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0),
        |scored AS (
        |  SELECT printf('doc_%05d', vec_id) AS id, d.text AS content,
        |    list_cosine_similarity(embedding::DOUBLE[], (SELECT v FROM q)) AS score
        |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
        |topk AS (
        |  SELECT *, row_number() OVER (ORDER BY score DESC, id) AS rn FROM (
        |    SELECT * FROM scored WHERE score >= 0.0
        |    ORDER BY score DESC, id LIMIT 5))
        |SELECT string_agg(
        |  printf('[Result %d, Score: %.3f]', rn, score) || chr(10) || content,
        |  chr(10) || chr(10) || '---' || chr(10) || chr(10) ORDER BY rn) AS formatted
        |FROM topk""".stripMargin,

    "rag_topk" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0),
        |scored AS (
        |  SELECT printf('doc_%05d', vec_id) AS id,
        |    list_cosine_similarity(embedding::DOUBLE[], (SELECT v FROM q)) AS score,
        |    label::VARCHAR AS label
        |  FROM embeddings),
        |topk AS (
        |  SELECT * FROM scored WHERE score >= 0.0
        |  ORDER BY score DESC, id LIMIT 10)
        |SELECT id, floor(score * 10000)::BIGINT AS score_bp, label
        |FROM topk WHERE label = '2' ORDER BY id""".stripMargin,

    "dedup_semantic" -> {
      // TWO-LEVEL assignment, the registered query's exact rule:
      // nearest coarse (ORDER BY sim DESC, id == the kernel's first-max
      // over the coarse set), then nearest fine WITHIN that coarse
      // cell's member list; drop rule = correlated EXISTS over earlier
      // same-cell vectors. All literals (coarse table, fine table with
      // its coarse membership) are derived from the LIVE tier by the
      // same semanticSizing + deterministic-trainer + coarse-layering
      // rule the registered query applies at runtime
      val q = tierSemanticQuantizer
      val coarseRows = q.coarse.zipWithIndex
        .map { case (c, i) => s"($i, ${c.mkString("[", ", ", "]")}::DOUBLE[])" }
        .mkString(", ")
      val fineRows = q.members.zipWithIndex.flatMap { case (ms, ci) =>
        ms.map(f => s"($f, $ci, ${q.fine(f).mkString("[", ", ", "]")}::DOUBLE[])")
      }.mkString(", ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |coarses AS (SELECT * FROM (VALUES $coarseRows) t(id, c)),
         |fines AS (SELECT * FROM (VALUES $fineRows) t(id, cg, c)),
         |ca AS (SELECT vec_id, v,
         |  (SELECT id FROM coarses
         |   ORDER BY list_cosine_similarity(e.v, c) DESC, id LIMIT 1) AS cg
         |  FROM e),
         |cells AS (SELECT vec_id, v,
         |  (SELECT f.id FROM fines f WHERE f.cg = ca.cg
         |   ORDER BY list_cosine_similarity(ca.v, f.c) DESC, f.id LIMIT 1) AS cell
         |  FROM ca)
         |SELECT a.vec_id, a.cell::INT AS cell,
         |  NOT EXISTS (SELECT 1 FROM cells b WHERE b.cell = a.cell
         |    AND b.vec_id < a.vec_id
         |    AND list_cosine_similarity(b.v, a.v) >= 0.4) AS kept
         |FROM cells a ORDER BY a.vec_id""".stripMargin
    },

    "ann_ivf" -> {
      // cells and probes recomputed in SQL from the committed centroid
      // artifact (Double.toString round-trips, so the literals equal
      // the kernel's binary64 centroids); tie rule: first maximal index
      // (list_position-of-max == the kernel's strict-> loop)
      val cs = graft.ops.Similarity
        .centroidsFromFile(s"$goldenDir/ivf_centroids.txt")
      val scoreList = cs
        .map(c => s"list_cosine_similarity(v, ${c.mkString("[", ", ", "]")})")
        .mkString("[", ", ", "]")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |scored AS (SELECT vec_id, v, $scoreList AS s FROM e),
         |cells AS (SELECT vec_id, v, list_position(s, list_max(s)) - 1 AS cell
         |          FROM scored),
         |q AS (SELECT s AS qs, v AS qv FROM scored WHERE vec_id = 0),
         |probes AS (
         |  SELECT cell FROM (
         |    SELECT unnest(qs) AS sc, unnest(range(0, len(qs))) AS cell FROM q)
         |  ORDER BY sc DESC, cell LIMIT 4)
         |SELECT vec_id,
         |  floor(list_cosine_similarity(v, (SELECT qv FROM q)) * 10000)::BIGINT AS score_bp
         |FROM cells WHERE cell IN (SELECT cell FROM probes)
         |ORDER BY score_bp DESC, vec_id LIMIT 10""".stripMargin
    },

    "ann_pq" -> {
      // PQ codes and the ADC-decomposed cosine recomputed in SQL from
      // the committed codebook artifact: per subspace, code = first-min
      // L2 over the inlined sub-centroids (list_position == the
      // kernel's strict-< rule; sqrt is monotone so list_distance's
      // argmin equals the kernel's squared-L2 argmin); then
      // dot(q, recon) = sum of per-subspace dot lookups and
      // ||recon||^2 = sum of per-subspace norm literals (precomputed in
      // Scala, so both sides use identical binary64 values).
      val p = pqSqlParts()
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |d AS (SELECT vec_id, v, ${p.dlCols} FROM e),
         |c AS (SELECT vec_id, ${p.codeCols} FROM d),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
         |SELECT vec_id, ${p.scoreBp}
         |FROM c, q
         |ORDER BY score_bp DESC, vec_id LIMIT 10""".stripMargin
    },

    "ann_ivfpq" -> {
      // the composed faiss production shape: IVF cell pruning (same
      // centroid literals + first-max tie rule as ann_ivf) over
      // PQ-coded vectors, ADC-rescored — both stages recomputed in SQL
      val cs = graft.ops.Similarity
        .centroidsFromFile(s"$goldenDir/ivf_centroids.txt")
      val ivfScores = cs
        .map(c => s"list_cosine_similarity(v, ${c.mkString("[", ", ", "]")})")
        .mkString("[", ", ", "]")
      val p = pqSqlParts()
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |scored AS (SELECT vec_id, v, $ivfScores AS s FROM e),
         |cells AS (SELECT vec_id, v, list_position(s, list_max(s)) - 1 AS cell
         |          FROM scored),
         |q AS (SELECT s AS qs, v AS qv FROM scored WHERE vec_id = 0),
         |probes AS (
         |  SELECT cell FROM (
         |    SELECT unnest(qs) AS sc, unnest(range(0, len(qs))) AS cell FROM q)
         |  ORDER BY sc DESC, cell LIMIT 4),
         |d AS (SELECT vec_id, v, ${p.dlCols} FROM cells
         |      WHERE cell IN (SELECT cell FROM probes)),
         |c AS (SELECT vec_id, ${p.codeCols} FROM d)
         |SELECT vec_id, ${p.scoreBp}
         |FROM c, q
         |ORDER BY score_bp DESC, vec_id LIMIT 10""".stripMargin
    },

    "neardup_lsh" -> {
      // same inlined-plane technique as ann_lsh, over `tables`
      // independent tables (tableSignatures uses plane ids
      // t*bits + p + 1000). The sizing is NOT frozen here: it is
      // Similarity.lshSizing applied to the LIVE tier's embedding
      // count (tierEmbeddingCount — a metadata-only parquet count at
      // oracle-construction time; sf0.01's 500 rows → (8, 8)), i.e.
      // the exact same deterministic rule the registered self-sizing
      // query applies at runtime. A regenerated tier re-derives
      // automatically instead of desynchronizing a hand constant.
      val (bits, tables) = graft.ops.Similarity.lshSizing(tierEmbeddingCount)
      val sigExprs = (0 until tables).map { tt =>
        (0 until bits).map { p =>
          s"(CASE WHEN list_dot_product(v, ${graft.ops.Similarity.hyperplaneSqlLiteral(tt * bits + p + 1000, 64)}) >= 0 THEN ${1 << p} ELSE 0 END)"
        }.mkString(" + ")
      }.mkString("[", ", ", "]")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |sig AS (SELECT vec_id, v, $sigExprs AS sigs FROM e),
         |b AS (SELECT vec_id, r.range AS t, sigs[r.range + 1] AS bucket
         |      FROM sig CROSS JOIN range($tables) r),
         |p AS (SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b
         |      FROM b a JOIN b b2 ON a.t = b2.t AND a.bucket = b2.bucket
         |        AND a.vec_id < b2.vec_id),
         |s AS (SELECT id_a, id_b, list_cosine_similarity(ea.v, eb.v) AS c
         |      FROM p JOIN e ea ON ea.vec_id = id_a JOIN e eb ON eb.vec_id = id_b)
         |SELECT id_a, id_b, floor(c * 10000)::BIGINT AS cos_bp
         |FROM s WHERE c >= 0.4 ORDER BY id_a, id_b""".stripMargin
    },

    "q9_profit" ->
      """SELECT n_name, p_brand, count(*) AS n_items,
        |round(sum(l_extendedprice * (1 - l_discount)), 2) AS net_revenue,
        |sum(l_quantity) AS qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "dedup_minhash" ->
      s"""WITH $exactJaccardCte
        |SELECT id_a, id_b, jaccard_bp FROM exact_pairs
        |ORDER BY id_a, id_b""".stripMargin,

    "dedup_apply" ->
      s"""WITH $exactJaccardCte
        |SELECT doc_id, n_chars FROM documents
        |WHERE doc_id < 2000
        |  AND doc_id NOT IN (SELECT DISTINCT id_b FROM exact_pairs)
        |ORDER BY doc_id""".stripMargin,

    "dedup_cc" ->
      // independent derivation of the components: min-label closure by
      // recursive CTE (transitive reachability) over the exact-jaccard
      // pair set — no star-contraction logic shared with the kernel
      s"""WITH RECURSIVE $exactJaccardCte,
        |edges AS (SELECT id_a AS u, id_b AS v FROM exact_pairs
        |          UNION ALL SELECT id_b, id_a FROM exact_pairs),
        |nodes AS (SELECT DISTINCT u AS id FROM edges),
        |reach AS (
        |  SELECT id, id AS lab FROM nodes
        |  UNION
        |  SELECT e.u AS id, r.lab FROM reach r JOIN edges e ON e.v = r.id)
        |SELECT id::BIGINT AS doc_id, min(lab)::BIGINT AS component,
        |  (id = min(lab)) AS kept
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,

    "ann_opq" -> {
      // rotation recomputed in SQL from the same pure-function matrix
      // (binary64 literals), with the kernel's FLOAT round-trip spelled
      // as ::FLOAT::DOUBLE; codebooks derived from the LIVE tier over
      // rotated vectors by the same deterministic trainer
      val r = graft.ops.Pq.rotationMatrix(64)
      val rlit = r.map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]")
      val p = pqSqlParts(tierOpqCodebooks)
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v0 FROM embeddings),
         |r AS (SELECT vec_id, list_transform(range(1, 65),
         |  i -> CAST(list_dot_product(($rlit)[i], v0) AS FLOAT)::DOUBLE) AS v
         |  FROM e),
         |d AS (SELECT vec_id, v, ${p.dlCols} FROM r),
         |c AS (SELECT vec_id, ${p.codeCols} FROM d),
         |q AS (SELECT v AS qv FROM r WHERE vec_id = 0)
         |SELECT vec_id, ${p.scoreBp}
         |FROM c, q
         |ORDER BY score_bp DESC, vec_id LIMIT 10""".stripMargin
    },

    "shard_pack" ->
      // the single-window SQL spelling IS the oracle — correct at
      // oracle scale, the one-task trap the kernel exists to avoid
      """SELECT doc_id,
        |  (pre // 50000)::BIGINT AS shard,
        |  (pre % 50000)::BIGINT AS shard_offset
        |FROM (
        |  SELECT doc_id, coalesce(sum(n_chars) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
        |  FROM documents WHERE doc_id IS NOT NULL)
        |ORDER BY doc_id""".stripMargin,

    "cdx_build" ->
      // offsets are compression-internal and never cross engines;
      // what crosses is their CORRECTNESS: digest must equal sha-256
      // of the source text (only reachable through a good point read)
      // and both flags must be true for every record
      """SELECT doc_id,
        |  row_number() OVER (PARTITION BY doc_id // 16 ORDER BY doc_id)
        |    - 1 AS member_seq,
        |  sha256(text) AS digest,
        |  TRUE AS uri_ok, TRUE AS point_read_ok
        |FROM documents ORDER BY doc_id""".stripMargin,

    "html_links" ->
      // the oracle does NOT parse: it reconstructs the two planted
      // links per doc from the same construction rule — any extra row
      // (comment trap, script trap) or missing/mangled anchor turns
      // the hash red
      """WITH d AS (
        |  SELECT doc_id, lang, source,
        |    doc_id % 20 AS j, doc_id % 7 AS k, doc_id % 50 AS m
        |  FROM documents)
        |SELECT doc_id, 0::BIGINT AS link_idx,
        |  '/s-' || k AS href, 'sec ' || lang AS anchor,
        |  'src-' || j || '.example' AS dst_host
        |FROM d
        |UNION ALL
        |SELECT doc_id, 1::BIGINT,
        |  'https://host-' || m || '.example/deep', 'ext ' || source,
        |  'host-' || m || '.example'
        |FROM d
        |ORDER BY doc_id, link_idx""".stripMargin,

    "seq_pack" ->
      // relational concat-and-chunk over the independent Python token
      // golden (tokens + per-doc EOS rows, portable 31-polynomial
      // keys): the global row_number spelling is correct at oracle
      // scale and is exactly the one-task trap the kernel's two-phase
      // prefix sum exists to avoid
      s"""WITH g AS (
         |  SELECT doc_id, tok_key,
         |    row_number() OVER (ORDER BY doc_id, pos) - 1 AS gpos
         |  FROM read_parquet('$goldenDir/doc_tokens_sf001.parquet'))
         |SELECT (gpos // 64)::BIGINT AS seq_id,
         |  count(*)::BIGINT AS n_toks,
         |  count(DISTINCT doc_id)::BIGINT AS n_docs,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc,
         |  sum((gpos % 64 + 1) * tok_key)::BIGINT AS checksum
         |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,

    "rag_mmr" ->
      // the greedy pick sequence reproduced with a recursive CTE: each
      // step appends the argmax (bp-floored objective DESC, vec_id) of
      // the remaining candidates. BOTH multipliers are interpolated
      // from the kernel's binary64 values and cast to DOUBLE — DuckDB
      // parses bare numeric literals as DECIMAL (1 - 0.7 is an EXACT
      // decimal 0.3 there, not the kernel's 1-λ =
      // 0.30000000000000004), so spelling the arithmetic inline would
      // diverge on candidates whose objective straddles a bp boundary
      s"""WITH RECURSIVE e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |cands AS (
        |  SELECT vec_id, v, list_cosine_similarity(v, (SELECT qv FROM q)) AS qs
        |  FROM e
        |  ORDER BY floor(list_cosine_similarity(v, (SELECT qv FROM q)) * 10000)
        |    DESC, vec_id
        |  LIMIT 20),
        |sel AS (
        |  SELECT 0 AS step, CAST([] AS BIGINT[]) AS picked
        |  UNION ALL
        |  SELECT step + 1, list_append(picked, (
        |      SELECT c.vec_id FROM cands c
        |      WHERE NOT list_contains(sel.picked, c.vec_id)
        |      ORDER BY floor((CAST(${0.7} AS DOUBLE) * c.qs
        |          - CAST(${1 - 0.7} AS DOUBLE) * coalesce(
        |          (SELECT max(list_cosine_similarity(c.v, s.v)) FROM cands s
        |           WHERE list_contains(sel.picked, s.vec_id)), 0.0)) * 10000)
        |        DESC, c.vec_id
        |      LIMIT 1))
        |  FROM sel WHERE step < 5)
        |SELECT step::BIGINT AS rank, picked[step] AS vec_id,
        |  (SELECT floor(c.qs * 10000)::BIGINT FROM cands c
        |   WHERE c.vec_id = picked[step]) AS qs_bp
        |FROM sel WHERE step >= 1 ORDER BY rank""".stripMargin,

    "dedup_incremental" ->
      s"""WITH $exactJaccardCte
        |SELECT id_a, id_b, jaccard_bp FROM exact_pairs
        |WHERE id_a % 5 = 0 OR id_b % 5 = 0
        |ORDER BY id_a, id_b""".stripMargin,

    "stream_ingest" ->
      // identical oracle to dedup_incremental: the stream's union of
      // per-batch outputs must equal the one-shot incremental mining
      s"""WITH $exactJaccardCte
        |SELECT id_a, id_b, jaccard_bp FROM exact_pairs
        |WHERE id_a % 5 = 0 OR id_b % 5 = 0
        |ORDER BY id_a, id_b""".stripMargin,

    "line_dedup" ->
      // text-domain recomputation: the kernel counts/matches 64-bit
      // line fingerprints (8-byte shuffle keys, fingerprint-set
      // broadcast); the oracle counts the line STRINGS themselves —
      // identical results absent a 2^-64 fingerprint collision
      """WITH d AS (SELECT doc_id,
        |    'SITE NAVIGATION MENU' || chr(10) || text || chr(10) ||
        |    'Copyright footer variant ' || (doc_id % 7) AS text
        |  FROM documents),
        |l AS (SELECT doc_id,
        |    unnest(string_split(text, chr(10))) AS line,
        |    unnest(range(len(string_split(text, chr(10))))) AS pos
        |  FROM d),
        |freq AS (SELECT line FROM (
        |    SELECT line, count(DISTINCT doc_id) AS n
        |    FROM l WHERE line <> '' GROUP BY line) WHERE n >= 3),
        |kept AS (SELECT doc_id, line, pos FROM l
        |  WHERE line = '' OR line NOT IN (SELECT line FROM freq)),
        |agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text,
        |    count(*) AS n_kept FROM kept GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CASE WHEN d.text IS NULL THEN NULL
        |       ELSE coalesce(a.text, '') END AS text,
        |  ((SELECT count(*) FROM l WHERE l.doc_id = d.doc_id)
        |    - coalesce(a.n_kept, 0))::BIGINT AS n_removed
        |FROM d LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "domain_cap" ->
      """SELECT doc_id, source, n_chars, rn::BIGINT AS rank FROM (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 5 ORDER BY doc_id""".stripMargin,

    "set_ops" ->
      """WITH segs AS (SELECT DISTINCT c_mktsegment AS v FROM customer),
        |prios AS (SELECT DISTINCT o_orderpriority AS v FROM orders)
        |SELECT v FROM (
        |  SELECT v FROM (SELECT v FROM segs UNION ALL SELECT v FROM prios)
        |  EXCEPT
        |  SELECT v FROM (SELECT v FROM segs INTERSECT SELECT v FROM prios))
        |ORDER BY v""".stripMargin,

    "rollup_agg" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |round(sum(o_totalprice), 2) AS revenue
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,

    "text_winnow" ->
      (s"SELECT doc_id, fp_index, fp FROM read_parquet('$goldenDir/winnow_sf001.parquet') " +
        "ORDER BY doc_id, fp_index"),

    // dual derivation: simhash's Java-hash kernel is not SQL-expressible,
    // so the golden is generated by tools/simhash_expected.py — an
    // independent Python reimplementation (brute-force all-pairs hamming,
    // a different algorithm from the kernel's pigeonhole block join) —
    // and the generator fails if kernel and derivation ever diverge
    "dedup_simhash" ->
      (s"SELECT id_a, id_b, hamming FROM read_parquet('$goldenDir/simhash_sf001.parquet') " +
        "ORDER BY id_a, id_b"),

    "pdf_extract" ->
      (s"SELECT id, true_pages AS n_pages, true_text AS text, true AS valid " +
        s"FROM read_parquet('$goldenDir/pdfs.parquet') ORDER BY id"),

    // golden-parquet oracles: frozen expected outputs of the spec'd
    // kernels at sf0.01 (the kernels themselves are additionally pinned
    // byte-for-byte by the sbt golden/parity suites; these rows give the
    // driver a hash-checkable regression gate)
    "chunk_documents" ->
      ("SELECT doc_id, chunk_id, chunk_text, chunk_start, chunk_end, " +
        "chunk_size, total_chunks, overlap_size " +
        s"FROM read_parquet('$goldenDir/chunks_sf001.parquet') " +
        "ORDER BY doc_id, chunk_id"),

    "cascade_extract" ->
      ("SELECT url, strategy_used, succeeded, partial, text_len, title, failure_reason " +
        s"FROM read_parquet('$goldenDir/cascade_sf001.parquet') " +
        "ORDER BY url"),

    // streaming extraction must equal the batch cascade — same golden
    "stream_extract" ->
      ("SELECT url, strategy_used, succeeded, partial, text_len, title, failure_reason " +
        s"FROM read_parquet('$goldenDir/cascade_sf001.parquet') " +
        "ORDER BY url"),

    "multimodal_av" ->
      (s"SELECT id, true_kind AS kind, true_channels AS channels, " +
        "true_sample_rate AS sample_rate, true_duration_ms AS duration_ms, " +
        "true_tracks AS n_tracks, true AS valid " +
        s"FROM read_parquet('$goldenDir/media_av.parquet') ORDER BY id"),

    "multimodal_decode" ->
      s"""WITH m AS (SELECT * FROM read_parquet('$goldenDir/media.parquet')),
        |r AS (SELECT id, true_kind AS kind, true_width AS width,
        |  true_height AS height, true_channels AS channels, true AS valid,
        |  CASE WHEN greatest(true_width, true_height) <= 256 THEN 1.0
        |       ELSE 256.0 / greatest(true_width, true_height) END AS scale
        |FROM m)
        |SELECT id, kind, width, height, channels, valid,
        |  floor(width * scale)::INT AS out_width,
        |  floor(height * scale)::INT AS out_height
        |FROM r ORDER BY id""".stripMargin,

    "multimodal_frames" ->
      (s"SELECT id, frame_idx, true_n_frames AS n_frames, " +
        "true_width AS width, true_height AS height, true_crc AS frame_crc, " +
        "true AS valid " +
        s"FROM read_parquet('$goldenDir/media_anim_truth.parquet') " +
        "WHERE frame_idx % 2 = 0 ORDER BY id, frame_idx"),

    "multimodal_resize" ->
      (s"SELECT id, true_width AS width, true_height AS height, " +
        "true_channels AS channels, true_out_width AS out_width, " +
        "true_out_height AS out_height, true_raw_crc AS raw_crc, " +
        "true_out_crc AS out_crc, true AS valid " +
        s"FROM read_parquet('$goldenDir/media_px.parquet') ORDER BY id"),

    "corpus_mix" ->
      """WITH hashed AS (
        |  SELECT source, text,
        |    (doc_id + 1) * 48271 % 2147483647 * 48271 % 2147483647 % 100 AS h1,
        |    (doc_id + 1) * 69621 % 2147483647 * 69621 % 2147483647 % 100 AS h2
        |  FROM documents),
        |kept AS (
        |  SELECT source, text,
        |    CASE WHEN h2 < 98 THEN 'train'
        |         WHEN h2 = 98 THEN 'val' ELSE 'test' END AS split
        |  FROM hashed
        |  WHERE h1 < CASE CAST(substring(source, 4) AS INT) % 4
        |      WHEN 0 THEN 100 WHEN 1 THEN 50 WHEN 2 THEN 25 ELSE 10 END)
        |SELECT source, split, count(*)::BIGINT AS n,
        |  sum(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END)::BIGINT AS ws_tokens
        |FROM kept GROUP BY source, split ORDER BY source, split""".stripMargin,

    "token_count" ->
      """SELECT doc_id,
        |CASE WHEN length(trim(text)) = 0 THEN 0
        |     ELSE len(regexp_split_to_array(trim(text), '\s+')) END::BIGINT AS ws_tokens,
        |len(regexp_extract_all(text, ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 \t\n\r]+|[ \t\n\r]+'))::BIGINT AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    // real BPE counts: golden from the INDEPENDENT Python derivation
    // (tools/bpe_expected.py — own pretokenizer + merge loop over the
    // same committed merges artifact the kernel consumes)
    "token_bpe" ->
      (s"SELECT doc_id, bpe_tokens " +
        s"FROM read_parquet('$goldenDir/bpe_sf001.parquet') ORDER BY doc_id"),

    "dedup_substring" ->
      // the pair-mining logic re-derived IN SQL from the committed
      // winnow golden: df cap, inverted-index self-join, diagonal
      // islands (ia - row_number) for the longest shared fp run
      (s"""WITH fps AS (SELECT doc_id, fp_index, fp
        |  FROM read_parquet('$goldenDir/winnow_sf001.parquet')),""".stripMargin + """
        |hot AS (SELECT fp FROM (
        |  SELECT fp, count(DISTINCT doc_id) AS df FROM fps GROUP BY fp) WHERE df > 64),
        |f AS (SELECT * FROM fps ANTI JOIN hot USING (fp)),
        |m AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |        a.fp_index AS ia, b.fp_index AS ib, a.fp AS fp
        |      FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id),
        |runs AS (SELECT id_a, id_b, ia - ib AS diag,
        |           ia - row_number() OVER (PARTITION BY id_a, id_b, ia - ib
        |             ORDER BY ia) AS island
        |         FROM m),
        |rl AS (SELECT id_a, id_b, max(cnt) AS max_run FROM (
        |         SELECT id_a, id_b, diag, island, count(*) AS cnt
        |         FROM runs GROUP BY 1, 2, 3, 4) GROUP BY 1, 2),
        |sfp AS (SELECT id_a, id_b, count(DISTINCT fp) AS shared_fps
        |        FROM m GROUP BY 1, 2)
        |SELECT id_a, id_b, shared_fps, max_run
        |FROM sfp JOIN rl USING (id_a, id_b)
        |WHERE shared_fps >= 4 AND max_run >= 8 ORDER BY id_a, id_b""".stripMargin),

    "contamination_check" ->
      // trigram shingles recomputed as STRINGS (the hashed-shingle
      // kernel agrees modulo negligible 64-bit collisions — the
      // dedup_jaccard-proven pattern); same df cap 64, sub-k docs drop
      (s"""WITH arrs AS (
        |  SELECT doc_id AS id, regexp_split_to_array(
        |    regexp_replace(lower(text), '^$pyWs+|$pyWs+$$', '', 'g'), '$pyWs+') AS arr
        |  FROM documents),""".stripMargin + """
        |toks0 AS (
        |  SELECT id, unnest(list_distinct(CASE WHEN len(arr) >= 3 THEN
        |    list_transform(range(1, len(arr) - 1),
        |      i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2])
        |    ELSE [] END)) AS tok
        |  FROM arrs),
        |toks AS (SELECT id, tok FROM toks0 WHERE tok IN (
        |  SELECT tok FROM toks0 GROUP BY tok HAVING count(*) <= 64)),
        |ev AS (SELECT id AS eval_id, tok FROM toks WHERE id % 29 = 3),
        |tr AS (SELECT id AS train_id, tok FROM toks WHERE id % 29 <> 3),
        |evsz AS (SELECT eval_id, count(*) AS n_eval FROM ev GROUP BY 1),
        |shared AS (SELECT train_id, eval_id, count(*) AS shared_shingles
        |           FROM tr JOIN ev USING (tok) GROUP BY 1, 2)
        |SELECT train_id, eval_id, shared_shingles,
        |  floor(shared_shingles / n_eval * 10000)::BIGINT AS overlap_bp
        |FROM shared JOIN evsz USING (eval_id)
        |WHERE shared_shingles >= 2 ORDER BY train_id, eval_id""".stripMargin),

    "chunk_chars" ->
      ("SELECT doc_id, chunk_id, chunk_text, chunk_start, chunk_end " +
        s"FROM read_parquet('$goldenDir/char_chunks_sf001.parquet') " +
        "ORDER BY doc_id, chunk_id"),

    "iceberg_travel" ->
      ("""SELECT 'live' AS state, count(*)::BIGINT AS n, sum(doc_id)::BIGINT AS sum_id
        |FROM documents
        |UNION ALL
        |SELECT 'snap1', count(*)::BIGINT, sum(doc_id)::BIGINT
        |FROM documents WHERE doc_id % 2 = 0
        |ORDER BY state""".stripMargin),

    "format_envelopes" ->
      ("""SELECT doc_id,
        |  sha256('{"content":' || to_json(text) || ',"metadata":' || to_json(source)
        |    || ',"timestamp":"2024-01-01T00:00:00Z"}') AS json_sha,
        |  sha256('{"content":' || to_json(text) || '}' || chr(10)
        |    || '{"metadata":' || to_json(source) || '}' || chr(10)
        |    || '{"timestamp":"2024-01-01T00:00:00Z"}') AS nd_sha,
        |  sha256(
        |    CASE WHEN doc_id % 4 = 0 THEN '' ELSE '# Doc ' || doc_id || chr(10) END
        |    || '**Source URL:** https://' || source || '.example/d/' || doc_id || chr(10)
        |    || '**Author:** ' || source || chr(10)
        |    || '**Date:** 2024-01-01' || chr(10)
        |    || '---' || chr(10) || chr(10) || text) AS md_sha,
        |  sha256(text) AS txt_sha
        |FROM documents ORDER BY doc_id""".stripMargin),

    "url_slug" ->
      ("""WITH raw AS (
        |  SELECT doc_id,
        |    CASE doc_id % 5
        |      WHEN 0 THEN 'https://' || source || '.example/a/' || doc_id
        |      WHEN 1 THEN source || '.example/path/' || doc_id
        |      WHEN 2 THEN '//cdn.' || source || '.example/x/' || doc_id
        |      WHEN 3 THEN '  ftp://files.' || source || '.example/f/' || doc_id || ' '
        |      ELSE 'HTTP://' || source || '.EXAMPLE/Z/' || doc_id END AS url_raw,
        |    CASE WHEN doc_id % 3 = 0 THEN NULL
        |         ELSE 'Doc #' || doc_id || ': ' || source || '!!' END AS title
        |  FROM documents),
        |slugged AS (
        |  SELECT doc_id, url_raw,
        |    regexp_replace(regexp_replace(
        |      lower(trim(coalesce(title, url_raw, 'scrag-output'))),
        |      '[^a-z0-9]+', '-', 'g'), '^-+|-+$', '', 'g') AS s
        |  FROM raw)
        |SELECT doc_id,
        |  CASE WHEN regexp_matches(trim(url_raw), '^[A-Za-z][A-Za-z0-9+.-]*://')
        |       THEN trim(url_raw)
        |       ELSE 'https://' || regexp_replace(trim(url_raw), '^/+', '') END AS url_norm,
        |  CASE WHEN s = '' THEN 'scrag-output' ELSE s END AS fname_slug
        |FROM slugged ORDER BY doc_id""".stripMargin),

    "vocab_topk" ->
      (s"""SELECT word, count(*)::BIGINT AS n FROM (
        |  SELECT unnest(regexp_split_to_array(lower(text), '$pyWs+')) AS word
        |  FROM documents)
        |WHERE length(word) > 0
        |GROUP BY word ORDER BY n DESC, word LIMIT 50""".stripMargin),

    "text_ppl" ->
      (s"""WITH lm AS (SELECT bigram, surprise_mb
        |           FROM read_parquet('$goldenDir/bigram_lm_sf001.parquet')),
        |pos AS (
        |  SELECT doc_id, lower(text) AS lt,
        |    unnest(generate_series(1, length(text) - 1)) AS i
        |  FROM documents WHERE length(text) >= 2),
        |bg AS (SELECT doc_id, substr(lt, i, 2) AS bg FROM pos),
        |scored AS (
        |  SELECT b.doc_id,
        |    coalesce(l.surprise_mb,
        |      (SELECT surprise_mb FROM lm WHERE bigram = '<OOV>')) AS mb
        |  FROM bg b LEFT JOIN lm l ON l.bigram = b.bg)
        |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
        |  (sum(mb) // count(*))::BIGINT AS ppl_mb
        |FROM scored GROUP BY doc_id
        |UNION ALL
        |SELECT doc_id, 0::BIGINT, 0::BIGINT FROM documents
        |WHERE text IS NULL OR length(text) < 2
        |ORDER BY doc_id""".stripMargin),

    "text_gopher" ->
      (s"""WITH base AS (
        |  SELECT doc_id,
        |    regexp_replace(text, '^$pyWs+|$pyWs+$$', '', 'g') AS t
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, t, length(t) AS tlen,
        |    CASE WHEN length(t) = 0 THEN []
        |         ELSE regexp_split_to_array(lower(t), '$pyWs+') END AS arr
        |  FROM base),""".stripMargin + """
        |ws AS (SELECT doc_id, unnest(arr) AS wd FROM w),
        |agg AS (
        |  SELECT doc_id, count(*) AS nw, sum(length(wd)) AS sumlen,
        |    sum(CASE WHEN regexp_matches(wd, '[a-z]') THEN 1 ELSE 0 END) AS alpha
        |  FROM ws GROUP BY doc_id),
        |sym AS (
        |  SELECT doc_id,
        |    (length(t) - length(replace(t, '#', ''))) +
        |    (length(t) - length(replace(t, '...', ''))) / 3 AS sym
        |  FROM w),
        |g2 AS (
        |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(arr), 1)),
        |    i -> arr[i] || ' ' || arr[i+1])) AS g
        |  FROM w),
        |g3 AS (
        |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(arr) - 1, 1)),
        |    i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2])) AS g
        |  FROM w),
        |t2 AS (SELECT doc_id, cnt, glen FROM (
        |  SELECT doc_id, count(*) AS cnt, length(g) AS glen,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY count(*) DESC, g) AS rn
        |  FROM g2 GROUP BY doc_id, g) WHERE rn = 1),
        |t3 AS (SELECT doc_id, cnt, glen FROM (
        |  SELECT doc_id, count(*) AS cnt, length(g) AS glen,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY count(*) DESC, g) AS rn
        |  FROM g3 GROUP BY doc_id, g) WHERE rn = 1)
        |SELECT w.doc_id,
        |  COALESCE(a.nw, 0)::BIGINT AS n_words,
        |  COALESCE(floor(a.sumlen / a.nw * 10000), 0)::BIGINT AS mean_word_len_bp,
        |  COALESCE(floor(s.sym / a.nw * 10000), 0)::BIGINT AS symbol_ratio_bp,
        |  COALESCE(floor(a.alpha / a.nw * 10000), 0)::BIGINT AS alpha_word_bp,
        |  COALESCE(floor(t2.cnt * t2.glen / w.tlen * 10000), 0)::BIGINT AS top2gram_char_bp,
        |  COALESCE(floor(t3.cnt * t3.glen / w.tlen * 10000), 0)::BIGINT AS top3gram_char_bp
        |FROM w LEFT JOIN agg a USING (doc_id) LEFT JOIN sym s USING (doc_id)
        |LEFT JOIN t2 USING (doc_id) LEFT JOIN t3 USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    "text_fix" ->
      // same planted suffixes (chr() spells the codepoints, keeping
      // this source ASCII); the repair is the known inverse literal
      // substitution — the general strict-re-decode kernel must agree
      // with it on the planted corpus, and the genuine-Latin-1 branch
      // (doc_id%3=1) must pass through untouched
      """WITH c(moji, cln) AS (SELECT chr(195)||chr(169), chr(233)),
        |p AS (SELECT doc_id,
        |  CASE doc_id % 3
        |    WHEN 0 THEN text || ' caf' || (SELECT moji FROM c)
        |    WHEN 1 THEN text || ' caf' || (SELECT cln FROM c)
        |    ELSE text END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0
        |    THEN replace(text, (SELECT moji FROM c), (SELECT cln FROM c))
        |    ELSE text END AS text,
        |  doc_id % 3 = 0 AS was_fixed
        |FROM p ORDER BY doc_id""".stripMargin,

    "quality_nb" ->
      // committed golden from an INDEPENDENT Python derivation
      // (tools/nb_expected.py: own tokenizer + float-log2 scoring,
      // cross-checked there against an exact integer predicate)
      s"""SELECT doc_id, score_mb, pred_pos, is_pos
         |FROM read_parquet('$goldenDir/nb_sf001.parquet')
         |ORDER BY doc_id""".stripMargin,

    "pii_redact" -> {
      val e = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ip = "[0-9]{1,3}(\\.[0-9]{1,3}){3}"
      val id = "[0-9]{3}-[0-9]{2}-[0-9]{4}"
      s"""WITH a AS (
        |  SELECT doc_id,
        |    text || ' contact user' || doc_id || '@example.com at 10.' ||
        |    (doc_id % 256) || '.' || (doc_id % 100) || '.7 ref ' ||
        |    (doc_id % 900 + 100) || '-' || (doc_id % 90 + 10) || '-' ||
        |    (doc_id % 9000 + 1000) AS aug
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, aug,
        |    regexp_replace(regexp_replace(regexp_replace(aug,
        |      '$e', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'), '$id', '<ID>', 'g') AS red
        |  FROM a)
        |SELECT doc_id,
        |  len(regexp_extract_all(aug, '$e'))::BIGINT AS n_emails,
        |  len(regexp_extract_all(aug, '$ip'))::BIGINT AS n_ips,
        |  len(regexp_extract_all(aug, '$id'))::BIGINT AS n_ids,
        |  length(red)::BIGINT AS red_len,
        |  sha256(red) AS red_sha
        |FROM r ORDER BY doc_id""".stripMargin
    },

    "text_normalize" -> {
      // Python-\s class in RE2 syntax (the Spark side uses the Java form)
      val ws = """[\t-\r\x1c-\x1f \x{85}\x{a0}\x{1680}\x{2000}-\x{200a}\x{2028}\x{2029}\x{202f}\x{205f}\x{3000}]"""
      s"""WITH n AS (SELECT doc_id,
         |  regexp_replace(regexp_replace(text, '^$ws+|$ws+$$', '', 'g'), '$ws+', ' ', 'g') AS content
         |FROM documents)
         |SELECT doc_id, content, length(content) AS char_count,
         |  length(content) >= 0 AS meets_threshold
         |FROM n ORDER BY doc_id""".stripMargin
    },

    "events_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT *, (sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING))::BIGINT AS session_id FROM e)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(ts) AS start_ts, max(ts) AS end_ts,
        |  round(sum(value), 2) AS session_value
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "stream_events" ->
      """SELECT date_trunc('day', ts)::DATE AS day, event_type,
        |count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "interval_join" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT *, (sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING))::BIGINT AS session_id FROM e),
        |sess AS (
        |  SELECT user_id, session_id,
        |    min(ts) AS start_ts, max(ts) AS end_ts
        |  FROM s GROUP BY 1, 2),
        |err AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'error')
        |SELECT sess.user_id, sess.session_id,
        |  count(*) AS n_errors, min(err.event_id) AS first_error_id
        |FROM err JOIN sess
        |  ON err.user_id = sess.user_id
        | AND err.ts BETWEEN sess.start_ts AND sess.end_ts
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "asof_join" ->
      """WITH probe AS (
        |  SELECT event_id, user_id, ts, value FROM events
        |  WHERE event_type = 'purchase'),
        |build AS (
        |  SELECT user_id, ts, max(value) AS value FROM events
        |  WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT p.event_id, p.user_id,
        |  round(p.value, 2) AS purchase_value,
        |  round(b.value, 2) AS last_view_value
        |FROM probe p ASOF LEFT JOIN build b
        |  ON p.user_id = b.user_id AND p.ts >= b.ts
        |ORDER BY p.event_id""".stripMargin,

    "stream_sessions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT *, (sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING))::BIGINT AS session_id FROM e),
        |sess AS (
        |  SELECT user_id, session_id, count(*) AS n_events,
        |    min(ts) AS start_ts, max(ts) AS end_ts,
        |    round(sum(value), 2) AS session_value
        |  FROM s GROUP BY 1, 2)
        |SELECT user_id, start_ts, end_ts, n_events, session_value
        |FROM sess
        |WHERE end_ts + INTERVAL 30 MINUTE < (SELECT max(ts) FROM events)
        |ORDER BY user_id, start_ts""".stripMargin,

    "stream_join" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
        |FROM events c JOIN events p
        |  ON c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND c.user_id = p.user_id
        |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
        |ORDER BY click_id, purchase_id""".stripMargin,

    "stream_dedup" ->
      "SELECT DISTINCT sha256(text) AS sha FROM documents ORDER BY sha",

    "warc_roundtrip" ->
      """SELECT doc_id, octet_length(encode(text))::BIGINT AS payload_len,
        |sha256(text) AS payload_sha, true AS type_ok
        |FROM documents ORDER BY doc_id""".stripMargin,

    "dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, sha256(text) AS text_hash,
        |count(*) AS dup_count
        |FROM documents GROUP BY sha256(text) ORDER BY 1""".stripMargin,

    "dedup_jaccard" ->
      (s"""WITH arrs AS (
        |  SELECT doc_id AS id, regexp_split_to_array(
        |    regexp_replace(lower(text), '^$pyWs+|$pyWs+$$', '', 'g'), '$pyWs+') AS arr
        |  FROM documents WHERE doc_id < 2000),""".stripMargin + """
        |toks0 AS (
        |  SELECT id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(arr)-1, 1)),
        |    i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2]))) AS tok
        |  FROM arrs),
        |toks AS (
        |  SELECT id, tok FROM toks0 WHERE tok IN (
        |    SELECT tok FROM toks0 GROUP BY tok HAVING count(*) <= 64)),
        |sizes AS (SELECT id, count(*) AS n FROM toks GROUP BY id),
        |shared AS (
        |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
        |  FROM toks a JOIN toks b ON a.tok = b.tok AND a.id < b.id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  floor(inter / (sa.n + sb.n - inter) * 10000)::BIGINT AS jaccard_bp
        |FROM shared JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
        |WHERE inter / (sa.n + sb.n - inter) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin),

    "neardup_cosine" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |floor(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) * 10000)::BIGINT AS cos_bp
        |FROM embeddings a JOIN embeddings b
        |  ON a.vec_id < b.vec_id
        |WHERE a.vec_id < 2000 AND b.vec_id < 2000
        |  AND list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,

    "ann_brute" ->
      """SELECT vec_id, floor(list_cosine_similarity(embedding::DOUBLE[],
        |  (SELECT embedding FROM embeddings WHERE vec_id = 0)::DOUBLE[]) * 10000)::BIGINT AS score_bp
        |FROM embeddings ORDER BY score_bp DESC, vec_id LIMIT 10""".stripMargin,

    "ann_lsh" -> {
      // the exact 8-bit random-hyperplane signature + hamming<=2 probe
      // set, recomputed in SQL with the kernel's own plane constants
      // inlined (Similarity.hyperplane is deterministic)
      val bits = 8
      val sigExpr = (0 until bits).map { p =>
        s"(CASE WHEN list_dot_product(v, ${graft.ops.Similarity.hyperplaneSqlLiteral(p, 64)}) >= 0 THEN ${1 << p} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |sig AS (SELECT vec_id, v, $sigExpr AS bucket FROM e),
         |q AS (SELECT bucket AS qb, v AS qv FROM sig WHERE vec_id = 0)
         |SELECT vec_id,
         |  floor(list_cosine_similarity(v, (SELECT qv FROM q)) * 10000)::BIGINT AS score_bp
         |FROM sig
         |WHERE bit_count(xor(bucket::BIGINT, (SELECT qb FROM q)::BIGINT)) <= 2
         |ORDER BY score_bp DESC, vec_id LIMIT 10""".stripMargin
    },

    "text_analysis" ->
      s"""WITH $textAnalysisCtes
        |SELECT doc_id, n_tokens, lang_guess, quality_bp, fingerprint
        |FROM analysis ORDER BY doc_id""".stripMargin,

    "curate_corpus" ->
      s"""WITH $textAnalysisCtes,
        |$exactJaccardCte
        |SELECT doc_id, n_tokens, quality_bp FROM analysis
        |WHERE doc_id < 2000 AND quality_bp >= 2000 AND lang_guess = 'en'
        |  AND doc_id NOT IN (SELECT DISTINCT id_b FROM exact_pairs)
        |ORDER BY doc_id""".stripMargin,

    "graph_pagerank" -> {
      // the same integer arithmetic, five rounds unrolled as chained
      // CTEs (standard SQL forbids GROUP BY in a recursive term, so a
      // fixed-iteration loop unrolls instead); every division is floor
      // on non-negative values, matching Spark's `div`
      val iters = (1 to 5).map { k =>
        s"""r$k AS (
           |  SELECT d.doc_id AS id,
           |    150000000 + (85 * coalesce(c.s, 0)) // 100 AS rank
           |  FROM documents d LEFT JOIN (
           |    SELECT e.v AS id, sum(r.rank // od.outdeg) AS s
           |    FROM edges e JOIN r${k - 1} r ON r.id = e.u
           |    JOIN od ON od.u = e.u
           |    GROUP BY e.v) c ON c.id = d.doc_id)""".stripMargin
      }.mkString(",\n")
      s"""WITH nn AS (SELECT count(*) AS n FROM documents),
         |raw AS (
         |  SELECT d.doc_id AS u,
         |    (((((d.doc_id * 53 + j.j + 1) * 48271) % 2147483647)
         |      * 48271) % 2147483647) % nn.n AS v
         |  FROM documents d, nn, (SELECT unnest(range(0, 3)) AS j) j
         |  WHERE j.j <= d.doc_id % 3),
         |edges AS (SELECT DISTINCT u, v FROM raw WHERE u <> v),
         |od AS (SELECT u, count(*) AS outdeg FROM edges GROUP BY u),
         |r0 AS (SELECT doc_id AS id, 1000000000 AS rank FROM documents),
         |$iters
         |SELECT id AS doc_id, rank::BIGINT AS rank FROM r5
         |ORDER BY doc_id""".stripMargin
    },

    "sketch_hll" ->
      // registers and rho re-derived relationally: same MINSTD hash,
      // rho from bin()-string length, EXACT integer harmonic sum
      // (1 << (27-rho), empty registers contribute 2^27); the only
      // float step is the final alpha*m^2*C / S — one correctly-rounded
      // op chain from exact integers, spelled in the same order
      """WITH h AS (
        |  SELECT event_type,
        |    ((((user_id + 1) * 48271) % 2147483647) * 48271) % 2147483647 AS h
        |  FROM events),
        |regs AS (
        |  SELECT event_type, h % 32 AS reg,
        |    CASE WHEN h // 32 = 0 THEN 27
        |         ELSE 27 - length(bin(h // 32)) END AS rho
        |  FROM h),
        |mx AS (SELECT event_type, reg, max(rho) AS rho
        |       FROM regs GROUP BY 1, 2),
        |s AS (
        |  SELECT event_type,
        |    sum(1::BIGINT << (27 - rho)) + (32 - count(*)) * 134217728 AS s
        |  FROM mx GROUP BY 1),
        |est AS (
        |  SELECT event_type,
        |    floor(0.697 * 1024 * 134217728.0 / s)::BIGINT AS est
        |  FROM s),
        |ex AS (SELECT event_type, count(DISTINCT user_id)::BIGINT AS exact
        |       FROM events GROUP BY 1)
        |SELECT e.event_type, e.est, ex.exact,
        |  (abs(e.est - ex.exact) * 10000) // ex.exact AS err_bp
        |FROM est e JOIN ex USING (event_type)
        |ORDER BY event_type""".stripMargin,

    "sketch_heavy" ->
      // plain exact recomputation: every token with count*200 > total.
      // The whitespace class is RE2's \s spelled explicitly (no \x0B),
      // byte-identical to the kernel tokenizer
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '[ \t\n\f\r]+')) AS token
        |  FROM documents),
        |tk AS (SELECT token FROM toks WHERE token <> ''),
        |tot AS (SELECT count(*) AS total FROM tk)
        |SELECT token, count(*)::BIGINT AS cnt
        |FROM tk, tot
        |GROUP BY token, tot.total
        |HAVING count(*) * 200 > tot.total
        |ORDER BY cnt DESC, token""".stripMargin,

    "quantile_exact" ->
      // same histogram + integer quantile rule; ROWS frame matches the
      // kernel's explicit rowsBetween
      """WITH hist AS (
        |  SELECT lang, n_chars AS v, count(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |cum AS (
        |  SELECT lang, v,
        |    sum(c) OVER (PARTITION BY lang ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(c) OVER (PARTITION BY lang) AS n
        |  FROM hist)
        |SELECT lang,
        |  min(CASE WHEN cum * 2 >= n * 1 THEN v END)::BIGINT AS p50,
        |  min(CASE WHEN cum * 10 >= n * 9 THEN v END)::BIGINT AS p90,
        |  min(CASE WHEN cum * 100 >= n * 99 THEN v END)::BIGINT AS p99
        |FROM cum GROUP BY lang ORDER BY lang""".stripMargin,

    "bloom_seen" ->
      // the filter's distinct bit-position set rebuilt relationally
      // (bit membership == position membership — no word packing
      // needed); a candidate is maybe_seen iff ALL its distinct probe
      // positions are present, exactly the kernel's 3-way AND
      """WITH hist AS (SELECT doc_id FROM documents WHERE doc_id % 5 <> 0),
        |mm AS (SELECT greatest(8 * count(*), 64) AS m FROM hist),
        |hh AS (
        |  SELECT ((((doc_id + 1) * 48271) % 2147483647) * 48271) % 2147483647 AS h1,
        |         ((((doc_id + 1) * 69621) % 2147483647) * 69621) % 2147483647 AS h2
        |  FROM hist),
        |hp AS (
        |  SELECT DISTINCT (h1 + i.i * (h2 - (h2 % 2) + 1)) % mm.m AS pos
        |  FROM hh, mm, (SELECT unnest(range(0, 3)) AS i) i),
        |bb AS (SELECT doc_id FROM documents
        |       WHERE doc_id % 5 = 0 OR doc_id % 7 = 1),
        |bh AS (
        |  SELECT DISTINCT b.doc_id,
        |    (h1 + i.i * (h2 - (h2 % 2) + 1)) % mm.m AS pos
        |  FROM (SELECT doc_id,
        |          ((((doc_id + 1) * 48271) % 2147483647) * 48271) % 2147483647 AS h1,
        |          ((((doc_id + 1) * 69621) % 2147483647) * 69621) % 2147483647 AS h2
        |        FROM bb) b, mm, (SELECT unnest(range(0, 3)) AS i) i),
        |req AS (SELECT doc_id, count(*) AS need FROM bh GROUP BY 1),
        |hit AS (SELECT bh.doc_id, count(*) AS got
        |        FROM bh JOIN hp USING (pos) GROUP BY 1)
        |SELECT b.doc_id,
        |  coalesce(hit.got, 0) = req.need AS maybe_seen,
        |  b.doc_id IN (SELECT doc_id FROM hist) AS actually_seen
        |FROM bb b JOIN req USING (doc_id) LEFT JOIN hit USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "sketch_cm" ->
      // full relational recomputation: same MINSTD row hashes, same
      // self-sized width, counters grouped per (row, bucket), estimate
      // = min over rows — all BIGINT arithmetic, identical both engines
      """WITH mult(j, m) AS (VALUES (0, 48271), (1, 69621), (2, 16807)),
        |ww AS (SELECT greatest(64, 2 * count(DISTINCT user_id)) AS w
        |       FROM events),
        |hb AS (
        |  SELECT e.user_id AS k, m.j,
        |    (((((e.user_id + 1) * m.m) % 2147483647) * m.m) % 2147483647)
        |      % ww.w AS bucket
        |  FROM events e, mult m, ww),
        |sk AS (SELECT j, bucket, count(*) AS c FROM hb GROUP BY 1, 2),
        |pr AS (SELECT DISTINCT k, j, bucket FROM hb),
        |est AS (SELECT pr.k, min(sk.c) AS est
        |        FROM pr JOIN sk USING (j, bucket) GROUP BY pr.k),
        |ex AS (SELECT user_id AS k, count(*) AS exact
        |       FROM events GROUP BY 1)
        |SELECT est.k AS user_id, est.est::BIGINT AS est,
        |  ex.exact::BIGINT AS exact,
        |  ((est.est - ex.exact) * 10000) // ex.exact AS over_bp
        |FROM est JOIN ex USING (k)
        |ORDER BY user_id""".stripMargin,

    "crawl_diff" ->
      // same snapshot derivations, digest compare re-spelled in SQL;
      // sha256() and Spark's sha2(_, 256) both emit lowercase hex
      // (parity established by format_envelopes / pii_redact)
      """WITH prev AS (
        |  SELECT doc_id, sha256(text) AS old_digest
        |  FROM documents WHERE doc_id % 11 <> 3),
        |curr AS (
        |  SELECT doc_id,
        |    sha256(CASE WHEN doc_id % 7 = 2 THEN text || ' v2'
        |                ELSE text END) AS new_digest
        |  FROM documents WHERE doc_id % 13 <> 5)
        |SELECT coalesce(p.doc_id, c.doc_id) AS doc_id,
        |  CASE WHEN p.doc_id IS NULL THEN 'added'
        |       WHEN c.doc_id IS NULL THEN 'removed'
        |       WHEN p.old_digest = c.new_digest THEN 'unchanged'
        |       ELSE 'changed' END AS status,
        |  p.old_digest, c.new_digest
        |FROM prev p FULL OUTER JOIN curr c ON p.doc_id = c.doc_id
        |ORDER BY doc_id""".stripMargin,

    "anchor_topk" ->
      // the graph_pagerank edge CTE plus the same word-pick rule
      // (1-based list index over the RE2 \s split, as sketch_heavy),
      // then the three aggregates re-spelled relationally; row_number
      // tie order (cnt DESC, anchor) is binary collation in both
      // engines
      """WITH nn AS (SELECT count(*) AS n FROM documents),
        |tok AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(trim(text), '[ \t\n\f\r]+') AS tk
        |  FROM documents),
        |raw AS (
        |  SELECT d.doc_id AS u,
        |    (((((d.doc_id * 53 + j.j + 1) * 48271) % 2147483647)
        |      * 48271) % 2147483647) % nn.n AS v,
        |    t.tk[((d.doc_id * 7 + j.j) % len(t.tk)) + 1] AS anchor
        |  FROM documents d JOIN tok t USING (doc_id), nn,
        |    (SELECT unnest(range(0, 3)) AS j) j
        |  WHERE j.j <= d.doc_id % 3),
        |links AS (SELECT u, v, anchor FROM raw WHERE u <> v),
        |per AS (SELECT v, anchor, count(*) AS cnt
        |        FROM links GROUP BY 1, 2),
        |top AS (SELECT v, anchor, cnt,
        |          row_number() OVER (PARTITION BY v
        |            ORDER BY cnt DESC, anchor) AS rn
        |        FROM per),
        |deg AS (SELECT v, count(DISTINCT u) AS in_degree
        |        FROM links GROUP BY 1),
        |men AS (SELECT v, count(*) AS mentions FROM links GROUP BY 1)
        |SELECT deg.v AS doc_id, deg.in_degree, men.mentions,
        |  top.anchor AS top_anchor, top.cnt AS top_cnt
        |FROM deg JOIN men USING (v) JOIN top USING (v)
        |WHERE top.rn = 1
        |ORDER BY doc_id""".stripMargin,

    "sample_stratified" ->
      // rank the FULL table by the same MINSTD priority: the kernel's
      // two-phase candidates are exactly the global k smallest per
      // stratum, so a plain window over everything is the independent
      // recomputation
      """WITH h AS (
        |  SELECT lang, doc_id,
        |    ((((doc_id + 1) * 48271) % 2147483647) * 48271)
        |      % 2147483647 AS pri
        |  FROM documents),
        |r AS (SELECT lang, doc_id,
        |        row_number() OVER (PARTITION BY lang
        |          ORDER BY pri, doc_id) AS rk
        |      FROM h)
        |SELECT lang, doc_id, rk FROM r WHERE rk <= 20
        |ORDER BY lang, rk""".stripMargin,

    "dedup_prefix" ->
      // the SHARED exact-jaccard CTE chain (same shingle semantics as
      // the minhash ground truth — it cannot drift from the kernel's
      // proven spelling), with the threshold re-spelled as BIGINT
      // cross-multiplication at 1/2 and jaccard_bp as integer floor
      // division (exact_pairs from the shared chain is unused here)
      (s"WITH $exactJaccardCte,\n" +
      """pp AS (
        |  SELECT id_a, id_b,
        |    (inter * 10000) // (sa.n + sb.n - inter) AS jaccard_bp
        |  FROM shared JOIN sizes sa ON sa.id = id_a
        |    JOIN sizes sb ON sb.id = id_b
        |  WHERE inter * 2 >= 1 * (sa.n + sb.n - inter))
        |SELECT id_a, id_b, jaccard_bp FROM pp
        |ORDER BY id_a, id_b""".stripMargin),

    "quantile_hdr" ->
      // same integer HDR binning (the bin()-string log2 trick from
      // sketch_hll), lower bounds via << , the ceil(q·n) rule of
      // quantile_exact on both the bin and the raw-value histograms,
      // and the one-sided error in integer basis points
      """WITH hist AS (
        |  SELECT lang,
        |    CASE WHEN n_chars < 8 THEN n_chars
        |         ELSE (length(bin(n_chars)) - 4) * 8
        |              + (n_chars >> (length(bin(n_chars)) - 4)) END AS b,
        |    count(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |lbs AS (
        |  SELECT lang, b, c,
        |    CASE WHEN b < 8 THEN b
        |         ELSE ((b % 8) + 8) << ((b // 8) - 1) END AS lb
        |  FROM hist),
        |cum AS (
        |  SELECT lang, lb,
        |    sum(c) OVER (PARTITION BY lang ORDER BY b
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(c) OVER (PARTITION BY lang) AS n
        |  FROM lbs),
        |est AS (
        |  SELECT lang,
        |    min(CASE WHEN cum * 2 >= n * 1 THEN lb END)::BIGINT AS p50,
        |    min(CASE WHEN cum * 10 >= n * 9 THEN lb END)::BIGINT AS p90,
        |    min(CASE WHEN cum * 100 >= n * 99 THEN lb END)::BIGINT AS p99
        |  FROM cum GROUP BY lang),
        |vh AS (SELECT lang, n_chars AS v, count(*) AS c
        |       FROM documents GROUP BY 1, 2),
        |vcum AS (
        |  SELECT lang, v,
        |    sum(c) OVER (PARTITION BY lang ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(c) OVER (PARTITION BY lang) AS n
        |  FROM vh),
        |ex AS (
        |  SELECT lang,
        |    min(CASE WHEN cum * 2 >= n * 1 THEN v END)::BIGINT AS p50_exact,
        |    min(CASE WHEN cum * 10 >= n * 9 THEN v END)::BIGINT AS p90_exact,
        |    min(CASE WHEN cum * 100 >= n * 99 THEN v END)::BIGINT AS p99_exact
        |  FROM vcum GROUP BY lang)
        |SELECT e.lang, e.p50, ex.p50_exact, e.p90, ex.p90_exact,
        |  e.p99, ex.p99_exact,
        |  CASE WHEN ex.p50_exact = 0 THEN 0
        |       ELSE ((ex.p50_exact - e.p50) * 10000) // ex.p50_exact
        |  END AS p50_err_bp,
        |  CASE WHEN ex.p90_exact = 0 THEN 0
        |       ELSE ((ex.p90_exact - e.p90) * 10000) // ex.p90_exact
        |  END AS p90_err_bp,
        |  CASE WHEN ex.p99_exact = 0 THEN 0
        |       ELSE ((ex.p99_exact - e.p99) * 10000) // ex.p99_exact
        |  END AS p99_err_bp
        |FROM est e JOIN ex USING (lang)
        |ORDER BY lang""".stripMargin,

    "search_lexical" ->
      // same tokenization (trim+lower over the RE2 \s class), same
      // rarest-8 query derivation, and the integer scoring spelled
      // with DuckDB's bin()/least(); sum(BIGINT) is HUGEINT there,
      // cast back
      """WITH tk AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(
        |    trim(lower(text)), '[ \t\n\f\r]+')) AS tok
        |  FROM documents),
        |tkc AS (SELECT doc_id, tok FROM tk WHERE tok <> ''),
        |q0 AS (SELECT DISTINCT tok FROM tkc WHERE doc_id = 0),
        |dfq AS (
        |  SELECT tok, count(DISTINCT doc_id) AS df FROM tkc
        |  WHERE tok IN (SELECT tok FROM q0) GROUP BY tok),
        |qt AS (SELECT tok, df FROM dfq ORDER BY df, tok LIMIT 8),
        |tf AS (
        |  SELECT t.doc_id, t.tok, count(*) AS tf
        |  FROM tkc t JOIN qt ON qt.tok = t.tok GROUP BY 1, 2),
        |sc AS (
        |  SELECT tf.doc_id,
        |    sum(least(tf.tf, 3) * (64 - length(bin(qt.df)))) AS score
        |  FROM tf JOIN qt USING (tok) GROUP BY 1)
        |SELECT doc_id, score::BIGINT AS score FROM sc
        |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    "index_build" ->
      // same tokenization as search_lexical; blocks re-derived with a
      // window + ordered string_agg; sum/count widths cast to BIGINT
      """WITH tk AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(
        |    trim(lower(text)), '[ \t\n\f\r]+')) AS tok
        |  FROM documents),
        |tf AS (
        |  SELECT tok, doc_id, count(*)::BIGINT AS tf FROM tk
        |  WHERE tok <> '' GROUP BY 1, 2),
        |e AS (
        |  SELECT tok, doc_id, tf,
        |    row_number() OVER (PARTITION BY tok ORDER BY doc_id) AS rn,
        |    count(*) OVER (PARTITION BY tok) AS df,
        |    lag(doc_id) OVER (PARTITION BY tok ORDER BY doc_id) AS prev
        |  FROM tf),
        |b AS (
        |  SELECT tok, df::BIGINT AS df, ((rn - 1) // 128)::BIGINT AS block_id,
        |    CASE WHEN (rn - 1) % 128 = 0 THEN doc_id
        |         ELSE doc_id - prev END AS delta, tf, rn
        |  FROM e WHERE df <= 400)
        |SELECT tok, df, block_id, count(*)::BIGINT AS block_n,
        |  string_agg(delta || ':' || tf, ',' ORDER BY rn) AS postings
        |FROM b GROUP BY 1, 2, 3
        |UNION ALL
        |SELECT tok, df::BIGINT AS df, -1::BIGINT AS block_id,
        |  df::BIGINT AS block_n, NULL AS postings
        |FROM (SELECT DISTINCT tok, df FROM e WHERE df > 400)
        |ORDER BY tok, block_id""".stripMargin,

    "lm_train" ->
      // the committed artifact IS the oracle: an independent Python
      // derivation (tools/bigram_lm_expected.py — float log2 floor)
      // that the engine's exact-BigInteger floor must reproduce
      s"""SELECT bigram, surprise_mb
         |FROM read_parquet('$goldenDir/bigram_lm_sf001.parquet')
         |ORDER BY bigram""".stripMargin,

    "bpe_train" ->
      // independent Python trainer over the same tier
      // (tools/bpe_train_expected.py: own pretokenizer + merge loop)
      s"""SELECT rank, lhs, rhs
         |FROM read_parquet('$goldenDir/bpe_train_sf001.parquet')
         |ORDER BY rank""".stripMargin,

    "url_filter" ->
      // same planted urls, same blocklist literals, match semantics
      // spelled with LIKE suffix / string-equality prefix, winner via
      // row_number on (length desc, entry, category)
      s"""WITH u AS (
         |  SELECT doc_id,
         |    (CASE doc_id % 4 WHEN 0 THEN 'ads.' WHEN 1 THEN 'cdn.static.'
         |          ELSE '' END)
         |      || 'host-' || (doc_id % 50) || '.example' AS host,
         |    (CASE doc_id % 3 WHEN 0 THEN 'shop' WHEN 1 THEN 'blog'
         |          ELSE 'news' END) AS sec
         |  FROM documents),
         |u2 AS (
         |  SELECT doc_id,
         |    'https://' || host || '/' || sec || '/item-' || doc_id
         |      || '.html' AS url, host, sec
         |  FROM u),
         |bl(entry, category, kind) AS (VALUES $urlBlocklistValues),
         |m AS (
         |  SELECT u2.doc_id, bl.entry, bl.category FROM u2 JOIN bl ON
         |    (bl.kind = 'domain' AND
         |      (u2.host = bl.entry OR u2.host LIKE '%.' || bl.entry))
         |    OR (bl.kind = 'prefix' AND u2.host || '/' || u2.sec = bl.entry)),
         |w AS (
         |  SELECT doc_id, entry, category, row_number() OVER (
         |    PARTITION BY doc_id
         |    ORDER BY length(entry) DESC, entry, category) AS rn
         |  FROM m)
         |SELECT u2.doc_id, u2.url, w.entry IS NOT NULL AS blocked,
         |  w.category, w.entry AS matched_entry
         |FROM u2 LEFT JOIN (SELECT * FROM w WHERE rn = 1) w USING (doc_id)
         |ORDER BY u2.doc_id""".stripMargin,

    "robots_eval" ->
      // same planted urls and rule literals; longest-match winner via
      // row_number (length desc, kind asc — 'allow' < 'disallow' makes
      // the tie rule lexicographic), default allow on no match
      s"""WITH u AS (
         |  SELECT doc_id,
         |    'host-' || (doc_id % 50) || '.example' AS host,
         |    '/' || (CASE doc_id % 3 WHEN 0 THEN 'shop' WHEN 1 THEN 'blog'
         |            ELSE 'news' END) || '/item-' || doc_id || '.html' AS path
         |  FROM documents),
         |r(host, kind, prefix) AS (VALUES $robotsRulesValues),
         |m AS (
         |  SELECT u.doc_id, r.kind, r.prefix,
         |    row_number() OVER (PARTITION BY u.doc_id
         |      ORDER BY length(r.prefix) DESC, r.kind, r.prefix) AS rn
         |  FROM u JOIN r ON u.host = r.host
         |  WHERE starts_with(u.path, r.prefix))
         |SELECT u.doc_id, 'https://' || u.host || u.path AS url,
         |  coalesce(m.kind = 'allow', TRUE) AS allowed,
         |  m.kind AS matched_kind, m.prefix AS matched_prefix
         |FROM u LEFT JOIN (SELECT * FROM m WHERE rn = 1) m USING (doc_id)
         |ORDER BY u.doc_id""".stripMargin,

    "text_derep" ->
      // keep-first-occurrence recomputed in the text domain (the
      // kernel matches 64-bit line fingerprints; string equality is
      // identical absent a 2^-64 collision — the line_dedup pattern)
      """WITH d AS (SELECT doc_id,
        |    'SUBSCRIBE NOW' || chr(10) || text || chr(10) || chr(10) ||
        |    'SHARE: ' || (doc_id % 5) || chr(10) ||
        |    'SUBSCRIBE NOW' || chr(10) || text AS text
        |  FROM documents),
        |l AS (SELECT doc_id,
        |    unnest(string_split(text, chr(10))) AS line,
        |    unnest(range(len(string_split(text, chr(10))))) AS pos
        |  FROM d),
        |firsts AS (SELECT doc_id, line, min(pos) AS fpos
        |  FROM l WHERE line <> '' GROUP BY doc_id, line),
        |kept AS (SELECT l.doc_id, l.line, l.pos FROM l
        |  LEFT JOIN firsts f ON l.doc_id = f.doc_id AND l.line = f.line
        |    AND l.pos = f.fpos
        |  WHERE l.line = '' OR f.fpos IS NOT NULL),
        |agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text,
        |    count(*) AS n_kept FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.text, '') AS text,
        |  ((SELECT count(*) FROM l WHERE l.doc_id = d.doc_id)
        |    - coalesce(a.n_kept, 0))::BIGINT AS n_removed
        |FROM d LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "crawl_schedule" ->
      """WITH f AS (SELECT doc_id, 'h' || (doc_id % 37) AS host,
        |    n_chars AS priority FROM documents),
        |r AS (SELECT doc_id, host, (row_number() OVER (
        |    PARTITION BY host ORDER BY priority DESC, doc_id) - 1)::BIGINT AS slot
        |  FROM f),
        |d AS (SELECT 'h' || i AS host, (i + 1) * 100 AS delay_ms
        |  FROM range(10) t(i))
        |SELECT r.doc_id, r.host, r.slot,
        |  (r.slot * coalesce(d.delay_ms, 1000))::BIGINT AS eta_ms
        |FROM r LEFT JOIN d USING (host)
        |ORDER BY doc_id""".stripMargin,

    "decontam_apply" ->
      // the contamination_check CTE re-used to mine the drop set, then
      // NOT IN over the train slice (string trigrams ≡ the kernel's
      // hashed shingles modulo negligible 64-bit collisions)
      (s"""WITH arrs AS (
        |  SELECT doc_id AS id, regexp_split_to_array(
        |    regexp_replace(lower(text), '^$pyWs+|$pyWs+$$', '', 'g'), '$pyWs+') AS arr
        |  FROM documents),""".stripMargin + """
        |toks0 AS (
        |  SELECT id, unnest(list_distinct(CASE WHEN len(arr) >= 3 THEN
        |    list_transform(range(1, len(arr) - 1),
        |      i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2])
        |    ELSE [] END)) AS tok
        |  FROM arrs),
        |toks AS (SELECT id, tok FROM toks0 WHERE tok IN (
        |  SELECT tok FROM toks0 GROUP BY tok HAVING count(*) <= 64)),
        |ev AS (SELECT id AS eval_id, tok FROM toks WHERE id % 29 = 3),
        |tr AS (SELECT id AS train_id, tok FROM toks WHERE id % 29 <> 3),
        |bad AS (SELECT DISTINCT train_id FROM (
        |  SELECT train_id, eval_id, count(*) AS sh
        |  FROM tr JOIN ev USING (tok) GROUP BY 1, 2) WHERE sh >= 2)
        |SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id % 29 <> 3
        |  AND doc_id NOT IN (SELECT train_id FROM bad)
        |ORDER BY doc_id""".stripMargin),

    "select_dsir" ->
      // committed golden from an INDEPENDENT Python derivation
      // (tools/dsir_expected.py: own tokenizer, FNV-1a+mix hash and
      // float-log2 weights cross-checked against the exact integer
      // predicate), pinned at sf0.01
      s"""SELECT doc_id, score_mb, selected
         |FROM read_parquet('$goldenDir/dsir_sf001.parquet')
         |ORDER BY doc_id""".stripMargin,

    "sitemap_parse" ->
      // both surviving entries rebuilt relationally from doc_id: the
      // commented-out <url> and the loc-less <url> contribute NO rows
      // (a regex extractor would emit the trap row and go red), and
      // the &amp; in <loc> arrives DECODED
      """SELECT site_id, entry_idx, loc, lastmod, priority FROM (
        |  SELECT doc_id AS site_id, 0::BIGINT AS entry_idx,
        |    'https://site' || (doc_id % 40) || '.example.com/page/' ||
        |      doc_id || '?a=1&b=2' AS loc,
        |    '2024-0' || ((doc_id % 9) + 1) || '-15' AS lastmod,
        |    '0.' || (doc_id % 10) AS priority
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, 1::BIGINT,
        |    'https://site' || (doc_id % 40) || '.example.com/alt/' || doc_id,
        |    NULL::VARCHAR, NULL::VARCHAR
        |  FROM documents)
        |ORDER BY site_id, entry_idx""".stripMargin,

    "c4_filter" ->
      // the same planted page, every rule re-spelled relationally with
      // the kernel's precedence (brace > lorem > bad_word > too_few)
      """WITH p AS (SELECT doc_id,
        |    'Genuine first sentence about ' || source ||
        |      ' data curation today.' || chr(10) ||
        |    text || chr(10) ||
        |    'Too short.' || chr(10) ||
        |    'This line mentions javascript frameworks and should vanish.' ||
        |      chr(10) ||
        |    'A second proper sentence keeps the page going.' ||
        |    CASE WHEN doc_id % 11 <> 0 THEN chr(10) ||
        |      'A third proper sentence keeps the page alive.' ELSE '' END ||
        |    CASE WHEN doc_id % 17 = 0 THEN chr(10) ||
        |      'config = { "a": 1 }' ELSE '' END ||
        |    CASE WHEN doc_id % 23 = 0 THEN chr(10) ||
        |      'Lorem Ipsum dolor sit amet consectetur.' ELSE '' END ||
        |    CASE WHEN doc_id % 31 = 0 THEN chr(10) ||
        |      'This sentence contains badword1 unfortunately for everyone.'
        |      ELSE '' END AS page
        |  FROM documents),
        |flags AS (SELECT doc_id,
        |    contains(page, '{') AS has_brace,
        |    contains(lower(page), 'lorem ipsum') AS has_lorem,
        |    len(list_filter(regexp_split_to_array(lower(page),
        |      '[ \t\n\f\r]+'), t -> t IN ('badword1', 'badword2'))) > 0
        |      AS has_bad
        |  FROM p),
        |l AS (SELECT doc_id,
        |    unnest(string_split(page, chr(10))) AS line,
        |    unnest(range(len(string_split(page, chr(10))))) AS pos
        |  FROM p),
        |k AS (SELECT doc_id, line, pos FROM l
        |  WHERE right(trim(line), 1) IN ('.', '!', '?', '"')
        |    AND len(regexp_split_to_array(trim(line), '[ \t]+')) >= 5
        |    AND NOT list_contains(
        |      regexp_split_to_array(lower(trim(line)), '[ \t]+'),
        |      'javascript')),
        |agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text,
        |    count(*) AS n FROM k GROUP BY doc_id)
        |SELECT f.doc_id,
        |  CASE WHEN NOT f.has_brace AND NOT f.has_lorem AND NOT f.has_bad
        |        AND coalesce(a.n, 0) >= 3 THEN a.text END AS text,
        |  (CASE WHEN f.has_brace OR f.has_lorem OR f.has_bad THEN 0
        |        ELSE coalesce(a.n, 0) END)::BIGINT AS n_kept,
        |  CASE WHEN f.has_brace THEN 'brace'
        |       WHEN f.has_lorem THEN 'lorem_ipsum'
        |       WHEN f.has_bad THEN 'bad_word'
        |       WHEN coalesce(a.n, 0) < 3 THEN 'too_few_sentences'
        |       END AS drop_reason
        |FROM flags f LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "redirect_resolve" ->
      // terminal per src found by a bounded recursive walk (chains are
      // <= 4 hops by construction; the hops < 12 guard only cuts the
      // planted cycle's infinite orbit); a src with no terminal row is
      // a cycle member or cycle-reaching chain
      """WITH RECURSIVE e AS (SELECT src, dst FROM (
        |    SELECT doc_id AS src,
        |      CASE WHEN doc_id % 50 IN (16, 17, 18) THEN doc_id + 1
        |           WHEN doc_id % 50 = 19 THEN doc_id - 2
        |           WHEN doc_id % 5 <> 0 THEN doc_id - 1 END AS dst
        |    FROM documents) WHERE dst IS NOT NULL),
        |walk AS (
        |  SELECT src, dst AS cur, 1::BIGINT AS hops FROM e
        |  UNION ALL
        |  SELECT w.src, e.dst, w.hops + 1 FROM walk w
        |  JOIN e ON w.cur = e.src WHERE w.hops < 12),
        |term AS (SELECT src, cur, hops FROM walk
        |  WHERE cur NOT IN (SELECT src FROM e))
        |SELECT e.src, t.cur AS final_id, t.hops AS hops,
        |  t.src IS NULL AS is_cycle
        |FROM e LEFT JOIN term t ON e.src = t.src
        |ORDER BY e.src""".stripMargin,

    "robots_parse" ->
      // expected rows rebuilt per planted variant; the v3 orphan rule
      // and v1's unknown directive contribute nothing by construction
      """SELECT host_id, agent, rule_idx, kind, value FROM (
        |  SELECT doc_id AS host_id, '*' AS agent, 0::BIGINT AS rule_idx,
        |    'disallow' AS kind, '/private/' AS value
        |  FROM documents WHERE doc_id % 4 IN (0, 1)
        |  UNION ALL
        |  SELECT doc_id, '*', 1, 'allow', '/private/public/'
        |  FROM documents WHERE doc_id % 4 IN (0, 1)
        |  UNION ALL
        |  SELECT doc_id, '*', 2, 'crawl-delay', (1 + doc_id % 5)::VARCHAR
        |  FROM documents WHERE doc_id % 4 IN (0, 1)
        |  UNION ALL
        |  SELECT doc_id, 'graftbot', 3, 'disallow', '/trap-' || doc_id || '/'
        |  FROM documents WHERE doc_id % 4 = 1
        |  UNION ALL
        |  SELECT doc_id, 'graftbot', 0, 'disallow', ''
        |  FROM documents WHERE doc_id % 4 = 2
        |  UNION ALL
        |  SELECT doc_id, 'otherbot', 0, 'disallow', ''
        |  FROM documents WHERE doc_id % 4 = 2)
        |ORDER BY host_id, rule_idx, agent""".stripMargin,

    "host_quality" ->
      // same quality_bp expression, then pure BIGINT floor arithmetic:
      // global mean g = sum // n over ALL docs, shrunk = (s + k*g) // (n + k)
      s"""WITH $textAnalysisCtes,
        |hq AS (SELECT 'h' || (doc_id % 37) AS host, quality_bp FROM analysis),
        |agg AS (SELECT host, count(*) AS n_docs, sum(quality_bp) AS s
        |  FROM hq GROUP BY host),
        |g AS (SELECT sum(s) // sum(n_docs) AS g FROM agg)
        |SELECT host, n_docs::BIGINT AS n_docs,
        |  (s // n_docs)::BIGINT AS mean_score,
        |  ((s + 20 * g.g) // (n_docs + 20))::BIGINT AS shrunk_score
        |FROM agg, g ORDER BY host""".stripMargin,

    "dedup_keep_best" ->
      // components by min-label recursive closure (independent of the
      // kernel's star contraction), quality from the shared CTE, pick
      // by row_number (score desc, id) — the kernel's min(struct) agg
      // must land on the same member
      s"""WITH RECURSIVE $exactJaccardCte,
        |$textAnalysisCtes,
        |edges AS (SELECT id_a AS u, id_b AS v FROM exact_pairs
        |          UNION ALL SELECT id_b, id_a FROM exact_pairs),
        |nodes AS (SELECT DISTINCT u AS id FROM edges),
        |reach AS (
        |  SELECT id, id AS lab FROM nodes
        |  UNION
        |  SELECT e.u AS id, r.lab FROM reach r JOIN edges e ON e.v = r.id),
        |comp AS (SELECT id, min(lab) AS component FROM reach GROUP BY id),
        |scored AS (SELECT c.id, c.component, a.quality_bp AS score
        |  FROM comp c JOIN analysis a ON a.doc_id = c.id),
        |picked AS (SELECT id, component, score, row_number() OVER (
        |    PARTITION BY component ORDER BY score DESC, id) AS rn
        |  FROM scored)
        |SELECT id::BIGINT AS doc_id, component::BIGINT AS component,
        |  score::BIGINT AS score, (rn = 1) AS kept
        |FROM picked ORDER BY doc_id""".stripMargin,

    "frontier_build" ->
      // the url_filter and robots_eval oracle spellings chained, then
      // the politeness window — one relational recomputation of the
      // whole composition
      s"""WITH u AS (
         |  SELECT doc_id,
         |    (CASE doc_id % 4 WHEN 0 THEN 'ads.' WHEN 1 THEN 'cdn.static.'
         |          ELSE '' END)
         |      || 'host-' || (doc_id % 50) || '.example' AS host,
         |    (CASE doc_id % 3 WHEN 0 THEN 'shop' WHEN 1 THEN 'blog'
         |          ELSE 'news' END) AS sec
         |  FROM documents),
         |u2 AS (SELECT doc_id, host, sec,
         |    '/' || sec || '/item-' || doc_id || '.html' AS path
         |  FROM u),
         |bl(entry, category, kind) AS (VALUES $urlBlocklistValues),
         |blocked AS (
         |  SELECT DISTINCT u2.doc_id FROM u2 JOIN bl ON
         |    (bl.kind = 'domain' AND
         |      (u2.host = bl.entry OR u2.host LIKE '%.' || bl.entry))
         |    OR (bl.kind = 'prefix' AND u2.host || '/' || u2.sec = bl.entry)),
         |surv AS (SELECT doc_id, host, path FROM u2
         |  WHERE doc_id NOT IN (SELECT doc_id FROM blocked)),
         |r(host, kind, prefix) AS (VALUES $robotsRulesValues),
         |rm AS (
         |  SELECT s.doc_id, r.kind, row_number() OVER (PARTITION BY s.doc_id
         |    ORDER BY length(r.prefix) DESC, r.kind, r.prefix) AS rn
         |  FROM surv s JOIN r ON s.host = r.host
         |  WHERE starts_with(s.path, r.prefix)),
         |allowed AS (SELECT s.doc_id, s.host FROM surv s
         |  LEFT JOIN (SELECT * FROM rm WHERE rn = 1) m USING (doc_id)
         |  WHERE coalesce(m.kind = 'allow', TRUE)),
         |f AS (SELECT doc_id, host, doc_id % 97 AS priority FROM allowed),
         |sched AS (SELECT doc_id, host, (row_number() OVER (
         |    PARTITION BY host ORDER BY priority DESC, doc_id) - 1)::BIGINT AS slot
         |  FROM f),
         |d AS (SELECT 'host-' || i || '.example' AS host,
         |    (i % 7 + 1) * 100 AS delay_ms FROM range(10) t(i))
         |SELECT sched.doc_id, sched.host, sched.slot,
         |  (slot * coalesce(d.delay_ms, 1000))::BIGINT AS eta_ms
         |FROM sched LEFT JOIN d USING (host)
         |ORDER BY doc_id""".stripMargin,

    "embed_quantize" ->
      // the identical binary64 rule (float→double exact, one divide +
      // multiply + floor — no libm) re-spelled over the same column,
      // then the integer invariants
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |m AS (SELECT vec_id, v,
        |    list_max(list_transform(v, x -> abs(x))) AS ma FROM e),
        |c AS (SELECT vec_id, ma,
        |    CASE WHEN ma > 0
        |      THEN list_transform(v, x -> floor(x / ma * 127.0 + 0.5)::BIGINT)
        |      ELSE list_transform(v, x -> 0::BIGINT) END AS codes
        |  FROM m),
        |x AS (SELECT vec_id, unnest(codes) AS cd,
        |    unnest(range(1, len(codes) + 1)) AS i FROM c),
        |agg AS (SELECT vec_id, sum(cd * i)::BIGINT AS checksum,
        |    sum(abs(cd))::BIGINT AS l1,
        |    sum(CASE WHEN abs(cd) = 127 THEN 1 ELSE 0 END)::BIGINT AS n_sat
        |  FROM x GROUP BY vec_id)
        |SELECT c.vec_id, floor(c.ma * 1000000.0)::BIGINT AS scale_ppm,
        |  a.checksum, a.l1, a.n_sat
        |FROM c JOIN agg a USING (vec_id)
        |ORDER BY vec_id""".stripMargin
  )

  private def robotsRulesValues: String =
    robotsRules.map { case (h, k, p) => s"('$h', '$k', '$p')" }
      .mkString(", ")

  /** urlBlocklist as a SQL VALUES literal (entries are [a-z0-9.-/]
    * only — no quoting hazards).
    */
  private def urlBlocklistValues: String =
    urlBlocklist.map { case (e, c, k) => s"('$e', '$c', '$k')" }
      .mkString(", ")
}
