package graft.streaming

import graft.extract.{CascadeConfig, Extract}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import java.nio.file.Files

/** One event of the stateful sessionizer. `ts` is the watermark column;
  * `ts_us` carries full microsecond precision for the session logic
  * (java.sql.Timestamp.getTime is ms-floored, which would both corrupt
  * the emitted bounds and split sessions differently from the batch
  * oracle at sub-ms gap boundaries).
  */
final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp,
    ts_us: Long, value: Double)

/** Open-session state kept per user between micro-batches (micros). */
final case class OpenSession(start: Long, last: Long, n: Long, value: Double)

/** A closed (emitted) session; bounds in epoch micros. */
final case class SessionOut(
    user_id: Long,
    start_us: Long,
    end_us: Long,
    n_events: Long,
    session_value: Double)

/** Structured Streaming paths. The reference is batch-only
  * (ARCHITECTURE.md:241-244 lists event-driven as future work), so these
  * are capability extensions, not parity surface: the same extraction
  * kernel and the same declarative aggregations run over `readStream`
  * sources with watermarks and checkpointed sinks.
  */
object StreamingOps {

  /** Memory-sink query names must be unique per start within a session
    * (the bench runs each query twice; Verify and tests share sessions).
    */
  private val nameSeq = new java.util.concurrent.atomic.AtomicInteger(0)
  private def unique(base: String): String = s"${base}_${nameSeq.incrementAndGet()}"

  /** Start a stream with a pinned (narrow) state partitioning. Stateful
    * operators instantiate state-store providers per shuffle partition
    * per micro-batch; at local-mode volumes that setup dominates the
    * runtime (measured 3:1 on the stream-stream join at 32 partitions),
    * so streams here start under `n` partitions — captured at stream
    * start, restored immediately after. On a real cluster this is sized
    * to key cardinality instead; results are partitioning-independent.
    */
  private def withStatePartitions[T](spark: SparkSession, n: Int)(start: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", n.toString)
      start
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** A parquet stream over `path`, a directory or a lone file.
    * FileStreamSource reads directories only, so a lone file streams its
    * parent directory filtered to the file's glob-escaped name, with no
    * copy. The Hadoop `FileSystem` tells which it is, so a `file:`,
    * `hdfs:` or `s3a:` URI works like a plain path.
    */
  private def parquetStream(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val stream = spark.readStream.schema(spark.read.parquet(path).schema)
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p).isDirectory)
      stream.parquet(path)
    else stream
      .option("pathGlobFilter", p.getName.replaceAll("""([\\*?\[\]{}])""", """\\$1"""))
      .parquet(p.getParent.toString)
  }

  /** Drain the memory-sink stream `build` makes and return its result
    * table. The query starts under `statePartitions` (see
    * [[withStatePartitions]]) with an AvailableNow trigger and is stopped
    * once drained. The memory sink holds the result, so the returned
    * frame no longer reads the source.
    */
  private def drainToMemory(spark: SparkSession, queryNameBase: String,
      outputMode: String, statePartitions: Int)(build: => DataFrame): DataFrame = {
    val queryName = unique(queryNameBase)
    val q = withStatePartitions(spark, statePartitions) {
      build.writeStream
        .outputMode(outputMode)
        .format("memory")
        .queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    try q.processAllAvailable() finally q.stop()
    spark.table(queryName)
  }

  /** Tumbling-window event aggregation over a parquet event stream.
    * Complete output mode + memory sink: after processAllAvailable the
    * result equals the equivalent batch GROUP BY (the oracle in
    * SparkEntry relies on this).
    */
  def windowedEventCounts(spark: SparkSession, eventsPath: String,
      queryNameBase: String = "graft_stream_events"): DataFrame =
    drainToMemory(spark, queryNameBase, "complete", 8) {
      parquetStream(spark, eventsPath)
        // parquet carries TIMESTAMP_NTZ; watermarks need TIMESTAMP (UTC session)
        .withColumn("ts", col("ts").cast("timestamp"))
        .withWatermark("ts", "2 days")
        .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .select(col("w.start").as("day"), col("event_type"), col("n"), col("sum_value"))
    }

  /** Gap-based sessionization as CUSTOM STREAMING STATE
    * (flatMapGroupsWithState + event-time timeout): the stateful
    * equivalent of the batch events_sessionize query. Per user, events
    * extend the open session; a gap > `gapMinutes` closes it (emitted
    * in Append mode); the event-time timeout flushes a session once the
    * watermark passes its close deadline, so state size stays bounded
    * by the number of concurrently-open sessions — the shape that holds
    * on an unbounded 100 TB/day stream where a windowed aggregation
    * cannot express variable-length sessions.
    *
    * Sessions still open at end-of-input stay in state (correct stream
    * semantics: more events may come); StreamingOpsSpec pins emitted ==
    * batch sessions already past the watermark deadline.
    */
  def sessionizeStream(spark: SparkSession, eventsPath: String,
      queryNameBase: String = "graft_stream_sessions",
      gapMinutes: Int = 30): DataFrame = {
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000

    def update(userId: Long, events: Iterator[SessionEvent],
        state: GroupState[OpenSession]): Iterator[SessionOut] = {
      def close(s: OpenSession): SessionOut =
        SessionOut(userId, s.start, s.last, s.n, s.value)
      if (!events.hasNext) {
        // timeout invocation: watermark passed last+gap → flush
        if (state.hasTimedOut && state.exists) {
          val out = close(state.get)
          state.remove()
          Iterator.single(out)
        } else Iterator.empty
      } else {
        // micro-batch events arrive unordered; order within the batch
        val sorted = events.toArray.sortBy(e => (e.ts_us, e.value))
        val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
        var cur = state.getOption.orNull
        var i = 0
        while (i < sorted.length) {
          val e = sorted(i)
          val t = e.ts_us
          if (cur == null) cur = OpenSession(t, t, 1, e.value)
          else if (t - cur.last > gapUs) {
            out += close(cur)
            cur = OpenSession(t, t, 1, e.value)
          } else cur = OpenSession(cur.start, t, cur.n + 1, cur.value + e.value)
          i += 1
        }
        state.update(cur)
        // Spark watermarks/timeouts are millisecond-granular: flush fires
        // when floor_ms(watermark) strictly passes this value. Only a
        // max-event-time landing in the SAME millisecond as a session
        // deadline can diverge from the exact-micros batch filter.
        state.setTimeoutTimestamp((cur.last + gapUs) / 1000)
        out.iterator
      }
    }

    drainToMemory(spark, queryNameBase, "append", 8) {
      parquetStream(spark, eventsPath)
        .withColumn("ts", col("ts").cast("timestamp"))
        .withWatermark("ts", "0 seconds")
        .select(col("user_id").cast("long").as("user_id"), col("ts"),
          unix_micros(col("ts")).as("ts_us"),
          col("value").cast("double").as("value"))
        .as[SessionEvent]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
        .toDF()
    }
  }

  /** Stream-stream interval join — the canonical funnel correlation:
    * for every `leftType` event, the `rightType` events of the same
    * user within `windowMinutes` after it. Both sides are unbounded
    * streams, so this exercises Spark's symmetric-hash stream-stream
    * join; the watermarks PLUS the time-range condition are what let
    * the state store evict rows (left rows expire once the right
    * watermark passes ts + window; without the range bound, state
    * grows forever — the 100 TB/day failure mode).
    *
    * Batch-equality oracle: with AvailableNow + processAllAvailable over
    * bounded input and a watermark delay larger than the input's
    * disorder, the append-mode result equals the batch join.
    */
  def streamStreamJoin(spark: SparkSession, eventsPath: String,
      leftType: String = "click", rightType: String = "purchase",
      windowMinutes: Int = 30,
      queryNameBase: String = "graft_stream_join"): DataFrame =
    // the symmetric-hash join instantiates FOUR state stores per shuffle
    // partition per micro-batch — the heaviest case for the narrow
    // state partitioning (see withStatePartitions), so it runs at the
    // narrowest setting of the family (4, like streamDedup)
    drainToMemory(spark, queryNameBase, "append", 4) {
      def side(t: String, prefix: String) =
        parquetStream(spark, eventsPath)
          .withColumn("ts", col("ts").cast("timestamp"))
          .where(col("event_type") === t)
          .withWatermark("ts", "2 days")
          .select(col("event_id").as(s"${prefix}_id"),
            col("user_id").as(s"${prefix}_user"), col("ts").as(s"${prefix}_ts"))
      side(leftType, "l").join(side(rightType, "r"),
        col("l_user") === col("r_user") &&
          col("r_ts") >= col("l_ts") &&
          col("r_ts") <= col("l_ts") + expr(s"interval $windowMinutes minutes"))
        .select(col("l_id").as("click_id"), col("r_id").as("purchase_id"),
          col("l_user").as("user_id"))
    }

  /** Streaming ingest dedup — at-least-once delivery makes exact
    * duplicates a fact of life at the crawl edge, so the first stateful
    * op a streaming corpus ingest needs is content-hash dedup.
    * `dropDuplicatesWithinWatermark` holds a key only until the
    * watermark passes its event time + delay — bounded state, the shape
    * that survives an unbounded stream (plain streaming dropDuplicates
    * keeps every key forever, the 100 TB/day failure mode).
    *
    * Re-delivery is simulated in-stream (every 3rd document is
    * delivered twice, the copy 100 ms later); only the content hash is
    * emitted, so the append-mode result is exactly the distinct hash
    * set no matter which copy won the race — the batch DISTINCT oracle.
    */
  def streamDedup(spark: SparkSession, docsPath: String,
      queryNameBase: String = "graft_stream_dedup"): DataFrame =
    drainToMemory(spark, queryNameBase, "append", 4) {
      parquetStream(spark, docsPath)
        .withColumn("copy", explode(
          when(pmod(col("doc_id"), lit(3)) === 0, array(lit(0), lit(1)))
            .otherwise(array(lit(0)))))
        .withColumn("ts",
          to_timestamp(lit("2024-01-01 00:00:00"))
            + make_dt_interval(lit(0), lit(0), lit(0),
              col("doc_id").cast("double") + col("copy") * 0.1))
        .withColumn("sha", sha2(col("text"), 256))
        // the delay is the DEDUP HORIZON: a key's state lives until the
        // watermark passes its event time + delay, so batch-DISTINCT
        // equality needs the delay to exceed the corpus's widest
        // duplicate event-time gap (synthesized ts spreads ~14h at sf0.1
        // with twins up to ~1h apart) REGARDLESS of micro-batch split —
        // with a short delay a multi-file source would evict a twin's
        // state between batches and re-emit it
        .withWatermark("ts", "2 days")
        .dropDuplicatesWithinWatermark("sha")
        .select(col("sha"))
    }

  /** Streaming extraction: a growing directory of page parquet files →
    * cascade → checkpointed parquet sink (exactly-once file sink; the
    * streaming analogue of ExtractJob's manifest resume).
    */
  def streamingExtract(spark: SparkSession, pagesDir: String,
      outDir: String, checkpointDir: String,
      cfg: CascadeConfig = CascadeConfig()): Unit = {
    val schema = spark.read.parquet(pagesDir).schema
    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "16")
      .parquet(pagesDir)
    val extracted = Extract.extractPages(stream, cfg).toDF()
    val q = extracted.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** Streaming ingestion dedup — the production crawl loop end-to-end:
    * new documents arrive in micro-batches; each batch mines near-dup
    * pairs against the PERSISTED band index (the history plus every
    * previously ingested batch), then commits its own bands and texts
    * to the index tables — so cross-batch duplicates surface when the
    * later twin arrives, old×old is never re-mined, and each pair is
    * emitted exactly once by construction (it is mined only by its
    * LATER side's batch). The union of all batch outputs therefore
    * equals the one-shot [[graft.ops.Dedup.incrementalNearDupPairs]]
    * over the same split, independent of micro-batch boundaries — the
    * batch-equality property the driver oracle checks.
    *
    * History = doc_id % 5 != 0 (pre-indexed); the new 20% is staged as
    * `nBatches` parquet files consumed one file per trigger. The
    * returned pair table is materialized (a local checkpoint) before
    * the `graft-stream-inc` work dir is deleted, so the frame reads
    * no file of it.
    */
  def streamIncrementalDedup(spark: SparkSession, docsPath: String,
      nBatches: Int = 4): DataFrame = {
    // NOT run under a narrow shuffle partitioning: r06 tried sizing the
    // loop's shuffles to the micro-batch (8 partitions) and measured
    // neutral-to-worse — AQE already coalesces the batch-sized mining
    // joins, so the override only capped the seed build's parallelism
    val work = Files.createTempDirectory("graft-stream-inc")
    try {
      val (indexDir, textsDir, newDir, pairsDir, ckpt) =
        (s"$work/index", s"$work/texts", s"$work/new", s"$work/pairs", s"$work/ckpt")
      import spark.implicits._
      val docs = spark.read.parquet(docsPath)
        .where(col("doc_id") < 2000).select(col("doc_id"), col("text"))
      val isNew = pmod(col("doc_id"), lit(5)) === 0

      // seed the persisted index tables with the history; every commit —
      // seed and per-batch alike — is its OWN subdirectory written with
      // mode=overwrite, keyed by batchId, so foreachBatch's documented
      // at-least-once delivery is idempotent: a retried batch rewrites
      // its subdirs byte-identically instead of double-appending pairs
      // and double-committing bands (which would make the retry collide
      // with its own first attempt). Readers list the whole tree: a glob
      // path makes Spark's sink-metadata probe stat a literal "*" and log
      // a FileNotFoundException per read.
      def readTree(dir: String) =
        spark.read.option("recursiveFileLookup", "true").parquet(dir)
      val oldDocs = docs.where(!isNew)
      graft.ops.Dedup.lshBandIndex(oldDocs, numHashes = 64, bands = 32,
        shingleSize = 3).write.parquet(s"$indexDir/seed")
      oldDocs.write.parquet(s"$textsDir/seed")
      // stage the incoming batches as separate files (one per trigger)
      docs.where(isNew)
        .repartition(nBatches, pmod(col("doc_id"), lit(nBatches)))
        .write.parquet(newDir)
      // pairs sink must exist even if every batch emits nothing
      spark.emptyDataset[(Long, Long, Long)]
        .toDF("id_a", "id_b", "jaccard_bp").write.parquet(s"$pairsDir/seed")

      val schema = docs.schema
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(newDir)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val b = batch.persist()
          // a RETRIED batch may have committed b<id> subdirs before its
          // first attempt failed; excluding the batch's own ids from the
          // history views makes the mining input identical on retry
          // (and gives last-write-wins semantics for re-crawled ids)
          val bIds = broadcast(b.select(col("doc_id")))
          val history = readTree(indexDir)
            .join(bIds, Seq("doc_id"), "left_anti")
          val historyTexts = readTree(textsDir)
            .join(bIds, Seq("doc_id"), "left_anti")
          graft.ops.Dedup.incrementalNearDupPairs(history, historyTexts, b,
              threshold = 0.8, numHashes = 64, bands = 32, shingleSize = 3)
            .write.mode("overwrite").parquet(s"$pairsDir/b$batchId")
          // commit this batch into the index tables — the next batch
          // mines against history + everything ingested before it
          graft.ops.Dedup.lshBandIndex(b, numHashes = 64, bands = 32,
            shingleSize = 3).write.mode("overwrite").parquet(s"$indexDir/b$batchId")
          b.write.mode("overwrite").parquet(s"$textsDir/b$batchId")
          b.unpersist()
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      // the pair table is bounded by the output (doc_id < 2000): hold it
      // in the block manager so the work dir can go before returning
      readTree(pairsDir).localCheckpoint(eager = true)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(work.toFile)
  }
}
