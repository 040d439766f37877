package graft.streaming

import graft.SparkSuite
import graft.table.SyntheticPages
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class StreamingOpsSpec extends AnyFunSuite with SparkSuite {

  test("windowed event counts equal the batch equivalent") {
    val path = "/root/testdata/sf0.001/events.parquet"
    val streamed = StreamingOps.windowedEventCounts(spark, path, "spec_events")
      .orderBy("day", "event_type").collect()
    val batch = spark.read.parquet(path)
      .withColumn("ts", col("ts").cast("timestamp"))
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("w.start").as("day"), col("event_type"), col("n"), col("sum_value"))
      .orderBy("day", "event_type").collect()
    assert(streamed.length == batch.length && streamed.nonEmpty)
    streamed.zip(batch).foreach { case (s, b) => assert(s == b) }
  }

  test("a lone source file's staged copy is deleted once the stream stops") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def staged(): Int =
      Option(tmp.list()).fold(0)(_.count(_.startsWith("graft-stream-src")))
    val dir = Files.createTempDirectory("stream-lone-src")
    try {
      spark.range(20).select(
          expr("timestamp'2024-01-01 00:00:00' + make_dt_interval(0, cast(id as int))").as("ts"),
          when(col("id") % 2 === 0, "click").otherwise("view").as("event_type"),
          col("id").cast("double").as("value"))
        .coalesce(1).write.mode("overwrite").parquet(dir.toString)
      val lone = Files.list(dir).filter(_.toString.endsWith(".parquet")).findFirst().get
      val before = staged()
      val rows = StreamingOps.windowedEventCounts(spark, lone.toString, "spec_events_staged")
        .collect()
      assert(rows.map(_.getAs[Long]("n")).sum == 20)
      assert(staged() == before, "graft-stream-src dir left behind")
      // the same file named by its file: URI streams the same rows
      val viaUri = StreamingOps.windowedEventCounts(spark, lone.toUri.toString, "spec_events_uri")
        .collect()
      assert(viaUri.map(_.toString).sorted.toSeq == rows.map(_.toString).sorted.toSeq)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("the stream_extract query leaves no work dir behind and equals the batch cascade") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def workDirs(): Int =
      Option(tmp.list()).fold(0)(_.count(_.startsWith("se-stream-extract")))
    val before = workDirs()
    // a tier dir outside the sf names: 1000 synthetic pages, no tier read
    val streamed = graft.SparkEntry.queries("stream_extract")(spark, "tier").collect()
    assert(workDirs() == before, "se-stream-extract dir left behind")
    assert(streamed.length == 1000)
    assert(streamed.toSeq ==
      graft.SparkEntry.queries("cascade_extract")(spark, "tier").collect().toSeq)
  }

  test("stream-stream interval join equals the batch join") {
    val path = "/root/testdata/sf0.001/events.parquet"
    val streamed = StreamingOps.streamStreamJoin(spark, path,
        queryNameBase = "spec_stream_join")
      .orderBy("click_id", "purchase_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val ev = spark.read.parquet(path)
      .withColumn("ts", col("ts").cast("timestamp"))
    val batch = ev.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("cts"))
      .join(ev.where(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"),
            col("user_id").as("pu"), col("ts").as("pts")),
        col("user_id") === col("pu") && col("pts") >= col("cts") &&
          col("pts") <= col("cts") + expr("interval 30 minutes"))
      .select("click_id", "purchase_id", "user_id")
      .orderBy("click_id", "purchase_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(streamed.toSeq == batch.toSeq)
  }

  test("streaming ingest dedup drops re-delivered duplicates to the batch distinct set") {
    val path = "/root/testdata/sf0.001/documents.parquet"
    val streamed = StreamingOps.streamDedup(spark, path,
        queryNameBase = "spec_stream_dedup")
      .collect().map(_.getString(0)).sorted.toSeq
    val batch = spark.read.parquet(path)
      .select(sha2(col("text"), 256)).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    assert(streamed.nonEmpty && streamed == batch,
      "append-mode dedup output must equal the batch DISTINCT hash set")
    // the simulated re-delivery really produced duplicate inputs: every
    // 3rd doc twice => without dedup the stream would carry more rows
    val docs = spark.read.parquet(path).count()
    assert(streamed.length <= docs && docs / 3 > 0)
  }

  test("streaming incremental dedup: union of per-batch pairs equals one-shot mining, any batch split") {
    val path = "/root/testdata/sf0.001/documents.parquet"
    def pairsOf(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(p => (p._1, p._2)).toSeq
    val docs = spark.read.parquet(path).where(col("doc_id") < 2000)
    val isNew = pmod(col("doc_id"), lit(5)) === 0
    val oneShot = pairsOf(graft.ops.Dedup.incrementalNearDupPairs(
      graft.ops.Dedup.lshBandIndex(docs.where(!isNew), 64, 32, 3),
      docs.where(!isNew), docs.where(isNew),
      threshold = 0.8, numHashes = 64, bands = 32, shingleSize = 3))
    // two different micro-batch splits must both equal the one-shot set
    for (n <- Seq(1, 3)) {
      val streamed = pairsOf(
        StreamingOps.streamIncrementalDedup(spark, path, nBatches = n))
      assert(streamed.nonEmpty && streamed == oneShot,
        s"nBatches=$n: stream pair set must equal one-shot mining")
    }
  }

  test("streaming incremental dedup deletes its work dir; the returned pairs outlive it") {
    import testImplicits._
    def pairsOf(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(p => (p._1, p._2)).toSeq
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def workDirs(): Int =
      Option(tmp.list()).fold(0)(_.count(_.startsWith("graft-stream-inc")))
    // each new doc (doc_id % 5 == 0) repeats the next doc's text; other
    // docs share no word
    val docs = (0L until 100L).map { id =>
      val k = if (id % 5 == 0) id + 1 else id
      (id, (0 until 12).map(w => s"w${k * 31 + w * 7}").mkString(" "))
    }.toDF("doc_id", "text")
    val dir = Files.createTempDirectory("stream-inc-docs")
    try {
      docs.write.mode("overwrite").parquet(dir.toString)
      val before = workDirs()
      val pairs = pairsOf(StreamingOps.streamIncrementalDedup(spark, dir.toString, nBatches = 2))
      assert(workDirs() == before, "graft-stream-inc dir left behind")
      val isNew = pmod(col("doc_id"), lit(5)) === 0
      val oneShot = pairsOf(graft.ops.Dedup.incrementalNearDupPairs(
        graft.ops.Dedup.lshBandIndex(docs.where(!isNew), 64, 32, 3),
        docs.where(!isNew), docs.where(isNew),
        threshold = 0.8, numHashes = 64, bands = 32, shingleSize = 3))
      assert(pairs.length == 20 && pairs == oneShot)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("streaming incremental dedup logs no FileNotFoundException warning") {
    // reading a directory through a glob makes Spark's sink-metadata
    // probe stat the literal glob path and log the miss with its trace
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[LogEvent]()
    val capture = new AbstractAppender("capture-warn", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN)) warnings.add(e.toImmutable)
    }
    capture.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(capture)
    val pairs = try StreamingOps.streamIncrementalDedup(spark,
      "/root/testdata/sf0.001/documents.parquet", nBatches = 2).count()
    finally { root.removeAppender(capture); capture.stop() }
    def causes(t: Throwable): Iterator[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
    val notFound = warnings.toArray(Array.empty[LogEvent]).filter(e =>
      causes(e.getThrown).exists(_.isInstanceOf[java.io.FileNotFoundException]))
    assert(pairs > 0 && notFound.isEmpty,
      notFound.map(e => s"${e.getLoggerName}: ${e.getMessage.getFormattedMessage}").mkString("\n"))
  }

  test("stateful sessionization (flatMapGroupsWithState) matches batch sessions past the watermark") {
    val sfDir = "/root/testdata/sf0.001"
    val gapMs = 30L * 60 * 1000
    val streamed = StreamingOps
      .sessionizeStream(spark, s"$sfDir/events.parquet", "sos_sessions")
      .collect() // SessionOut bounds are epoch micros; compare at ms like batch getTime
      .map(r => (r.getLong(0), r.getLong(1) / 1000, r.getLong(2) / 1000,
        r.getLong(3), r.getDouble(4)))
    assert(streamed.nonEmpty)

    // batch truth: the same gap sessionization computed with windows
    // (parquet ts is TIMESTAMP_NTZ; cast like the stream ingest does)
    val batch = graft.SparkEntry.queries("events_sessionize")(spark, sfDir)
      .withColumn("start_ts", col("start_ts").cast("timestamp"))
      .withColumn("end_ts", col("end_ts").cast("timestamp"))
      .collect()
      .map(r => (r.getLong(0),
        r.getAs[java.sql.Timestamp]("start_ts").getTime,
        r.getAs[java.sql.Timestamp]("end_ts").getTime,
        r.getLong(2), r.getDouble(5)))
    val watermark = batch.map(_._3).max // delay 0s → wm = max event ts
    // sessions whose close deadline passed the final watermark MUST have
    // been flushed by the event-time timeout; later ones stay open in
    // state (correct unbounded-stream semantics). Leave a 1ms guard band
    // around the exact-boundary case.
    val mustFlush = batch.filter(_._3 + gapMs < watermark - 1)
    val mayFlush = batch.filter(_._3 + gapMs <= watermark + 1).map(k => (k._1, k._2)).toSet
    val streamedKeys = streamed.map(s => (s._1, s._2)).toSet
    mustFlush.foreach { b =>
      val hit = streamed.find(s => s._1 == b._1 && s._2 == b._2)
      assert(hit.isDefined, s"session not flushed: $b")
      val s = hit.get
      assert(s._3 == b._3 && s._4 == b._4, s"session shape diverged: $s vs $b")
      assert(math.abs(s._5 - b._5) < 0.011) // batch side is round(.,2)
    }
    // and nothing is emitted that batch doesn't have
    assert(streamedKeys.subsetOf(mayFlush))
  }

  test("streaming extraction: incremental files, checkpointed resume, no reprocessing") {
    val work = Seq("stream-pages", "stream-out", "stream-ck").map(Files.createTempDirectory(_))
    val pagesDir = work(0).toString
    val outDir = work(1).toString + "/data"
    val ckDir = work(2).toString
    try {
      // batch 1 arrives
      SyntheticPages.generate(spark, 100, partitions = 2).toDF()
        .write.mode("append").parquet(pagesDir)
      StreamingOps.streamingExtract(spark, pagesDir, outDir, ckDir)
      val n1 = spark.read.parquet(outDir).count()
      assert(n1 == 100)

      // batch 2 arrives; restart processes ONLY the new files
      SyntheticPages.generate(spark, 50, partitions = 2).toDF()
        .withColumn("url", concat(lit("b2-"), col("url")))
        .write.mode("append").parquet(pagesDir)
      StreamingOps.streamingExtract(spark, pagesDir, outDir, ckDir)
      val out = spark.read.parquet(outDir)
      assert(out.count() == 150)
      assert(out.where(col("url").startsWith("b2-")).count() == 50)
      // no duplicates — exactly-once sink semantics
      assert(out.select("url").distinct().count() == 150)
    } finally work.foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
  }
}
