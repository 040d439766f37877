package graft.jobs

import graft.{SparkSuite, TempDirs}
import graft.extract.{CascadeExtractor, Extracted}
import graft.table.{IcebergLite, SyntheticPages}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** North-rule job mechanics: unit-granular checkpointed resume
  * (kill-and-rerun yields an identical table), manifest lineage,
  * map-side plans that spread a hot host and extract oversized pages
  * where they lie, and units overlapped two writes deep that fail
  * cleanly.
  */
class ExtractJobSpec extends AnyFunSuite with SparkSuite with TempDirs {

  private val nPages = 240L
  private val cfg = ExtractJobConfig(nUnits = 6, partitionsPerUnit = 4)

  private def unitPages(u: Int): DataFrame = unitPagesIn(2)(u)

  private def unitPagesIn(partitions: Int)(u: Int): DataFrame = {
    import testImplicits._
    val perUnit = nPages / cfg.nUnits
    spark.range(u * perUnit, (u + 1) * perUnit, 1, partitions)
      .mapPartitions(_.map(id => SyntheticPages.pageFor(42L, id))).toDF()
  }

  /** No Spark job is running, no task of any stage, failed ones
    * included, and no unit write thread is alive.
    */
  private def assertNothingRunning(): Unit = {
    org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty,
      "a unit write outlived runUnits")
    val tasks = org.apache.spark.ListenerBusDrain.activeTasks(spark.sparkContext)
    assert(tasks == 0, s"$tasks tasks of a unit write outlived runUnits")
    val writers = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .filter(t => t.isAlive && t.getName.startsWith("graft-extract-unit-"))
    assert(writers.isEmpty, s"write threads left: ${writers.map(_.getName).mkString(", ")}")
  }

  private def parquetPages(ids: Seq[Long], files: Int): DataFrame = {
    import testImplicits._
    val dir = tempDir("graft-pages").toString
    spark.createDataset(ids).repartition(files)
      .mapPartitions(_.map(id => SyntheticPages.pageFor(42L, id)))
      .toDF().write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private def tableDigest(t: IcebergLite): Seq[(String, String)] =
    t.read(spark)
      .select(col("url"), concat_ws("§", col("strategy_used"),
        col("succeeded"), col("partial"), sha2(coalesce(col("extracted_text"), lit("")), 256)).as("d"))
      .collect().map(r => (r.getString(0), r.getString(1))).sortBy(_._1).toSeq

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("kill-and-rerun resume produces an identical committed table") {
    val cleanDir = tempDir("graft-clean").toString
    val resumeDir = tempDir("graft-resume").toString
    val clean = new IcebergLite(cleanDir)
    val resumed = new IcebergLite(resumeDir)

    // uninterrupted run
    val ranClean = ExtractJob.runUnits(spark, unitPages, clean, cfg)
    assert(ranClean == (0 until cfg.nUnits))

    // killed when unit 2's input cannot be read, then rerun
    intercept[RuntimeException] {
      ExtractJob.runUnits(spark, u => {
        if (u == 2) throw new RuntimeException("killed before unit 2")
        unitPages(u)
      }, resumed, cfg)
    }
    assert(resumed.committedUnits(spark) == Seq(0, 1))
    assertNothingRunning()
    val ranResume = ExtractJob.runUnits(spark, unitPages, resumed, cfg)
    assert(ranResume == (2 until cfg.nUnits)) // committed units skipped

    assert(tableDigest(clean) == tableDigest(resumed))
  }

  test("a unit whose pages throw fails the run after the units before it commit") {
    val dir = tempDir("graft-unit-fail").toString
    val t = new IcebergLite(dir)
    def failing(u: Int): DataFrame = {
      import testImplicits._
      // unit 2's page 100 is broken. It fails only once unit 3's write,
      // in flight by then, has started its first page, which takes 1 s
      // and, like a CPU-bound parse, does not stop on an interrupt: the
      // cancelled write's task runs on until the page ends
      val perUnit = nPages / cfg.nUnits
      spark.range(u * perUnit, (u + 1) * perUnit, 1, 2).mapPartitions(_.map { id =>
        if (id == 3 * perUnit) {
          UnitFailGate.slowPage.countDown()
          val end = System.nanoTime() + 1000000000L
          while (System.nanoTime() < end)
            try Thread.sleep(10) catch { case _: InterruptedException => }
        }
        if (id == 100) {
          UnitFailGate.slowPage.await(10, java.util.concurrent.TimeUnit.SECONDS)
          throw new IllegalStateException("page 100 of unit 2 is broken")
        }
        SyntheticPages.pageFor(42L, id)
      }).toDF()
    }
    val e = intercept[Exception](ExtractJob.runUnits(spark, failing, t, cfg))
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => c.getMessage != null &&
      c.getMessage.contains("page 100 of unit 2 is broken")), e)
    assert(t.committedUnits(spark) == Seq(0, 1))
    assertNothingRunning()
  }

  test("two writes run ahead of the publish; a failed unit cancels them and a rerun completes the table") {
    val t = new IcebergLite(tempDir("graft-two-ahead").toString)
    val planned = scala.collection.mutable.ArrayBuffer.empty[Int]
    def failing(u: Int): DataFrame = {
      import testImplicits._
      planned += u
      if (u == 4) UnitFailGate.lastUnitPlanned.countDown()
      // unit 2's second task throws once its first task is on a 1 s page
      // that ignores interrupts, started when unit 2 is about to be
      // published: the failed write still has a task to join
      val perUnit = nPages / cfg.nUnits
      spark.range(u * perUnit, (u + 1) * perUnit, 1, 2).mapPartitions(_.map { id =>
        if (id == 2 * perUnit) {
          UnitFailGate.lastUnitPlanned.await(10, java.util.concurrent.TimeUnit.SECONDS)
          UnitFailGate.slowFailedUnitPage.countDown()
          val end = System.nanoTime() + 1000000000L
          while (System.nanoTime() < end)
            try Thread.sleep(10) catch { case _: InterruptedException => }
        }
        if (id == 2 * perUnit + perUnit / 2) {
          UnitFailGate.slowFailedUnitPage.await(10, java.util.concurrent.TimeUnit.SECONDS)
          throw new IllegalStateException("unit 2's write is broken")
        }
        SyntheticPages.pageFor(42L, id)
      }).toDF()
    }
    val e = intercept[Exception](ExtractJob.runUnits(spark, failing, t, cfg))
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => c.getMessage != null &&
      c.getMessage.contains("unit 2's write is broken")), e)
    // units 3 and 4 were in flight when unit 2 failed, unit 5 never started
    assert(planned == Seq(0, 1, 2, 3, 4))
    assert(t.committedUnits(spark) == Seq(0, 1))
    assertNothingRunning()

    assert(ExtractJob.runUnits(spark, unitPages, t, cfg) == (2 until cfg.nUnits))
    val clean = new IcebergLite(tempDir("graft-two-ahead-clean").toString)
    ExtractJob.runUnits(spark, unitPages, clean, cfg)
    assert(tableDigest(t) == tableDigest(clean))
  }

  test("url-hash mode is map-side: one file scan, no exchange") {
    val pages = parquetPages(0L until 200L, files = 4) // one file per core
    val plan = ExtractJob.processUnit(pages, cfg).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert("FileScan parquet".r.findAllIn(plan).size == 1, plan)
  }

  test("url-hash mode spreads a unit staged as one file round-robin to the core count") {
    val out = ExtractJob.processUnit(parquetPages(0L until 200L, files = 1), cfg)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("RoundRobinPartitioning(4)"), plan)
    assert("FileScan parquet".r.findAllIn(plan).size == 1, plan)
    assert(out.select("task_partition").distinct().count() == 4)
  }

  test("output does not depend on the input's partitioning") {
    // one partition takes the round-robin spread, four run map-side
    val one = new IcebergLite(tempDir("graft-one-part").toString)
    val four = new IcebergLite(tempDir("graft-four-parts").toString)
    val layoutCfg = cfg.copy(nUnits = 2)
    ExtractJob.runUnits(spark, unitPagesIn(1), one, layoutCfg)
    ExtractJob.runUnits(spark, unitPagesIn(4), four, layoutCfg)
    assert(tableDigest(one) == tableDigest(four))
  }

  test("manifest carries per-unit lineage and strategy histogram") {
    val dir = tempDir("graft-manifest").toString
    val t = new IcebergLite(dir)
    ExtractJob.runUnits(spark, unitPages, t, cfg)
    val m = t.manifest(spark)
    assert(m.count() == cfg.nUnits)
    val cols = m.columns.toSet
    assert(cols.contains("rows") && cols.contains("bytes") && cols.contains("unit"))
    assert(cols.exists(_.startsWith("strategy_")))
    val totalRows = m.agg(sum(col("rows").cast("long"))).collect()(0).getLong(0)
    assert(totalRows == nPages)
    assert(totalRows == t.read(spark).count())
    // the committed columns are the cascade's row plus task-partition
    // lineage and the unit partition column: adding or dropping one is
    // a schema change of the table, so it has to change this list too
    assert(t.read(spark).columns.toSeq == Seq("url", "extracted_text", "spans",
      "strategy_used", "succeeded", "failure_reason", "partial", "title", "author",
      "publish_date", "warnings", "task_partition", "unit"))
  }

  test("an oversized page extracts where it lies, like CascadeExtractor.extract") {
    import testImplicits._
    // find an oversized-family id in the first 500
    val bigId = (0L until 500L).find(id =>
      SyntheticPages.familyOf(42L, id) == "oversized").get
    val page = SyntheticPages.pageFor(42L, bigId)
    val rows = ExtractJob.processUnit(Seq(page).toDF(), cfg)
      .drop("task_partition").as[Extracted].collect().toSeq
    val expected = new CascadeExtractor().extract(page.url, page.html, cfg.cascade)
    assert(expected.succeeded)
    assert(rows == Seq(expected))
  }

  test("re-publish is atomic: versioned manifest, unit never uncommitted") {
    import testImplicits._
    val dir = tempDir("graft-republish").toString
    val t = new IcebergLite(dir)
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    assert(t.commitUnit(df, 0) == 2)
    assert(t.committedUnits(spark) == Seq(0))
    val firstRows = t.manifest(spark).select("rows").collect()(0).getString(0)
    assert(firstRows == "2")
    assert(sortedRows(t.readAt(spark, t.snapshots(spark).last)) == sortedRows(t.read(spark)))
    // re-publish with new metrics: one snapshot rename swaps v1 for v2,
    // so the unit is committed throughout; reader sees latest
    t.writeData(df.union(Seq((3L, "c")).toDF("id", "v")), 0)
    assert(t.publish(spark, 0) == 3)
    assert(sortedRows(t.readAt(spark, t.snapshots(spark).last)) == sortedRows(t.read(spark)))
    assert(t.committedUnits(spark) == Seq(0)) // one unit, not one per version
    assert(t.manifest(spark).count() == 1)    // latest version only
    assert(t.manifest(spark).select("rows").collect()(0).getString(0) == "3")
    assert(t.read(spark).count() == 3)
  }

  test("manifest rows, files, bytes and version belong to the table, not the caller") {
    import testImplicits._
    val t = new IcebergLite(tempDir("graft-owned").toString)
    val n = t.commitUnit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 0,
      Map("rows" -> "99", "version" -> "7", "bytes" -> "-1", "files" -> "0", "source" -> "spec"))
    assert(n == 2)
    val m = t.manifest(spark).collect()(0)
    assert(m.getAs[String]("rows") == "2")
    assert(m.getAs[String]("version") == "1")
    assert(m.getAs[String]("files").toInt > 0 && m.getAs[String]("bytes").toLong > 0)
    assert(m.getAs[String]("source") == "spec") // other caller metrics are kept
  }

  test("snapshots: time travel reads past table states; expiry bounds storage") {
    import testImplicits._
    val dir = tempDir("graft-snap").toString
    val t = new IcebergLite(dir)
    t.commitUnit(Seq((1L, "a")).toDF("id", "v"), 0)                  // snap 1
    t.commitUnit(Seq((2L, "b")).toDF("id", "v"), 1)                  // snap 2
    t.commitUnit(Seq((1L, "a2"), (3L, "c")).toDF("id", "v"), 0)      // snap 3: unit 0 v2
    assert(t.snapshots(spark) == Seq(1, 2, 3))
    // live view: latest of each unit
    assert(t.read(spark).count() == 3)
    // time travel: snap 1 had only unit 0 v1
    assert(t.readAt(spark, 1).select("v").collect().map(_.getString(0)).toSeq == Seq("a"))
    // snap 2: unit 0 v1 + unit 1 v1
    assert(t.readAt(spark, 2).count() == 2)
    assert(t.readAt(spark, 2).where(col("unit") === 0)
      .select("v").collect().map(_.getString(0)).toSeq == Seq("a"))
    // snap 3 == live
    assert(t.readAt(spark, 3).count() == 3)
    // expire all but the newest: unit 0 v1's data (referenced only by
    // snaps 1-2) is deleted; the live state still reads
    t.expireSnapshots(spark, keepLast = 1)
    assert(t.snapshots(spark) == Seq(3))
    assert(!Files.exists(java.nio.file.Paths.get(t.dataPath(0, 1))),
      "expired data version must be deleted")
    assert(!Files.exists(java.nio.file.Paths.get(s"$dir/manifest/unit-0-v1.json")),
      "expired version's manifest must be deleted")
    assert(t.read(spark).count() == 3)
    assert(t.readAt(spark, 3).count() == 3)
    intercept[IllegalArgumentException](t.readAt(spark, 1))
  }

  test("a hot host's pages in one input partition spread over every core") {
    import testImplicits._
    // skew family: all rows on host-0.example
    val skewIds = (0L until 2000L).filter(id =>
      SyntheticPages.familyOf(42L, id) == "skew").take(60)
    val df = spark.createDataset(skewIds).coalesce(1).mapPartitions(
      _.map(id => SyntheticPages.pageFor(42L, id))).toDF()
    assert(df.rdd.getNumPartitions == 1)
    val out = ExtractJob.processUnit(df, cfg)
      .select("url", "succeeded", "task_partition").collect()
    assert(out.length == skewIds.size)
    assert(out.map(_.getString(0)).toSet.size == skewIds.size)
    assert(out.forall(_.getString(0).startsWith("https://host-0.example/")))
    assert(out.forall(_.getBoolean(1)))
    assert(out.map(_.getInt(2)).toSet.size == 4)
  }
}

/** Opened when a slow page starts; the broken page waits for it (tasks
  * in local mode share the JVM). One latch per test.
  */
private object UnitFailGate {
  val slowPage = new java.util.concurrent.CountDownLatch(1)
  val slowFailedUnitPage = new java.util.concurrent.CountDownLatch(1)
  val lastUnitPlanned = new java.util.concurrent.CountDownLatch(1)
}
