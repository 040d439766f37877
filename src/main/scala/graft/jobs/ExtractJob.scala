package graft.jobs

import graft.extract.{CascadeConfig, Extract}
import graft.table.{IcebergLite, SyntheticPages}
import graft.util.MapAccumulator
import org.apache.spark.{JobExecutionStatus, SparkContext}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.util.Try

/** Job shaping knobs for the extraction pipeline at scale.
  * `partitionsPerUnit`, `bigHtmlBytes`, `hostBudget` and `saltBuckets`
  * shape host-grouped mode only; url-hash mode extracts on the input's
  * own partitions, spread round-robin to the core count when it has
  * fewer.
  */
final case class ExtractJobConfig(
    nUnits: Int = 8,
    partitionsPerUnit: Int = 32,
    bigHtmlBytes: Long = 256L * 1024,
    groupByHost: Boolean = false,
    hostBudget: Long = 10000,
    saltBuckets: Int = 16,
    cascade: CascadeConfig = CascadeConfig())

/** The north-rule extraction job (BASELINE.json): pages → cascade →
  * IcebergLite table, with the 10^12-document mechanics made explicit:
  *
  *  - **Units = resume granularity.** The input is processed as nUnits
  *    independent slices; each completed unit gets its manifest and is
  *    committed by one atomic snapshot rename. A killed job re-runs only
  *    units the newest snapshot does not name and never re-reads
  *    committed input (each unit reads only its own input slice — no
  *    full rescan per unit). At 10^12 docs a unit is a group of Iceberg
  *    data files sized to minutes of cluster work.
  *  - **Url-hash mode is map-side.** The default mode runs the cascade
  *    on the input's own partitions: one scan, no exchange. An input
  *    with fewer partitions than the cluster has cores is spread
  *    round-robin to that width first, so a unit staged as one file
  *    does not run its cascade in one task.
  *  - **Host-grouped (politeness) mode** repartitions by host into
  *    `partitionsPerUnit` partitions; hosts whose row count exceeds
  *    `hostBudget` are salted with `xxhash64(url) % saltBuckets` so one
  *    hot host cannot pin a partition (AQE covers shuffle skew, not
  *    map-side compute skew — SURVEY.md §4.1). Pages of at least
  *    `bigHtmlBytes` are split off and round-robin rebalanced so a 100MB
  *    page cannot straggle a partition of 4KB pages; outputs are unioned.
  *  - **Overlapped units.** Two writes are queued ahead of the publish:
  *    units u+1 and u+2 have started before unit u is published, so
  *    each unit's planning and publishing hide behind running jobs.
  *    Publishes stay serial, in unit order.
  *  - **Lineage.** Every output row carries its task partition id; the
  *    manifest row carries per-unit row/byte counts, which IcebergLite
  *    reads from the written files, and the strategy/failure histogram.
  */
object ExtractJob {

  /** Shape one unit's pages and run the cascade. The optional histogram
    * accumulator is threaded into the cascade kernel itself so strategy
    * counts are collected during the caller's action with zero extra
    * row-codec passes.
    */
  def processUnit(pages: DataFrame, cfg: ExtractJobConfig,
      hist: Option[MapAccumulator] = None): DataFrame = {
    // the kernel sees url and html only: an `extras` column would
    // switch extractPages to its extras path
    val input = pages.select(col("url"), col("html"))
    val extracted =
      if (cfg.groupByHost) hostGrouped(input, cfg, hist)
      else Extract.extractPages(atClusterWidth(input), cfg.cascade, hist).toDF()
    extracted.withColumn("task_partition", spark_partition_id())
  }

  /** Url-hash mode's input: its own partitions when it has at least one
    * per core, else a round-robin spread to the core count. For a scan,
    * counting partitions plans its file splits and runs no job; it reads
    * the physical plan's RDD, since `pages.rdd` would plan a Row
    * conversion and post an SQL execution of its own. A
    * byte-range split of a parquet file reads only the row groups
    * assigned to its range, so a unit staged as one large
    * single-row-group file counts as many partitions but runs as one
    * task: stage units as several files, as `Cli extract` does. The
    * media queries spread their one-file golden scans through it too,
    * so a CPU-bound decode does not run in one task.
    */
  private[graft] def atClusterWidth(pages: DataFrame): DataFrame = {
    val cores = pages.sparkSession.sparkContext.defaultParallelism
    if (pages.queryExecution.toRdd.getNumPartitions >= cores) pages else pages.repartition(cores)
  }

  /** Host-grouped (politeness) mode: salted host repartition for the
    * pages under `bigHtmlBytes`, a round-robin pool for the rest.
    */
  private def hostGrouped(pages: DataFrame, cfg: ExtractJobConfig,
      hist: Option[MapAccumulator]): DataFrame = {
    // null html must remain a ROW (the cascade's fetch-failure reason
    // row — errors as data): a bare length() is NULL for it, and a NULL
    // predicate fails BOTH size buckets, silently dropping the page
    val withLen = pages.withColumn("html_len", coalesce(length(col("html")), lit(0)))

    val small = withLen.where(col("html_len") < cfg.bigHtmlBytes)
    val big = withLen.where(col("html_len") >= cfg.bigHtmlBytes)

    // skew pre-pass: hosts over budget get a per-url salt. The hot
    // set is hash-aggregated (tiny: only over-budget hosts survive)
    // and applied via broadcast left join — no driver collect, so
    // the same plan holds when the hot set itself is large
    val host = parse_url(col("url"), lit("HOST"))
    val hotHosts = withLen.select(host.as("hot_host"))
      .groupBy("hot_host").count()
      .where(col("count") > cfg.hostBudget)
      .select(col("hot_host"), lit(true).as("is_hot"))
    val key = when(col("is_hot"),
        concat(col("page_host"), lit("#"),
          pmod(xxhash64(col("url")), lit(cfg.saltBuckets))))
      .otherwise(col("page_host"))
    val smallSpread = small.withColumn("page_host", host)
      .join(broadcast(hotHosts), col("page_host") === col("hot_host"), "left")
      .repartition(cfg.partitionsPerUnit, key)
      .drop("page_host", "hot_host", "is_hot")

    // round-robin spreads the huge blobs evenly without needing stats.
    // Full unit width, NOT a narrowed pool: separating blobs from the
    // 4KB pages is what prevents stragglers; once separated, the blob
    // stage is uniform-expensive rows and deserves every core — a
    // max(2, width/4) pool here measured as an Amdahl cap (oversized
    // bodies are ~half the corpus BYTES at 0.5% of rows, and a fixed
    // 2-partition stage froze 2->8-thread scaling at 0.63, SkewBench)
    val bigSpread = big.repartition(cfg.partitionsPerUnit)

    Extract.extractPages(smallSpread, cfg.cascade, hist).toDF()
      .unionByName(Extract.extractPages(bigSpread, cfg.cascade, hist).toDF())
  }

  /** One unit's staged write, running on a thread of its own. The
    * thread is created after the unit's input was planned, so it
    * inherits the caller's Spark local properties (job group,
    * description) as they stood then; a job tag of its own lets
    * [[cancel]] stop exactly its jobs.
    */
  private final class UnitWrite(val unit: Int, val hist: MapAccumulator,
      sc: SparkContext, write: () => Unit) {
    private val tag = s"graft-extract-unit-$unit-${java.util.UUID.randomUUID}"
    private var error: Throwable = _
    private val thread = new Thread(() => {
      sc.addJobTag(tag)
      try write() catch { case t: Throwable => error = t }
    }, s"graft-extract-unit-$unit")
    thread.setDaemon(true)
    thread.start()

    /** Wait for the write to end; rethrows its failure. */
    def await(): Unit = {
      thread.join()
      if (error != null) throw error
    }

    /** Cancel the write's jobs and wait for its thread to end, then for
      * every task of its jobs: Spark kills tasks asynchronously, and a
      * task still running after its job ended can re-create the unit's
      * `_temporary` dir. The first loop also catches a job the thread
      * submits after the first cancel. The second is bounded because
      * the status tracker is fed by a listener queue that drops events
      * when it is full, so it might never report the end.
      */
    def cancel(): Unit = {
      while (thread.isAlive) {
        sc.cancelJobsWithTag(tag)
        thread.join(100)
      }
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!settled && System.nanoTime() < deadline) Thread.sleep(10)
    }

    /** The status tracker has seen every job of the write end (so it has
      * seen their tasks start) and no task of theirs is still running.
      */
    private def settled: Boolean = {
      val st = sc.statusTracker
      st.getJobIdsForTag(tag).forall(j => st.getJobInfo(j).forall { job =>
        job.status != JobExecutionStatus.RUNNING &&
          job.stageIds.forall(s => st.getStageInfo(s).forall(_.numActiveTasks == 0))
      })
    }
  }

  /** How many unit writes run ahead of the unit being published. */
  private val WritesAhead = 2

  /** Run all uncommitted units; returns the units processed this run.
    * Units overlap two ahead: units u+1 and u+2 are planned and their
    * writes started before unit u is published. Publishes run on the
    * caller's thread, in unit order. On a failure every unpublished
    * write is cancelled and joined, so none outlives this call, and the
    * exception is the one of the earliest unit that failed.
    * `failAfterUnits` is a test hook for kill-and-rerun resume proofs:
    * it throws once that many units are published.
    */
  def runUnits(
      spark: SparkSession,
      unitPages: Int => DataFrame,
      out: IcebergLite,
      cfg: ExtractJobConfig,
      failAfterUnits: Int = Int.MaxValue): Seq[Int] = {
    val done = out.committedUnits(spark).toSet
    val todo = (0 until cfg.nUnits).filterNot(done)
    val processed = mutable.ArrayBuffer.empty[Int]

    def start(u: Int): UnitWrite = {
      // strategy histogram via accumulator: counted inside the cascade
      // kernel during the write action itself — no second pass over
      // the written files and no row-codec detour on the hot path
      val hist = new MapAccumulator
      spark.sparkContext.register(hist, s"strategy-histogram-unit-$u")
      val extracted = processUnit(unitPages(u), cfg, Some(hist))
      new UnitWrite(u, hist, spark.sparkContext, () => out.writeData(extracted, u))
    }

    // started and not yet published, in unit order; a write leaves the
    // queue only once published, so a failed one is still cancelled
    val inFlight = mutable.Queue.empty[UnitWrite]
    def publishOldest(): Unit = {
      val w = inFlight.head
      w.await()
      out.publish(spark, w.unit,
        w.hist.value.map { case (k, v) => s"strategy_$k" -> v.toString })
      processed += w.unit
      inFlight.dequeue()
    }

    try {
      for (u <- todo.take(failAfterUnits)) {
        val next = Try(start(u))
        next.foreach(inFlight.enqueue(_))
        // a unit that cannot start fails the run after the units before it
        while (inFlight.size > WritesAhead || (next.isFailure && inFlight.nonEmpty))
          publishOldest()
        next.get
      }
      while (inFlight.nonEmpty) publishOldest()
    } finally inFlight.foreach(_.cancel())
    if (todo.size > failAfterUnits)
      throw new RuntimeException(s"injected failure before unit ${todo(failAfterUnits)}")
    processed.toSeq
  }

  /** spark-submit main: synthetic-pages source.
    * args: outPath [nPages=20000] [nUnits=8] [cpus from SPARK_GRAFT_CPUS]
    */
  def main(args: Array[String]): Unit = {
    val outPath = args(0)
    val nPages = if (args.length > 1) args(1).toLong else 20000L
    val nUnits = if (args.length > 2) args(2).toInt else 8
    val cpus = graft.util.Sessions.cpus
    val spark = graft.util.Sessions.local(cpus, "graft-extract")

    val cfg = ExtractJobConfig(nUnits = nUnits, partitionsPerUnit = cpus)
    val out = new IcebergLite(outPath)
    val perUnit = (nPages + nUnits - 1) / nUnits
    def unitPages(u: Int): DataFrame = {
      val lo = u * perUnit
      val hi = math.min(nPages, (u + 1) * perUnit)
      import spark.implicits._
      spark.range(lo, hi, 1, cfg.partitionsPerUnit)
        .mapPartitions(_.map(id => SyntheticPages.pageFor(42L, id))).toDF()
    }
    val t0 = System.nanoTime()
    val ran = runUnits(spark, unitPages, out, cfg)
    val sec = (System.nanoTime() - t0) / 1e9
    // the committed manifests' rows, units of earlier (resumed) runs included
    val total = out.manifest(spark).select("rows").collect().map(_.getString(0).toLong).sum
    println(f"extract-job: units_run=${ran.size} total_rows=$total " +
      f"wall=$sec%.2fs docs_per_sec=${total / sec}%.1f")
    spark.stop()
  }
}
