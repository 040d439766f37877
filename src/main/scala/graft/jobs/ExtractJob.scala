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
  * `partitionsPerUnit` sizes [[ExtractJob.main]]'s synthetic source
  * only. The benchmark's crawl_extract workload sets it too, but the
  * job never reads it: it extracts on its input's own partitions,
  * spread round-robin to the core count when it has fewer.
  */
final case class ExtractJobConfig(
    nUnits: Int = 8,
    partitionsPerUnit: Int = 32,
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
  *  - **Extraction is map-side.** The cascade runs on the input's own
  *    partitions: one scan, no exchange. An input with fewer partitions
  *    than the cluster has cores is spread round-robin to that width
  *    first, so a unit staged as one file does not run its cascade in
  *    one task. With no shuffle there is no host skew: a hot host's
  *    pages stay in the splits that hold them. Round-robin staging (as
  *    `Cli extract` stages) deals oversized pages out by count, and
  *    Spark packs a unit's files into byte-range splits by bytes.
  *  - **Overlapped units.** Two writes are queued ahead of the publish:
  *    units u+1 and u+2 have started before unit u is published, so
  *    each unit's planning and publishing hide behind running jobs.
  *    Publishes stay serial, in unit order.
  *  - **Lineage.** Every output row carries its task partition id; the
  *    manifest row carries per-unit row/byte counts, which IcebergLite
  *    reads from the written files, and the strategy/failure histogram.
  */
object ExtractJob {

  /** Run the cascade over one unit's pages. The optional histogram
    * accumulator is threaded into the cascade kernel itself so strategy
    * counts are collected during the caller's action with zero extra
    * row-codec passes.
    */
  def processUnit(pages: DataFrame, cfg: ExtractJobConfig,
      hist: Option[MapAccumulator] = None): DataFrame = {
    // the round-robin spread ships only the kernel's two columns
    val input = atClusterWidth(pages.select(col("url"), col("html")))
    Extract.extractPages(input, cfg.cascade, hist).toDF()
      .withColumn("task_partition", spark_partition_id())
  }

  /** The cascade's input: its own partitions when it has at least one
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
    */
  def runUnits(
      spark: SparkSession,
      unitPages: Int => DataFrame,
      out: IcebergLite,
      cfg: ExtractJobConfig): Seq[Int] = {
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
      for (u <- todo) {
        val next = Try(start(u))
        next.foreach(inFlight.enqueue(_))
        // a unit that cannot start fails the run after the units before it
        while (inFlight.size > WritesAhead || (next.isFailure && inFlight.nonEmpty))
          publishOldest()
        next.get
      }
      while (inFlight.nonEmpty) publishOldest()
    } finally inFlight.foreach(_.cancel())
    processed.toSeq
  }

  /** spark-submit main: synthetic-pages source, generated as
    * `partitionsPerUnit` (= cpus) partitions per unit.
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
