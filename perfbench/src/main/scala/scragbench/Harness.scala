package scragbench

import java.nio.file.Path
import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Run-wide state shared by the workloads: the Spark session at the
  * current thread level, the tracer and listeners (traced runs only),
  * operation accounting for the correctness gate, and raw samples.
  *
  * Every timed operation goes through [[attempt]]: an operation that
  * throws or fails its check is counted as failed and stays in the
  * attempted total.
  */
final class Harness(val workload: String, val seed: Long, val seconds: Double,
    val trace: Boolean, val maxThreads: Int, val work: Path) {

  private var current: SparkSession = _
  private var currentCores = 0

  private val taskProbes = mutable.ArrayBuffer.empty[TaskProbe]
  val planProbe = new PlanProbe
  val tracer = new Tracer(trace, s"$workload-seed$seed", id => setJobGroup(id))

  /** name -> (attempted, failed) */
  val ops: mutable.LinkedHashMap[String, Array[Long]] = mutable.LinkedHashMap.empty
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  val samples: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty
  val info: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  val layers: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  /** Input docs/s of each batch pass, with its round and thread level;
    * run.py derives `docs_per_s` and `scaling_eff` from them.
    */
  val rates: mutable.ArrayBuffer[Map[String, Any]] = mutable.ArrayBuffer.empty

  private var timedStartNs = 0L
  private var untimedNs = 0L

  def spark: SparkSession = current
  def cores: Int = currentCores

  /** The session at `threads` executor threads (capped at the host),
    * restarting it when the level changes.
    */
  def session(threads: Int): SparkSession = {
    val n = math.min(threads, maxThreads)
    if (current != null && currentCores == n) return current
    stopSession()
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName(s"scragbench-$workload")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.columnarReaderBatchSize", "64")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    if (trace) {
      taskProbes += new TaskProbe(taskProbes.size)
      s.sparkContext.addSparkListener(taskProbes.last)
      s.listenerManager.register(planProbe)
    }
    current = s
    currentCores = n
    setJobGroup(tracer.currentId)
    s
  }

  def stopSession(): Unit = if (current != null) {
    current.stop()
    current = null
    currentCores = 0
  }

  private def setJobGroup(id: Option[Long]): Unit = if (trace && current != null) {
    val sc = current.sparkContext
    id match {
      case Some(i) => sc.setJobGroup(i.toString, s"span $i", interruptOnCancel = false)
      case None => sc.clearJobGroup()
    }
  }

  /** Run one gated operation; returns whether it succeeded. A failed
    * [[Harness.gate]] or any other exception marks it failed.
    */
  def attempt(kind: String)(body: => Unit): Boolean = {
    val c = ops.getOrElseUpdate(kind, Array(0L, 0L))
    c(0) += 1
    try { body; true }
    catch {
      case NonFatal(e) =>
        c(1) += 1
        failures += s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}"
        false
    }
  }

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def rate(round: Int, threads: Int, docsPerS: Double): Unit =
    rates += Map("round" -> round, "threads" -> threads, "docs_per_s" -> docsPerS)

  /** Run the benchmark's own preparation (gate expectations, the query
    * pool), whose time set-up leaves out.
    */
  def untimed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally untimedNs += System.nanoTime() - t0
  }

  /** Nanoseconds spent in [[untimed]] so far. */
  def untimedTotalNs: Long = untimedNs

  def startTimed(): Unit = timedStartNs = System.nanoTime()
  def timedElapsed: Double = (System.nanoTime() - timedStartNs) / 1e9

  /** Seconds since `t0` (a System.nanoTime value). */
  def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Everything the task probes recorded, over all sessions. */
  def taskRecords: Map[String, Seq[Map[String, Any]]] = Map(
    "tasks" -> taskProbes.flatMap(_.tasksSeen).toSeq,
    "jobs" -> taskProbes.flatMap(_.jobsSeen).toSeq,
    "stages" -> taskProbes.flatMap(_.stagesSeen).toSeq)

  def drainListeners(): Unit =
    if (trace && current != null) org.apache.spark.BenchBus.drain(current.sparkContext)
}

object Harness {
  final class GateFailure(msg: String) extends RuntimeException(msg)

  /** Correctness gate inside an [[Harness.attempt]]. */
  def gate(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new GateFailure(msg)
}
