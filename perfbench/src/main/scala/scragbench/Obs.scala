package scragbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds (fractional), so
  * they line up with the task launch/finish times Spark reports.
  */
final class Span(val traceId: String, val id: Long, val parent: Long,
    val name: String, val startMs: Double) {
  var endMs: Double = Double.NaN
  val attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty

  def toJson: String = Json.render(mutable.LinkedHashMap[String, Any](
    "trace_id" -> traceId, "span_id" -> id, "parent" -> parent,
    "name" -> name, "start_ms" -> startMs, "end_ms" -> endMs) ++ attrs)
}

/** In-memory span recorder for the driver thread. Each open span becomes
  * the Spark job group, so the task listener can attribute every task to
  * the innermost span that caused it. Disabled, it records nothing and
  * touches no job group.
  */
final class Tracer(val enabled: Boolean, traceId: String,
    setJobGroup: Option[Long] => Unit) {
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis().toDouble
  private var nextId = 1L
  private var stack: List[Span] = Nil
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty

  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  def open(name: String): Span = {
    if (!enabled) return null
    val s = new Span(traceId, nextId, stack.headOption.map(_.id).getOrElse(0L), name, nowMs)
    nextId += 1
    val (gcMs, gcCount) = Obs.gcTotals()
    s.attrs("gc_ms0") = gcMs; s.attrs("gc_count0") = gcCount
    spans += s
    stack = s :: stack
    setJobGroup(Some(s.id))
    s
  }

  def close(s: Span): Unit = {
    if (s == null) return
    require(stack.headOption.contains(s), s"span ${s.name} closed out of order")
    s.endMs = nowMs
    val (gcMs, gcCount) = Obs.gcTotals()
    s.attrs("jvm_gc_ms") = gcMs - s.attrs.remove("gc_ms0").get.asInstanceOf[Long]
    s.attrs("jvm_gc_count") = gcCount - s.attrs.remove("gc_count0").get.asInstanceOf[Long]
    stack = stack.tail
    setJobGroup(stack.headOption.map(_.id))
  }

  def span[T](name: String)(body: => T): T = {
    val s = open(name)
    try body finally close(s)
  }

  /** Job group to restore after a session restart. */
  def currentId: Option[Long] = stack.headOption.map(_.id)

  def writeJsonLines(path: java.nio.file.Path): Unit =
    java.nio.file.Files.write(path,
      spans.map(_.toJson).mkString("", "\n", "\n").getBytes("UTF-8"))
}

/** Task, stage and job records from the scheduler, keyed by the job
  * group (= span id) that was active when the job was submitted. One
  * probe per SparkContext (`ctx` numbers them): stage ids restart with
  * every context.
  */
final class TaskProbe(ctx: Int) extends SparkListener {
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val tasks = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()

  private def group(stageId: Int): String = stageGroup.getOrDefault(stageId, "")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageInfos.foreach(s => stageGroup.putIfAbsent(s.stageId, g))
    jobs.add(Map("group" -> g, "job" -> e.jobId, "time_ms" -> e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    stages.add(Map("group" -> group(s.stageId), "ctx" -> ctx, "stage" -> s.stageId,
      "attempt" -> s.attemptNumber(), "tasks" -> s.numTasks,
      "failed" -> s.failureReason.isDefined))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    val base = Map[String, Any]("group" -> group(e.stageId), "ctx" -> ctx, "stage" -> e.stageId,
      "stage_attempt" -> e.stageAttemptId, "launch_ms" -> i.launchTime,
      "finish_ms" -> i.finishTime, "failed" -> !i.successful)
    tasks.add(if (m == null) base else base ++ Map(
      "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
      "gc_ms" -> m.jvmGCTime,
      "shuffle_write_b" -> m.shuffleWriteMetrics.bytesWritten,
      "shuffle_read_b" -> m.shuffleReadMetrics.totalBytesRead,
      "spill_b" -> (m.memoryBytesSpilled + m.diskBytesSpilled)))
  }

  def tasksSeen: Seq[Map[String, Any]] = tasks.asScala.toSeq
  def jobsSeen: Seq[Map[String, Any]] = jobs.asScala.toSeq
  def stagesSeen: Seq[Map[String, Any]] = stages.asScala.toSeq
}

/** Catalyst planning phases (analysis, optimization, planning) of every
  * query execution, with their wall-clock interval so the analysis can
  * attribute them to the span that was open at the time.
  */
final class PlanProbe extends QueryExecutionListener {
  private val recs = new ConcurrentLinkedQueue[Map[String, Any]]()

  private def record(funcName: String, qe: QueryExecution, ok: Boolean): Unit = {
    val phases = qe.tracker.phases
    if (phases.nonEmpty) recs.add(Map(
      "func" -> funcName, "ok" -> ok,
      "start_ms" -> phases.values.map(_.startTimeMs).min,
      "plan_ms" -> phases.values.map(_.durationMs).sum))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe, ok = true)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(funcName, qe, ok = false)

  def snapshot: Seq[Map[String, Any]] = recs.asScala.toSeq
}

object Obs {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  /** (collection ms, collection count) summed over every collector. */
  def gcTotals(): (Long, Long) =
    (gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum,
      gcBeans.map(b => math.max(0L, b.getCollectionCount)).sum)
}
