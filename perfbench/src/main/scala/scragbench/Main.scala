package scragbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

/** Benchmark harness entry point, launched by perfbench/run.py:
  *
  *   scragbench.Main --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --threads <n> --work <dir> [--scale <x>]
  *   scragbench.Main --train 1 --workload <a,b,c> --seed <n> --threads <n>
  *     --work <dir> [--scale <x>]
  *
  * Sets up three times (session start, staging the seeded inputs,
  * one warm-up pass; the workload's gate preparation is left out of the
  * set-up time), then runs pairs of batch passes, one at full width
  * and one at a single thread (alternating which goes first), with
  * closed-loop queries after every full-width pass. Writes `result.json` (and,
  * traced, `spans.jsonl`) into the work directory; run.py turns them
  * into metrics.
  */
object Main {
  /** Queries per run, spread over the full-width passes, so that the
    * 75th percentile has ten samples beyond it. */
  private val Queries = 60
  /** Set-ups per run; setup_s is their median. */
  private val Setups = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt.getOrElse("seconds", "0").toDouble
    val trace = opt.getOrElse("trace", "0") == "1"
    val threads = opt("threads").toInt
    val scale = opt.getOrElse("scale", "1").toDouble
    val work = Paths.get(opt("work")).toAbsolutePath
    Files.createDirectories(work)
    if (opt.get("train").contains("1")) return train(name.split(",").toSeq, seed, threads, scale, work)
    require(Workload.names.contains(name), s"unknown workload $name")

    val h = new Harness(name, seed, seconds, trace, threads, work)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    h.info("jvm_start_to_main_s") = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val w = Workload(name, h, scale)
    var ok = false
    try {
      for (rep <- 0 until Setups) {
        // the workload's gate preparation runs in the first set-up only
        // and is left out of every set-up time
        def clock = System.nanoTime() - h.untimedTotalNs
        val t0 = clock
        h.stopSession()
        h.session(threads)
        val t1 = clock
        w.stage(work.resolve(s"stage-$rep"))
        val t2 = clock
        w.warmUp()
        val t3 = clock
        h.sample("setup_s", (t3 - t0) / 1e9)
        h.sample("setup_session_s", (t1 - t0) / 1e9)
        h.sample("setup_stage_s", (t2 - t1) / 1e9)
        h.sample("setup_warm_s", (t3 - t2) / 1e9)
        if (rep > 0) Workload.deleteTree(work.resolve(s"stage-${rep - 1}"))
      }
      h.info("first_timed_call_s") = (System.currentTimeMillis() - jvmStartMs) / 1e3

      // passes pair up by index; the pairs alternate which thread level
      // goes first (the same order for every seed, so the first timed
      // pass is always a full-width one), and the closed-loop queries
      // follow each full-width pass
      h.startTimed()
      val passes = math.max(2, math.round(seconds / w.passSeconds).toInt)
      var q = 0
      for (p <- 0 until passes) {
        val levels = if (p % 2 == 0) Seq(threads, 1) else Seq(1, threads)
        for (level <- levels) {
          // every pass starts in a fresh session on a collected heap, so no
          // pass pays for the state or garbage of the one before it
          h.stopSession()
          h.session(level)
          System.gc()
          w.batch(level, p)
          if (level == threads) {
            val n = Queries * (p + 1) / passes - q
            h.tracer.span(name) { (0 until n).foreach { _ => w.query(q); q += 1 } }
          }
        }
      }
      h.info("passes") = passes
      h.info("timed_s") = h.timedElapsed
      if (trace) w.probeLayers()
      ok = true
    } catch {
      case NonFatal(e) =>
        h.failures += s"run: ${e.getClass.getSimpleName}: ${e.getMessage}"
        e.printStackTrace()
    } finally {
      h.drainListeners()
      h.stopSession()
    }
    if (trace) h.tracer.writeJsonLines(work.resolve("spans.jsonl"))
    val result = Map[String, Any](
      "workload" -> name, "seed" -> seed, "threads" -> threads, "completed" -> ok,
      "ops" -> h.ops.map { case (k, v) => k -> Map("attempted" -> v(0), "failed" -> v(1)) },
      "failures" -> h.failures.take(20),
      "samples" -> h.samples,
      "rates" -> h.rates,
      "info" -> h.info,
      "layers" -> h.layers,
      "tasks" -> h.taskRecords,
      "plans" -> (if (trace) h.planProbe.snapshot else Seq.empty))
    Files.write(work.resolve("result.json"), Json.render(result).getBytes(StandardCharsets.UTF_8))
    sys.exit(if (ok) 0 else 1)
  }

  /** Set up and warm each workload once, untimed: the class-loading
    * profile the launcher archives (class data sharing) at build time.
    */
  private def train(names: Seq[String], seed: Long, threads: Int, scale: Double,
      work: java.nio.file.Path): Unit = {
    for (name <- names) {
      val h = new Harness(name, seed, 0, trace = true, threads, work.resolve(name))
      val w = Workload(name, h, scale)
      try {
        h.session(threads)
        w.stage(h.work.resolve("stage"))
        w.warmUp()
        (0 until 4).foreach(w.query)
      } finally h.stopSession()
    }
    sys.exit(0)
  }
}
