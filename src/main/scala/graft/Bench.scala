package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

/** Driver-run query benchmark: `runMain graft.Bench [q1,q2,...]` times
  * every registered query (or the named ones) over the tier at
  * `SPARK_GRAFT_SF_DIR` and prints exactly ONE JSON line:
  * {"metric","value","unit","queries":{...},"sf","scaling":null}.
  * A failed query reads -1.0 and is named on stderr. The exit status
  * stays 0: a reader of the line keeps the other queries' timings.
  *
  * Extraction scaling is the benchmark's `scaling_eff`
  * (`perfbench/run.py --workload crawl_extract`), 1 to 4 threads,
  * measured end to end into a committed table.
  */
object Bench {

  /** Per query, in name order: its best seconds over three reps, or the
    * class of the exception that failed it.
    *
    * Each rep materializes the whole result through the `noop` sink, as a
    * caller receiving it would. `.count()` is not that: it lets Catalyst
    * prune projections and the final sort, so per-row kernels the result
    * needs may never run (text_analysis: 0.14 s counted vs 1.82 s
    * materialized at sf0.1, local[4] on a 4-core host).
    *
    * Rep visits are interleaved across the suite (rep 1 of every query,
    * then rep 2, then rep 3): back-to-back reps trap all of an early
    * query's visits in the session's cold window (codegen backlog,
    * first-touch JIT and parquet footers). Streaming queries run last:
    * their checkpoint/memory-sink machinery and AQE-disabled sessions
    * otherwise leave residue that taxes whatever batch query follows.
    */
  private[graft] def timeSuite(spark: SparkSession, sfDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)])
      : Seq[(String, Either[String, Double])] = {
    val ordered = queries
      .sortBy { case (name, _) => (name.startsWith("stream_"), name) }
    val failed = scala.collection.mutable.Map.empty[String, String]
    val best = scala.collection.mutable.Map.empty[String, Double]
    for (_ <- 1 to 3; (name, fn) <- ordered if !failed.contains(name)) {
      try {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val t = (System.nanoTime() - t0) / 1e9
        if (!best.get(name).exists(_ <= t)) best(name) = t
      } catch { case NonFatal(e) => failed(name) = e.getClass.getName }
    }
    ordered.map { case (name, _) =>
      name -> failed.get(name).toLeft(best(name))
    }.sortBy(_._1)
  }

  /** The JSON line: a failed query reads -1.0 and stays out of `value`. */
  private[graft] def render(sfDir: String,
      results: Seq[(String, Either[String, Double])]): String = {
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"${v.getOrElse(-1.0)}%.3f" }
      .mkString("{", ",", "}")
    val total = results.flatMap(_._2.toOption).sum
    f"""{"metric":"total_query_sec","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir","scaling":null}"""
  }

  def main(args: Array[String]): Unit = {
    val names = args match {
      case Array()     => SparkEntry.queries.keySet
      case Array(list) => SparkEntry.queryNames(list)
    }
    val queries = SparkEntry.queries.toSeq.filter { case (name, _) => names(name) }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.util.Sessions.local(graft.util.Sessions.cpus, "graft-bench")
    val results = try timeSuite(spark, sfDir, queries) finally spark.stop()
    val json = render(sfDir, results)
    // the session is stopped by here; silence any lingering logger and
    // flush so the ONE JSON line cannot interleave with shutdown WARNs
    org.apache.log4j.LogManager.getRootLogger
      .setLevel(org.apache.log4j.Level.ERROR)
    System.err.flush()
    println(json)
    Console.out.flush()
    // bench_result.json is the AUTHORITATIVE structured output: Spark's
    // shutdown-hook logging has interleaved with the stdout JSON line in
    // past rounds, and sbt prefixes stdout with "[info] ". The file is
    // written before any shutdown hook can run and is byte-identical to
    // the printed line.
    try Files.write(Paths.get("bench_result.json"), (json + "\n").getBytes("UTF-8"))
    catch { case NonFatal(_) => () }
    val failed = results.collect { case (name, Left(cls)) => s"$name ($cls)" }
    if (failed.nonEmpty)
      System.err.println("[bench] failed queries: " + failed.mkString(", "))
    // cheap extra channel: the same line on stderr, unprefixed by any
    // logger formatting
    System.err.println(json)
    System.err.flush()
  }
}
