package graft.tools

/** One-query timing harness for plan iteration:
  * runMain graft.tools.TimeQuery <queryName> <sfDir> [reps=2]
  *
  * Each rep materializes the whole result through the `noop` sink, as a
  * caller receiving it would. `.count()` is not that: it lets Catalyst
  * prune projections and the final sort, so per-row kernels the result
  * needs may never run (text_analysis: 0.14 s counted vs 1.82 s
  * materialized at sf0.1, local[4] on a 4-core host).
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.tools.TimeQuery <queryName> <sfDir> [reps=2]")
      sys.exit(2)
    }
    val name = args(0)
    val sfDir = args(1)
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = graft.util.Sessions.local(graft.util.Sessions.cpus, s"time-$name")
    for (r <- 1 to reps) {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"[time-query] $name rep=$r sec=${(System.nanoTime() - t0) / 1e9}%.3f")
    }
    spark.stop()
  }
}
