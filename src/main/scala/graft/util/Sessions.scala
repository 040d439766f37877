package graft.util

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built. Every main (Bench, Verify,
  * Cli, ExtractJob, the tools) and every test suite goes through
  * [[local]], so their configs cannot drift apart.
  */
object Sessions {

  /** Thread count for a main: `SPARK_GRAFT_CPUS`, else every core. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with one shuffle partition per thread, AQE, UTC, no
    * UI and WARN logs. `getOrCreate` semantics: while a session is
    * running it is returned as is, with only the runtime SQL confs
    * applied, so a caller wanting another width stops it first.
    */
  def local(cpus: Int, app: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // large binary blobs x 4096-row default column batches = GB-scale
      // batch buffers; size the reader batch for the payload
      .config("spark.sql.parquet.columnarReaderBatchSize", "64")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
