package scragbench

import java.nio.file.{Files, Path}

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.functions._

import graft.table.IcebergLite

/** One benchmark workload. Each has the same shape so that every
  * end-to-end metric is defined on every workload:
  *
  *  - a batch path that commits an [[IcebergLite]] table, run at the
  *    host's thread count over the whole staged input (`docs_per_s`) and
  *    at one thread over a quarter of it (`scaling_eff`);
  *  - a closed loop of one client reading single results back from the
  *    committed table (`query_p50_ms`, `query_p75_ms`).
  */
abstract class Workload(val h: Harness) {

  /** Seconds of --seconds per pair of batch passes (at least two pairs
    * run); sized so a pair takes about that long on a 4-core host. */
  def passSeconds: Double

  /** Generate the seeded inputs and stage them as parquet under `dir`.
    * Preparing the gates' expectations goes in [[Harness.untimed]].
    */
  def stage(dir: Path): Unit

  /** One untimed pass over every code path the timed loop uses. */
  def warmUp(): Unit

  /** Batch pass at `threads` executor threads; `round` numbers the pair
    * of passes (and picks the quarter a one-thread pass uses).
    */
  def batch(threads: Int, round: Int): Unit

  /** One closed-loop query (timed, gated) against the latest committed
    * output of the full-width batch pass.
    */
  def query(i: Int): Unit

  /** Per-layer probes for the traced run; untimed. */
  def probeLayers(): Unit

  // ---- shared helpers ----

  protected def tableDir(tag: String): String = h.work.resolve("out").resolve(tag).toString

  /** Drop a table directory (outputs are kept only while they are read). */
  protected def dropTable(t: IcebergLite): Unit = if (t != null) t.drop(h.spark)

  /** Total size of the parquet files under a directory tree. */
  protected def parquetBytes(dir: String): Long = {
    val p = new HPath(dir)
    val fs = p.getFileSystem(h.spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var total = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) total += f.getLen
    }
    total
  }

  /** Committed manifest as (unit -> field map). */
  protected def manifest(t: IcebergLite): Map[Int, Map[String, String]] = {
    val df = t.manifest(h.spark)
    val cols = df.columns.toSeq
    df.collect().map { r =>
      val m = cols.zipWithIndex.collect { case (c, i) if !r.isNullAt(i) => c -> r.get(i).toString }.toMap
      m("unit").toInt -> m
    }.toMap
  }

  /** Rows read back per committed unit. */
  protected def rowsPerUnit(t: IcebergLite): Map[Int, Long] =
    t.read(h.spark).groupBy(col("unit")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap

  /** Time a table write against a no-op-sink materialization of the same
    * frame, then the publish, on a scratch table (traced run only). The
    * frame is built before the clock starts: some builders (connected
    * components) run jobs eagerly.
    */
  protected def probeTableWrite(frame: => org.apache.spark.sql.DataFrame, reps: Int): Unit = {
    val spark = h.spark
    var writeS = 0.0
    var publishMs = 0.0
    for (r <- 0 until reps) {
      val f = frame // built once, outside the timed calls
      val t0 = System.nanoTime()
      f.write.format("noop").mode("overwrite").save()
      val noop = h.since(t0)
      val t = new IcebergLite(tableDir(s"probe-write-$r"))
      val t1 = System.nanoTime()
      t.writeData(f, 0)
      val write = h.since(t1)
      val t2 = System.nanoTime()
      t.publish(spark, 0)
      publishMs += h.since(t2) * 1e3
      writeS += write - noop
      dropTable(t)
    }
    h.layers("table.write_s") = writeS / reps
    h.layers("table.publish_ms") = publishMs / reps
  }
}

object Workload {
  def apply(name: String, h: Harness, scale: Double): Workload = name match {
    case "crawl_extract" => new CrawlExtract(h, scale)
    case "rag_serve" => new RagServe(h, scale)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  val names: Seq[String] = Seq("crawl_extract", "rag_serve")

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.deleteIfExists(x))
    finally s.close()
  }
}
