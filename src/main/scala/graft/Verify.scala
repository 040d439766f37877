package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A failed query
  * is named in the closing `[verify]` line; the exit status stays 0. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional third arg: comma-separated query names to dump (builder
    // iteration aid; the driver always passes exactly two args)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, Option.empty[Set[String]])
      case Array(s, o, f) => (s, o, Some(SparkEntry.queryNames(f)))
    }
    val spark = graft.util.Sessions.local(graft.util.Sessions.cpus, "graft-verify")
    val failed = try dump(spark, sfDir, outDir, only) finally spark.stop()
    System.err.println(s"[verify] ${failed.size} failed queries" +
      failed.mkString(if (failed.isEmpty) "" else ": ", ", ", ""))
  }

  /** Dumps each selected query and writes the oracles built for them;
    * returns the failed ones as `name (exception class)`. A query's
    * oracle is built first, inside the query's guard: an oracle that
    * reads the tier (the self-sizing ones) fails only its own query,
    * and a query that fails after its oracle keeps that oracle in
    * oracle_sql.json.
    */
  private[graft] def dump(spark: SparkSession, sfDir: String, outDir: String,
      only: Option[Set[String]]): Seq[String] = {
    Files.createDirectories(Paths.get(outDir))
    val oracles = Seq.newBuilder[(String, String)]
    val failed = SparkEntry.registry.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, query) =>
        try {
          oracles += name -> query.oracle(spark, sfDir)
          query.run(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case NonFatal(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(s"$name (${e.getClass.getName})")
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = oracles.result()
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    failed
  }
}
