package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries._

/** Query contract of Verify and Bench — see SURVEY.md §7.
  *
  * Every query except dedup_simhash carries a DuckDB oracle (same
  * logic, same rounding, same total ORDER BY). Kernel operators that
  * plain SQL cannot recompute use one of three techniques (all
  * hash-checked): inlined kernel constants (LSH hyperplanes), exact
  * set-similarity ground truth (minhash), or committed golden parquet
  * (cascade/chunker/winnowing — frozen outputs of the byte-pinned
  * kernels; media additionally carries generation-time truth columns
  * the decoder must re-derive from payload bytes). simhash stays
  * rows-only: its Java-hash kernel is not SQL-expressible; sbt recall
  * tests pin it instead.
  *
  * Each query and its oracle are declared once, side by side, in their
  * family's registry under `graft.queries`.
  */
object SparkEntry {
  /** Flagship: the extraction cascade (the north-star operator) over
    * 1,000 deterministic synthetic pages; it reads no tier file.
    * Driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame = ExtractionQueries.cascade(spark, 1000L)

  /** Committed golden-parquet dir: expected outputs for operators whose
    * semantics DuckDB cannot recompute (extraction cascade, chunker)
    * plus the real-format media corpus. The operator goldens are frozen
    * outputs of the spec'd kernels at sf0.01 (regenerated only on a
    * deliberate semantics change via GoldenGen, like the byte goldens);
    * the media parquet carries generation-time truth columns the decode
    * kernel must re-derive from the payload BYTES. Resolved against the
    * working directory, which is the project base for forked `run` and
    * `Test`; the absolute form keeps the oracle SQL's paths valid from
    * any directory.
    */
  val goldenDir: String =
    java.nio.file.Paths.get("src/test/resources/golden").toAbsolutePath.toString

  private[graft] lazy val registry: Map[String, Query] = Query.registry(
    RelationalQueries.all, StreamingQueries.all, ExtractionQueries.all,
    DedupQueries.all, SimilarityQueries.all, TextQueries.all,
    MultimodalQueries.all, CrawlQueries.all, SketchQueries.all)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (name, q) => name -> q.run }

  /** The names in a comma-separated list, each a registered query: the
    * optional query-list argument of Verify and Bench.
    */
  private[graft] def queryNames(list: String): Set[String] = {
    val names = list.split(",").toSet
    val unknown = names -- registry.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    names
  }
}
