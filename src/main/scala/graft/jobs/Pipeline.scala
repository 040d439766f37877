package graft.jobs

import graft.extract.{CascadeConfig, Extract}
import graft.table.IcebergLite
import graft.text.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's PipelineRunner composition (core/pipeline.py:26-97):
  * extract → processor fold → store, as Dataset transforms. Processors
  * are registered column transforms applied with foldLeft — the typed
  * equivalent of PROCESSOR_REGISTRY + build_processors
  * (core/processors/base.py:64-87); unknown names are skipped silently
  * like the reference.
  */
object Pipeline {

  /** A processor rewrites the content column (and may add metadata
    * columns) — ProcessingContext → ProcessingResult, columnar.
    */
  type Processor = DataFrame => DataFrame

  def normalizeWhitespace(minimumCharacters: Int = 0): Processor = df =>
    df.withColumn("content", TextFunctions.normalizeWhitespace(col("content")))
      .withColumn("char_count", length(col("content")))
      .withColumn("meets_threshold", length(col("content")) >= lit(minimumCharacters))

  val registry: Map[String, Processor] = Map(
    "normalize_whitespace" -> normalizeWhitespace(),
    "simple" -> normalizeWhitespace()) // reference alias (base.py:64-66)

  /** extract → fold(processors) → optional store.
    * Output columns: extraction row + `content` (processed text) +
    * processor metadata columns.
    */
  def run(
      pages: DataFrame,
      cascade: CascadeConfig = CascadeConfig(),
      processors: Seq[String] = Seq("normalize_whitespace"),
      store: Option[IcebergLite] = None): DataFrame = {
    val extracted = Extract.extractPages(pages, cascade).toDF()
      .withColumn("content", col("extracted_text"))
    val processed = processors.flatMap(registry.get) // unknown names skipped
      .foldLeft(extracted)((df, p) => p(df))
    store.foreach(_.commitUnit(processed, 0))
    processed
  }
}
