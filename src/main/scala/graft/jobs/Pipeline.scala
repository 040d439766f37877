package graft.jobs

import graft.text.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's normalize_whitespace processor
  * (core/processors/base.py:41-61) as a column transform; the
  * text_normalize query checks it against a DuckDB oracle.
  */
object Pipeline {

  /** Rewrites the `content` column and adds the processor's metadata
    * columns, `char_count` and `meets_threshold` — ProcessingContext →
    * ProcessingResult, columnar.
    */
  def normalizeWhitespace(minimumCharacters: Int = 0): DataFrame => DataFrame = df =>
    df.withColumn("content", TextFunctions.normalizeWhitespace(col("content")))
      .withColumn("char_count", length(col("content")))
      .withColumn("meets_threshold", length(col("content")) >= lit(minimumCharacters))
}
