package graft.jobs

import graft.SparkSuite
import graft.table.{IcebergLite, SyntheticPages}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** PipelineRunner composition parity (core/pipeline.py:26-97) and SQL
  * registration of native expressions.
  */
class PipelineSpec extends AnyFunSuite with SparkSuite {

  test("extract -> processor fold -> store; processors normalize content") {
    val dir = Files.createTempDirectory("pipe").toString
    val out = new IcebergLite(dir)
    val pages = SyntheticPages.generate(spark, 120, partitions = 4).toDF()
    val result = Pipeline.run(pages, store = Some(out))
    val rows = result.where(col("succeeded")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val content = r.getAs[String]("content")
      // normalize_whitespace: no doubled spaces, no newlines
      assert(!content.contains("\n") && !content.contains("  "))
      assert(r.getAs[Int]("char_count") == content.length)
      assert(r.getAs[Boolean]("meets_threshold"))
    }
    // extraction columns preserved alongside processor output
    assert(result.columns.contains("extracted_text") &&
      result.columns.contains("strategy_used"))
    // stored and committed
    val stored = out.read(spark).count()
    assert(stored == 120)
    assert(out.manifest(spark).select("rows").collect()(0).getString(0) == stored.toString)
    out.drop(spark)
  }

  test("unknown processor names silently skipped (reference behavior)") {
    val pages = SyntheticPages.generate(spark, 10, partitions = 2).toDF()
    val result = Pipeline.run(pages, processors = Seq("bogus", "normalize_whitespace"))
    assert(result.count() == 10)
  }

  test("cosine_sim registered for SQL") {
    graft.functions.Register.all(spark)
    val r = spark.sql(
      "SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c").collect()(0)
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    val r2 = spark.sql(
      "SELECT cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), array(0.0D, 1.0D)) AS c")
      .collect()(0)
    assert(math.abs(r2.getDouble(0)) < 1e-12)
  }
}
