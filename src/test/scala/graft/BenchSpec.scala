package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class BenchSpec extends AnyFunSuite with SparkSuite with TempDirs {

  private val names = Set("q1_agg", "join_enrich")
  private def named = SparkEntry.queries.toSeq.filter { case (n, _) => names(n) }

  test("the suite times each named query over a tier and reports no failure") {
    val results = Bench.timeSuite(spark, "/root/testdata/sf0.001", named)
    assert(results.map(_._1) == Seq("join_enrich", "q1_agg"))
    results.foreach { case (name, r) =>
      assert(r.exists(_ > 0), s"$name: $r")
    }
  }

  test("each rep materializes the columns that count() would prune") {
    val rows = spark.sparkContext.longAccumulator("bench-rows")
    val bump = udf { (id: Long) => rows.add(1); id }
    val query = (s: org.apache.spark.sql.SparkSession, _: String) =>
      s.range(100).select(bump(col("id")).as("x"))
    query(spark, "").count()
    assert(rows.value == 0, "count() pruned the projection")
    val results = Bench.timeSuite(spark, "", Seq("projected" -> query))
    assert(results.head._2.isRight, results)
    assert(rows.value == 3 * 100)
  }

  test("every named query over a missing tier is reported as failed") {
    val missing = tempDir("bench").resolve("no-such-tier").toString
    val results = Bench.timeSuite(spark, missing, named)
    assert(results.map(_._1).toSet == names)
    results.foreach { case (name, r) => assert(r.isLeft, s"$name: $r") }
  }

  test("the line is JSON whose value sums the timed queries; a failure reads -1") {
    val line = Bench.render("sfX",
      Seq("a" -> Right(1.5), "b" -> Left("java.io.IOException"), "c" -> Right(0.25)))
    val json = new ObjectMapper().readTree(line)
    assert(json.fieldNames.asScala.toSet ==
      Set("metric", "value", "unit", "queries", "sf", "scaling"))
    assert(json.get("metric").asText == "total_query_sec")
    assert(json.get("unit").asText == "sec")
    assert(json.get("sf").asText == "sfX")
    assert(json.get("scaling").isNull)
    assert(json.get("value").asDouble == 1.75)
    val qs = json.get("queries")
    assert(qs.fieldNames.asScala.toSeq == Seq("a", "b", "c"))
    assert(qs.get("a").asDouble == 1.5 && qs.get("b").asDouble == -1.0 &&
      qs.get("c").asDouble == 0.25)
  }

  test("a query list naming an unregistered query is rejected") {
    assert(SparkEntry.queryNames("q1_agg,join_enrich") == names)
    val e = intercept[IllegalArgumentException](SparkEntry.queryNames("q1_agg,q1_agh"))
    assert(e.getMessage.contains("unknown queries: q1_agh"), e.getMessage)
  }
}
