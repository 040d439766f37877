package graft.extract

import graft.SparkSuite
import graft.table.SyntheticPages
import org.scalatest.funsuite.AnyFunSuite

/** Dataset-level extraction: distributed, shuffle-free, deterministic
  * under any partitioning.
  */
class ExtractSparkSpec extends AnyFunSuite with SparkSuite {

  test("extractPages: end-to-end over synthetic corpus, errors as data") {
    val pages = SyntheticPages.generate(spark, 300, seed = 42, partitions = 8)
    val out = Extract.extractPages(pages.toDF()).cache()
    val n = out.count()
    assert(n == 300)
    val failed = out.filter(!_.succeeded).collect()
    assert(failed.nonEmpty) // the empty family must fail as data
    assert(failed.forall(_.failure_reason == "no_html_or_url"))
    val strategies = out.filter(_.succeeded).collect().map(_.strategy_used).toSet
    assert(strategies.contains("newspaper"))
    assert(strategies.contains("readability"))
    out.unpersist()
  }

  test("extractPages: identical results at 2 vs 13 partitions") {
    def run(parts: Int): Map[String, (String, String)] = {
      val pages = SyntheticPages.generate(spark, 120, seed = 42, partitions = parts)
      Extract.extractPages(pages.toDF()).collect()
        .map(e => e.url -> ((if (e.extracted_text == null) "" else e.extracted_text), e.strategy_used + e.partial))
        .toMap
    }
    val a = run(2)
    val b = run(13)
    assert(a.keySet == b.keySet)
    a.foreach { case (url, v) => assert(b(url) == v, s"row diverged: $url") }
  }

  test("extraction plan is a single shuffle-free stage") {
    val pages = SyntheticPages.generate(spark, 10, seed = 42, partitions = 2)
    val plan = Extract.extractPages(pages.toDF()).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
  }

  test("strategy histogram accumulates inside the kernel during the action") {
    val hist = new graft.util.MapAccumulator
    spark.sparkContext.register(hist, "strategy-hist-spec")
    val pages = SyntheticPages.generate(spark, 200, seed = 42, partitions = 4).toDF()
    val n = Extract.extractPages(pages, CascadeConfig(), Some(hist)).count()
    val h = hist.value
    assert(h.values.sum == n) // every row counted exactly once
    assert(h.contains("newspaper") && h.contains("FAILED"))
  }
}
