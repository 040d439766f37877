package graft.jobs

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** SQL registration of native expressions. */
class PipelineSpec extends AnyFunSuite with SparkSuite {

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
