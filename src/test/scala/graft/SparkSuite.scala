package graft

import org.apache.spark.sql.{SparkSession, classic}
import org.scalatest.TestSuite

/** A suite's Spark session: local[4] from the one factory, built on first
  * use and again after `Cli.main` stops it. Between those it is the same
  * session, so a conf a test sets stays set until the test restores it
  * (the factory's `getOrCreate` would re-apply its own confs). A `def` is
  * not a stable prefix to import from: `testImplicits` stands in for
  * `spark.implicits`.
  */
trait SparkSuite extends TestSuite {
  private var current: SparkSession = _

  def spark: SparkSession = {
    if (current == null || current.sparkContext.isStopped)
      current = graft.util.Sessions.local(4, suiteName)
    current
  }

  protected object testImplicits extends classic.SQLImplicits {
    override protected def session: classic.SparkSession =
      spark.asInstanceOf[classic.SparkSession]
  }
}
