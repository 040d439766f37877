package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver query: its Spark body and its DuckDB oracle, declared
  * together. Both take the session and the sf-tier dir the driver
  * passes, so an oracle whose inlined literals derive from the tier
  * (the self-sizing neardup_lsh and dedup_semantic, the ann_opq
  * codebooks) reads the same tier the query runs on.
  */
final case class Query(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: (SparkSession, String) => String)

object Query {
  /** A query whose oracle SQL does not depend on the tier. */
  def apply(name: String, run: (SparkSession, String) => DataFrame, sql: => String): Query =
    Query(name, run, (_: SparkSession, _: String) => sql)

  /** The queries of `families` by name. A name declared twice fails
    * here: building the map would otherwise keep one and drop the other.
    */
  def registry(families: Seq[Query]*): Map[String, Query] = {
    val all = families.flatten
    val dups = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    all.map(q => q.name -> q).toMap
  }
}
