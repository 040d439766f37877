package graft.util

/** Histogram accumulator: per-task maps merged on the driver — the
  * metrics-without-a-second-action pattern (mirrors the reference's
  * metadata-enrichment habit, SURVEY.md §4.1 item 4).
  *
  * Caveat (standard Spark semantics): accumulators updated inside a
  * transformation can over-count under task retries/speculation, so the
  * manifest's `strategy_*` histogram is operational telemetry. The
  * manifest's `rows` is exact: IcebergLite reads it from the committed
  * files' parquet footers, never from an accumulator.
  */
final class MapAccumulator
    extends org.apache.spark.util.AccumulatorV2[String, Map[String, Long]] {
  private val m = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  override def isZero: Boolean = m.isEmpty
  override def copy(): MapAccumulator = {
    val c = new MapAccumulator
    m.forEach((k, v) => c.m.put(k, v))
    c
  }
  override def reset(): Unit = m.clear()
  override def add(v: String): Unit = m.merge(v, 1L, (a, b) => a + b)
  override def merge(other: org.apache.spark.util.AccumulatorV2[String, Map[String, Long]]): Unit =
    other.value.foreach { case (k, v) => m.merge(k, v, (a, b) => a + b) }
  override def value: Map[String, Long] =
    scala.jdk.CollectionConverters.MapHasAsScala(m).asScala.map {
      case (k, v) => k -> v.longValue
    }.toMap
}
