package graft.queries

import graft.queries.Shared._
import org.apache.spark.sql.functions._

/** Structured Streaming operators over the tier's events and documents:
  * each stream runs to completion and its result equals a batch oracle.
  */
object StreamingQueries {
  val all: Seq[Query] = Seq(
    Query("stream_events", (s, dir) =>
      // Structured Streaming ingest (readStream → watermark → windowed
      // agg → memory sink); complete-mode result equals the batch
      // GROUP BY, which is the oracle
      graft.streaming.StreamingOps
        .windowedEventCounts(s, s"$dir/events.parquet", "se_stream_events")
        .select(to_date(col("day")).as("day"), col("event_type"),
          col("n"), col("sum_value"))
        .orderBy(col("day"), col("event_type")),
      """SELECT date_trunc('day', ts)::DATE AS day, event_type,
        |count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    Query("stream_sessions", (s, dir) =>
      // stateful streaming sessionizer (flatMapGroupsWithState +
      // event-time timeout): emitted closed sessions equal the batch
      // sessionization restricted to sessions whose close deadline
      // (end + gap) the final watermark (= max ts, 0s delay) strictly
      // passed — in-batch gap closes satisfy this by construction, and
      // the timeout flush fires exactly on it
      graft.streaming.StreamingOps
        .sessionizeStream(s, s"$dir/events.parquet", "se_stream_sessions")
        .select(col("user_id"),
          timestamp_micros(col("start_us")).cast("timestamp_ntz").as("start_ts"),
          timestamp_micros(col("end_us")).cast("timestamp_ntz").as("end_ts"),
          col("n_events"), round(col("session_value"), 2).as("session_value"))
        .orderBy(col("user_id"), col("start_ts")),
      """WITH e AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT *, (sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING))::BIGINT AS session_id FROM e),
        |sess AS (
        |  SELECT user_id, session_id, count(*) AS n_events,
        |    min(ts) AS start_ts, max(ts) AS end_ts,
        |    round(sum(value), 2) AS session_value
        |  FROM s GROUP BY 1, 2)
        |SELECT user_id, start_ts, end_ts, n_events, session_value
        |FROM sess
        |WHERE end_ts + INTERVAL 30 MINUTE < (SELECT max(ts) FROM events)
        |ORDER BY user_id, start_ts""".stripMargin),

    Query("stream_join", (s, dir) =>
      // stream-stream interval join (symmetric hash join with
      // watermark-bounded state): click→purchase funnel within 30 min.
      // Oracle = the equivalent batch join (append-mode equality over
      // bounded input).
      graft.streaming.StreamingOps
        .streamStreamJoin(s, s"$dir/events.parquet")
        .select(col("click_id").cast("long"), col("purchase_id").cast("long"),
          col("user_id").cast("long"))
        .orderBy(col("click_id"), col("purchase_id")),
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
        |FROM events c JOIN events p
        |  ON c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND c.user_id = p.user_id
        |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
        |ORDER BY click_id, purchase_id""".stripMargin),

    Query("stream_dedup", (s, dir) =>
      // streaming ingest dedup with BOUNDED state
      // (dropDuplicatesWithinWatermark): re-delivered documents (every
      // 3rd delivered twice in-stream, at-least-once simulation) dedup
      // to exactly the batch DISTINCT hash set, which is the oracle
      graft.streaming.StreamingOps
        .streamDedup(s, s"$dir/documents.parquet")
        .orderBy(col("sha")),
      "SELECT DISTINCT sha256(text) AS sha FROM documents ORDER BY sha"),

    Query("stream_ingest", (s, dir) =>
      // the production crawl loop as a stream: new docs (id % 5 == 0)
      // arrive in 4 micro-batches, each mined against the persisted
      // band index (history + prior batches) then committed to it —
      // pair set equals the one-shot incremental miner regardless of
      // batch boundaries, which is what the shared oracle checks
      graft.streaming.StreamingOps
        .streamIncrementalDedup(s, s"$dir/documents.parquet", nBatches = 4)
        .orderBy(col("id_a"), col("id_b")),
      // identical oracle to dedup_incremental: the stream's union of
      // per-batch outputs must equal the one-shot incremental mining
      s"""WITH $exactJaccardCte
        |SELECT id_a, id_b, jaccard_bp FROM exact_pairs
        |WHERE id_a % 5 = 0 OR id_b % 5 = 0
        |ORDER BY id_a, id_b""".stripMargin)
  )

}
