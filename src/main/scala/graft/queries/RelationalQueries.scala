package graft.queries

import graft.queries.Shared._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Relational coverage (SURVEY.md §2.6): aggregates, broadcast, semi,
  * anti and multiway joins, windows, sessionization, as-of and
  * interval joins, JSON events, set operations and rollups.
  */
object RelationalQueries {
  val all: Seq[Query] = Seq(
    Query("q1_agg", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"), col("l_linestatus")),
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |round(sum(l_extendedprice), 2) AS sum_price,
        |round(avg(l_discount), 6) AS avg_disc,
        |count(*) AS n FROM lineitem GROUP BY 1,2 ORDER BY 1,2""".stripMargin),

    Query("join_enrich", (s, dir) =>
      // broadcast dim join: orders enriched by customer segment
      t(s, dir, "orders").join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy(col("c_mktsegment")),
      """SELECT c_mktsegment, count(*) AS n_orders,
        |round(sum(o_totalprice), 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    Query("window_topk", (s, dir) => {
      // top-2 orders per customer by price (rank window, total order)
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 2)
        .select(col("o_custkey"), col("rk"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("price"))
        .orderBy(col("o_custkey"), col("rk"))
    },
      """SELECT o_custkey, rk, o_orderkey, price FROM (
        |  SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) WHERE rk <= 2 ORDER BY o_custkey, rk""".stripMargin),

    Query("anti_join", (s, dir) =>
      // customers with no orders (left anti — the resume-join shape)
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy(col("c_custkey")),
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin),

    Query("events_window", (s, dir) => {
      // event-stream shape: per-user running value sum ordered by time
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .withColumn("running_value", round(sum(col("value")).over(w), 4))
        .select(col("event_id"), col("user_id"), col("running_value"))
        .orderBy(col("user_id"), col("event_id"))
    },
      """SELECT event_id, user_id,
        |round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_value
        |FROM events ORDER BY user_id, event_id""".stripMargin),

    Query("events_sessionize", (s, dir) => {
      // gap-based sessionization (30-min inactivity): lag → boundary →
      // running-sum session ids → per-session rollup
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val runSum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("brk",
          when(col("prev_ts").isNull ||
            unix_millis(col("ts").cast("timestamp")) -
            unix_millis(col("prev_ts").cast("timestamp")) > 30L * 60 * 1000, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("brk")).over(runSum))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"),
          round(sum(col("value")), 2).as("session_value"))
        .orderBy(col("user_id"), col("session_id"))
    },
      """WITH e AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT *, (sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING))::BIGINT AS session_id FROM e)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(ts) AS start_ts, max(ts) AS end_ts,
        |  round(sum(value), 2) AS session_value
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    Query("asof_join", (s, dir) => {
      // as-of join (time-series enrichment Spark lacks natively):
      // each purchase matched to the user's prevailing view value at
      // purchase time. Composed as union + one keyed window (ONE shuffle,
      // the same cost a native ASOF strategy would pay); the oracle is
      // DuckDB's native ASOF LEFT JOIN — a genuinely independent
      // implementation of the operator's semantics.
      val ev = t(s, dir, "events")
      val probe = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val build = graft.ops.AsofJoin.latestPerKeyTime(
        ev.where(col("event_type") === "view")
          .select(col("user_id"), col("ts"), col("value")),
        "user_id", "ts", "value")
      graft.ops.AsofJoin.asofJoin(probe, build, "user_id", "ts", "value")
        .select(col("event_id"), col("user_id"),
          round(col("value"), 2).as("purchase_value"),
          round(col("asof_value"), 2).as("last_view_value"))
        .orderBy(col("event_id"))
    },
      """WITH probe AS (
        |  SELECT event_id, user_id, ts, value FROM events
        |  WHERE event_type = 'purchase'),
        |build AS (
        |  SELECT user_id, ts, max(value) AS value FROM events
        |  WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT p.event_id, p.user_id,
        |  round(p.value, 2) AS purchase_value,
        |  round(b.value, 2) AS last_view_value
        |FROM probe p ASOF LEFT JOIN build b
        |  ON p.user_id = b.user_id AND p.ts >= b.ts
        |ORDER BY p.event_id""".stripMargin),

    Query("interval_join", (s, dir) => {
      // range join via time-bucket decomposition (a raw BETWEEN join
      // predicate plans as a nested-loop/cartesian — the classic trap):
      // every error event attributed to the gap-session containing it.
      // The oracle is the plain SQL BETWEEN join DuckDB can afford at
      // this scale.
      val sessions = graft.SparkEntry.queries("events_sessionize")(s, dir)
        .select(col("user_id"), col("session_id"), col("start_ts"), col("end_ts"))
      val errors = t(s, dir, "events").where(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts"))
      graft.ops.RangeJoin
        .bucketIntervalJoin(errors, sessions, "user_id", "ts", "start_ts", "end_ts")
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_errors"), min(col("event_id")).as("first_error_id"))
        .orderBy(col("user_id"), col("session_id"))
    },
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
        |  SELECT user_id, session_id,
        |    min(ts) AS start_ts, max(ts) AS end_ts
        |  FROM s GROUP BY 1, 2),
        |err AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'error')
        |SELECT sess.user_id, sess.session_id,
        |  count(*) AS n_errors, min(err.event_id) AS first_error_id
        |FROM err JOIN sess
        |  ON err.user_id = sess.user_id
        | AND err.ts BETWEEN sess.start_ts AND sess.end_ts
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    Query("semi_join", (s, dir) =>
      // customers having orders (left semi — EXISTS)
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy(col("c_custkey")),
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin),

    Query("multiway_join", (s, dir) =>
      // 4-table star join with grouped rollup: the fact side shuffles
      // once (orders⋈customer on custkey); nation (25 rows) and region
      // (5 rows) are broadcast so the geography lookups add no exchange
      t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("revenue"),
          floor(avg(col("c_acctbal")) * 10000).cast("long").as("acctbal_bp"))
        .orderBy(col("r_name"), col("n_name")),
      """SELECT r_name, n_name, count(*) AS n_orders,
        |round(sum(o_totalprice), 2) AS revenue,
        |floor(avg(c_acctbal) * 10000)::BIGINT AS acctbal_bp
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    Query("events_json", (s, dir) =>
      // JSON functions over the props column (string JSON payloads):
      // extract → cast → grouped integer stats (no float rounding risk)
      t(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy(col("event_type")),
      // json_extract_string (not json_extract) + explicit outer BIGINT casts:
      // json_extract returns a JSON-typed value and sum() of it promotes to
      // HUGEINT, both of which canonicalize differently across DuckDB
      // versions (the round-2 driver red row). VARCHAR -> BIGINT -> BIGINT
      // is stable everywhere.
      """SELECT event_type, count(*) AS n,
        |sum(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS sum_k,
        |min(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS min_k,
        |max(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS max_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    Query("set_ops", (s, dir) => {
      // union / intersect / except over distinct label domains (Spark
      // union is UNION ALL; except/intersect are the DISTINCT forms —
      // the oracle mirrors exactly)
      val segs = t(s, dir, "customer").select(col("c_mktsegment").as("v")).distinct()
      val prios = t(s, dir, "orders").select(col("o_orderpriority").as("v")).distinct()
      segs.union(prios).except(segs.intersect(prios)).orderBy(col("v"))
    },
      """WITH segs AS (SELECT DISTINCT c_mktsegment AS v FROM customer),
        |prios AS (SELECT DISTINCT o_orderpriority AS v FROM orders)
        |SELECT v FROM (
        |  SELECT v FROM (SELECT v FROM segs UNION ALL SELECT v FROM prios)
        |  EXCEPT
        |  SELECT v FROM (SELECT v FROM segs INTERSECT SELECT v FROM prios))
        |ORDER BY v""".stripMargin),

    Query("rollup_agg", (s, dir) =>
      // grouped rollup (subtotals + grand total in one pass)
      t(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first),
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |round(sum(o_totalprice), 2) AS revenue
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin),

    Query("q9_profit", (s, dir) =>
      // lineitem fact joined to part + supplier + nation: supplier and
      // nation are broadcast (bounded dims); part grows with SF so it
      // keeps a shuffle join that AQE can re-plan — at 100 TB a
      // broadcast(part) would OOM the executors
      t(s, dir, "lineitem")
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("p_brand"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("net_revenue"),
          sum(col("l_quantity")).as("qty"))
        .orderBy(col("n_name"), col("p_brand")),
      """SELECT n_name, p_brand, count(*) AS n_items,
        |round(sum(l_extendedprice * (1 - l_discount)), 2) AS net_revenue,
        |sum(l_quantity) AS qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
  )

}
