package graft.queries

import graft.queries.Shared._
import org.apache.spark.sql.functions._

/** Sketches and tables: HLL, heavy hitters, count-min, Bloom filters,
  * exact and HDR quantiles, IcebergLite time travel and shard packing.
  */
object SketchQueries {
  val all: Seq[Query] = Seq(
    Query("sketch_hll", (s, dir) =>
      // distinct-visitors cardinality sketch: HLL (b=5, m=32 registers,
      // raw estimator) per event_type over the portable MINSTD hash,
      // with an EXACT integer harmonic sum (each register contributes
      // 2^(27-rho) as a BIGINT) so the estimate is bit-reproducible in
      // DuckDB. The exact distinct count rides along as a column, so
      // sketch accuracy (err_bp) is visible data, not a claim
      graft.ops.Sketch.hllDistinct(t(s, dir, "events"),
          "user_id", "event_type")
        .orderBy(col("event_type")),
      // registers and rho re-derived relationally: same MINSTD hash,
      // rho from bin()-string length, EXACT integer harmonic sum
      // (1 << (27-rho), empty registers contribute 2^27); the only
      // float step is the final alpha*m^2*C / S — one correctly-rounded
      // op chain from exact integers, spelled in the same order
      """WITH h AS (
        |  SELECT event_type,
        |    ((((user_id + 1) * 48271) % 2147483647) * 48271) % 2147483647 AS h
        |  FROM events),
        |regs AS (
        |  SELECT event_type, h % 32 AS reg,
        |    CASE WHEN h // 32 = 0 THEN 27
        |         ELSE 27 - length(bin(h // 32)) END AS rho
        |  FROM h),
        |mx AS (SELECT event_type, reg, max(rho) AS rho
        |       FROM regs GROUP BY 1, 2),
        |s AS (
        |  SELECT event_type,
        |    sum(1::BIGINT << (27 - rho)) + (32 - count(*)) * 134217728 AS s
        |  FROM mx GROUP BY 1),
        |est AS (
        |  SELECT event_type,
        |    floor(0.697 * 1024 * 134217728.0 / s)::BIGINT AS est
        |  FROM s),
        |ex AS (SELECT event_type, count(DISTINCT user_id)::BIGINT AS exact
        |       FROM events GROUP BY 1)
        |SELECT e.event_type, e.est, ex.exact,
        |  (abs(e.est - ex.exact) * 10000) // ex.exact AS err_bp
        |FROM est e JOIN ex USING (event_type)
        |ORDER BY event_type""".stripMargin),

    Query("sketch_heavy", (s, dir) =>
      // exact heavy hitters without shuffling the token stream:
      // per-partition space-saving kernels (k=200 counters) nominate
      // candidates, an exact counting pass over ONLY the broadcast
      // candidate set trims them to the true > N/200 tokens — output is
      // partitioning-independent because candidates are a guaranteed
      // superset and the final filter is exact
      graft.ops.Sketch.heavyTokens(t(s, dir, "documents"), "text", k = 200)
        .orderBy(col("cnt").desc, col("token")),
      // plain exact recomputation: every token with count*200 > total.
      // The whitespace class is RE2's \s spelled explicitly (no \x0B),
      // byte-identical to the kernel tokenizer
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '[ \t\n\f\r]+')) AS token
        |  FROM documents),
        |tk AS (SELECT token FROM toks WHERE token <> ''),
        |tot AS (SELECT count(*) AS total FROM tk)
        |SELECT token, count(*)::BIGINT AS cnt
        |FROM tk, tot
        |GROUP BY token, tot.total
        |HAVING count(*) * 200 > tot.total
        |ORDER BY cnt DESC, token""".stripMargin),

    Query("sketch_cm", (s, dir) =>
      // per-user event-frequency estimation under a memory bound:
      // Count-Min (d=3, self-sized w = 2·|users|) over the MINSTD
      // hashes. The sketch is one-sided — est >= exact on every row
      // (collisions only add) — so over_bp is both the oracle-checked
      // accuracy record and a per-row proof of the CM invariant
      graft.ops.Sketch.countMinFreq(t(s, dir, "events"), "user_id")
        .orderBy(col("user_id")),
      // full relational recomputation: same MINSTD row hashes, same
      // self-sized width, counters grouped per (row, bucket), estimate
      // = min over rows — all BIGINT arithmetic, identical both engines
      """WITH mult(j, m) AS (VALUES (0, 48271), (1, 69621), (2, 16807)),
        |ww AS (SELECT greatest(64, 2 * count(DISTINCT user_id)) AS w
        |       FROM events),
        |hb AS (
        |  SELECT e.user_id AS k, m.j,
        |    (((((e.user_id + 1) * m.m) % 2147483647) * m.m) % 2147483647)
        |      % ww.w AS bucket
        |  FROM events e, mult m, ww),
        |sk AS (SELECT j, bucket, count(*) AS c FROM hb GROUP BY 1, 2),
        |pr AS (SELECT DISTINCT k, j, bucket FROM hb),
        |est AS (SELECT pr.k, min(sk.c) AS est
        |        FROM pr JOIN sk USING (j, bucket) GROUP BY pr.k),
        |ex AS (SELECT user_id AS k, count(*) AS exact
        |       FROM events GROUP BY 1)
        |SELECT est.k AS user_id, est.est::BIGINT AS est,
        |  ex.exact::BIGINT AS exact,
        |  ((est.est - ex.exact) * 10000) // ex.exact AS over_bp
        |FROM est JOIN ex USING (k)
        |ORDER BY user_id""".stripMargin),

    Query("bloom_seen", (s, dir) => {
      // crawl-frontier seen-check: the batch (incremental tranche,
      // doc_id % 5 == 0, plus re-crawled ids doc_id % 7 == 1) probes a
      // broadcast Bloom sketch of the history (self-sized m = 8 bits
      // per key) instead of joining 10^12 rows. actually_seen (the
      // exact check) rides along so the oracle verifies the
      // no-false-negative contract per row and false positives are
      // visible data
      val docs = t(s, dir, "documents")
      val isNew = pmod(col("doc_id"), lit(5L)) === 0L
      val history = docs.where(!isNew).select(col("doc_id"))
      val batch = docs.where(isNew || pmod(col("doc_id"), lit(7L)) === 1L)
        .select(col("doc_id"))
      graft.ops.Sketch.bloomSeen(history, batch, "doc_id")
        .join(history.select(col("doc_id"), lit(true).as("actually_seen")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), col("maybe_seen"),
          coalesce(col("actually_seen"), lit(false)).as("actually_seen"))
        .orderBy(col("doc_id"))
    },
      // the filter's distinct bit-position set rebuilt relationally
      // (bit membership == position membership — no word packing
      // needed); a candidate is maybe_seen iff ALL its distinct probe
      // positions are present, exactly the kernel's 3-way AND
      """WITH hist AS (SELECT doc_id FROM documents WHERE doc_id % 5 <> 0),
        |mm AS (SELECT greatest(8 * count(*), 64) AS m FROM hist),
        |hh AS (
        |  SELECT ((((doc_id + 1) * 48271) % 2147483647) * 48271) % 2147483647 AS h1,
        |         ((((doc_id + 1) * 69621) % 2147483647) * 69621) % 2147483647 AS h2
        |  FROM hist),
        |hp AS (
        |  SELECT DISTINCT (h1 + i.i * (h2 - (h2 % 2) + 1)) % mm.m AS pos
        |  FROM hh, mm, (SELECT unnest(range(0, 3)) AS i) i),
        |bb AS (SELECT doc_id FROM documents
        |       WHERE doc_id % 5 = 0 OR doc_id % 7 = 1),
        |bh AS (
        |  SELECT DISTINCT b.doc_id,
        |    (h1 + i.i * (h2 - (h2 % 2) + 1)) % mm.m AS pos
        |  FROM (SELECT doc_id,
        |          ((((doc_id + 1) * 48271) % 2147483647) * 48271) % 2147483647 AS h1,
        |          ((((doc_id + 1) * 69621) % 2147483647) * 69621) % 2147483647 AS h2
        |        FROM bb) b, mm, (SELECT unnest(range(0, 3)) AS i) i),
        |req AS (SELECT doc_id, count(*) AS need FROM bh GROUP BY 1),
        |hit AS (SELECT bh.doc_id, count(*) AS got
        |        FROM bh JOIN hp USING (pos) GROUP BY 1)
        |SELECT b.doc_id,
        |  coalesce(hit.got, 0) = req.need AS maybe_seen,
        |  b.doc_id IN (SELECT doc_id FROM hist) AS actually_seen
        |FROM bb b JOIN req USING (doc_id) LEFT JOIN hit USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    Query("quantile_exact", (s, dir) =>
      // exact per-lang doc-length percentiles by the value-histogram
      // trick: shuffle |distinct n_chars| partial counts, not |rows|,
      // and no global sort. Quantile rule in pure integers (smallest v
      // with den*cum >= num*n), identical on both engines
      graft.ops.Sketch.exactQuantiles(t(s, dir, "documents"),
          "n_chars", "lang",
          Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)))
        .orderBy(col("lang")),
      // same histogram + integer quantile rule; ROWS frame matches the
      // kernel's explicit rowsBetween
      """WITH hist AS (
        |  SELECT lang, n_chars AS v, count(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |cum AS (
        |  SELECT lang, v,
        |    sum(c) OVER (PARTITION BY lang ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(c) OVER (PARTITION BY lang) AS n
        |  FROM hist)
        |SELECT lang,
        |  min(CASE WHEN cum * 2 >= n * 1 THEN v END)::BIGINT AS p50,
        |  min(CASE WHEN cum * 10 >= n * 9 THEN v END)::BIGINT AS p90,
        |  min(CASE WHEN cum * 100 >= n * 99 THEN v END)::BIGINT AS p99
        |FROM cum GROUP BY lang ORDER BY lang""".stripMargin),

    Query("quantile_hdr", (s, dir) =>
      // mergeable log-histogram quantiles (HDR bins, 8 sub-buckets per
      // octave): the unbounded-domain complement of quantile_exact —
      // the exchange carries ≤ ~8·60 bin counts per group however
      // large the value domain, and per-shard histograms union by SUM.
      // est ≤ exact always (bin lower bound); err_bp < 1250 by
      // construction, oracle-checked per row alongside the exact values
      graft.ops.Sketch.logHistQuantiles(t(s, dir, "documents"),
          "n_chars", "lang",
          Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)))
        .orderBy(col("lang")),
      // same integer HDR binning (the bin()-string log2 trick from
      // sketch_hll), lower bounds via << , the ceil(q·n) rule of
      // quantile_exact on both the bin and the raw-value histograms,
      // and the one-sided error in integer basis points
      """WITH hist AS (
        |  SELECT lang,
        |    CASE WHEN n_chars < 8 THEN n_chars
        |         ELSE (length(bin(n_chars)) - 4) * 8
        |              + (n_chars >> (length(bin(n_chars)) - 4)) END AS b,
        |    count(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |lbs AS (
        |  SELECT lang, b, c,
        |    CASE WHEN b < 8 THEN b
        |         ELSE ((b % 8) + 8) << ((b // 8) - 1) END AS lb
        |  FROM hist),
        |cum AS (
        |  SELECT lang, lb,
        |    sum(c) OVER (PARTITION BY lang ORDER BY b
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(c) OVER (PARTITION BY lang) AS n
        |  FROM lbs),
        |est AS (
        |  SELECT lang,
        |    min(CASE WHEN cum * 2 >= n * 1 THEN lb END)::BIGINT AS p50,
        |    min(CASE WHEN cum * 10 >= n * 9 THEN lb END)::BIGINT AS p90,
        |    min(CASE WHEN cum * 100 >= n * 99 THEN lb END)::BIGINT AS p99
        |  FROM cum GROUP BY lang),
        |vh AS (SELECT lang, n_chars AS v, count(*) AS c
        |       FROM documents GROUP BY 1, 2),
        |vcum AS (
        |  SELECT lang, v,
        |    sum(c) OVER (PARTITION BY lang ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(c) OVER (PARTITION BY lang) AS n
        |  FROM vh),
        |ex AS (
        |  SELECT lang,
        |    min(CASE WHEN cum * 2 >= n * 1 THEN v END)::BIGINT AS p50_exact,
        |    min(CASE WHEN cum * 10 >= n * 9 THEN v END)::BIGINT AS p90_exact,
        |    min(CASE WHEN cum * 100 >= n * 99 THEN v END)::BIGINT AS p99_exact
        |  FROM vcum GROUP BY lang)
        |SELECT e.lang, e.p50, ex.p50_exact, e.p90, ex.p90_exact,
        |  e.p99, ex.p99_exact,
        |  CASE WHEN ex.p50_exact = 0 THEN 0
        |       ELSE ((ex.p50_exact - e.p50) * 10000) // ex.p50_exact
        |  END AS p50_err_bp,
        |  CASE WHEN ex.p90_exact = 0 THEN 0
        |       ELSE ((ex.p90_exact - e.p90) * 10000) // ex.p90_exact
        |  END AS p90_err_bp,
        |  CASE WHEN ex.p99_exact = 0 THEN 0
        |       ELSE ((ex.p99_exact - e.p99) * 10000) // ex.p99_exact
        |  END AS p99_err_bp
        |FROM est e JOIN ex USING (lang)
        |ORDER BY lang""".stripMargin),

    Query("iceberg_travel", (s, dir) => {
      // snapshot time travel as a driver query: publish unit 0 twice
      // (v1 = even doc_ids, v2 = all), then read snapshot 1 — which
      // must still see v1 after the republish (immutable versioned
      // data) — alongside the live table. The oracle recomputes both
      // states relationally from `documents`
      val root = java.nio.file.Files.createTempDirectory("graft-travel").toString
      val lite = new graft.table.IcebergLite(root)
      val docs = t(s, dir, "documents")
      lite.commitUnit(docs.where(pmod(col("doc_id"), lit(2)) === 0)
        .select("doc_id"), 0) // snapshot 1
      lite.commitUnit(docs.select("doc_id"), 0) // snapshot 2
      val out = lite.readAt(s, 1).select(col("doc_id"))
        .withColumn("state", lit("snap1"))
        .unionByName(lite.read(s).select(col("doc_id"))
          .withColumn("state", lit("live")))
        .groupBy("state")
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_id"))
        .orderBy("state")
      // bounded collect (2 rows) so the temp table can be dropped
      // before the caller materializes the result
      val rows = out.collect()
      lite.drop(s)
      s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    },
      ("""SELECT 'live' AS state, count(*)::BIGINT AS n, sum(doc_id)::BIGINT AS sum_id
        |FROM documents
        |UNION ALL
        |SELECT 'snap1', count(*)::BIGINT, sum(doc_id)::BIGINT
        |FROM documents WHERE doc_id % 2 = 0
        |ORDER BY state""".stripMargin)),

    Query("shard_pack", (s, dir) =>
      // contiguous budget sharding for sequential corpus writers:
      // shard = floor(exclusive-prefix-sum(n_chars) / 50000). Two-phase
      // distributed prefix sum — the naive un-partitioned window is a
      // one-task trap (the whole corpus on a single reducer)
      graft.ops.Sharding.shardByBudget(
          t(s, dir, "documents"), weight = "n_chars", budget = 50000L)
        .orderBy(col("doc_id")),
      // the single-window SQL spelling IS the oracle — correct at
      // oracle scale, the one-task trap the kernel exists to avoid
      """SELECT doc_id,
        |  (pre // 50000)::BIGINT AS shard,
        |  (pre % 50000)::BIGINT AS shard_offset
        |FROM (
        |  SELECT doc_id, coalesce(sum(n_chars) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
        |  FROM documents WHERE doc_id IS NOT NULL)
        |ORDER BY doc_id""".stripMargin)
  )

}
