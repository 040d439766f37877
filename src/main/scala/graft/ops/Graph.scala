package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph analytics over the crawl's host/page graph.
  *
  * Web-scale corpus curation weighs documents by graph centrality of
  * their source (Common-Crawl-style rankings use harmonic centrality /
  * PageRank over the host graph; the reference's crawl-discovery epic,
  * /root/reference/research/epics/epic-001-web-crawling-discovery.md,
  * covers the crawl side this signal would steer). This module provides
  * the iterative rank loop as a reusable operator.
  *
  * DESIGN — integer fixed-point arithmetic, deliberately:
  *  - every rank is a BIGINT in units of 1e-9 "mass"; per-edge
  *    contribution is `rank div outdeg` (floor division), and the
  *    damping step is `(15*SCALE) div 100 + (85*sum) div 100`. Integer
  *    sums are associative and commutative, so the result is EXACTLY
  *    partitioning-independent — a floating-point PageRank is not
  *    reproducible across shuffle orders, which both breaks the
  *    DuckDB-oracle hash check and makes 100 TB re-runs non-idempotent.
  *  - dangling mass (nodes whose only hash-derived targets were
  *    self-loops) is dropped, not redistributed — the classic
  *    MapReduce-PageRank simplification; ranks then measure relative
  *    link mass, not a normalized distribution. Documented, and spelled
  *    identically in the oracle.
  *
  * SCALE: each round is one shuffle join (edges ⋈ ranks on src) plus
  * one aggregation (sum by dst) with map-side partial combine; the edge
  * set is computed once and localCheckpoint'd, and each round's rank
  * frame is localCheckpoint'd too — the same lineage-truncation
  * discipline as the multi-pass [[Dedup.connectedComponentsWithRounds]]
  * (without it, Catalyst re-optimizes a plan tower that grows per
  * round). At 10^12 edges the join shuffles on the edge src key; skewed
  * in-degree (hub hosts) affects only the reduce-side SUM, which AQE
  * skew-split handles because partial aggregation has already collapsed
  * each map partition's contributions to one row per (dst) key.
  */
object Graph {

  /** Fixed-point rank scale: 1.0 of initial mass per node. */
  val Scale = 1000000000L

  /** Integer fixed-point PageRank with damping 0.85 over `iterations`
    * synchronous rounds.
    *
    * @param nodes one column `id: long` — every ranked entity (isolated
    *              nodes keep the base mass `0.15 * Scale`)
    * @param edges columns `u: long, v: long` — directed links; self
    *              loops and duplicate edges are dropped here, so the
    *              caller's edge derivation need not dedupe
    * @return `(id, rank)`, rank in fixed-point `Scale` units
    */
  /** One synchronous round's rank update, UN-materialized: per-edge
    * floor contributions summed per destination (map-side partial
    * combine), LEFT-joined back onto the full node set so sink-only and
    * isolated nodes keep their base mass. Shared by [[pageRank]] (which
    * checkpoints the result per round) and the PlanQualitySpec gate
    * (which asserts on THIS plan — the gate cannot drift from the
    * operator).
    */
  private[graft] def rankRound(ids: DataFrame, withDeg: DataFrame,
      ranks: DataFrame): DataFrame = {
    val base = (15L * Scale) / 100L
    val contrib = withDeg.join(ranks, withDeg("u") === ranks("id"))
      .select(col("v").as("id"), expr("rank div outdeg").as("c"))
      .groupBy("id").agg(sum(col("c")).as("s"))
    ids.join(contrib, Seq("id"), "left")
      .select(col("id"),
        (lit(base) + expr("(85 * coalesce(s, 0L)) div 100")).as("rank"))
  }

  def pageRank(nodes: DataFrame, edges: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    // the caller's node frame is an arbitrary plan re-read every round
    // (left-join target) — materialize it ONCE, like the edge set
    val ids = nodes.select(col("id").cast("long").as("id"))
      .localCheckpoint(true)
    // canonical simple digraph + out-degrees, materialized once for all
    // rounds; `simple` is checkpointed BEFORE the self-join so the
    // cast+filter+distinct shuffle runs once, not once per join side
    val simple = edges.select(col("u").cast("long").as("u"),
        col("v").cast("long").as("v"))
      .where(col("u") =!= col("v")).distinct()
      .localCheckpoint(true)
    val withDeg = simple
      .join(simple.groupBy("u").agg(count(lit(1)).as("outdeg")), "u")
      .localCheckpoint(true)
    var ranks = ids.select(col("id"), lit(Scale).as("rank"))
    var i = 0
    while (i < iterations) {
      // per-round checkpoint, deliberately: a 4-round stride (fusing
      // rounds into one plan) was tried in r06 and measured +0.34 s —
      // unrolled rounds nest each round's broadcast build inside the
      // next round's plan, serializing work the per-round barrier lets
      // the scheduler overlap. Keep the checkpoint per round.
      ranks = rankRound(ids, withDeg, ranks).localCheckpoint(true)
      i += 1
    }
    ranks
  }

  /** Redirect-chain resolution by POINTER DOUBLING: every source url
    * resolves to the terminal target of its redirect chain in
    * O(log maxChain) rounds, not O(maxChain) — round k holds the node
    * reached after up to 2^k hops, and each round composes the map
    * with itself (f_2k = f_k ∘ f_k). A naive per-hop walk is the scale
    * trap: 30 sequential shuffle joins for a 30-hop chain; doubling
    * does 5.
    *
    * `edges` is a FUNCTION graph — at most one outgoing redirect per
    * src (HTTP gives exactly one Location) — which is what makes the
    * composition a plain equi-join. Sources still unresolved after
    * `maxRounds` doublings (chains longer than 2^maxRounds, i.e.
    * redirect CYCLES — the loops every crawler must detect) come back
    * flagged instead of looping forever.
    *
    * SCALE: each round is ONE self-join keyed on the current target
    * (8-byte keys + a hop counter on the wire, never urls) with
    * lineage truncated per round like the CC loop; terminal rows stop
    * changing but ride along (web redirect graphs converge in 2-4
    * rounds — real chains are short, only cycles survive longer).
    *
    * @param edges (src, dst) — one row per redirecting url
    * @return (src, final_id, hops, is_cycle); final_id/hops null on
    *         cycle members and cycle-REACHING sources
    */
  def resolveRedirects(edges: DataFrame, maxRounds: Int = 20): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    var m = edges.select(col("src").cast("long"), col("dst").cast("long").as("cur"))
      .distinct()
      .withColumn("hops", lit(1L))
      .localCheckpoint(true)
    var rounds = 0
    var anyOpen = true
    var prevOpen = Long.MaxValue
    while (anyOpen && rounds < maxRounds) {
      val step = m.select(col("src").as("cur"), col("cur").as("nxt"),
        col("hops").as("h2"))
      m = m.join(step, Seq("cur"), "left")
        .select(col("src"),
          coalesce(col("nxt"), col("cur")).as("cur"),
          (col("hops") + coalesce(col("h2"), lit(0L))).as("hops"),
          col("nxt").isNull.as("term"))
        .localCheckpoint(true)
      // a row is open while its cur still has an outgoing redirect.
      // PLATEAU STOP: a row, once terminal, stays terminal, and while
      // any finite-chain row remains open some row terminates every
      // round (every proper suffix of a chain is itself a src row, so
      // each dyadic hop range (2^(k-1), 2^k] ≤ the longest finite
      // chain is inhabited) — an unchanged open count therefore means
      // every remaining open row sits on or feeds a redirect CYCLE and
      // can never close; further doubling rounds cannot change the
      // output (cycle-involved rows report null final_id/hops and keep
      // their in-cycle/mid-chain cur, which stays inside the src
      // domain, so the is_cycle flag is already decided). Running to
      // maxRounds anyway only re-walked the cycles.
      val open = m.where(!col("term")).count()
      anyOpen = open > 0 && open < prevOpen
      prevOpen = open
      m = m.drop("term")
      rounds += 1
    }
    // cycle iff the resolved target STILL redirects (cur ∈ src domain):
    // true for cycle members and for chains that run into one
    val srcs = m.select(col("src").as("cur")).distinct()
    val cyc = m.join(srcs, Seq("cur"), "left_semi")
      .select(col("src"), lit(true).as("c"))
    m.join(cyc, Seq("src"), "left")
      .select(col("src"),
        when(col("c").isNull, col("cur")).as("final_id"),
        when(col("c").isNull, col("hops")).as("hops"),
        coalesce(col("c"), lit(false)).as("is_cycle"))
  }
}
