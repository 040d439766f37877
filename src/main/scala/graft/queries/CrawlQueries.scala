package graft.queries

import graft.queries.Shared._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Crawl control: recrawl diffs, anchors, sampling, domain caps, URL
  * blocklists, robots.txt parsing and evaluation, politeness schedules,
  * the frontier, redirects, the link graph and host quality.
  */
object CrawlQueries {
  val all: Seq[Query] = Seq(
    Query("crawl_diff", (s, dir) => {
      // incremental-recrawl snapshot diff: two crawls of the same url
      // space derived deterministically from the tier (old crawl = ids
      // except %11==3, new crawl = ids except %13==5, every %7==2 page
      // re-crawled with changed content). The OPERATOR reduces each
      // side to 32-byte sha256 digests BEFORE the full-outer join, so
      // the only exchange is digest-wide (plan-gated) — the
      // 10^12-page "what changed since last crawl" primitive
      val docs = t(s, dir, "documents")
      val prevCrawl = docs.where(pmod(col("doc_id"), lit(11L)) =!= 3L)
        .select(col("doc_id"), col("text"))
      val currCrawl = docs.where(pmod(col("doc_id"), lit(13L)) =!= 5L)
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(7L)) === 2L,
            concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
      graft.ops.CrawlOps.snapshotDiff(prevCrawl, currCrawl)
        .orderBy(col("doc_id"))
    },
      // same snapshot derivations, digest compare re-spelled in SQL;
      // sha256() and Spark's sha2(_, 256) both emit lowercase hex
      // (parity established by format_envelopes / pii_redact)
      """WITH prev AS (
        |  SELECT doc_id, sha256(text) AS old_digest
        |  FROM documents WHERE doc_id % 11 <> 3),
        |curr AS (
        |  SELECT doc_id,
        |    sha256(CASE WHEN doc_id % 7 = 2 THEN text || ' v2'
        |                ELSE text END) AS new_digest
        |  FROM documents WHERE doc_id % 13 <> 5)
        |SELECT coalesce(p.doc_id, c.doc_id) AS doc_id,
        |  CASE WHEN p.doc_id IS NULL THEN 'added'
        |       WHEN c.doc_id IS NULL THEN 'removed'
        |       WHEN p.old_digest = c.new_digest THEN 'unchanged'
        |       ELSE 'changed' END AS status,
        |  p.old_digest, c.new_digest
        |FROM prev p FULL OUTER JOIN curr c ON p.doc_id = c.doc_id
        |ORDER BY doc_id""".stripMargin),

    Query("anchor_topk", (s, dir) => {
      // incoming anchor-text aggregation — the page's external
      // description. Link graph: the graph_pagerank edge rule
      // (out-degree 1 + doc_id % 3, targets by the portable two-step
      // MINSTD hash); anchor = a deterministically-picked word of the
      // SOURCE page's text, so anchors are real corpus strings both
      // engines derive identically. Per target: in-degree, mentions,
      // most frequent anchor (ties by anchor asc)
      val docs = t(s, dir, "documents")
      val n = docs.count() // bounded: one scalar sizes the target space
      val p = lit(2147483647L)
      val links = docs.select(col("doc_id").as("u"),
          split(trim(col("text")), "[ \t\n\f\r]+").as("tk"),
          explode(sequence(lit(0L), pmod(col("doc_id"), lit(3L)))).as("j"))
        .select(col("u"),
          pmod(pmod(
            pmod((col("u") * 53L + col("j") + 1L) * 48271L, p) * 48271L, p),
            lit(n)).as("v"),
          element_at(col("tk"),
            (pmod(col("u") * 7L + col("j"), size(col("tk"))) + 1L)
              .cast("int")).as("anchor"))
        .where(col("u") =!= col("v"))
      graft.ops.CrawlOps.anchorSummary(links).orderBy(col("doc_id"))
    },
      // the graph_pagerank edge CTE plus the same word-pick rule
      // (1-based list index over the RE2 \s split, as sketch_heavy),
      // then the three aggregates re-spelled relationally; row_number
      // tie order (cnt DESC, anchor) is binary collation in both
      // engines
      """WITH nn AS (SELECT count(*) AS n FROM documents),
        |tok AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(trim(text), '[ \t\n\f\r]+') AS tk
        |  FROM documents),
        |raw AS (
        |  SELECT d.doc_id AS u,
        |    (((((d.doc_id * 53 + j.j + 1) * 48271) % 2147483647)
        |      * 48271) % 2147483647) % nn.n AS v,
        |    t.tk[((d.doc_id * 7 + j.j) % len(t.tk)) + 1] AS anchor
        |  FROM documents d JOIN tok t USING (doc_id), nn,
        |    (SELECT unnest(range(0, 3)) AS j) j
        |  WHERE j.j <= d.doc_id % 3),
        |links AS (SELECT u, v, anchor FROM raw WHERE u <> v),
        |per AS (SELECT v, anchor, count(*) AS cnt
        |        FROM links GROUP BY 1, 2),
        |top AS (SELECT v, anchor, cnt,
        |          row_number() OVER (PARTITION BY v
        |            ORDER BY cnt DESC, anchor) AS rn
        |        FROM per),
        |deg AS (SELECT v, count(DISTINCT u) AS in_degree
        |        FROM links GROUP BY 1),
        |men AS (SELECT v, count(*) AS mentions FROM links GROUP BY 1)
        |SELECT deg.v AS doc_id, deg.in_degree, men.mentions,
        |  top.anchor AS top_anchor, top.cnt AS top_cnt
        |FROM deg JOIN men USING (v) JOIN top USING (v)
        |WHERE top.rn = 1
        |ORDER BY doc_id""".stripMargin),

    Query("sample_stratified", (s, dir) =>
      // reproducible eval-set draw: k=20 docs per lang, winners = the
      // k smallest portable-hash priorities — uniform pseudo-random
      // yet engine- and partitioning-independent, no RNG. The kernel
      // bounds the exchange at k·partitions candidates (the
      // heavyTokens discipline); the oracle ranks the full table —
      // equal because every global winner is a partition-local winner
      graft.ops.CrawlOps.stratifiedSample(
        t(s, dir, "documents").select(col("lang"), col("doc_id")),
        "lang", "doc_id", k = 20)
        .orderBy(col("lang"), col("rk")),
      // rank the FULL table by the same MINSTD priority: the kernel's
      // two-phase candidates are exactly the global k smallest per
      // stratum, so a plain window over everything is the independent
      // recomputation
      """WITH h AS (
        |  SELECT lang, doc_id,
        |    ((((doc_id + 1) * 48271) % 2147483647) * 48271)
        |      % 2147483647 AS pri
        |  FROM documents),
        |r AS (SELECT lang, doc_id,
        |        row_number() OVER (PARTITION BY lang
        |          ORDER BY pri, doc_id) AS rk
        |      FROM h)
        |SELECT lang, doc_id, rk FROM r WHERE rk <= 20
        |ORDER BY lang, rk""".stripMargin),

    Query("domain_cap", (s, dir) =>
      // Gopher/C4 per-domain cap: keep the 5 longest docs per source,
      // ties by doc_id. Skew-safe two-phase rank (salt = physical
      // partition id) — a hot domain never lands whole on one reducer
      graft.ops.DomainCap.domainCap(t(s, dir, "documents"), cap = 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("doc_id")),
      """SELECT doc_id, source, n_chars, rn::BIGINT AS rank FROM (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 5 ORDER BY doc_id""".stripMargin),

    Query("url_filter", (s, dir) => {
      // UT1-style blocklist gate (the filter webtext pipelines run
      // BEFORE spending extraction compute). The corpus carries no
      // urls, so the query PLANTS deterministic ones from doc_id
      // (subdomain depth and section vary by residue) — both engines
      // construct identical urls, so the oracle genuinely exercises
      // the label-boundary suffix match, the section-prefix match, and
      // the longest-entry winner rule
      val sub = when(pmod(col("doc_id"), lit(4)) === 0, lit("ads."))
        .when(pmod(col("doc_id"), lit(4)) === 1, lit("cdn.static."))
        .otherwise(lit(""))
      val sec = when(pmod(col("doc_id"), lit(3)) === 0, lit("shop"))
        .when(pmod(col("doc_id"), lit(3)) === 1, lit("blog"))
        .otherwise(lit("news"))
      val urls = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("https://"), sub, lit("host-"),
          pmod(col("doc_id"), lit(50)).cast("string"), lit(".example/"),
          sec, lit("/item-"), col("doc_id").cast("string"), lit(".html"))
          .as("url"))
      import s.implicits._
      val bl = urlBlocklist.toDF("entry", "category", "kind")
      graft.ops.CrawlOps.urlFilter(urls, bl).orderBy(col("doc_id"))
    },
      // same planted urls, same blocklist literals, match semantics
      // spelled with LIKE suffix / string-equality prefix, winner via
      // row_number on (length desc, entry, category)
      s"""WITH u AS (
         |  SELECT doc_id,
         |    (CASE doc_id % 4 WHEN 0 THEN 'ads.' WHEN 1 THEN 'cdn.static.'
         |          ELSE '' END)
         |      || 'host-' || (doc_id % 50) || '.example' AS host,
         |    (CASE doc_id % 3 WHEN 0 THEN 'shop' WHEN 1 THEN 'blog'
         |          ELSE 'news' END) AS sec
         |  FROM documents),
         |u2 AS (
         |  SELECT doc_id,
         |    'https://' || host || '/' || sec || '/item-' || doc_id
         |      || '.html' AS url, host, sec
         |  FROM u),
         |bl(entry, category, kind) AS (VALUES $urlBlocklistValues),
         |m AS (
         |  SELECT u2.doc_id, bl.entry, bl.category FROM u2 JOIN bl ON
         |    (bl.kind = 'domain' AND
         |      (u2.host = bl.entry OR u2.host LIKE '%.' || bl.entry))
         |    OR (bl.kind = 'prefix' AND u2.host || '/' || u2.sec = bl.entry)),
         |w AS (
         |  SELECT doc_id, entry, category, row_number() OVER (
         |    PARTITION BY doc_id
         |    ORDER BY length(entry) DESC, entry, category) AS rn
         |  FROM m)
         |SELECT u2.doc_id, u2.url, w.entry IS NOT NULL AS blocked,
         |  w.category, w.entry AS matched_entry
         |FROM u2 LEFT JOIN (SELECT * FROM w WHERE rn = 1) w USING (doc_id)
         |ORDER BY u2.doc_id""".stripMargin),

    Query("robots_parse", (s, dir) => {
      // robots.txt PARSING over four planted file shapes (v = doc_id
      // % 4): a '*' group with allow/disallow/crawl-delay (v0); the
      // same plus a second group reached across a blank line with a
      // mixed-case directive, an inline comment after the value and an
      // ignored unknown directive (v1); a TWO-agent group sharing one
      // empty-value Disallow (v2); comments + an orphan rule before
      // any User-agent, which must vanish (v3).
      val i = col("doc_id")
      val v = pmod(i, lit(4))
      val common = concat(
        lit("# robots for host "), i.cast("string"),
        lit("\nUser-agent: *\nDisallow: /private/\nAllow: /private/public/\nCrawl-delay: "),
        (pmod(i, lit(5)) + 1).cast("string"))
      val body = when(v === 0, common)
        .when(v === 1, concat(common,
          lit("\n\nuser-AGENT:   graftbot\nDisallow: /trap-"), i.cast("string"),
          lit("/ # stay out\nHost: ignored.example")))
        .when(v === 2,
          lit("User-agent: graftbot\nUser-agent: otherbot\nDisallow:"))
        .otherwise(lit("# comments only\nDisallow: /orphan/"))
      graft.ops.CrawlOps.parseRobots(
          t(s, dir, "documents").select(i.as("host_id"), body.as("robots")))
        .orderBy(col("host_id"), col("rule_idx"), col("agent"))
    },
      // expected rows rebuilt per planted variant; the v3 orphan rule
      // and v1's unknown directive contribute nothing by construction
      """SELECT host_id, agent, rule_idx, kind, value FROM (
        |  SELECT doc_id AS host_id, '*' AS agent, 0::BIGINT AS rule_idx,
        |    'disallow' AS kind, '/private/' AS value
        |  FROM documents WHERE doc_id % 4 IN (0, 1)
        |  UNION ALL
        |  SELECT doc_id, '*', 1, 'allow', '/private/public/'
        |  FROM documents WHERE doc_id % 4 IN (0, 1)
        |  UNION ALL
        |  SELECT doc_id, '*', 2, 'crawl-delay', (1 + doc_id % 5)::VARCHAR
        |  FROM documents WHERE doc_id % 4 IN (0, 1)
        |  UNION ALL
        |  SELECT doc_id, 'graftbot', 3, 'disallow', '/trap-' || doc_id || '/'
        |  FROM documents WHERE doc_id % 4 = 1
        |  UNION ALL
        |  SELECT doc_id, 'graftbot', 0, 'disallow', ''
        |  FROM documents WHERE doc_id % 4 = 2
        |  UNION ALL
        |  SELECT doc_id, 'otherbot', 0, 'disallow', ''
        |  FROM documents WHERE doc_id % 4 = 2)
        |ORDER BY host_id, rule_idx, agent""".stripMargin),

    Query("robots_eval", (s, dir) => {
      // RFC 9309 robots evaluation (longest-match, allow wins ties,
      // no-rule default allow) over the same planted url scheme as
      // url_filter; the rule groups are deliberately adversarial
      // (allow-under-disallow, equal-length tie, disallow-everything
      // with a carve-out, unruled hosts)
      val host = concat(lit("host-"),
        pmod(col("doc_id"), lit(50)).cast("string"), lit(".example"))
      val sec = when(pmod(col("doc_id"), lit(3)) === 0, lit("shop"))
        .when(pmod(col("doc_id"), lit(3)) === 1, lit("blog"))
        .otherwise(lit("news"))
      val path = concat(lit("/"), sec, lit("/item-"),
        col("doc_id").cast("string"), lit(".html"))
      val urls = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("https://"), host, path).as("url"),
        host.as("host"), path.as("path"))
      import s.implicits._
      val rules = robotsRules.toDF("host", "kind", "prefix")
      graft.ops.CrawlOps.robotsEval(urls, rules).orderBy(col("doc_id"))
    },
      // same planted urls and rule literals; longest-match winner via
      // row_number (length desc, kind asc — 'allow' < 'disallow' makes
      // the tie rule lexicographic), default allow on no match
      s"""WITH u AS (
         |  SELECT doc_id,
         |    'host-' || (doc_id % 50) || '.example' AS host,
         |    '/' || (CASE doc_id % 3 WHEN 0 THEN 'shop' WHEN 1 THEN 'blog'
         |            ELSE 'news' END) || '/item-' || doc_id || '.html' AS path
         |  FROM documents),
         |r(host, kind, prefix) AS (VALUES $robotsRulesValues),
         |m AS (
         |  SELECT u.doc_id, r.kind, r.prefix,
         |    row_number() OVER (PARTITION BY u.doc_id
         |      ORDER BY length(r.prefix) DESC, r.kind, r.prefix) AS rn
         |  FROM u JOIN r ON u.host = r.host
         |  WHERE starts_with(u.path, r.prefix))
         |SELECT u.doc_id, 'https://' || u.host || u.path AS url,
         |  coalesce(m.kind = 'allow', TRUE) AS allowed,
         |  m.kind AS matched_kind, m.prefix AS matched_prefix
         |FROM u LEFT JOIN (SELECT * FROM m WHERE rn = 1) m USING (doc_id)
         |ORDER BY u.doc_id""".stripMargin),

    Query("crawl_schedule", (s, dir) => {
      // politeness scheduler over a synthetic frontier: host from a
      // 37-way split, priority = n_chars (doc_id breaks ties), known
      // crawl delays for 10 hosts and the 1000 ms default for the
      // rest. The per-host window IS the semantics (a polite crawler
      // is a serial queue per host).
      val frontier = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("h"), pmod(col("doc_id"), lit(37)).cast("string")).as("host"),
        col("n_chars").as("priority"))
      import s.implicits._
      val delays = (0 until 10).map(i => (s"h$i", (i + 1) * 100L))
        .toDF("host", "delay_ms")
      graft.ops.CrawlOps.politenessSchedule(frontier, delays)
        .orderBy(col("doc_id"))
    },
      """WITH f AS (SELECT doc_id, 'h' || (doc_id % 37) AS host,
        |    n_chars AS priority FROM documents),
        |r AS (SELECT doc_id, host, (row_number() OVER (
        |    PARTITION BY host ORDER BY priority DESC, doc_id) - 1)::BIGINT AS slot
        |  FROM f),
        |d AS (SELECT 'h' || i AS host, (i + 1) * 100 AS delay_ms
        |  FROM range(10) t(i))
        |SELECT r.doc_id, r.host, r.slot,
        |  (r.slot * coalesce(d.delay_ms, 1000))::BIGINT AS eta_ms
        |FROM r LEFT JOIN d USING (host)
        |ORDER BY doc_id""".stripMargin),

    Query("frontier_build", (s, dir) => {
      // END-TO-END frontier construction — the crawl-side composition
      // query (the dedup side has curate_corpus): the url_filter
      // planted-url scheme → blocklist gate (broadcast anti on blocked
      // ids) → robots gate (shared rule literals; subdomain'd hosts
      // have no rules → default allow, as in life) → politeness
      // schedule with per-host crawl delays. Every stage is an
      // already-oracled operator; this row proves the composition.
      val sub = when(pmod(col("doc_id"), lit(4)) === 0, lit("ads."))
        .when(pmod(col("doc_id"), lit(4)) === 1, lit("cdn.static."))
        .otherwise(lit(""))
      val sec = when(pmod(col("doc_id"), lit(3)) === 0, lit("shop"))
        .when(pmod(col("doc_id"), lit(3)) === 1, lit("blog"))
        .otherwise(lit("news"))
      val host = concat(sub, lit("host-"),
        pmod(col("doc_id"), lit(50)).cast("string"), lit(".example"))
      val path = concat(lit("/"), sec, lit("/item-"),
        col("doc_id").cast("string"), lit(".html"))
      val urls = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("https://"), host, path).as("url"),
        host.as("host"), path.as("path"))
      import s.implicits._
      val bl = urlBlocklist.toDF("entry", "category", "kind")
      // NO broadcast hints on the gate id-sets: blocked and allowed are
      // corpus-PROPORTIONAL (unlike decontaminate's eval-bounded drop
      // set), so at 10^12 urls these joins must be free to shuffle —
      // AQE broadcasts them when they measure small, as they do here
      val blockedIds = graft.ops.CrawlOps
        .urlFilter(urls.select(col("doc_id"), col("url")), bl)
        .where(col("blocked")).select("doc_id")
      val surviving = urls.join(blockedIds, Seq("doc_id"), "left_anti")
      val rules = robotsRules.toDF("host", "kind", "prefix")
      val allowedIds = graft.ops.CrawlOps.robotsEval(surviving, rules)
        .where(col("allowed")).select("doc_id")
      val frontier = surviving
        .join(allowedIds, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("host"),
          pmod(col("doc_id"), lit(97)).as("priority"))
      val delays = (0 until 10)
        .map(i => (s"host-$i.example", ((i % 7) + 1) * 100L))
        .toDF("host", "delay_ms")
      graft.ops.CrawlOps.politenessSchedule(frontier, delays)
        .orderBy(col("doc_id"))
    },
      // the url_filter and robots_eval oracle spellings chained, then
      // the politeness window — one relational recomputation of the
      // whole composition
      s"""WITH u AS (
         |  SELECT doc_id,
         |    (CASE doc_id % 4 WHEN 0 THEN 'ads.' WHEN 1 THEN 'cdn.static.'
         |          ELSE '' END)
         |      || 'host-' || (doc_id % 50) || '.example' AS host,
         |    (CASE doc_id % 3 WHEN 0 THEN 'shop' WHEN 1 THEN 'blog'
         |          ELSE 'news' END) AS sec
         |  FROM documents),
         |u2 AS (SELECT doc_id, host, sec,
         |    '/' || sec || '/item-' || doc_id || '.html' AS path
         |  FROM u),
         |bl(entry, category, kind) AS (VALUES $urlBlocklistValues),
         |blocked AS (
         |  SELECT DISTINCT u2.doc_id FROM u2 JOIN bl ON
         |    (bl.kind = 'domain' AND
         |      (u2.host = bl.entry OR u2.host LIKE '%.' || bl.entry))
         |    OR (bl.kind = 'prefix' AND u2.host || '/' || u2.sec = bl.entry)),
         |surv AS (SELECT doc_id, host, path FROM u2
         |  WHERE doc_id NOT IN (SELECT doc_id FROM blocked)),
         |r(host, kind, prefix) AS (VALUES $robotsRulesValues),
         |rm AS (
         |  SELECT s.doc_id, r.kind, row_number() OVER (PARTITION BY s.doc_id
         |    ORDER BY length(r.prefix) DESC, r.kind, r.prefix) AS rn
         |  FROM surv s JOIN r ON s.host = r.host
         |  WHERE starts_with(s.path, r.prefix)),
         |allowed AS (SELECT s.doc_id, s.host FROM surv s
         |  LEFT JOIN (SELECT * FROM rm WHERE rn = 1) m USING (doc_id)
         |  WHERE coalesce(m.kind = 'allow', TRUE)),
         |f AS (SELECT doc_id, host, doc_id % 97 AS priority FROM allowed),
         |sched AS (SELECT doc_id, host, (row_number() OVER (
         |    PARTITION BY host ORDER BY priority DESC, doc_id) - 1)::BIGINT AS slot
         |  FROM f),
         |d AS (SELECT 'host-' || i || '.example' AS host,
         |    (i % 7 + 1) * 100 AS delay_ms FROM range(10) t(i))
         |SELECT sched.doc_id, sched.host, sched.slot,
         |  (slot * coalesce(d.delay_ms, 1000))::BIGINT AS eta_ms
         |FROM sched LEFT JOIN d USING (host)
         |ORDER BY doc_id""".stripMargin),

    Query("redirect_resolve", (s, dir) => {
      // redirect-chain resolution by pointer doubling. Planted edges
      // per 50-block (r = doc_id % 50): {16,17,18} -> +1 and 19 -> -2,
      // giving a 3-cycle 17->18->19->17 plus a chain INTO it from 16;
      // every other non-multiple-of-5 id redirects -1 (chains of
      // length <= 4 ending at multiples of 5, which never redirect).
      val r = pmod(col("doc_id"), lit(50))
      val edges = t(s, dir, "documents").select(col("doc_id").as("src"),
          when(r.isin(16, 17, 18), col("doc_id") + 1)
            .when(r === 19, col("doc_id") - 2)
            .when(pmod(col("doc_id"), lit(5)) =!= 0, col("doc_id") - 1)
            .as("dst"))
        .where(col("dst").isNotNull)
      graft.ops.Graph.resolveRedirects(edges, maxRounds = 6)
        .orderBy(col("src"))
    },
      // terminal per src found by a bounded recursive walk (chains are
      // <= 4 hops by construction; the hops < 12 guard only cuts the
      // planted cycle's infinite orbit); a src with no terminal row is
      // a cycle member or cycle-reaching chain
      """WITH RECURSIVE e AS (SELECT src, dst FROM (
        |    SELECT doc_id AS src,
        |      CASE WHEN doc_id % 50 IN (16, 17, 18) THEN doc_id + 1
        |           WHEN doc_id % 50 = 19 THEN doc_id - 2
        |           WHEN doc_id % 5 <> 0 THEN doc_id - 1 END AS dst
        |    FROM documents) WHERE dst IS NOT NULL),
        |walk AS (
        |  SELECT src, dst AS cur, 1::BIGINT AS hops FROM e
        |  UNION ALL
        |  SELECT w.src, e.dst, w.hops + 1 FROM walk w
        |  JOIN e ON w.cur = e.src WHERE w.hops < 12),
        |term AS (SELECT src, cur, hops FROM walk
        |  WHERE cur NOT IN (SELECT src FROM e))
        |SELECT e.src, t.cur AS final_id, t.hops AS hops,
        |  t.src IS NULL AS is_cycle
        |FROM e LEFT JOIN term t ON e.src = t.src
        |ORDER BY e.src""".stripMargin),

    Query("graph_pagerank", (s, dir) => {
      // host-graph centrality — the corpus-curation quality signal
      // (Common-Crawl-style rankings weigh documents by link centrality
      // of their source). Link graph synthesized deterministically from
      // the tier (out-degree 1 + doc_id % 3, targets by the portable
      // two-step MINSTD hash — no external data; both engines derive
      // the same edge list). The OPERATOR is Graph.pageRank's integer
      // fixed-point loop: 5 synchronous rounds, damping 85/100,
      // per-edge floor contributions — BIGINT-exact, so the result is
      // partitioning-independent and the oracle unrolls the same five
      // rounds as chained CTEs (no float PageRank would hash-match)
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val n = docs.count() // bounded: one scalar sizes the target space
      val p = lit(2147483647L)
      val edges = docs.select(col("doc_id").as("u"),
          explode(sequence(lit(0L), pmod(col("doc_id"), lit(3L)))).as("j"))
        .select(col("u"), pmod(
          pmod(pmod((col("u") * 53L + col("j") + 1L) * 48271L, p) * 48271L, p),
          lit(n)).as("v"))
      graft.ops.Graph.pageRank(docs.select(col("doc_id").as("id")),
          edges, iterations = 5)
        .select(col("id").as("doc_id"), col("rank"))
        .orderBy(col("doc_id"))
    }, {
      // the same integer arithmetic, five rounds unrolled as chained
      // CTEs (standard SQL forbids GROUP BY in a recursive term, so a
      // fixed-iteration loop unrolls instead); every division is floor
      // on non-negative values, matching Spark's `div`
      val iters = (1 to 5).map { k =>
        s"""r$k AS (
           |  SELECT d.doc_id AS id,
           |    150000000 + (85 * coalesce(c.s, 0)) // 100 AS rank
           |  FROM documents d LEFT JOIN (
           |    SELECT e.v AS id, sum(r.rank // od.outdeg) AS s
           |    FROM edges e JOIN r${k - 1} r ON r.id = e.u
           |    JOIN od ON od.u = e.u
           |    GROUP BY e.v) c ON c.id = d.doc_id)""".stripMargin
      }.mkString(",\n")
      s"""WITH nn AS (SELECT count(*) AS n FROM documents),
         |raw AS (
         |  SELECT d.doc_id AS u,
         |    (((((d.doc_id * 53 + j.j + 1) * 48271) % 2147483647)
         |      * 48271) % 2147483647) % nn.n AS v
         |  FROM documents d, nn, (SELECT unnest(range(0, 3)) AS j) j
         |  WHERE j.j <= d.doc_id % 3),
         |edges AS (SELECT DISTINCT u, v FROM raw WHERE u <> v),
         |od AS (SELECT u, count(*) AS outdeg FROM edges GROUP BY u),
         |r0 AS (SELECT doc_id AS id, 1000000000 AS rank FROM documents),
         |$iters
         |SELECT id AS doc_id, rank::BIGINT AS rank FROM r5
         |ORDER BY doc_id""".stripMargin
    }),

    Query("host_quality", (s, dir) => {
      // empirical-Bayes host quality: per-doc integer quality_bp
      // (the text_analysis expression) grouped on a 37-way host split,
      // shrunk toward the global floor-mean by 20 pseudo-counts —
      // pure integer floor arithmetic, partitioning-independent.
      val docs = t(s, dir, "documents").select(
        concat(lit("h"), pmod(col("doc_id"), lit(37)).cast("string")).as("host"),
        graft.ops.TextAnalysis.qualityScore(col("text")).as("score"))
      graft.ops.CrawlOps.hostQuality(docs, k = 20).orderBy(col("host"))
    },
      // same quality_bp expression, then pure BIGINT floor arithmetic:
      // global mean g = sum // n over ALL docs, shrunk = (s + k*g) // (n + k)
      s"""WITH $textAnalysisCtes,
        |hq AS (SELECT 'h' || (doc_id % 37) AS host, quality_bp FROM analysis),
        |agg AS (SELECT host, count(*) AS n_docs, sum(quality_bp) AS s
        |  FROM hq GROUP BY host),
        |g AS (SELECT sum(s) // sum(n_docs) AS g FROM agg)
        |SELECT host, n_docs::BIGINT AS n_docs,
        |  (s // n_docs)::BIGINT AS mean_score,
        |  ((s + 20 * g.g) // (n_docs + 20))::BIGINT AS shrunk_score
        |FROM agg, g ORDER BY host""".stripMargin)
  )

  /** Deterministic robots rule groups (RFC 9309 literal-prefix subset)
    * — ONE definition feeds both the Spark DataFrame and the oracle's
    * VALUES literal.
    */
  private val robotsRules: Seq[(String, String, String)] = Seq(
    // disallow-everything with a carve-out: only /blog survives
    ("host-4.example", "disallow", "/"),
    ("host-4.example", "allow", "/blog"),
    // plain section block
    ("host-9.example", "disallow", "/shop"),
    // allow-under-disallow: longer allow rescues /shop/item-1* only
    ("host-14.example", "disallow", "/shop"),
    ("host-14.example", "allow", "/shop/item-1"),
    // equal-length tie on the SAME prefix: allow wins
    ("host-19.example", "disallow", "/news"),
    ("host-19.example", "allow", "/news"),
    // redundant allow (default is allow anyway): exercises matched_kind
    ("host-24.example", "allow", "/"))

  /** Deterministic synthetic blocklist (UT1 shape: domain suffixes +
    * host/section prefixes) — ONE definition feeds both the Spark
    * DataFrame and the oracle's VALUES literal. host-21/host-11 carry
    * deliberately OVERLAPPING entries so the longest-entry winner rule
    * is exercised, not just membership.
    */
  private val urlBlocklist: Seq[(String, String, String)] = Seq(
    ("host-7.example", "adult", "domain"),
    ("host-13.example", "ads", "domain"),
    ("host-3.example", "malware", "domain"),
    ("host-21.example", "ads", "domain"),
    ("static.host-21.example", "tracker", "domain"),
    ("ads.host-49.example", "ads", "domain"),
    ("host-11.example", "annoyance", "domain"),
    ("host-11.example/shop", "commerce", "prefix"),
    // reachability: cdn.static. requires doc_id ≡ 1 (mod 4) — odd —
    // so the host residue must be odd too; 5 also satisfies sec=news
    // (5 ≡ 2 mod 3), giving hits at doc_id ≡ 5 (mod 300)
    ("cdn.static.host-5.example/news", "spam", "prefix"))

  private def robotsRulesValues: String =
    robotsRules.map { case (h, k, p) => s"('$h', '$k', '$p')" }
      .mkString(", ")

  /** urlBlocklist as a SQL VALUES literal (entries are [a-z0-9.-/]
    * only — no quoting hazards).
    */
  private def urlBlocklistValues: String =
    urlBlocklist.map { case (e, c, k) => s"('$e', '$c', '$k')" }
      .mkString(", ")
}
