package graft.queries

import graft.SparkEntry.goldenDir
import graft.queries.Shared._
import org.apache.spark.sql.functions._

/** Deduplication and decontamination: exact, shingle-jaccard, minhash,
  * simhash, cosine, substring, prefix-filter and line-level duplicates,
  * their appliers and connected components.
  */
object DedupQueries {
  val all: Seq[Query] = Seq(
    Query("dedup_exact", (s, dir) =>
      graft.ops.Dedup.exact(t(s, dir, "documents")).orderBy(col("doc_id")),
      """SELECT min(doc_id) AS doc_id, sha256(text) AS text_hash,
        |count(*) AS dup_count
        |FROM documents GROUP BY sha256(text) ORDER BY 1""".stripMargin),

    Query("dedup_jaccard", (s, dir) =>
      // df cap 64 = stop-shingle removal; bounds the inverted-index
      // self-join fan-out (the oracle applies the identical cap)
      graft.ops.Dedup.trigramJaccardPairs(
          t(s, dir, "documents").where(col("doc_id") < 2000),
          threshold = 0.8, maxDocFreq = 64)
        .orderBy(col("id_a"), col("id_b")),
      (s"""WITH arrs AS (
        |  SELECT doc_id AS id, regexp_split_to_array(
        |    regexp_replace(lower(text), '^$pyWs+|$pyWs+$$', '', 'g'), '$pyWs+') AS arr
        |  FROM documents WHERE doc_id < 2000),""".stripMargin + """
        |toks0 AS (
        |  SELECT id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(arr)-1, 1)),
        |    i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2]))) AS tok
        |  FROM arrs),
        |toks AS (
        |  SELECT id, tok FROM toks0 WHERE tok IN (
        |    SELECT tok FROM toks0 GROUP BY tok HAVING count(*) <= 64)),
        |sizes AS (SELECT id, count(*) AS n FROM toks GROUP BY id),
        |shared AS (
        |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
        |  FROM toks a JOIN toks b ON a.tok = b.tok AND a.id < b.id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  floor(inter / (sa.n + sb.n - inter) * 10000)::BIGINT AS jaccard_bp
        |FROM shared JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
        |WHERE inter / (sa.n + sb.n - inter) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin)),

    Query("dedup_minhash", (s, dir) =>
      // 32 bands x 2 rows: P(miss a j=0.8 pair) = (1-0.8^2)^32 ~ 6e-15,
      // so LSH recall is exhaustive at the oracle threshold and the
      // exact-jaccard verify makes the result equal the full pair set —
      // DuckDB-oracled against exact trigram-set jaccard (no df cap)
      graft.ops.Dedup.minhashLshPairs(
          t(s, dir, "documents").where(col("doc_id") < 2000),
          threshold = 0.8, numHashes = 64, bands = 32, shingleSize = 3)
        .orderBy(col("id_a"), col("id_b")),
      s"""WITH $exactJaccardCte
        |SELECT id_a, id_b, jaccard_bp FROM exact_pairs
        |ORDER BY id_a, id_b""".stripMargin),

    Query("dedup_simhash", (s, dir) =>
      graft.ops.Dedup.simhashPairs(
          t(s, dir, "documents").where(col("doc_id") < 2000), maxHamming = 6)
        .orderBy(col("id_a"), col("id_b")),
      // dual derivation: simhash's Java-hash kernel is not SQL-expressible,
      // so the golden is generated by tools/simhash_expected.py — an
      // independent Python reimplementation (brute-force all-pairs hamming,
      // a different algorithm from the kernel's pigeonhole block join) —
      // and the generator fails if kernel and derivation ever diverge
      (s"SELECT id_a, id_b, hamming FROM read_parquet('$goldenDir/simhash_sf001.parquet') " +
        "ORDER BY id_a, id_b")),

    Query("dedup_apply", (s, dir) => {
      // end-to-end dedup: minhash pair mining → greedy one-pass applier
      // (keep every doc never appearing as the larger id of a pair);
      // the oracle recomputes the exact-jaccard pair set and anti-joins
      val docs = t(s, dir, "documents").where(col("doc_id") < 2000)
      val pairs = graft.ops.Dedup.minhashLshPairs(docs,
        threshold = 0.8, numHashes = 64, bands = 32, shingleSize = 3)
      graft.ops.Dedup.applyPairDedup(docs, pairs)
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))
    },
      s"""WITH $exactJaccardCte
        |SELECT doc_id, n_chars FROM documents
        |WHERE doc_id < 2000
        |  AND doc_id NOT IN (SELECT DISTINCT id_b FROM exact_pairs)
        |ORDER BY doc_id""".stripMargin),

    Query("dedup_cc", (s, dir) => {
      // exact-cluster dedup: minhash pair mining → union-find
      // contraction into connected components — every pair member
      // canonicalizes to its cluster-MINIMUM id, fixing the greedy
      // applier's transitive-chain misses. The oracle recomputes
      // components with a recursive CTE over the same exact-jaccard
      // pair set
      val docs = t(s, dir, "documents").where(col("doc_id") < 2000)
      val pairs = graft.ops.Dedup.minhashLshPairs(docs,
        threshold = 0.8, numHashes = 64, bands = 32, shingleSize = 3)
      graft.ops.Dedup.connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("component"),
          (col("id") === col("component")).as("kept"))
        .orderBy(col("doc_id"))
    },
      // independent derivation of the components: min-label closure by
      // recursive CTE (transitive reachability) over the exact-jaccard
      // pair set — no union-find logic shared with the kernel
      s"""WITH RECURSIVE $exactJaccardCte,
        |edges AS (SELECT id_a AS u, id_b AS v FROM exact_pairs
        |          UNION ALL SELECT id_b, id_a FROM exact_pairs),
        |nodes AS (SELECT DISTINCT u AS id FROM edges),
        |reach AS (
        |  SELECT id, id AS lab FROM nodes
        |  UNION
        |  SELECT e.u AS id, r.lab FROM reach r JOIN edges e ON e.v = r.id)
        |SELECT id::BIGINT AS doc_id, min(lab)::BIGINT AS component,
        |  (id = min(lab)) AS kept
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin),

    Query("dedup_incremental", (s, dir) => {
      // the production ingestion loop: today's batch (doc_id % 5 == 0,
      // ~20% of the corpus) mines near-dups against the HISTORY's
      // persisted band index — history text is only point-read for
      // verification, old×old pairs are never re-mined. Same
      // (64, 32, 3) LSH as dedup_minhash, so recall at j >= 0.8 is
      // exhaustive ((1-0.8^2)^32 ~ 6e-15) and the oracle is the exact
      // pair set restricted to pairs touching a new doc
      val docs = t(s, dir, "documents").where(col("doc_id") < 2000)
      val isNew = pmod(col("doc_id"), lit(5)) === 0
      val oldDocs = docs.where(!isNew)
      val newDocs = docs.where(isNew)
      val history = graft.ops.Dedup.lshBandIndex(oldDocs,
        numHashes = 64, bands = 32, shingleSize = 3)
      graft.ops.Dedup.incrementalNearDupPairs(history, oldDocs, newDocs,
          threshold = 0.8, numHashes = 64, bands = 32, shingleSize = 3)
        .orderBy(col("id_a"), col("id_b"))
    },
      s"""WITH $exactJaccardCte
        |SELECT id_a, id_b, jaccard_bp FROM exact_pairs
        |WHERE id_a % 5 = 0 OR id_b % 5 = 0
        |ORDER BY id_a, id_b""".stripMargin),

    Query("line_dedup", (s, dir) => {
      // RefinedWeb/CCNet line-level boilerplate removal. The tier's
      // documents are single-line, so the query reconstructs the
      // multi-line web-page shape deterministically — a universal
      // header line, the document body, one of 7 rotating footers —
      // and the pass must excise exactly the lines recurring in >= 3
      // distinct docs (header, every footer, and any body shared by an
      // exact-dup family of >= 3) while leaving unique bodies intact.
      // The oracle rebuilds the same pages and recomputes the rule
      // with string_split + count(DISTINCT doc_id) + string_agg
      val pages = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("SITE NAVIGATION MENU\n"), col("text"), lit("\n"),
          lit("Copyright footer variant "), pmod(col("doc_id"), lit(7)))
          .as("text"))
      graft.ops.Dedup.lineDedup(pages, minDocs = 3)
        .withColumn("n_removed", col("n_removed").cast("long"))
        .orderBy(col("doc_id"))
    },
      // text-domain recomputation: the kernel counts/matches 64-bit
      // line fingerprints (8-byte shuffle keys, fingerprint-set
      // broadcast); the oracle counts the line STRINGS themselves —
      // identical results absent a 2^-64 fingerprint collision
      """WITH d AS (SELECT doc_id,
        |    'SITE NAVIGATION MENU' || chr(10) || text || chr(10) ||
        |    'Copyright footer variant ' || (doc_id % 7) AS text
        |  FROM documents),
        |l AS (SELECT doc_id,
        |    unnest(string_split(text, chr(10))) AS line,
        |    unnest(range(len(string_split(text, chr(10))))) AS pos
        |  FROM d),
        |freq AS (SELECT line FROM (
        |    SELECT line, count(DISTINCT doc_id) AS n
        |    FROM l WHERE line <> '' GROUP BY line) WHERE n >= 3),
        |kept AS (SELECT doc_id, line, pos FROM l
        |  WHERE line = '' OR line NOT IN (SELECT line FROM freq)),
        |agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text,
        |    count(*) AS n_kept FROM kept GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CASE WHEN d.text IS NULL THEN NULL
        |       ELSE coalesce(a.text, '') END AS text,
        |  ((SELECT count(*) FROM l WHERE l.doc_id = d.doc_id)
        |    - coalesce(a.n_kept, 0))::BIGINT AS n_removed
        |FROM d LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    Query("text_winnow", (s, dir) => {
      // winnowing fingerprints (Schleimer et al. rolling-hash local
      // fingerprints); golden-parquet oracle like the chunker
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .flatMap { case (id, text) =>
          graft.ops.TextAnalysis.winnow(text).iterator.zipWithIndex
            .map { case (fp, i) => (id, i, fp) }
        }
        .toDF("doc_id", "fp_index", "fp")
        .orderBy(col("doc_id"), col("fp_index"))
    },
      (s"SELECT doc_id, fp_index, fp FROM read_parquet('$goldenDir/winnow_sf001.parquet') " +
        "ORDER BY doc_id, fp_index")),

    Query("neardup_cosine", (s, dir) =>
      graft.ops.Dedup.cosineNearDupPairs(
          t(s, dir, "embeddings").where(col("vec_id") < 2000)
            .withColumn("embedding", col("embedding").cast("array<double>")),
          threshold = 0.4)
        .orderBy(col("id_a"), col("id_b")),
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |floor(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) * 10000)::BIGINT AS cos_bp
        |FROM embeddings a JOIN embeddings b
        |  ON a.vec_id < b.vec_id
        |WHERE a.vec_id < 2000 AND b.vec_id < 2000
        |  AND list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin),

    Query("dedup_substring", (s, dir) =>
      // cross-document SUBSTRING dedup over winnowing fingerprints:
      // inverted index on the fps -> diagonal-island extend-verify, all
      // relational (only (fp, id, pos) triples shuffle). The oracle
      // re-mines pairs IN SQL from the winnow golden.
      graft.ops.Dedup.substringDupPairs(t(s, dir, "documents"),
          minSharedFps = 4, maxDocFreq = 64, minRun = 8)
        .orderBy(col("id_a"), col("id_b")),
      // the pair-mining logic re-derived IN SQL from the committed
      // winnow golden: df cap, inverted-index self-join, diagonal
      // islands (ia - row_number) for the longest shared fp run
      (s"""WITH fps AS (SELECT doc_id, fp_index, fp
        |  FROM read_parquet('$goldenDir/winnow_sf001.parquet')),""".stripMargin + """
        |hot AS (SELECT fp FROM (
        |  SELECT fp, count(DISTINCT doc_id) AS df FROM fps GROUP BY fp) WHERE df > 64),
        |f AS (SELECT * FROM fps ANTI JOIN hot USING (fp)),
        |m AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |        a.fp_index AS ia, b.fp_index AS ib, a.fp AS fp
        |      FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id),
        |runs AS (SELECT id_a, id_b, ia - ib AS diag,
        |           ia - row_number() OVER (PARTITION BY id_a, id_b, ia - ib
        |             ORDER BY ia) AS island
        |         FROM m),
        |rl AS (SELECT id_a, id_b, max(cnt) AS max_run FROM (
        |         SELECT id_a, id_b, diag, island, count(*) AS cnt
        |         FROM runs GROUP BY 1, 2, 3, 4) GROUP BY 1, 2),
        |sfp AS (SELECT id_a, id_b, count(DISTINCT fp) AS shared_fps
        |        FROM m GROUP BY 1, 2)
        |SELECT id_a, id_b, shared_fps, max_run
        |FROM sfp JOIN rl USING (id_a, id_b)
        |WHERE shared_fps >= 4 AND max_run >= 8 ORDER BY id_a, id_b""".stripMargin)),

    Query("contamination_check", (s, dir) => {
      // eval-set contamination: held-out eval = every doc_id % 29 == 3
      // (deterministic synthetic split — no external data); train = the
      // rest. Eval shingles broadcast; train never shuffles.
      val docs = t(s, dir, "documents")
      graft.ops.Dedup.contaminationCheck(
          docs.where(col("doc_id") % 29 =!= 3),
          docs.where(col("doc_id") % 29 === 3),
          minShared = 2, maxDocFreq = 64)
        .orderBy(col("train_id"), col("eval_id"))
    },
      // trigram shingles recomputed as STRINGS (the hashed-shingle
      // kernel agrees modulo negligible 64-bit collisions — the
      // dedup_jaccard-proven pattern); same df cap 64, sub-k docs drop
      (s"""WITH arrs AS (
        |  SELECT doc_id AS id, regexp_split_to_array(
        |    regexp_replace(lower(text), '^$pyWs+|$pyWs+$$', '', 'g'), '$pyWs+') AS arr
        |  FROM documents),""".stripMargin + """
        |toks0 AS (
        |  SELECT id, unnest(list_distinct(CASE WHEN len(arr) >= 3 THEN
        |    list_transform(range(1, len(arr) - 1),
        |      i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2])
        |    ELSE [] END)) AS tok
        |  FROM arrs),
        |toks AS (SELECT id, tok FROM toks0 WHERE tok IN (
        |  SELECT tok FROM toks0 GROUP BY tok HAVING count(*) <= 64)),
        |ev AS (SELECT id AS eval_id, tok FROM toks WHERE id % 29 = 3),
        |tr AS (SELECT id AS train_id, tok FROM toks WHERE id % 29 <> 3),
        |evsz AS (SELECT eval_id, count(*) AS n_eval FROM ev GROUP BY 1),
        |shared AS (SELECT train_id, eval_id, count(*) AS shared_shingles
        |           FROM tr JOIN ev USING (tok) GROUP BY 1, 2)
        |SELECT train_id, eval_id, shared_shingles,
        |  floor(shared_shingles / n_eval * 10000)::BIGINT AS overlap_bp
        |FROM shared JOIN evsz USING (eval_id)
        |WHERE shared_shingles >= 2 ORDER BY train_id, eval_id""".stripMargin)),

    Query("dedup_prefix", (s, dir) =>
      // PPJoin-style LOSSLESS near-dup mining: prefix filtering on the
      // rarest-first df order bounds candidates (12× fewer than the
      // share-any-shingle join at this tier) while the output stays
      // the exact J ≥ 1/2 pair set over FULL shingle sets — the
      // df-capped dedup_jaccard's lossless sibling. Rational threshold,
      // BIGINT cross-multiplication only; same doc subset as the other
      // pair miners
      graft.ops.Dedup.prefixJaccardPairs(
        t(s, dir, "documents").where(col("doc_id") < 2000), 1, 2)
        .orderBy(col("id_a"), col("id_b")),
      // the SHARED exact-jaccard CTE chain (same shingle semantics as
      // the minhash ground truth — it cannot drift from the kernel's
      // proven spelling), with the threshold re-spelled as BIGINT
      // cross-multiplication at 1/2 and jaccard_bp as integer floor
      // division (exact_pairs from the shared chain is unused here)
      (s"WITH $exactJaccardCte,\n" +
      """pp AS (
        |  SELECT id_a, id_b,
        |    (inter * 10000) // (sa.n + sb.n - inter) AS jaccard_bp
        |  FROM shared JOIN sizes sa ON sa.id = id_a
        |    JOIN sizes sb ON sb.id = id_b
        |  WHERE inter * 2 >= 1 * (sa.n + sb.n - inter))
        |SELECT id_a, id_b, jaccard_bp FROM pp
        |ORDER BY id_a, id_b""".stripMargin)),

    Query("text_derep", (s, dir) => {
      // WITHIN-document repeated-line removal (intra-doc sibling of
      // line_dedup's cross-doc rule). Planted page shape: a subscribe
      // banner appears twice and the body line repeats once — both
      // second occurrences must go; the empty line must survive
      // (paragraph structure is never deduped). Pure per-row kernel,
      // zero exchanges. Oracle recomputes keep-first-occurrence with
      // string_split + min(pos) per (doc, line).
      val page = concat(lit("SUBSCRIBE NOW\n"), col("text"),
        lit("\n\nSHARE: "), pmod(col("doc_id"), lit(5)).cast("string"),
        lit("\nSUBSCRIBE NOW\n"), col("text"))
      graft.ops.Dedup.derepLines(
          t(s, dir, "documents").select(col("doc_id"), page.as("text")))
        .withColumn("n_removed", col("n_removed").cast("long"))
        .orderBy(col("doc_id"))
    },
      // keep-first-occurrence recomputed in the text domain (the
      // kernel matches 64-bit line fingerprints; string equality is
      // identical absent a 2^-64 collision — the line_dedup pattern)
      """WITH d AS (SELECT doc_id,
        |    'SUBSCRIBE NOW' || chr(10) || text || chr(10) || chr(10) ||
        |    'SHARE: ' || (doc_id % 5) || chr(10) ||
        |    'SUBSCRIBE NOW' || chr(10) || text AS text
        |  FROM documents),
        |l AS (SELECT doc_id,
        |    unnest(string_split(text, chr(10))) AS line,
        |    unnest(range(len(string_split(text, chr(10))))) AS pos
        |  FROM d),
        |firsts AS (SELECT doc_id, line, min(pos) AS fpos
        |  FROM l WHERE line <> '' GROUP BY doc_id, line),
        |kept AS (SELECT l.doc_id, l.line, l.pos FROM l
        |  LEFT JOIN firsts f ON l.doc_id = f.doc_id AND l.line = f.line
        |    AND l.pos = f.fpos
        |  WHERE l.line = '' OR f.fpos IS NOT NULL),
        |agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text,
        |    count(*) AS n_kept FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.text, '') AS text,
        |  ((SELECT count(*) FROM l WHERE l.doc_id = d.doc_id)
        |    - coalesce(a.n_kept, 0))::BIGINT AS n_removed
        |FROM d LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    Query("decontam_apply", (s, dir) => {
      // APPLY side of contamination_check — same deterministic split
      // (eval = doc_id % 29 == 3) and the same df-capped trigram rule;
      // train docs sharing >= 2 capped shingles with ANY eval doc are
      // dropped via one broadcast anti-join on id (train text never
      // shuffles). Output is the surviving corpus slice.
      val docs = t(s, dir, "documents")
      graft.ops.Dedup.decontaminate(
          docs.where(col("doc_id") % 29 =!= 3),
          docs.where(col("doc_id") % 29 === 3),
          minShared = 2, maxDocFreq = 64)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    },
      // the contamination_check CTE re-used to mine the drop set, then
      // NOT IN over the train slice (string trigrams ≡ the kernel's
      // hashed shingles modulo negligible 64-bit collisions)
      (s"""WITH arrs AS (
        |  SELECT doc_id AS id, regexp_split_to_array(
        |    regexp_replace(lower(text), '^$pyWs+|$pyWs+$$', '', 'g'), '$pyWs+') AS arr
        |  FROM documents),""".stripMargin + """
        |toks0 AS (
        |  SELECT id, unnest(list_distinct(CASE WHEN len(arr) >= 3 THEN
        |    list_transform(range(1, len(arr) - 1),
        |      i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2])
        |    ELSE [] END)) AS tok
        |  FROM arrs),
        |toks AS (SELECT id, tok FROM toks0 WHERE tok IN (
        |  SELECT tok FROM toks0 GROUP BY tok HAVING count(*) <= 64)),
        |ev AS (SELECT id AS eval_id, tok FROM toks WHERE id % 29 = 3),
        |tr AS (SELECT id AS train_id, tok FROM toks WHERE id % 29 <> 3),
        |bad AS (SELECT DISTINCT train_id FROM (
        |  SELECT train_id, eval_id, count(*) AS sh
        |  FROM tr JOIN ev USING (tok) GROUP BY 1, 2) WHERE sh >= 2)
        |SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id % 29 <> 3
        |  AND doc_id NOT IN (SELECT train_id FROM bad)
        |ORDER BY doc_id""".stripMargin)),

    Query("dedup_keep_best", (s, dir) => {
      // quality-aware cluster dedup: the dedup_cc pair set, but each
      // cluster keeps its HIGHEST-quality_bp member (tie → lowest id)
      // instead of the minimum id — the production canonical-pick.
      // Oracle: recursive-CTE components + the quality CTE + the same
      // (score desc, id) pick re-spelled relationally.
      val docs = t(s, dir, "documents").where(col("doc_id") < 2000)
      val pairs = graft.ops.Dedup.minhashLshPairs(docs,
        threshold = 0.8, numHashes = 64, bands = 32, shingleSize = 3)
      val scores = t(s, dir, "documents").select(col("doc_id"),
        graft.ops.TextAnalysis.qualityScore(col("text")).as("score"))
      graft.ops.Dedup.keepBestPerCluster(pairs, scores)
        .orderBy(col("doc_id"))
    },
      // components by min-label recursive closure (independent of the
      // kernel's union-find contraction), quality from the shared CTE,
      // pick by row_number (score desc, id) — the kernel's min(struct)
      // agg must land on the same member
      s"""WITH RECURSIVE $exactJaccardCte,
        |$textAnalysisCtes,
        |edges AS (SELECT id_a AS u, id_b AS v FROM exact_pairs
        |          UNION ALL SELECT id_b, id_a FROM exact_pairs),
        |nodes AS (SELECT DISTINCT u AS id FROM edges),
        |reach AS (
        |  SELECT id, id AS lab FROM nodes
        |  UNION
        |  SELECT e.u AS id, r.lab FROM reach r JOIN edges e ON e.v = r.id),
        |comp AS (SELECT id, min(lab) AS component FROM reach GROUP BY id),
        |scored AS (SELECT c.id, c.component, a.quality_bp AS score
        |  FROM comp c JOIN analysis a ON a.doc_id = c.id),
        |picked AS (SELECT id, component, score, row_number() OVER (
        |    PARTITION BY component ORDER BY score DESC, id) AS rn
        |  FROM scored)
        |SELECT id::BIGINT AS doc_id, component::BIGINT AS component,
        |  score::BIGINT AS score, (rn = 1) AS kept
        |FROM picked ORDER BY doc_id""".stripMargin)
  )

}
