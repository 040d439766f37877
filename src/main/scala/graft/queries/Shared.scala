package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Helpers that more than one query family uses: the tier table reader
  * and the SQL fragments several oracles share.
  */
private[queries] object Shared {
  def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Python-\s character class in RE2 syntax — the oracle-side twin of
    * PyText.isPySpace. The dedup-family kernels tokenize with isPySpace
    * (NBSP & co. split tokens — the right call for HTML-extracted text),
    * so their oracles must split on the identical class or any document
    * containing \xa0 flips the comparison red.
    */
  val pyWs: String =
    """[\t-\r\x1c-\x1f \x{85}\x{a0}\x{1680}\x{2000}-\x{200a}\x{2028}\x{2029}\x{202f}\x{205f}\x{3000}]"""

  /** Exact trigram-set jaccard pairs over documents (doc_id < 2000) —
    * the shared ground-truth CTE for the minhash miner and the greedy
    * dedup applier (mirrors Dedup.shingleHashes semantics: k=3 word
    * shingles of the lowercased isPySpace tokenization, distinct per
    * doc, whole-text shingle for sub-k docs).
    */
  val exactJaccardCte: String =
    s"""arrs AS (
      |  SELECT doc_id AS id, regexp_split_to_array(
      |    regexp_replace(lower(text), '^$pyWs+|$pyWs+$$', '', 'g'), '$pyWs+') AS arr
      |  FROM documents WHERE doc_id < 2000),""".stripMargin + """
      |toks AS (
      |  SELECT id, unnest(list_distinct(CASE WHEN len(arr) >= 3 THEN
      |    list_transform(range(1, len(arr) - 1),
      |      i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2])
      |    ELSE [array_to_string(arr, ' ')] END)) AS tok
      |  FROM arrs),
      |sizes AS (SELECT id, count(*) AS n FROM toks GROUP BY id),
      |shared AS (
      |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
      |  FROM toks a JOIN toks b ON a.tok = b.tok AND a.id < b.id
      |  GROUP BY 1, 2),
      |exact_pairs AS (
      |  SELECT id_a, id_b,
      |    floor(inter / (sa.n + sb.n - inter) * 10000)::BIGINT AS jaccard_bp
      |  FROM shared JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
      |  WHERE inter / (sa.n + sb.n - inter) >= 0.8)""".stripMargin

  /** Per-doc text-analysis columns as composable CTEs ending in
    * `analysis` — shared by the text_analysis and curate_corpus
    * oracles (same logic as TextAnalysis.analyze).
    */
  val textAnalysisCtes: String =
    ("""base AS (SELECT doc_id, text, trim(text) AS t FROM documents),
      |c AS (SELECT doc_id, text, t,
      |  CASE WHEN length(t) = 0 THEN 0
      |       ELSE len(regexp_split_to_array(t, '\s+')) END AS n_tokens,
      |  len(regexp_extract_all(lower(t), '\b(""" +
      graft.ops.TextAnalysis.langStopwords("en").mkString("|") + """)\b')) AS c_en,
      |  len(regexp_extract_all(lower(t), '\b(""" +
      graft.ops.TextAnalysis.langStopwords("de").mkString("|") + """)\b')) AS c_de,
      |  len(regexp_extract_all(lower(t), '\b(""" +
      graft.ops.TextAnalysis.langStopwords("fr").mkString("|") + """)\b')) AS c_fr,
      |  len(regexp_extract_all(lower(t), '\b(""" +
      graft.ops.TextAnalysis.langStopwords("es").mkString("|") + """)\b')) AS c_es,
      |  len(regexp_extract_all(t, '[.!?]')) AS sents,
      |  length(regexp_replace(t, '[\p{L}\p{N}\s.,!?;:''"-]', '', 'g')) AS syms
      |FROM base),
      |analysis AS (
      |SELECT doc_id, n_tokens,
      |  CASE WHEN c_en > 0 AND c_en >= c_de AND c_en >= c_fr AND c_en >= c_es THEN 'en'
      |       WHEN c_de > 0 AND c_de >= c_fr AND c_de >= c_es THEN 'de'
      |       WHEN c_fr > 0 AND c_fr >= c_es THEN 'fr'
      |       WHEN c_es > 0 THEN 'es' ELSE 'und' END AS lang_guess,
      |  floor(greatest(0.0,
      |    least(length(t) / 500.0, 1.0) * 0.35 +
      |    least(sents / greatest(n_tokens / 25.0, 1.0), 1.0) * 0.25 +
      |    least(c_en * 10.0 / greatest(n_tokens, 1), 1.0) * 0.25 +
      |    (1.0 - least(syms * 5.0 / greatest(length(t), 1), 1.0)) * 0.15) * 10000)::BIGINT AS quality_bp,
      |  sha256(regexp_replace(lower(t), '\s+', ' ', 'g')) AS fingerprint
      |FROM c)""").stripMargin
}
