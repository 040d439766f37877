package graft.queries

import graft.SparkEntry.goldenDir
import graft.queries.Shared._
import org.apache.spark.sql.functions._

/** Text analysis and training-data preparation: chunking, tokenizers and
  * language models, quality heuristics and classifiers, repair,
  * redaction and normalization, selection and mixing.
  */
object TextQueries {
  val all: Seq[Query] = Seq(
    Query("chunk_documents", (s, dir) => {
      // sentence-preserving chunker (bit-parity with the reference, see
      // ChunkerSpec) + the reference's full per-chunk metadata
      // projection (chunking.py:50-58); oracled against the committed
      // golden chunk table at sf0.01
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .flatMap { case (id, text) =>
          graft.text.Chunker.chunkWithMeta(text,
            graft.text.ChunkConfig(chunkSize = 200, overlap = 30, minChunkSize = 20))
            .map(c => (id, c.chunk_id, c.text, c.start, c.end,
              c.chunk_size, c.total_chunks, c.overlap_size))
        }
        .toDF("doc_id", "chunk_id", "chunk_text", "chunk_start", "chunk_end",
          "chunk_size", "total_chunks", "overlap_size")
        .orderBy(col("doc_id"), col("chunk_id"))
    },
      // golden-parquet oracles: frozen expected outputs of the spec'd
      // kernels at sf0.01 (the kernels themselves are additionally pinned
      // byte-for-byte by the sbt golden/parity suites; these rows give the
      // driver a hash-checkable regression gate)
      ("SELECT doc_id, chunk_id, chunk_text, chunk_start, chunk_end, " +
        "chunk_size, total_chunks, overlap_size " +
        s"FROM read_parquet('$goldenDir/chunks_sf001.parquet') " +
        "ORDER BY doc_id, chunk_id")),

    Query("chunk_chars", (s, dir) => {
      // character-mode chunker (chunking.py:117-172) as a driver query.
      // The corpus is punctuation-free word soup, so both derivations
      // plant identical sentence enders (literal replaces) to exercise
      // the sentence-end break path as well as the whitespace one;
      // oracle = committed golden from an INDEPENDENT Python
      // implementation (tools/char_chunk_expected.py), pinned at sf0.01
      import s.implicits._
      val cfg = graft.text.ChunkConfig(chunkSize = 120, overlap = 30,
        minChunkSize = 20, preserveSentences = false)
      t(s, dir, "documents").select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .flatMap { case (id, txt) =>
          val aug = txt.replace("row ", "row. ").replace("fast ", "fast! ")
            .replace("key ", "key? ")
          graft.text.Chunker.chunk(aug, cfg).map(c =>
            (id, c.chunk_id, c.text, c.start, c.end))
        }
        .toDF("doc_id", "chunk_id", "chunk_text", "chunk_start", "chunk_end")
        .orderBy("doc_id", "chunk_id")
    },
      ("SELECT doc_id, chunk_id, chunk_text, chunk_start, chunk_end " +
        s"FROM read_parquet('$goldenDir/char_chunks_sf001.parquet') " +
        "ORDER BY doc_id, chunk_id")),

    Query("text_analysis", (s, dir) =>
      graft.ops.TextAnalysis.analyze(t(s, dir, "documents"))
        .orderBy(col("doc_id")),
      s"""WITH $textAnalysisCtes
        |SELECT doc_id, n_tokens, lang_guess, quality_bp, fingerprint
        |FROM analysis ORDER BY doc_id""".stripMargin),

    Query("corpus_mix", (s, dir) => {
      // deterministic corpus mixing + split assignment — the
      // pretraining data-mixture op. Per-source target sampling rates
      // (100/50/25/10% by source index mod 4) apply via a portable
      // integer hash (pure BIGINT arithmetic, identical in both
      // engines; no RNG — the sample is reproducible and
      // partitioning-independent, which is what makes it re-runnable
      // at 100 TB), plus a 98/1/1 train/val/test split from an
      // INDEPENDENT hash so split membership never correlates with
      // sampling. Each hash is TWO MINSTD steps (multiply mod a 31-bit
      // prime, twice, different multipliers) then mod 100 — one affine
      // step `(a*d+c) % 100` depends only on d mod 100, which silently
      // correlates the two hashes (every sub-100% source would lose
      // its entire val split), and a single mod-p step is still affine
      // for d < p/a; the second multiply wraps p even at d = 0.
      // Overflow-safe in DuckDB (which ERRORS on BIGINT overflow, no
      // wraparound): max intermediate ~ 1e14 << 2^63.
      // Output: per (source, split) kept counts + ws-token budget,
      // the numbers a mixture config is tuned against
      val weight = expr(
        """CASE CAST(substring(source, 4) AS INT) % 4
          |  WHEN 0 THEN 100 WHEN 1 THEN 50 WHEN 2 THEN 25 ELSE 10 END""".stripMargin)
      val p = lit(2147483647L)
      val h1 = pmod(pmod(pmod((col("doc_id") + lit(1L)) * lit(48271L), p)
        * lit(48271L), p), lit(100L))
      val h2 = pmod(pmod(pmod((col("doc_id") + lit(1L)) * lit(69621L), p)
        * lit(69621L), p), lit(100L))
      t(s, dir, "documents")
        .where(h1 < weight)
        .withColumn("split",
          when(h2 < 98, "train").when(h2 === 98, "val").otherwise("test"))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n"),
          sum(graft.ops.TextAnalysis.tokenCount(col("text"))).as("ws_tokens"))
        .orderBy(col("source"), col("split"))
    },
      """WITH hashed AS (
        |  SELECT source, text,
        |    (doc_id + 1) * 48271 % 2147483647 * 48271 % 2147483647 % 100 AS h1,
        |    (doc_id + 1) * 69621 % 2147483647 * 69621 % 2147483647 % 100 AS h2
        |  FROM documents),
        |kept AS (
        |  SELECT source, text,
        |    CASE WHEN h2 < 98 THEN 'train'
        |         WHEN h2 = 98 THEN 'val' ELSE 'test' END AS split
        |  FROM hashed
        |  WHERE h1 < CASE CAST(substring(source, 4) AS INT) % 4
        |      WHEN 0 THEN 100 WHEN 1 THEN 50 WHEN 2 THEN 25 ELSE 10 END)
        |SELECT source, split, count(*)::BIGINT AS n,
        |  sum(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END)::BIGINT AS ws_tokens
        |FROM kept GROUP BY source, split ORDER BY source, split""".stripMargin),

    Query("token_count", (s, dir) =>
      // whitespace words + BPE-ish pre-tokenizer pieces (the metric a
      // training pipeline bills by); both codegen'd regex columns
      t(s, dir, "documents").select(col("doc_id"),
          graft.ops.TextAnalysis.tokenCount(col("text")).as("ws_tokens"),
          graft.ops.TextAnalysis.bpeTokenCount(col("text")).as("bpe_tokens"))
        .orderBy(col("doc_id")),
      """SELECT doc_id,
        |CASE WHEN length(trim(text)) = 0 THEN 0
        |     ELSE len(regexp_split_to_array(trim(text), '\s+')) END::BIGINT AS ws_tokens,
        |len(regexp_extract_all(text, ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 \t\n\r]+|[ \t\n\r]+'))::BIGINT AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin),

    Query("token_bpe", (s, dir) =>
      // REAL post-merge BPE token counts: greedy lowest-rank merges
      // from the committed offline-trained artifact (the quantizer
      // discipline — Bpe.train ran once, golden/bpe_merges.txt is the
      // artifact). Oracle = golden generated by the INDEPENDENT Python
      // reimplementation tools/bpe_expected.py from the same artifact.
      graft.text.Bpe.tokenCountDf(t(s, dir, "documents"),
          graft.text.Bpe.fromFile(s"$goldenDir/bpe_merges.txt"))
        .orderBy(col("doc_id")),
      // real BPE counts: golden from the INDEPENDENT Python derivation
      // (tools/bpe_expected.py — own pretokenizer + merge loop over the
      // same committed merges artifact the kernel consumes)
      (s"SELECT doc_id, bpe_tokens " +
        s"FROM read_parquet('$goldenDir/bpe_sf001.parquet') ORDER BY doc_id")),

    Query("bpe_train", (s, dir) => {
      // distributed BPE tokenizer training (Sennrich 2016): ONE corpus
      // pass builds the piece-freq table, then 48 bounded argmax
      // rounds over it. Oracle = an INDEPENDENT Python trainer over
      // the same tier (tools/bpe_train_expected.py →
      // golden/bpe_train_sf001.parquet)
      import s.implicits._
      graft.text.Bpe.trainDistributed(t(s, dir, "documents"), numMerges = 48)
        .zipWithIndex
        .map { case ((l, r), i) => (i.toLong, l, r) }
        .toDF("rank", "lhs", "rhs").orderBy(col("rank"))
    },
      // independent Python trainer over the same tier
      // (tools/bpe_train_expected.py: own pretokenizer + merge loop)
      s"""SELECT rank, lhs, rhs
         |FROM read_parquet('$goldenDir/bpe_train_sf001.parquet')
         |ORDER BY rank""".stripMargin),

    Query("lm_train", (s, dir) =>
      // distributed training of the char-bigram LM artifact that
      // text_ppl consumes (CCNet trains its filter LM in-pipeline).
      // Oracle = the committed artifact itself, an INDEPENDENT Python
      // derivation over the same tier (tools/bigram_lm_expected.py) —
      // the exact-integer floor here must land on Python's float
      // floor for every count, a genuine dual derivation
      graft.ops.TextAnalysis.trainBigramLm(t(s, dir, "documents"))
        .orderBy(col("bigram")),
      // the committed artifact IS the oracle: an independent Python
      // derivation (tools/bigram_lm_expected.py — float log2 floor)
      // that the engine's exact-BigInteger floor must reproduce
      s"""SELECT bigram, surprise_mb
         |FROM read_parquet('$goldenDir/bigram_lm_sf001.parquet')
         |ORDER BY bigram""".stripMargin),

    Query("seq_pack", (s, dir) =>
      // LM-pretraining sequence packing (GPT-2 concat-and-chunk): the
      // global BPE token stream (+ per-doc EOS) cut into 64-token
      // training sequences via the two-phase prefix sum — the naive
      // global window + per-token shuffle is a one-task trap at
      // corpus scale; here only per-(doc, seq) partials shuffle. The
      // positional checksum pins every token identity at every
      // position; oracle = relational packing over an INDEPENDENT
      // Python token-stream golden (tools/seq_tokens_expected.py)
      graft.ops.SeqPack.packSequences(t(s, dir, "documents"),
          graft.text.Bpe.fromFile(s"$goldenDir/bpe_merges.txt"),
          seqLen = 64)
        .orderBy(col("seq_id")),
      // relational concat-and-chunk over the independent Python token
      // golden (tokens + per-doc EOS rows, portable 31-polynomial
      // keys): the global row_number spelling is correct at oracle
      // scale and is exactly the one-task trap the kernel's two-phase
      // prefix sum exists to avoid
      s"""WITH g AS (
         |  SELECT doc_id, tok_key,
         |    row_number() OVER (ORDER BY doc_id, pos) - 1 AS gpos
         |  FROM read_parquet('$goldenDir/doc_tokens_sf001.parquet'))
         |SELECT (gpos // 64)::BIGINT AS seq_id,
         |  count(*)::BIGINT AS n_toks,
         |  count(DISTINCT doc_id)::BIGINT AS n_docs,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc,
         |  sum((gpos % 64 + 1) * tok_key)::BIGINT AS checksum
         |FROM g GROUP BY 1 ORDER BY 1""".stripMargin),

    Query("vocab_topk", (s, dir) =>
      // corpus-level vocabulary: the canonical wordcount — codegen'd
      // split+explode, map-side combine, TakeOrdered top-k; determinism
      // via (count desc, word asc). Casing is the codegen'd per-code-
      // point simple mapping (TextExpr.simpleLower), matching DuckDB's
      // utf8proc lower() — Spark's lower() full case mapping diverges
      // on length-changing code points (U+0130)
      t(s, dir, "documents")
        .select(explode(split(graft.functions.TextExpr.simpleLower(col("text")),
          graft.text.PyText.PyWsClass + "+")).as("word"))
        .where(length(col("word")) > 0)
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("word")).limit(50),
      (s"""SELECT word, count(*)::BIGINT AS n FROM (
        |  SELECT unnest(regexp_split_to_array(lower(text), '$pyWs+')) AS word
        |  FROM documents)
        |WHERE length(word) > 0
        |GROUP BY word ORDER BY n DESC, word LIMIT 50""".stripMargin)),

    Query("text_ppl", (s, dir) =>
      // CCNet-style LM-perplexity quality filter over the committed
      // char-bigram model (integer millibit surprises — no query-time
      // log on either side); oracle re-derives every doc score from
      // the SAME artifact with an unnest + join
      graft.ops.TextAnalysis.lmPerplexity(t(s, dir, "documents"),
          s"$goldenDir/bigram_lm_sf001.parquet")
        .orderBy(col("doc_id")),
      (s"""WITH lm AS (SELECT bigram, surprise_mb
        |           FROM read_parquet('$goldenDir/bigram_lm_sf001.parquet')),
        |pos AS (
        |  SELECT doc_id, lower(text) AS lt,
        |    unnest(generate_series(1, length(text) - 1)) AS i
        |  FROM documents WHERE length(text) >= 2),
        |bg AS (SELECT doc_id, substr(lt, i, 2) AS bg FROM pos),
        |scored AS (
        |  SELECT b.doc_id,
        |    coalesce(l.surprise_mb,
        |      (SELECT surprise_mb FROM lm WHERE bigram = '<OOV>')) AS mb
        |  FROM bg b LEFT JOIN lm l ON l.bigram = b.bg)
        |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
        |  (sum(mb) // count(*))::BIGINT AS ppl_mb
        |FROM scored GROUP BY doc_id
        |UNION ALL
        |SELECT doc_id, 0::BIGINT, 0::BIGINT FROM documents
        |WHERE text IS NULL OR length(text) < 2
        |ORDER BY doc_id""".stripMargin)),

    Query("text_gopher", (s, dir) =>
      // Gopher-style repetition/format quality metrics (Rae et al. 2021
      // A1.1, public rules): one kernel pass; oracle re-derives every
      // metric relationally in SQL
      graft.ops.TextAnalysis.gopher(t(s, dir, "documents"))
        .orderBy(col("doc_id")),
      (s"""WITH base AS (
        |  SELECT doc_id,
        |    regexp_replace(text, '^$pyWs+|$pyWs+$$', '', 'g') AS t
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, t, length(t) AS tlen,
        |    CASE WHEN length(t) = 0 THEN []
        |         ELSE regexp_split_to_array(lower(t), '$pyWs+') END AS arr
        |  FROM base),""".stripMargin + """
        |ws AS (SELECT doc_id, unnest(arr) AS wd FROM w),
        |agg AS (
        |  SELECT doc_id, count(*) AS nw, sum(length(wd)) AS sumlen,
        |    sum(CASE WHEN regexp_matches(wd, '[a-z]') THEN 1 ELSE 0 END) AS alpha
        |  FROM ws GROUP BY doc_id),
        |sym AS (
        |  SELECT doc_id,
        |    (length(t) - length(replace(t, '#', ''))) +
        |    (length(t) - length(replace(t, '...', ''))) / 3 AS sym
        |  FROM w),
        |g2 AS (
        |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(arr), 1)),
        |    i -> arr[i] || ' ' || arr[i+1])) AS g
        |  FROM w),
        |g3 AS (
        |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(arr) - 1, 1)),
        |    i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2])) AS g
        |  FROM w),
        |t2 AS (SELECT doc_id, cnt, glen FROM (
        |  SELECT doc_id, count(*) AS cnt, length(g) AS glen,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY count(*) DESC, g) AS rn
        |  FROM g2 GROUP BY doc_id, g) WHERE rn = 1),
        |t3 AS (SELECT doc_id, cnt, glen FROM (
        |  SELECT doc_id, count(*) AS cnt, length(g) AS glen,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY count(*) DESC, g) AS rn
        |  FROM g3 GROUP BY doc_id, g) WHERE rn = 1)
        |SELECT w.doc_id,
        |  COALESCE(a.nw, 0)::BIGINT AS n_words,
        |  COALESCE(floor(a.sumlen / a.nw * 10000), 0)::BIGINT AS mean_word_len_bp,
        |  COALESCE(floor(s.sym / a.nw * 10000), 0)::BIGINT AS symbol_ratio_bp,
        |  COALESCE(floor(a.alpha / a.nw * 10000), 0)::BIGINT AS alpha_word_bp,
        |  COALESCE(floor(t2.cnt * t2.glen / w.tlen * 10000), 0)::BIGINT AS top2gram_char_bp,
        |  COALESCE(floor(t3.cnt * t3.glen / w.tlen * 10000), 0)::BIGINT AS top3gram_char_bp
        |FROM w LEFT JOIN agg a USING (doc_id) LEFT JOIN sym s USING (doc_id)
        |LEFT JOIN t2 USING (doc_id) LEFT JOIN t3 USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    Query("text_fix", (s, dir) => {
      // UTF-8-read-as-Latin-1 mojibake repair (the ftfy core case).
      // The corpus is printable-ASCII by construction, so the query
      // PLANTS the three regimes from doc_id: a mojibake suffix
      // ("cafA-tilde-copyright" = UTF-8 'cafe-acute' read as Latin-1)
      // that the strict re-decode repairs, a GENUINE Latin-1-range
      // suffix (lone e-acute) that strict UTF-8 rejects and must leave
      // untouched, and pure ASCII. Both engines build identical
      // augmented text; the oracle applies the known inverse literal
      // substitution. Adversarial cases (>U+00FF chars, double
      // encoding, idempotence) live in the sbt spec.
      val aug = when(pmod(col("doc_id"), lit(3)) === 0,
          concat(col("text"), lit(" caf" + mojiEacute)))
        .when(pmod(col("doc_id"), lit(3)) === 1,
          concat(col("text"), lit(" caf" + cleanEacute)))
        .otherwise(col("text"))
      graft.ops.TextAnalysis.fixMojibakeDf(
          t(s, dir, "documents").select(col("doc_id"), aug.as("text")))
        .orderBy(col("doc_id"))
    },
      // same planted suffixes (chr() spells the codepoints, keeping
      // this source ASCII); the repair is the known inverse literal
      // substitution — the general strict-re-decode kernel must agree
      // with it on the planted corpus, and the genuine-Latin-1 branch
      // (doc_id%3=1) must pass through untouched
      """WITH c(moji, cln) AS (SELECT chr(195)||chr(169), chr(233)),
        |p AS (SELECT doc_id,
        |  CASE doc_id % 3
        |    WHEN 0 THEN text || ' caf' || (SELECT moji FROM c)
        |    WHEN 1 THEN text || ' caf' || (SELECT cln FROM c)
        |    ELSE text END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0
        |    THEN replace(text, (SELECT moji FROM c), (SELECT cln FROM c))
        |    ELSE text END AS text,
        |  doc_id % 3 = 0 AS was_fixed
        |FROM p ORDER BY doc_id""".stripMargin),

    Query("quality_nb", (s, dir) =>
      // model-based quality classification (the fastText/DCLM-style
      // filter stage): from-scratch multinomial Naive Bayes trained
      // DISTRIBUTED on lang='en' vs rest, integer-millibit exact
      // weights. Oracle = committed golden from an INDEPENDENT Python
      // derivation (tools/nb_expected.py: float log2 scoring verified
      // against an exact integer predicate) over the same tier
      graft.ops.TextAnalysis.nbClassify(
          t(s, dir, "documents"), col("lang") === "en")
        .orderBy(col("doc_id")),
      // committed golden from an INDEPENDENT Python derivation
      // (tools/nb_expected.py: own tokenizer + float-log2 scoring,
      // cross-checked there against an exact integer predicate)
      s"""SELECT doc_id, score_mb, pred_pos, is_pos
         |FROM read_parquet('$goldenDir/nb_sf001.parquet')
         |ORDER BY doc_id""".stripMargin),

    Query("pii_redact", (s, dir) => {
      // the synthetic corpus carries no PII by construction, so the
      // query PLANTS deterministic PII (email/IPv4/SSN-shaped id) from
      // doc_id — both engines build the identical augmented text, so
      // the oracle genuinely exercises cross-dialect regex parity
      val aug = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com at 10."),
        pmod(col("doc_id"), lit(256)).cast("string"), lit("."),
        pmod(col("doc_id"), lit(100)).cast("string"), lit(".7 ref "),
        (pmod(col("doc_id"), lit(900)) + lit(100)).cast("string"), lit("-"),
        (pmod(col("doc_id"), lit(90)) + lit(10)).cast("string"), lit("-"),
        (pmod(col("doc_id"), lit(9000)) + lit(1000)).cast("string"))
      val (ne, ni, nid, red) = graft.ops.TextAnalysis.redactPii(aug)
      t(s, dir, "documents")
        .select(col("doc_id"), ne.as("n_emails"), ni.as("n_ips"),
          nid.as("n_ids"), length(red).cast("long").as("red_len"),
          sha2(red, 256).as("red_sha"))
        .orderBy(col("doc_id"))
    }, {
      val e = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ip = "[0-9]{1,3}(\\.[0-9]{1,3}){3}"
      val id = "[0-9]{3}-[0-9]{2}-[0-9]{4}"
      s"""WITH a AS (
        |  SELECT doc_id,
        |    text || ' contact user' || doc_id || '@example.com at 10.' ||
        |    (doc_id % 256) || '.' || (doc_id % 100) || '.7 ref ' ||
        |    (doc_id % 900 + 100) || '-' || (doc_id % 90 + 10) || '-' ||
        |    (doc_id % 9000 + 1000) AS aug
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, aug,
        |    regexp_replace(regexp_replace(regexp_replace(aug,
        |      '$e', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'), '$id', '<ID>', 'g') AS red
        |  FROM a)
        |SELECT doc_id,
        |  len(regexp_extract_all(aug, '$e'))::BIGINT AS n_emails,
        |  len(regexp_extract_all(aug, '$ip'))::BIGINT AS n_ips,
        |  len(regexp_extract_all(aug, '$id'))::BIGINT AS n_ids,
        |  length(red)::BIGINT AS red_len,
        |  sha256(red) AS red_sha
        |FROM r ORDER BY doc_id""".stripMargin
    }),

    Query("text_normalize", (s, dir) =>
      // the reference's normalize_whitespace processor over extraction
      // output shape (processors/base.py:41-61) — Python \s semantics
      t(s, dir, "documents")
        .select(col("doc_id"), col("text").as("content"))
        .transform(graft.jobs.Pipeline.normalizeWhitespace())
        .select(col("doc_id"), col("content"),
          col("char_count").cast("long").as("char_count"),
          col("meets_threshold"))
        .orderBy(col("doc_id")),
      {
      // Python-\s class in RE2 syntax (the Spark side uses the Java form)
      val ws = """[\t-\r\x1c-\x1f \x{85}\x{a0}\x{1680}\x{2000}-\x{200a}\x{2028}\x{2029}\x{202f}\x{205f}\x{3000}]"""
      s"""WITH n AS (SELECT doc_id,
         |  regexp_replace(regexp_replace(text, '^$ws+|$ws+$$', '', 'g'), '$ws+', ' ', 'g') AS content
         |FROM documents)
         |SELECT doc_id, content, length(content) AS char_count,
         |  length(content) >= 0 AS meets_threshold
         |FROM n ORDER BY doc_id""".stripMargin
    }),

    Query("c4_filter", (s, dir) => {
      // C4's published cleaning heuristics over planted pages: one
      // line per rule — a proper sentence, the word-soup body (no
      // terminal punct), a short line, a javascript line, two more
      // proper sentences (the third withheld on doc_id % 11 == 0 to
      // trip too_few_sentences), plus conditional brace / lorem-ipsum
      // / bad-word page poisons with kernel-mirrored precedence.
      val page = concat(
        lit("Genuine first sentence about "), col("source"),
        lit(" data curation today.\n"),
        col("text"), lit("\n"),
        lit("Too short.\n"),
        lit("This line mentions javascript frameworks and should vanish.\n"),
        lit("A second proper sentence keeps the page going."),
        when(pmod(col("doc_id"), lit(11)) =!= 0,
          lit("\nA third proper sentence keeps the page alive."))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(17)) === 0,
          lit("\nconfig = { \"a\": 1 }")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(23)) === 0,
          lit("\nLorem Ipsum dolor sit amet consectetur.")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(31)) === 0,
          lit("\nThis sentence contains badword1 unfortunately for everyone."))
          .otherwise(lit("")))
      graft.ops.TextAnalysis.c4Clean(
          t(s, dir, "documents").select(col("doc_id"), page.as("text")),
          badWords = Set("badword1", "badword2"))
        .orderBy(col("doc_id"))
    },
      // the same planted page, every rule re-spelled relationally with
      // the kernel's precedence (brace > lorem > bad_word > too_few)
      """WITH p AS (SELECT doc_id,
        |    'Genuine first sentence about ' || source ||
        |      ' data curation today.' || chr(10) ||
        |    text || chr(10) ||
        |    'Too short.' || chr(10) ||
        |    'This line mentions javascript frameworks and should vanish.' ||
        |      chr(10) ||
        |    'A second proper sentence keeps the page going.' ||
        |    CASE WHEN doc_id % 11 <> 0 THEN chr(10) ||
        |      'A third proper sentence keeps the page alive.' ELSE '' END ||
        |    CASE WHEN doc_id % 17 = 0 THEN chr(10) ||
        |      'config = { "a": 1 }' ELSE '' END ||
        |    CASE WHEN doc_id % 23 = 0 THEN chr(10) ||
        |      'Lorem Ipsum dolor sit amet consectetur.' ELSE '' END ||
        |    CASE WHEN doc_id % 31 = 0 THEN chr(10) ||
        |      'This sentence contains badword1 unfortunately for everyone.'
        |      ELSE '' END AS page
        |  FROM documents),
        |flags AS (SELECT doc_id,
        |    contains(page, '{') AS has_brace,
        |    contains(lower(page), 'lorem ipsum') AS has_lorem,
        |    len(list_filter(regexp_split_to_array(lower(page),
        |      '[ \t\n\f\r]+'), t -> t IN ('badword1', 'badword2'))) > 0
        |      AS has_bad
        |  FROM p),
        |l AS (SELECT doc_id,
        |    unnest(string_split(page, chr(10))) AS line,
        |    unnest(range(len(string_split(page, chr(10))))) AS pos
        |  FROM p),
        |k AS (SELECT doc_id, line, pos FROM l
        |  WHERE right(trim(line), 1) IN ('.', '!', '?', '"')
        |    AND len(regexp_split_to_array(trim(line), '[ \t]+')) >= 5
        |    AND NOT list_contains(
        |      regexp_split_to_array(lower(trim(line)), '[ \t]+'),
        |      'javascript')),
        |agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text,
        |    count(*) AS n FROM k GROUP BY doc_id)
        |SELECT f.doc_id,
        |  CASE WHEN NOT f.has_brace AND NOT f.has_lorem AND NOT f.has_bad
        |        AND coalesce(a.n, 0) >= 3 THEN a.text END AS text,
        |  (CASE WHEN f.has_brace OR f.has_lorem OR f.has_bad THEN 0
        |        ELSE coalesce(a.n, 0) END)::BIGINT AS n_kept,
        |  CASE WHEN f.has_brace THEN 'brace'
        |       WHEN f.has_lorem THEN 'lorem_ipsum'
        |       WHEN f.has_bad THEN 'bad_word'
        |       WHEN coalesce(a.n, 0) < 3 THEN 'too_few_sentences'
        |       END AS drop_reason
        |FROM flags f LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    Query("select_dsir", (s, dir) =>
      // DSIR-style importance selection (hashed unigram+bigram buckets,
      // exact integer millibit log-ratios, top-k by score): target =
      // lang='en' docs, raw = whole corpus. Oracle = committed golden
      // from an INDEPENDENT Python derivation (tools/dsir_expected.py:
      // own tokenizer/hash/floor, float log2 cross-checked against the
      // exact integer predicate), pinned at sf0.01.
      graft.ops.Dsir.selectTopK(t(s, dir, "documents"),
          col("lang") === "en", k = 100)
        .orderBy(col("doc_id")),
      // committed golden from an INDEPENDENT Python derivation
      // (tools/dsir_expected.py: own tokenizer, FNV-1a+mix hash and
      // float-log2 weights cross-checked against the exact integer
      // predicate), pinned at sf0.01
      s"""SELECT doc_id, score_mb, selected
         |FROM read_parquet('$goldenDir/dsir_sf001.parquet')
         |ORDER BY doc_id""".stripMargin),

    Query("format_envelopes", (s, dir) => {
      // the reference's four storage envelopes (storage/base.py:89-123)
      // as a driver query: the exact serialized string each sink format
      // would write, hashed — json / ndjson / md (txt is the identity
      // envelope). title is null on every 4th row to exercise the md
      // envelope's conditional header lines
      import graft.text.TextFunctions._
      val ts = lit("2024-01-01T00:00:00Z")
      val title = when(pmod(col("doc_id"), lit(4)) === 0,
        lit(null).cast("string")).otherwise(concat(lit("Doc "), col("doc_id")))
      val url = concat(lit("https://"), col("source"),
        lit(".example/d/"), col("doc_id"))
      t(s, dir, "documents").select(
          col("doc_id"),
          sha2(jsonEnvelope(col("text"), col("source"), ts), 256).as("json_sha"),
          sha2(ndjsonEnvelope(col("text"), col("source"), ts), 256).as("nd_sha"),
          sha2(mdEnvelope(col("text"), title, url, col("source"),
            lit("2024-01-01")), 256).as("md_sha"),
          sha2(col("text"), 256).as("txt_sha"))
        .orderBy(col("doc_id"))
    },
      ("""SELECT doc_id,
        |  sha256('{"content":' || to_json(text) || ',"metadata":' || to_json(source)
        |    || ',"timestamp":"2024-01-01T00:00:00Z"}') AS json_sha,
        |  sha256('{"content":' || to_json(text) || '}' || chr(10)
        |    || '{"metadata":' || to_json(source) || '}' || chr(10)
        |    || '{"timestamp":"2024-01-01T00:00:00Z"}') AS nd_sha,
        |  sha256(
        |    CASE WHEN doc_id % 4 = 0 THEN '' ELSE '# Doc ' || doc_id || chr(10) END
        |    || '**Source URL:** https://' || source || '.example/d/' || doc_id || chr(10)
        |    || '**Author:** ' || source || chr(10)
        |    || '**Date:** 2024-01-01' || chr(10)
        |    || '---' || chr(10) || chr(10) || text) AS md_sha,
        |  sha256(text) AS txt_sha
        |FROM documents ORDER BY doc_id""".stripMargin)),

    Query("url_slug", (s, dir) => {
      // URL normalization (cli/app.py:436-450 scheme defaulting) +
      // filename slugging (storage/base.py:147-160) as a driver query.
      // The corpus carries no URLs, so both engines synthesize the
      // SAME url/title variants from doc_id — scheme'd, schemeless,
      // protocol-relative, padded, uppercase-scheme — exercising every
      // branch of both functions against the SQL oracle
      val urlRaw = expr(
        """CASE doc_id % 5
          |  WHEN 0 THEN concat('https://', source, '.example/a/', doc_id)
          |  WHEN 1 THEN concat(source, '.example/path/', doc_id)
          |  WHEN 2 THEN concat('//cdn.', source, '.example/x/', doc_id)
          |  WHEN 3 THEN concat('  ftp://files.', source, '.example/f/', doc_id, ' ')
          |  ELSE concat('HTTP://', source, '.EXAMPLE/Z/', doc_id) END""".stripMargin)
      val title = expr(
        "CASE WHEN doc_id % 3 = 0 THEN NULL " +
        "ELSE concat('Doc #', doc_id, ': ', source, '!!') END")
      t(s, dir, "documents")
        .select(col("doc_id"), urlRaw.as("url_raw"), title.as("title"))
        .select(col("doc_id"),
          graft.text.TextFunctions.normalizeUrl(col("url_raw")).as("url_norm"),
          graft.text.TextFunctions.slug(col("title"), col("url_raw")).as("fname_slug"))
        .orderBy(col("doc_id"))
    },
      ("""WITH raw AS (
        |  SELECT doc_id,
        |    CASE doc_id % 5
        |      WHEN 0 THEN 'https://' || source || '.example/a/' || doc_id
        |      WHEN 1 THEN source || '.example/path/' || doc_id
        |      WHEN 2 THEN '//cdn.' || source || '.example/x/' || doc_id
        |      WHEN 3 THEN '  ftp://files.' || source || '.example/f/' || doc_id || ' '
        |      ELSE 'HTTP://' || source || '.EXAMPLE/Z/' || doc_id END AS url_raw,
        |    CASE WHEN doc_id % 3 = 0 THEN NULL
        |         ELSE 'Doc #' || doc_id || ': ' || source || '!!' END AS title
        |  FROM documents),
        |slugged AS (
        |  SELECT doc_id, url_raw,
        |    regexp_replace(regexp_replace(
        |      lower(trim(coalesce(title, url_raw, 'scrag-output'))),
        |      '[^a-z0-9]+', '-', 'g'), '^-+|-+$', '', 'g') AS s
        |  FROM raw)
        |SELECT doc_id,
        |  CASE WHEN regexp_matches(trim(url_raw), '^[A-Za-z][A-Za-z0-9+.-]*://')
        |       THEN trim(url_raw)
        |       ELSE 'https://' || regexp_replace(trim(url_raw), '^/+', '') END AS url_norm,
        |  CASE WHEN s = '' THEN 'scrag-output' ELSE s END AS fname_slug
        |FROM slugged ORDER BY doc_id""".stripMargin)),

    Query("curate_corpus", (s, dir) => {
      // the composite flow a training-data pipeline actually runs:
      // quality gate + language gate + near-dup removal, one anti-join
      val docs = t(s, dir, "documents").where(col("doc_id") < 2000)
      val kept = graft.ops.TextAnalysis.analyze(docs)
        .where(col("quality_bp") >= 2000 && col("lang_guess") === "en")
      val pairs = graft.ops.Dedup.minhashLshPairs(docs,
        threshold = 0.8, numHashes = 64, bands = 32, shingleSize = 3)
      graft.ops.Dedup.applyPairDedup(kept, pairs)
        .select(col("doc_id"), col("n_tokens"), col("quality_bp"))
        .orderBy(col("doc_id"))
    },
      s"""WITH $textAnalysisCtes,
        |$exactJaccardCte
        |SELECT doc_id, n_tokens, quality_bp FROM analysis
        |WHERE doc_id < 2000 AND quality_bp >= 2000 AND lang_guess = 'en'
        |  AND doc_id NOT IN (SELECT DISTINCT id_b FROM exact_pairs)
        |ORDER BY doc_id""".stripMargin)
  )

  /** U+00E9 (e-acute) and its UTF-8-read-as-Latin-1 mojibake form
    * (bytes C3 A9 seen as chars U+00C3 U+00A9) — the planted pair for
    * text_fix, escape-spelled to keep sources ASCII-clean.
    */
  private val cleanEacute = "\u00e9"
  private val mojiEacute = "\u00c3\u00a9"
}
