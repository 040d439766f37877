package graft.queries

import graft.SparkEntry.goldenDir
import graft.queries.Shared._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search and RAG over the tier's embeddings: brute-force,
  * LSH, IVF, PQ and OPQ top-k, semantic dedup, the RAG index and
  * formatter, and lexical search.
  */
object SimilarityQueries {
  val all: Seq[Query] = Seq(
    Query("ann_brute", (s, dir) =>
      graft.ops.Similarity.bruteTopK(
        t(s, dir, "embeddings")
          .withColumn("embedding", col("embedding").cast("array<double>")),
        anchorVec(s, dir), k = 10),
      """SELECT vec_id, floor(list_cosine_similarity(embedding::DOUBLE[],
        |  (SELECT embedding FROM embeddings WHERE vec_id = 0)::DOUBLE[]) * 10000)::BIGINT AS score_bp
        |FROM embeddings ORDER BY score_bp DESC, vec_id LIMIT 10""".stripMargin),

    Query("ann_lsh", (s, dir) => {
      val idx = graft.ops.Similarity.lshIndex(t(s, dir, "embeddings"), bits = 8)
      graft.ops.Similarity.lshTopK(idx, anchorVec(s, dir), k = 10,
        bits = 8, probeHamming = 2)
    }, {
      // the exact 8-bit random-hyperplane signature + hamming<=2 probe
      // set, recomputed in SQL with the kernel's own plane constants
      // inlined (Similarity.hyperplane is deterministic)
      val bits = 8
      val sigExpr = (0 until bits).map { p =>
        s"(CASE WHEN list_dot_product(v, ${graft.ops.Similarity.hyperplaneSqlLiteral(p, 64)}) >= 0 THEN ${1 << p} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |sig AS (SELECT vec_id, v, $sigExpr AS bucket FROM e),
         |q AS (SELECT bucket AS qb, v AS qv FROM sig WHERE vec_id = 0)
         |SELECT vec_id,
         |  floor(list_cosine_similarity(v, (SELECT qv FROM q)) * 10000)::BIGINT AS score_bp
         |FROM sig
         |WHERE bit_count(xor(bucket::BIGINT, (SELECT qb FROM q)::BIGINT)) <= 2
         |ORDER BY score_bp DESC, vec_id LIMIT 10""".stripMargin
    }),

    Query("ann_ivf", (s, dir) => {
      // IVF ANN: coarse quantizer trained once offline (committed
      // centroid artifact, like a production faiss quantizer) → cell
      // assignment → probe the nprobe nearest cells only. The oracle
      // recomputes cells/probes from the same centroid literals.
      val centroids = graft.ops.Similarity
        .centroidsFromFile(s"$goldenDir/ivf_centroids.txt")
      val idx = graft.ops.Similarity.ivfIndex(t(s, dir, "embeddings"), centroids)
      graft.ops.Similarity.ivfTopK(idx, centroids, anchorVec(s, dir),
        k = 10, nprobe = 4)
    }, {
      // cells and probes recomputed in SQL from the committed centroid
      // artifact (Double.toString round-trips, so the literals equal
      // the kernel's binary64 centroids); tie rule: first maximal index
      // (list_position-of-max == the kernel's strict-> loop)
      val cs = graft.ops.Similarity
        .centroidsFromFile(s"$goldenDir/ivf_centroids.txt")
      val scoreList = cs
        .map(c => s"list_cosine_similarity(v, ${c.mkString("[", ", ", "]")})")
        .mkString("[", ", ", "]")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |scored AS (SELECT vec_id, v, $scoreList AS s FROM e),
         |cells AS (SELECT vec_id, v, list_position(s, list_max(s)) - 1 AS cell
         |          FROM scored),
         |q AS (SELECT s AS qs, v AS qv FROM scored WHERE vec_id = 0),
         |probes AS (
         |  SELECT cell FROM (
         |    SELECT unnest(qs) AS sc, unnest(range(0, len(qs))) AS cell FROM q)
         |  ORDER BY sc DESC, cell LIMIT 4)
         |SELECT vec_id,
         |  floor(list_cosine_similarity(v, (SELECT qv FROM q)) * 10000)::BIGINT AS score_bp
         |FROM cells WHERE cell IN (SELECT cell FROM probes)
         |ORDER BY score_bp DESC, vec_id LIMIT 10""".stripMargin
    }),

    Query("ann_pq", (s, dir) => {
      // product quantization (the faiss IVF+PQ compression leg): vectors
      // become m=8 one-byte codes against committed per-subspace
      // codebooks; queries score via ADC lookup tables. The oracle
      // re-derives codes AND the decomposed cosine from the same
      // codebook literals in SQL.
      val cb = graft.ops.Pq.fromFile(s"$goldenDir/pq_codebooks.txt")
      val enc = graft.ops.Pq.encode(t(s, dir, "embeddings"), cb)
      graft.ops.Pq.adcTopK(enc, cb, anchorVec(s, dir), k = 10)
    }, {
      // PQ codes and the ADC-decomposed cosine recomputed in SQL from
      // the committed codebook artifact: per subspace, code = first-min
      // L2 over the inlined sub-centroids (list_position == the
      // kernel's strict-< rule; sqrt is monotone so list_distance's
      // argmin equals the kernel's squared-L2 argmin); then
      // dot(q, recon) = sum of per-subspace dot lookups and
      // ||recon||^2 = sum of per-subspace norm literals (precomputed in
      // Scala, so both sides use identical binary64 values).
      val p = pqSqlParts()
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |d AS (SELECT vec_id, v, ${p.dlCols} FROM e),
         |c AS (SELECT vec_id, ${p.codeCols} FROM d),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
         |SELECT vec_id, ${p.scoreBp}
         |FROM c, q
         |ORDER BY score_bp DESC, vec_id LIMIT 10""".stripMargin
    }),

    Query("ann_ivfpq", (s, dir) => {
      // IVF + PQ composed (coarse cell pruning, then ADC over byte
      // codes): the index build is ONE shuffle-free pass emitting
      // (vec_id, cell, codes); a query touches ~nprobe/k of the corpus
      // at 32x-compressed width — the 10^9-vector serving shape
      val centroids = graft.ops.Similarity
        .centroidsFromFile(s"$goldenDir/ivf_centroids.txt")
      val cb = graft.ops.Pq.fromFile(s"$goldenDir/pq_codebooks.txt")
      val idx = graft.ops.Pq.ivfPqIndex(t(s, dir, "embeddings"), centroids, cb)
      graft.ops.Pq.ivfPqTopK(idx, centroids, cb, anchorVec(s, dir),
        k = 10, nprobe = 4)
    }, {
      // the composed faiss production shape: IVF cell pruning (same
      // centroid literals + first-max tie rule as ann_ivf) over
      // PQ-coded vectors, ADC-rescored — both stages recomputed in SQL
      val cs = graft.ops.Similarity
        .centroidsFromFile(s"$goldenDir/ivf_centroids.txt")
      val ivfScores = cs
        .map(c => s"list_cosine_similarity(v, ${c.mkString("[", ", ", "]")})")
        .mkString("[", ", ", "]")
      val p = pqSqlParts()
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |scored AS (SELECT vec_id, v, $ivfScores AS s FROM e),
         |cells AS (SELECT vec_id, v, list_position(s, list_max(s)) - 1 AS cell
         |          FROM scored),
         |q AS (SELECT s AS qs, v AS qv FROM scored WHERE vec_id = 0),
         |probes AS (
         |  SELECT cell FROM (
         |    SELECT unnest(qs) AS sc, unnest(range(0, len(qs))) AS cell FROM q)
         |  ORDER BY sc DESC, cell LIMIT 4),
         |d AS (SELECT vec_id, v, ${p.dlCols} FROM cells
         |      WHERE cell IN (SELECT cell FROM probes)),
         |c AS (SELECT vec_id, ${p.codeCols} FROM d)
         |SELECT vec_id, ${p.scoreBp}
         |FROM c, q
         |ORDER BY score_bp DESC, vec_id LIMIT 10""".stripMargin
    }),

    Query("ann_opq", (s, dir) => {
      // OPQ-RR (Ge et al. 2013 baseline): deterministic random rotation
      // decorrelates dimensions before PQ so no subspace hoards the
      // variance; codebooks train on the ROTATED tier (deterministic,
      // the oracle re-derives them by the same rule). Rotation is a
      // shuffle-free map; everything downstream is the ann_pq pipeline
      val r = graft.ops.Pq.rotationMatrix(64)
      val rot = graft.ops.Pq.rotate(t(s, dir, "embeddings"), r)
      val cb = graft.ops.Pq.train(rot, m = 8, k = 16)
      graft.ops.Pq.adcTopK(graft.ops.Pq.encode(rot, cb), cb,
        graft.ops.Pq.rotateVec(anchorVec(s, dir), r), k = 10)
    }, (s: SparkSession, dir: String) => {
      // rotation recomputed in SQL from the same pure-function matrix
      // (binary64 literals), with the kernel's FLOAT round-trip spelled
      // as ::FLOAT::DOUBLE; codebooks derived from the LIVE tier over
      // rotated vectors by the same deterministic trainer
      val r = graft.ops.Pq.rotationMatrix(64)
      val rlit = r.map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]")
      val p = pqSqlParts(graft.ops.Pq.train(
        graft.ops.Pq.rotate(t(s, dir, "embeddings"), r), m = 8, k = 16))
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v0 FROM embeddings),
         |r AS (SELECT vec_id, list_transform(range(1, 65),
         |  i -> CAST(list_dot_product(($rlit)[i], v0) AS FLOAT)::DOUBLE) AS v
         |  FROM e),
         |d AS (SELECT vec_id, v, ${p.dlCols} FROM r),
         |c AS (SELECT vec_id, ${p.codeCols} FROM d),
         |q AS (SELECT v AS qv FROM r WHERE vec_id = 0)
         |SELECT vec_id, ${p.scoreBp}
         |FROM c, q
         |ORDER BY score_bp DESC, vec_id LIMIT 10""".stripMargin
    }),

    Query("embed_quantize", (s, dir) => {
      // int8 scalar quantization of the embedding table (4× at-rest/
      // on-wire compression next to PQ's 32×). The result parquet pins
      // every code through integer invariants (position-weighted
      // checksum + L1 + saturation count) plus the scale in exact ppm
      // — the oracle recomputes all of them from the same binary64
      // rule over the float column.
      import s.implicits._
      graft.ops.Pq.int8Quantize(t(s, dir, "embeddings"))
        .as[(Long, Double, Array[Byte])]
        .map { case (id, ma, codes) =>
          var ck = 0L; var l1 = 0L; var sat = 0L
          var i = 0
          while (i < codes.length) {
            ck += codes(i).toLong * (i + 1)
            l1 += math.abs(codes(i).toLong)
            if (math.abs(codes(i).toInt) == 127) sat += 1
            i += 1
          }
          (id, math.floor(ma * 1000000.0).toLong, ck, l1, sat)
        }
        .toDF("vec_id", "scale_ppm", "checksum", "l1", "n_sat")
        .orderBy(col("vec_id"))
    },
      // the identical binary64 rule (float→double exact, one divide +
      // multiply + floor — no libm) re-spelled over the same column,
      // then the integer invariants
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |m AS (SELECT vec_id, v,
        |    list_max(list_transform(v, x -> abs(x))) AS ma FROM e),
        |c AS (SELECT vec_id, ma,
        |    CASE WHEN ma > 0
        |      THEN list_transform(v, x -> floor(x / ma * 127.0 + 0.5)::BIGINT)
        |      ELSE list_transform(v, x -> 0::BIGINT) END AS codes
        |  FROM m),
        |x AS (SELECT vec_id, unnest(codes) AS cd,
        |    unnest(range(1, len(codes) + 1)) AS i FROM c),
        |agg AS (SELECT vec_id, sum(cd * i)::BIGINT AS checksum,
        |    sum(abs(cd))::BIGINT AS l1,
        |    sum(CASE WHEN abs(cd) = 127 THEN 1 ELSE 0 END)::BIGINT AS n_sat
        |  FROM x GROUP BY vec_id)
        |SELECT c.vec_id, floor(c.ma * 1000000.0)::BIGINT AS scale_ppm,
        |  a.checksum, a.l1, a.n_sat
        |FROM c JOIN agg a USING (vec_id)
        |ORDER BY vec_id""".stripMargin),

    Query("dedup_semantic", (s, dir) =>
      // SemDeDup-style semantic dedup (Abbas et al. 2023): IVF cells
      // bound the pairwise compare to (n/k)^2 per cell after one
      // shuffle; a vector is dropped when an earlier same-cell vector
      // has cosine >= 0.4. SELF-SIZING: k derives from the corpus
      // count via Similarity.semanticSizing (occupancy pinned at ~32
      // vectors/cell — fixed k=16 measured 3.0x cost at 10x data) and
      // the quantizer trains on the deterministic bounded sample, so
      // the oracle reproduces the exact centroid set by running the
      // same rule against the live tier
      graft.ops.Similarity.semanticDedupAuto(
          t(s, dir, "embeddings"), threshold = 0.4)
        .orderBy(col("vec_id")),
      (s: SparkSession, dir: String) => {
      // TWO-LEVEL assignment, the registered query's exact rule:
      // nearest coarse (ORDER BY sim DESC, id == the kernel's first-max
      // over the coarse set), then nearest fine WITHIN that coarse
      // cell's member list; drop rule = correlated EXISTS over earlier
      // same-cell vectors. All literals (coarse table, fine table with
      // its coarse membership) are derived from the LIVE tier by the
      // same semanticSizing + deterministic-trainer + coarse-layering
      // rule the registered query applies at runtime
      val e = t(s, dir, "embeddings")
      val q = graft.ops.Similarity.trainTwoLevel(e, e.count())
      val coarseRows = q.coarse.zipWithIndex
        .map { case (c, i) => s"($i, ${c.mkString("[", ", ", "]")}::DOUBLE[])" }
        .mkString(", ")
      val fineRows = q.members.zipWithIndex.flatMap { case (ms, ci) =>
        ms.map(f => s"($f, $ci, ${q.fine(f).mkString("[", ", ", "]")}::DOUBLE[])")
      }.mkString(", ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |coarses AS (SELECT * FROM (VALUES $coarseRows) t(id, c)),
         |fines AS (SELECT * FROM (VALUES $fineRows) t(id, cg, c)),
         |ca AS (SELECT vec_id, v,
         |  (SELECT id FROM coarses
         |   ORDER BY list_cosine_similarity(e.v, c) DESC, id LIMIT 1) AS cg
         |  FROM e),
         |cells AS (SELECT vec_id, v,
         |  (SELECT f.id FROM fines f WHERE f.cg = ca.cg
         |   ORDER BY list_cosine_similarity(ca.v, f.c) DESC, f.id LIMIT 1) AS cell
         |  FROM ca)
         |SELECT a.vec_id, a.cell::INT AS cell,
         |  NOT EXISTS (SELECT 1 FROM cells b WHERE b.cell = a.cell
         |    AND b.vec_id < a.vec_id
         |    AND list_cosine_similarity(b.v, a.v) >= 0.4) AS kept
         |FROM cells a ORDER BY a.vec_id""".stripMargin
    }),

    Query("neardup_lsh", (s, dir) =>
      // the SCALE path for embedding near-dup (multi-table hyperplane
      // LSH buckets → candidate pairs → exact cosine verify): shuffles
      // (table, bucket, id) triples, never the full pair matrix.
      // SELF-SIZING: bits/tables derive from the corpus count via
      // Similarity.lshSizing (buckets ≈ n/2, tables scaled to hold
      // recall) — fixed bits=8 measured 24.8× cost at 10× data. The
      // oracle inlines the plane set the SAME rule yields at the
      // driver's sf0.01 tier (500 vectors → bits=8, tables=8).
      graft.ops.Similarity.lshNearDupPairsAuto(
          t(s, dir, "embeddings"), threshold = 0.4)
        .orderBy(col("id_a"), col("id_b")),
      (s: SparkSession, dir: String) => {
      // same inlined-plane technique as ann_lsh, over `tables`
      // independent tables (tableSignatures uses plane ids
      // t*bits + p + 1000). The sizing is NOT frozen here: it is
      // Similarity.lshSizing applied to the LIVE tier's embedding
      // count (a metadata-only parquet count; sf0.01's 500 rows →
      // (8, 8)), i.e.
      // the exact same deterministic rule the registered self-sizing
      // query applies at runtime. A regenerated tier re-derives
      // automatically instead of desynchronizing a hand constant.
      val (bits, tables) =
        graft.ops.Similarity.lshSizing(t(s, dir, "embeddings").count())
      val sigExprs = (0 until tables).map { tt =>
        (0 until bits).map { p =>
          s"(CASE WHEN list_dot_product(v, ${graft.ops.Similarity.hyperplaneSqlLiteral(tt * bits + p + 1000, 64)}) >= 0 THEN ${1 << p} ELSE 0 END)"
        }.mkString(" + ")
      }.mkString("[", ", ", "]")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |sig AS (SELECT vec_id, v, $sigExprs AS sigs FROM e),
         |b AS (SELECT vec_id, r.range AS t, sigs[r.range + 1] AS bucket
         |      FROM sig CROSS JOIN range($tables) r),
         |p AS (SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b
         |      FROM b a JOIN b b2 ON a.t = b2.t AND a.bucket = b2.bucket
         |        AND a.vec_id < b2.vec_id),
         |s AS (SELECT id_a, id_b, list_cosine_similarity(ea.v, eb.v) AS c
         |      FROM p JOIN e ea ON ea.vec_id = id_a JOIN e eb ON eb.vec_id = id_b)
         |SELECT id_a, id_b, floor(c * 10000)::BIGINT AS cos_bp
         |FROM s WHERE c >= 0.4 ORDER BY id_a, id_b""".stripMargin
    }),

    Query("rag_topk", (s, dir) => {
      // the flagship retrieval path (Rag.search, file_store.py:82-127):
      // threshold, total-order tiebreak, and the reference's post-k
      // metadata-filter quirk (filters applied AFTER the k-cut,
      // :104-121) — all DuckDB-oracled. Index = documents joined to the
      // provided embeddings (no hash embedder in the oracle path).
      val index = t(s, dir, "embeddings")
        .join(t(s, dir, "documents"), col("vec_id") === col("doc_id"))
        .select(format_string("doc_%05d", col("vec_id")).as("id"),
          col("text").as("content"),
          col("embedding").cast("array<double>").as("embedding"),
          col("label").cast("string").as("label"))
      graft.rag.Rag.search(index, anchorVec(s, dir), topK = 10,
          threshold = 0.0, filters = Map("label" -> "2"))
        .select(col("id"),
          floor(col("score") * 10000).cast("long").as("score_bp"), col("label"))
        .orderBy(col("id"))
    },
      """WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0),
        |scored AS (
        |  SELECT printf('doc_%05d', vec_id) AS id,
        |    list_cosine_similarity(embedding::DOUBLE[], (SELECT v FROM q)) AS score,
        |    label::VARCHAR AS label
        |  FROM embeddings),
        |topk AS (
        |  SELECT * FROM scored WHERE score >= 0.0
        |  ORDER BY score DESC, id LIMIT 10)
        |SELECT id, floor(score * 10000)::BIGINT AS score_bp, label
        |FROM topk WHERE label = '2' ORDER BY id""".stripMargin),

    Query("rag_index_ops", (s, dir) => {
      // vector-index sink lifecycle (file_store.py:46-168) as one
      // relational flow: build → upsert → delete → stats. The incoming
      // batch re-embeds ids 0-9 with vec (id+100)'s embedding, except
      // id 5 arrives TRUNCATED to 10 floats — the dim-mismatch skip
      // must leave its old row intact; id 3 is then deleted. Output:
      // the affected id range with its first component (proves which
      // embedding won) plus the index stats
      val emb = t(s, dir, "embeddings")
      def asIndex(df: DataFrame) = df.select(
        format_string("doc_%05d", col("vec_id")).as("id"), col("embedding"))
      val inc = emb.where(col("vec_id") < 10).alias("a")
        .join(emb.alias("b"), expr("b.vec_id = a.vec_id + 100"))
        .select(format_string("doc_%05d", col("a.vec_id")).as("id"),
          when(expr("a.vec_id = 5"), slice(col("b.embedding"), 1, 10))
            .otherwise(col("b.embedding")).as("embedding"))
      val upserted = graft.rag.Rag.upsertDocuments(asIndex(emb), inc, dim = 64)
      val afterDelete = graft.rag.Rag.deleteDocument(upserted, "doc_00003")
      afterDelete.where(expr("CAST(substring(id, 5) AS INT) < 15"))
        .select(col("id"),
          floor(element_at(col("embedding"), 1).cast("double") * 10000)
            .cast("long").as("e0_bp"),
          size(col("embedding")).as("dim"))
        .crossJoin(graft.rag.Rag.stats(afterDelete))
        .orderBy(col("id"))
    },
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |inc AS (
        |  SELECT a.vec_id AS tid,
        |    CASE WHEN a.vec_id = 5 THEN b.embedding[1:10] ELSE b.embedding END AS emb
        |  FROM e a JOIN e b ON b.vec_id = a.vec_id + 100
        |  WHERE a.vec_id < 10),
        |valid AS (SELECT * FROM inc WHERE len(emb) = 64),
        |up AS (
        |  SELECT vec_id, embedding FROM e
        |  WHERE vec_id NOT IN (SELECT tid FROM valid)
        |  UNION ALL SELECT tid, emb FROM valid),
        |afterdel AS (SELECT * FROM up WHERE vec_id <> 3),
        |stats AS (SELECT count(*)::BIGINT AS total_documents,
        |                 max(len(embedding))::INT AS embedding_dimension
        |          FROM afterdel)
        |SELECT printf('doc_%05d', vec_id) AS id,
        |  floor(embedding[1]::DOUBLE * 10000)::BIGINT AS e0_bp,
        |  len(embedding)::INT AS dim,
        |  (SELECT total_documents FROM stats) AS total_documents,
        |  (SELECT embedding_dimension FROM stats) AS embedding_dimension
        |FROM afterdel WHERE vec_id < 15 ORDER BY id""".stripMargin),

    Query("rag_format", (s, dir) => {
      // the reference's result formatting ("[Result i, Score: %.3f]\n
      // content" joined by "\n\n---\n\n", query.py:109-141) over the
      // same index as rag_topk — the driver-side tail of the query
      // orchestration path. Bounded collect (k rows), like the
      // reference's own formatting step
      import s.implicits._
      val index = t(s, dir, "embeddings")
        .join(t(s, dir, "documents"), col("vec_id") === col("doc_id"))
        .select(format_string("doc_%05d", col("vec_id")).as("id"),
          col("text").as("content"),
          col("embedding").cast("array<double>").as("embedding"))
      val rows = graft.rag.Rag.search(index, anchorVec(s, dir), topK = 5,
          threshold = 0.0)
        .orderBy(desc("score"), asc("id"))
        .select("content", "score").collect()
      val formatted = graft.rag.Rag.formatResults(
        rows.toSeq.map(r => (r.getString(0), r.getDouble(1))))
      Seq(formatted).toDF("formatted")
    },
      """WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0),
        |scored AS (
        |  SELECT printf('doc_%05d', vec_id) AS id, d.text AS content,
        |    list_cosine_similarity(embedding::DOUBLE[], (SELECT v FROM q)) AS score
        |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
        |topk AS (
        |  SELECT *, row_number() OVER (ORDER BY score DESC, id) AS rn FROM (
        |    SELECT * FROM scored WHERE score >= 0.0
        |    ORDER BY score DESC, id LIMIT 5))
        |SELECT string_agg(
        |  printf('[Result %d, Score: %.3f]', rn, score) || chr(10) || content,
        |  chr(10) || chr(10) || '---' || chr(10) || chr(10) ORDER BY rn) AS formatted
        |FROM topk""".stripMargin),

    Query("rag_mmr", (s, dir) =>
      // MMR diversity re-rank over the brute top-20: 5 greedy picks by
      // bp-floored λ-relevance − (1−λ)-redundancy. Distributed work is
      // ONE TakeOrdered pass; the greedy loop is the bounded
      // serving-path step (20 rows collected, like rag_format)
      graft.ops.Similarity.mmrRerank(
        t(s, dir, "embeddings"), anchorVec(s, dir), m = 20, k = 5),
      // the greedy pick sequence reproduced with a recursive CTE: each
      // step appends the argmax (bp-floored objective DESC, vec_id) of
      // the remaining candidates. BOTH multipliers are interpolated
      // from the kernel's binary64 values and cast to DOUBLE — DuckDB
      // parses bare numeric literals as DECIMAL (1 - 0.7 is an EXACT
      // decimal 0.3 there, not the kernel's 1-λ =
      // 0.30000000000000004), so spelling the arithmetic inline would
      // diverge on candidates whose objective straddles a bp boundary
      s"""WITH RECURSIVE e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |cands AS (
        |  SELECT vec_id, v, list_cosine_similarity(v, (SELECT qv FROM q)) AS qs
        |  FROM e
        |  ORDER BY floor(list_cosine_similarity(v, (SELECT qv FROM q)) * 10000)
        |    DESC, vec_id
        |  LIMIT 20),
        |sel AS (
        |  SELECT 0 AS step, CAST([] AS BIGINT[]) AS picked
        |  UNION ALL
        |  SELECT step + 1, list_append(picked, (
        |      SELECT c.vec_id FROM cands c
        |      WHERE NOT list_contains(sel.picked, c.vec_id)
        |      ORDER BY floor((CAST(${0.7} AS DOUBLE) * c.qs
        |          - CAST(${1 - 0.7} AS DOUBLE) * coalesce(
        |          (SELECT max(list_cosine_similarity(c.v, s.v)) FROM cands s
        |           WHERE list_contains(sel.picked, s.vec_id)), 0.0)) * 10000)
        |        DESC, c.vec_id
        |      LIMIT 1))
        |  FROM sel WHERE step < 5)
        |SELECT step::BIGINT AS rank, picked[step] AS vec_id,
        |  (SELECT floor(c.qs * 10000)::BIGINT FROM cands c
        |   WHERE c.vec_id = picked[step]) AS qs_bp
        |FROM sel WHERE step >= 1 ORDER BY rank""".stripMargin),

    Query("search_lexical", (s, dir) => {
      // BM25-shaped keyword retrieval, the vector module's lexical
      // complement. Query = the 8 RAREST distinct tokens of doc 0
      // (rarity by corpus df, ties by token — deterministic and
      // discriminative). Integer-only scoring: idf = 64 - bitlen(df),
      // tf saturated at 3 — Lexical.lexicalTopK's exact arithmetic.
      // ONE corpus tokenize pass (r06): the (doc, tok, tf) table over
      // doc-0's token set is materialized once and serves both the
      // rarity ranking (df = count of tf rows per tok — tf rows are
      // distinct (doc, tok), so counting them IS the doc frequency,
      // same as the previous count_distinct) and the final scoring,
      // which previously re-tokenized the whole corpus inside
      // lexicalTopK. Only query-term tokens ever shuffle (broadcast
      // semi-join before tf), as before.
      val docs = t(s, dir, "documents")
      def toks(d: org.apache.spark.sql.DataFrame) = d.select(col("doc_id"),
          explode(split(trim(lower(col("text"))), "[ \t\n\f\r]+")).as("tok"))
        .where(col("tok") =!= "")
      val q0 = toks(docs.where(col("doc_id") === 0L))
        .select(col("tok")).distinct()
      // tfAll's (doc_id, tok) agg exchange subtree is shared verbatim by
      // both consumers (rarity ranking + scoring probe), so runtime
      // exchange reuse computes the tokenize pass once — no checkpoint
      val tfAll = toks(docs).join(broadcast(q0), "tok")
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      val dfq = tfAll.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val qterms = dfq.orderBy(col("df"), col("tok")).limit(8)
      // score(d) = Σ_t min(tf, 3) · (64 − bitlen(df)) over the 8 query
      // terms — bit-identical to lexicalTopK(docs, qterms, 10): its
      // internal tf/df over the 8-term subset are exactly these rows
      tfAll.join(broadcast(qterms), "tok")
        .select(col("doc_id"),
          (least(col("tf"), lit(3L)) *
            (lit(64) - length(bin(col("df"))))).as("contrib"))
        .groupBy(col("doc_id")).agg(sum(col("contrib")).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(10)
        .orderBy(col("score").desc, col("doc_id"))
    },
      // same tokenization (trim+lower over the RE2 \s class), same
      // rarest-8 query derivation, and the integer scoring spelled
      // with DuckDB's bin()/least(); sum(BIGINT) is HUGEINT there,
      // cast back
      """WITH tk AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(
        |    trim(lower(text)), '[ \t\n\f\r]+')) AS tok
        |  FROM documents),
        |tkc AS (SELECT doc_id, tok FROM tk WHERE tok <> ''),
        |q0 AS (SELECT DISTINCT tok FROM tkc WHERE doc_id = 0),
        |dfq AS (
        |  SELECT tok, count(DISTINCT doc_id) AS df FROM tkc
        |  WHERE tok IN (SELECT tok FROM q0) GROUP BY tok),
        |qt AS (SELECT tok, df FROM dfq ORDER BY df, tok LIMIT 8),
        |tf AS (
        |  SELECT t.doc_id, t.tok, count(*) AS tf
        |  FROM tkc t JOIN qt ON qt.tok = t.tok GROUP BY 1, 2),
        |sc AS (
        |  SELECT tf.doc_id,
        |    sum(least(tf.tf, 3) * (64 - length(bin(qt.df)))) AS score
        |  FROM tf JOIN qt USING (tok) GROUP BY 1)
        |SELECT doc_id, score::BIGINT AS score FROM sc
        |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin),

    Query("index_build", (s, dir) =>
      // inverted-index construction (classic sort-based indexing):
      // blocked delta-encoded postings, one row per (term, 128-posting
      // block); df > 400 terms are stop-worded to a summary row. The
      // oracle re-derives every block relationally (window + ordered
      // string_agg)
      graft.ops.Lexical.invertedIndex(t(s, dir, "documents"),
          blockSize = 128, dfCap = 400)
        .orderBy(col("tok"), col("block_id")),
      // same tokenization as search_lexical; blocks re-derived with a
      // window + ordered string_agg; sum/count widths cast to BIGINT
      """WITH tk AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(
        |    trim(lower(text)), '[ \t\n\f\r]+')) AS tok
        |  FROM documents),
        |tf AS (
        |  SELECT tok, doc_id, count(*)::BIGINT AS tf FROM tk
        |  WHERE tok <> '' GROUP BY 1, 2),
        |e AS (
        |  SELECT tok, doc_id, tf,
        |    row_number() OVER (PARTITION BY tok ORDER BY doc_id) AS rn,
        |    count(*) OVER (PARTITION BY tok) AS df,
        |    lag(doc_id) OVER (PARTITION BY tok ORDER BY doc_id) AS prev
        |  FROM tf),
        |b AS (
        |  SELECT tok, df::BIGINT AS df, ((rn - 1) // 128)::BIGINT AS block_id,
        |    CASE WHEN (rn - 1) % 128 = 0 THEN doc_id
        |         ELSE doc_id - prev END AS delta, tf, rn
        |  FROM e WHERE df <= 400)
        |SELECT tok, df, block_id, count(*)::BIGINT AS block_n,
        |  string_agg(delta || ':' || tf, ',' ORDER BY rn) AS postings
        |FROM b GROUP BY 1, 2, 3
        |UNION ALL
        |SELECT tok, df::BIGINT AS df, -1::BIGINT AS block_id,
        |  df::BIGINT AS block_n, NULL AS postings
        |FROM (SELECT DISTINCT tok, df FROM e WHERE df > 400)
        |ORDER BY tok, block_id""".stripMargin)
  )

  /** Embedding of a fixed anchor row, used as the ANN query vector. */
  private def anchorVec(s: SparkSession, dir: String): Array[Float] =
    t(s, dir, "embeddings").where(col("vec_id") === 0)
      .select("embedding").collect()(0)
      .getSeq[Float](0).toArray

  /** SQL fragments for PQ code derivation + ADC scoring, built from the
    * committed codebook artifact (shared by ann_pq and ann_ivfpq; the
    * `d` CTE must expose `v`, the `q` CTE must expose `qv`).
    */
  private final case class PqSql(dlCols: String, codeCols: String, scoreBp: String)
  private def pqSqlParts(
      cb: graft.ops.Pq.Codebooks = graft.ops.Pq.fromFile(s"$goldenDir/pq_codebooks.txt"))
      : PqSql = {
    val m = cb.length
    val subDim = cb(0)(0).length
    def lit(c: Array[Double]) = c.mkString("[", ", ", "]")
    def slice(s: Int, v: String) = s"$v[${s * subDim + 1}:${(s + 1) * subDim}]"
    val dlCols = (0 until m).map { s =>
      cb(s).map(c => s"list_distance(${slice(s, "v")}, ${lit(c)})")
        .mkString("[", ", ", "]") + s" AS dl$s"
    }.mkString(", ")
    val codeCols = (0 until m)
      .map(s => s"list_position(dl$s, list_min(dl$s)) - 1 AS code$s").mkString(", ")
    val cbLits = (0 until m).map(s => cb(s).map(lit).mkString("[", ", ", "]"))
    val normLits = (0 until m).map { s =>
      cb(s).map { c =>
        var n = 0.0; var i = 0
        while (i < c.length) { n += c(i) * c(i); i += 1 }
        n.toString
      }.mkString("[", ", ", "]")
    }
    val dotSum = (0 until m)
      .map(s => s"list_dot_product(${slice(s, "qv")}, ${cbLits(s)}[code$s + 1])")
      .mkString(" + ")
    val nrmSum = (0 until m).map(s => s"${normLits(s)}[code$s + 1]").mkString(" + ")
    PqSql(dlCols, codeCols,
      s"floor(($dotSum) / (sqrt(list_dot_product(qv, qv)) * sqrt($nrmSum)) * 10000)::BIGINT AS score_bp")
  }
}
