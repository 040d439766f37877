package graft.ops

import graft.functions.VectorExpr
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (Array[Float]).
  *
  *  - [[bruteTopK]]: exact cosine top-k. The query is a broadcast
  *    scalar; scoring is a codegen'd projection; the k-cut plans as
  *    TakeOrderedAndProject (per-partition heaps, no full sort) — this
  *    is already the right 100 TB shape for ONE query.
  *  - [[lshTopK]]: random-hyperplane LSH. Vectors are bucketed by a
  *    b-bit signature once (a materializable index); a query probes
  *    only buckets within `probeHamming` bits — the scale path for
  *    many queries / self-join workloads.
  */
object Similarity {

  def bruteTopK(embeddings: DataFrame, query: Array[Float], k: Int = 10): DataFrame =
    embeddings
      .withColumn("score_bp",
        floor(VectorExpr.cosineSim(col("embedding"), typedLit(query.toSeq)) * 10000)
          .cast("long"))
      .orderBy(desc("score_bp"), asc("vec_id"))
      .limit(k)
      .select("vec_id", "score_bp")

  /** Deterministic pseudo-random hyperplanes: component j of plane p is
    * a hash-derived value in [-1, 1).
    */
  private[ops] def hyperplane(p: Int, dim: Int): Array[Float] = {
    val v = new Array[Float](dim)
    var j = 0
    while (j < dim) {
      var h = (p.toLong << 32) ^ (j * 0x9e3779b97f4a7c15L)
      h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
      v(j) = ((h >>> 11).toDouble * 1.1102230246251565e-16 * 2.0 - 1.0).toFloat
      j += 1
    }
    v
  }

  /** The plane constants as a SQL DOUBLE[] literal — lets the DuckDB
    * oracle recompute the exact same bucket signatures (Scala Double
    * toString is shortest-round-trip, so the literal parses back to the
    * identical binary64 the kernel uses).
    */
  def hyperplaneSqlLiteral(p: Int, dim: Int): String =
    hyperplane(p, dim).map(_.toDouble.toString).mkString("[", ", ", "]")

  private[ops] def signature(vec: Array[Float], bits: Int): Int = {
    var sig = 0
    var p = 0
    while (p < bits) {
      val plane = hyperplane(p, vec.length)
      var dot = 0.0
      var j = 0
      while (j < vec.length) { dot += vec(j).toDouble * plane(j); j += 1 }
      if (dot >= 0) sig |= (1 << p)
      p += 1
    }
    sig
  }

  /** Bucket the embedding table by LSH signature (the index build).
    * Planes derive once per partition, not per row.
    */
  def lshIndex(embeddings: DataFrame, bits: Int = 12): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    embeddings.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        var planes: Array[Array[Float]] = null
        var dim = -1 // keyed on dim: a mixed-dim table re-derives, not crashes
        it.map { case (id, v) =>
          if (v.length != dim) {
            dim = v.length
            planes = Array.tabulate(bits)(hyperplane(_, dim))
          }
          var sig = 0
          var p = 0
          while (p < bits) {
            val plane = planes(p)
            var dot = 0.0
            var j = 0
            while (j < v.length) { dot += v(j).toDouble * plane(j); j += 1 }
            if (dot >= 0) sig |= (1 << p)
            p += 1
          }
          (id, v, sig)
        }
      }
      .toDF("vec_id", "embedding", "bucket")
  }

  /** The near-dup tables' hyperplanes, derived ONCE (plane of table t,
    * bit p has id `t*bits + p + 1000` = consecutive ids from 1000 — the
    * id scheme the DuckDB oracle inlines). Deriving a plane costs a
    * 64-float allocation plus 64 hash mixes; the pre-fix kernel
    * re-derived all tables*bits planes PER VECTOR (6.4M allocations at
    * 20k vectors × 322 planes) — measured as most of the signature
    * stage.
    */
  private[ops] def tablePlanes(bits: Int, tables: Int, dim: Int): Array[Array[Float]] =
    Array.tabulate(tables * bits)(i => hyperplane(i + 1000, dim))

  /** Multi-table signature for near-dup pair mining: `tables`
    * independent `bits`-bit signatures (different hyperplane sets per
    * table). Two vectors with cosine c collide in one table with
    * probability (1 - acos(c)/pi)^bits; tables multiply the recall.
    * `planes` from [[tablePlanes]], shared across a partition's rows.
    */
  private[ops] def tableSignatures(vec: Array[Float], bits: Int, tables: Int,
      planes: Array[Array[Float]]): Array[Int] =
    Array.tabulate(tables) { t =>
      var sig = 0
      var p = 0
      while (p < bits) {
        val plane = planes(t * bits + p)
        var dot = 0.0
        var j = 0
        while (j < vec.length) { dot += vec(j).toDouble * plane(j); j += 1 }
        if (dot >= 0) sig |= (1 << p)
        p += 1
      }
      sig
    }

  /** Corpus-size-adaptive LSH sizing — the rule that keeps
    * [[lshNearDupPairs]] from going quadratic as the corpus grows
    * (measured: fixed bits=8 cost 24.8× at 10× data, BENCH_SCALE.md).
    *
    *  - `bits = clamp(ceil(log2(n/2)), 8, 24)`: buckets ≈ n/2. Mean
    *    bucket occupancy (and with it the per-bucket self-join, which
    *    is QUADRATIC in occupancy) stays constant as n grows; the ~2
    *    target keeps random co-occupancy near zero so bucket joins see
    *    mostly TRUE collisions (measured at 20k vectors: occupancy ~5
    *    → 9.7 s, occupancy ~1.2 → 5.6 s, same pairs found).
    *  - `tables = ceil(8 · 2^((bits−8)/4))`, capped at 128: each +4
    *    bits multiplies a true near-dup pair's per-table collision odds
    *    by p1^4 (p1 = 1 − acos(c)/π ≈ 0.855 at c = 0.9, so ×0.54);
    *    doubling the table count per +4 bits restores the union recall
    *    (at c = 0.9: (8,8) → 0.93, (14,23) → 0.935, (24,128) → 0.95).
    *
    * Deterministic in n only, so an oracle generator that knows the
    * tier's row count inlines the exact matching hyperplane set.
    */
  def lshSizing(n: Long): (Int, Int) = {
    val bits = math.min(24, math.max(8,
      math.ceil(math.log(math.max(1.0, n / 2.0)) / math.log(2.0)).toInt))
    val tables = math.min(128,
      math.ceil(8.0 * math.pow(2.0, (bits - 8) / 4.0)).toInt)
    (bits, tables)
  }

  /** [[lshNearDupPairs]] with bits/tables derived from the corpus size
    * via [[lshSizing]] — the production entry point. The extra count()
    * is a metadata-cheap scan (or free if the caller already knows n
    * and passes it).
    */
  def lshNearDupPairsAuto(embeddings: DataFrame, threshold: Double = 0.9,
      knownCount: Option[Long] = None): DataFrame = {
    val n = knownCount.getOrElse(embeddings.count())
    val (bits, tables) = lshSizing(n)
    lshNearDupPairs(embeddings, threshold, bits, tables)
  }

  /** Embedding near-duplicate pairs at scale: multi-table LSH buckets →
    * candidate pairs → exact cosine verify. Shuffles only
    * (table, bucket, id) triples; the brute-force cross join
    * (Dedup.cosineNearDupPairs) is the small-N / oracle path.
    * Prefer [[lshNearDupPairsAuto]]: fixed-width signatures are the
    * classic LSH scale trap (bucket occupancy grows linearly with n and
    * the per-bucket join quadratically with occupancy).
    */
  def lshNearDupPairs(embeddings: DataFrame, threshold: Double = 0.9,
      bits: Int = 8, tables: Int = 8): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val vecs = embeddings.select(col("vec_id").cast("long"), col("embedding"))
    // Stage 1 — bucket WITHOUT the embedding: the posexplode and the
    // self-join exchange carry only (vec_id, table, bucket) triples
    // (~20 bytes/row), never the vector. At 100 TB of embeddings this is
    // the difference between shuffling `tables`× the corpus and shuffling
    // a key table.
    val buckets = vecs
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        var planes: Array[Array[Float]] = null // derived once per partition
        var dim = -1 // keyed on dim: a mixed-dim table re-derives, not crashes
        it.map { case (id, v) =>
          if (v.length != dim) {
            dim = v.length
            planes = tablePlanes(bits, tables, dim)
          }
          (id, tableSignatures(v, bits, tables, planes))
        }
      }
      .toDF("vec_id", "sigs")
      .select(col("vec_id"), posexplode(col("sigs")).as(Seq("table", "bucket")))
    // Stage 2 — distinct candidate id pairs (a pair colliding in several
    // tables verifies once).
    val candidates = buckets.as("a").join(buckets.as("b"),
        col("a.table") === col("b.table") && col("a.bucket") === col("b.bucket") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
    // Stage 3 — exact-cosine verify: join the embeddings back onto the
    // (small) candidate set only — the same re-join shape Dedup.verifyJaccard
    // uses for texts.
    candidates
      .join(vecs.withColumnRenamed("vec_id", "id_a")
        .withColumnRenamed("embedding", "emb_a"), "id_a")
      .join(vecs.withColumnRenamed("vec_id", "id_b")
        .withColumnRenamed("embedding", "emb_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        graft.functions.VectorExpr.cosineSim(col("emb_a"), col("emb_b")).as("c"))
      .where(col("c") >= threshold)
      .withColumn("cos_bp", floor(col("c") * 10000).cast("long"))
      .select("id_a", "id_b", "cos_bp")
  }

  // ---------------- IVF (inverted-file ANN) ----------------

  /** Deterministic Lloyd training of the IVF coarse quantizer on a
    * bounded sample (the standard production shape: quantizers train
    * offline on ~100k vectors however big the corpus is, then the
    * centroid table is a small committed artifact). Assignment metric
    * is cosine (ties → lowest centroid index); update is the plain
    * mean. Fully deterministic: the sample is vec_id-ordered and the
    * driver-side loop fixes the summation order.
    */
  def kmeansTrainSample(embeddings: DataFrame, k: Int = 16, iters: Int = 5,
      sampleSize: Int = 4096): Array[Array[Double]] = {
    val sample = embeddings.select(col("vec_id").cast("long"), col("embedding"))
      .orderBy(col("vec_id")).limit(sampleSize)
      .collect()
      .map(_.getSeq[Float](1).toArray.map(_.toDouble))
    kmeansArray(sample, k, iters)
  }

  /** Deterministic Lloyd over an in-memory sample (the loop behind
    * [[kmeansTrainSample]], also used to build the coarse layer of the
    * two-level quantizer by clustering the FINE centroids themselves).
    */
  def kmeansArray(sample: Array[Array[Double]], k: Int,
      iters: Int): Array[Array[Double]] = {
    require(sample.length >= k, s"sample ${sample.length} < k=$k")
    val dim = sample(0).length
    // deterministic spread init: every (n/k)-th sample vector
    var centroids = Array.tabulate(k)(j => sample(j * sample.length / k).clone())
    var it = 0
    while (it < iters) {
      // the O(n·k·dim) distance pass is parallel — each sample's
      // assignment is an independent pure function, so the result is
      // deterministic regardless of thread scheduling (with k ∝ n this
      // pass is ~1e9 flops at a 20k-vector tier and dominated training)
      val cs = centroids
      val assign = new Array[Int](sample.length)
      java.util.stream.IntStream.range(0, sample.length).parallel()
        .forEach(i => assign(i) = nearestCentroid(sample(i), cs))
      // accumulation stays SERIAL in sample-index order: double addition
      // is non-associative, and a fixed summation order is what lets an
      // oracle generator reproduce these centroids bit-for-bit
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      var i = 0
      while (i < sample.length) {
        val c = assign(i)
        var d = 0
        while (d < dim) { sums(c)(d) += sample(i)(d); d += 1 }
        counts(c) += 1
        i += 1
      }
      centroids = Array.tabulate(k) { j =>
        if (counts(j) == 0) centroids(j) // empty cluster keeps its centroid
        else sums(j).map(_ / counts(j))
      }
      it += 1
    }
    centroids
  }

  /** argmax-cosine assignment; strict > keeps the FIRST maximal index
    * (matches the SQL oracle's list_position-of-max tie rule).
    */
  def nearestCentroid(v: Array[Double], centroids: Array[Array[Double]]): Int = {
    var best = 0
    var bestScore = Double.NegativeInfinity
    var j = 0
    while (j < centroids.length) {
      val s = cosineDouble(v, centroids(j))
      if (s > bestScore) { best = j; bestScore = s }
      j += 1
    }
    best
  }

  private def cosineDouble(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  /** Assign every vector to its centroid cell (the IVF index build —
    * one shuffle-free map over the corpus; centroids broadcast by
    * closure, they are k*dim doubles).
    */
  def ivfIndex(embeddings: DataFrame, centroids: Array[Array[Double]]): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    embeddings.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions(_.map { case (id, v) =>
        (id, v, nearestCentroid(v.map(_.toDouble), centroids))
      })
      .toDF("vec_id", "embedding", "cell")
  }

  /** IVF top-k: probe the `nprobe` cells whose centroids are nearest
    * the query (driver-side over k centroids), exact-rescore only those
    * cells' vectors, TakeOrderedAndProject the k best. Scan cost drops
    * to ~nprobe/k of the corpus.
    */
  def ivfTopK(index: DataFrame, centroids: Array[Array[Double]],
      query: Array[Float], k: Int = 10, nprobe: Int = 4): DataFrame = {
    val q = query.map(_.toDouble)
    val probes = centroids.indices
      .map(j => (j, cosineDouble(q, centroids(j))))
      .sortBy { case (j, s) => (-s, j) }
      .take(nprobe).map(_._1)
    index
      .where(col("cell").isin(probes: _*))
      .withColumn("score_bp",
        floor(VectorExpr.cosineSim(col("embedding"), typedLit(query.toSeq)) * 10000)
          .cast("long"))
      .orderBy(desc("score_bp"), asc("vec_id"))
      .limit(k)
      .select("vec_id", "score_bp")
  }

  /** Corpus-size-adaptive cluster count for [[semanticDedupOnIndex]] — the
    * same occupancy-pinning discipline as [[lshSizing]]. Per-cell
    * pairwise work is quadratic in cell occupancy n/k, so a FIXED k is
    * the scale trap (measured: pinned k=16 cost 3.0× at 10× data,
    * BENCH_SCALE.md). `k = clamp(ceil(n/32), 4, 4096)` holds mean
    * occupancy at ~32 vectors/cell, making total pairwise work
    * ~(32²/2)·k = O(n). The 4096 cap bounds the driver-side Lloyd
    * trainer; assignment itself is ALWAYS two-level
    * ([[twoLevelQuantizer]]: coarse over the fine centroids →
    * member-restricted fine argmax), so per-vector quantization cost is
    * O(√k), not O(k) — flat assignment with k ∝ n would be the n²/32
    * quadratic reborn. Deterministic in n only, so
    * an oracle generator that knows the tier's row count derives the
    * exact matching centroid set by running the same trainer.
    */
  def semanticSizing(n: Long): Int =
    math.min(4096, math.max(4, math.ceil(n / 32.0).toInt))

  /** [[semanticDedupOnIndex]] with k derived from the corpus size via
    * [[semanticSizing]], centroids trained on the spot from the
    * deterministic bounded sample, and TWO-LEVEL assignment
    * ([[trainTwoLevel]]) — the production entry point.
    * `kmeansTrainSample` is deterministic (vec_id-ordered sample,
    * fixed summation order), so an offline run of the same rule at the
    * same tier reproduces coarse set, fine set and membership
    * bit-for-bit — which is how the DuckDB oracle inlines the exact
    * matching literals.
    */
  def semanticDedupAuto(embeddings: DataFrame, threshold: Double = 0.8,
      knownCount: Option[Long] = None): DataFrame = {
    val n = knownCount.getOrElse(embeddings.count())
    val q = trainTwoLevel(embeddings, n)
    semanticDedupOnIndex(ivfIndexTwoLevel(embeddings, q), threshold)
  }

  /** Two-level quantizer: `coarse` centroids over the FINE centroid set
    * plus, per retained coarse index, the ascending list of fine-cell
    * members. Assignment is nearest-coarse then nearest member fine —
    * O(√k + |members|) per vector instead of O(k). With k ∝ n
    * (occupancy pinning) a FLAT argmax-over-k assignment is n·k =
    * O(n²/32) — the quadratic just moves from the pairwise compare into
    * the quantizer; the coarse layer is what removes it (the faiss
    * IVF_HNSW coarse-stage idea, here the exhaustive-√k variant so the
    * rule stays small enough to inline into a SQL oracle).
    *
    * Coarse cells with zero fine members are dropped and the remainder
    * reindexed (order-preserving), so every coarse argmax has a
    * non-empty fine candidate list. Deterministic in the fine set only.
    */
  final case class TwoLevel(coarse: Array[Array[Double]],
      fine: Array[Array[Double]], members: Array[Array[Int]])

  def twoLevelQuantizer(fine: Array[Array[Double]]): TwoLevel = {
    val kc = math.max(1, math.ceil(math.sqrt(fine.length.toDouble)).toInt)
    val coarse0 = kmeansArray(fine, kc, iters = 5)
    val f2c = fine.map(nearestCentroid(_, coarse0))
    val keep = (0 until kc).filter(c => f2c.contains(c)).toArray
    TwoLevel(
      keep.map(coarse0(_)),
      fine,
      keep.map(c => f2c.indices.filter(f2c(_) == c).toArray))
  }

  /** [[semanticSizing]]-driven fine training + coarse layering — the
    * full deterministic rule an oracle generator re-runs at a tier to
    * inline the exact matching coarse/fine literals.
    */
  def trainTwoLevel(embeddings: DataFrame, n: Long): TwoLevel = {
    val k = semanticSizing(n)
    twoLevelQuantizer(kmeansTrainSample(embeddings, k = k, iters = 5,
      sampleSize = math.max(4096, 8 * k)))
  }

  /** Two-level cell assignment: first-max cosine over the coarse set,
    * then first-max cosine over that coarse cell's fine members
    * (global fine index; ties → lowest index — both legs the same
    * ORDER BY sim DESC, id LIMIT 1 rule a SQL oracle can express).
    */
  def nearestTwoLevel(v: Array[Double], q: TwoLevel): Int = {
    val ms = q.members(nearestCentroid(v, q.coarse))
    var best = ms(0)
    var bestScore = Double.NegativeInfinity
    var j = 0
    while (j < ms.length) {
      val s = cosineDouble(v, q.fine(ms(j)))
      if (s > bestScore) { best = ms(j); bestScore = s }
      j += 1
    }
    best
  }

  /** [[ivfIndex]] with two-level assignment — same output shape
    * (vec_id, embedding, cell), cell = global fine index.
    */
  def ivfIndexTwoLevel(embeddings: DataFrame, q: TwoLevel): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    embeddings.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions(_.map { case (id, v) =>
        (id, v, nearestTwoLevel(v.map(_.toDouble), q))
      })
      .toDF("vec_id", "embedding", "cell")
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, public method):
    * cluster the embedding space (committed centroid artifact, same
    * discipline as the IVF index) and prune near-duplicates WITHIN each
    * cluster — a vector is dropped when an earlier (lower vec_id)
    * vector of the SAME cell has cosine >= threshold with it. The
    * clustering is what bounds the quadratic at 100 TB: after ONE
    * shuffle on cell id the pairwise compare is (n/k)² per cell, not
    * n² across the corpus, and k scales with the corpus exactly like
    * [[lshSizing]] pins LSH bucket occupancy. The
    * exists-an-earlier-near-dup rule (not connected components) keeps
    * the semantics relational, so the oracle recomputes it with one
    * correlated self-join per cell.
    *
    * This is the per-cell prune kernel over a pre-built (vec_id,
    * embedding, cell) index ([[ivfIndex]] or [[ivfIndexTwoLevel]]);
    * [[semanticDedupAuto]] is the production entry point. Returns
    * (vec_id, cell, kept).
    */
  def semanticDedupOnIndex(index: DataFrame, threshold: Double): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    // floats cross the cell exchange (half the shuffle bytes); widen to
    // double only inside the per-run compare, where the arithmetic must
    // match the DOUBLE[] oracle bit-for-bit
    index
      .as[(Long, Array[Float], Int)]
      .repartition(col("cell"))
      .sortWithinPartitions("cell", "vec_id")
      .mapPartitions { it =>
        val base = it.buffered
        new Iterator[Seq[(Long, Int, Boolean)]] {
          def hasNext: Boolean = base.hasNext
          def next(): Seq[(Long, Int, Boolean)] = {
            // one consecutive same-cell run (cells are partition-local
            // and sorted; a cell is n/k vectors, bounded by sizing)
            val cell = base.head._3
            val run = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double])]
            while (base.hasNext && base.head._3 == cell) {
              val r = base.next()
              run += ((r._1, r._2.map(_.toDouble)))
            }
            run.indices.map { i =>
              var kept = true
              var j = 0
              while (kept && j < i) {
                if (cosineDouble(run(j)._2, run(i)._2) >= threshold) kept = false
                j += 1
              }
              (run(i)._1, cell, kept)
            }
          }
        }.flatten
      }
      .toDF("vec_id", "cell", "kept")
  }

  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein 1998,
    * the standard RAG diversity pass): brute top-`m` by quantized query
    * cosine (a distributed TakeOrdered — the only corpus-wide work),
    * then `k` greedy picks maximizing
    * `λ·cos(q,d) − (1−λ)·max_{s∈picked} cos(d,s)`. The greedy loop runs
    * driver-side over the m collected candidates — bounded by design
    * (m rows, the same serving-path shape as the reference's result
    * formatting step) and inherently sequential (each pick conditions
    * on the previous). All comparisons are on basis-point-FLOORED
    * objectives (ties → lowest vec_id), so a SQL oracle reproduces the
    * exact pick sequence with a recursive CTE; doubles throughout.
    *
    * Returns (rank, vec_id, qs_bp) ordered by rank (1-based).
    */
  def mmrRerank(embeddings: DataFrame, query: Array[Float], m: Int = 20,
      k: Int = 5, lambda: Double = 0.7): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val q = query.map(_.toDouble)
    val cands = embeddings.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions(_.map { case (id, v) =>
        val d = v.map(_.toDouble)
        (id, d, cosineDouble(d, q))
      })
      .toDF("vec_id", "v", "qs")
      .orderBy(floor(col("qs") * 10000).desc, col("vec_id"))
      .limit(m)
      .as[(Long, Array[Double], Double)]
      .collect()
    // fail loudly rather than silently diverging from the recursive-CTE
    // oracle, whose fixed k steps would append NULL picks past the
    // candidate count
    require(cands.length >= k,
      s"MMR needs >= k candidates: m yielded ${cands.length} < k=$k")
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double], Double)]
    val remaining = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double], Double)]
    remaining ++= cands
    while (picked.length < k && remaining.nonEmpty) {
      val best = remaining.minBy { case (id, v, qs) =>
        val maxSim =
          if (picked.isEmpty) 0.0
          else picked.map(p => cosineDouble(v, p._2)).max
        val objBp = math.floor((lambda * qs - (1 - lambda) * maxSim) * 10000).toLong
        (-objBp, id) // max objective, ties -> lowest vec_id
      }
      picked += best
      remaining -= best
    }
    picked.zipWithIndex.map { case ((id, _, qs), i) =>
      (i + 1L, id, math.floor(qs * 10000).toLong)
    }.toSeq.toDF("rank", "vec_id", "qs_bp")
  }

  /** Centroids ↔ committed text artifact (one comma-separated line per
    * centroid; Double.toString round-trips exactly, so the SQL oracle's
    * inlined literals equal the kernel's binary64 values).
    */
  def centroidsToLines(cs: Array[Array[Double]]): String =
    cs.map(_.mkString(",")).mkString("\n") + "\n"

  def centroidsFromFile(path: String): Array[Array[Double]] =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
      .split("\n").filter(_.nonEmpty)
      .map(_.split(",").map(_.toDouble))

  /** ANN top-k: probe the query's bucket plus all buckets within
    * `probeHamming` bit flips, exact-rescore candidates, take k.
    */
  def lshTopK(index: DataFrame, query: Array[Float], k: Int = 10,
      bits: Int = 12, probeHamming: Int = 2): DataFrame = {
    val qSig = signature(query, bits)
    val probes = (0 until (1 << bits))
      .filter(b => java.lang.Integer.bitCount(b ^ qSig) <= probeHamming)
    index
      .where(col("bucket").isin(probes: _*))
      .withColumn("score_bp",
        floor(VectorExpr.cosineSim(col("embedding"), typedLit(query.toSeq)) * 10000)
          .cast("long"))
      .orderBy(desc("score_bp"), asc("vec_id"))
      .limit(k)
      .select("vec_id", "score_bp")
  }
}
