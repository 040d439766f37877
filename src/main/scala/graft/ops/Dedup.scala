package graft.ops

import graft.functions.VectorExpr
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines over a
  * documents(doc_id, text, ...) table. All are shuffle-conscious:
  * exact dedup is one hash aggregation; MinHash/SimHash build
  * fixed-width signatures per row (map-side) and shuffle only
  * (bucket-key, id) pairs, never full texts, until the final verify
  * join — the shape that survives 100 TB.
  */
object Dedup {

  /** Exact dedup: canonical row per distinct text (min doc_id wins).
    * One hash aggregate over a 64-char digest — never groups by the
    * full text bytes (at 100 TB the shuffle carries digests only).
    */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(sha2(col("text"), 256).as("text_hash"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("dup_count"))
      .select("doc_id", "text_hash", "dup_count")

  // ---------------- MinHash + LSH ----------------

  /** Word-shingle set hashed to 64-bit values.
    * `shortDocWholeShingle`: texts with fewer than k tokens yield one
    * whole-text shingle (minhash behavior); false yields none (the
    * trigram-inverted-index / DuckDB-oracle behavior).
    */
  private[ops] def shingleHashes(text: String, k: Int,
      shortDocWholeShingle: Boolean = true): Array[Long] = {
    val tokens = tokenize(text)
    if (tokens.length < k) {
      if (tokens.isEmpty || !shortDocWholeShingle) Array.empty
      else Array(hashTokens(tokens, 0, tokens.length))
    } else {
      val set = new java.util.HashSet[java.lang.Long]()
      var i = 0
      while (i + k <= tokens.length) {
        set.add(hashTokens(tokens, i, i + k))
        i += 1
      }
      val out = new Array[Long](set.size)
      val it = set.iterator()
      var j = 0
      while (it.hasNext) { out(j) = it.next(); j += 1 }
      out
    }
  }

  private def tokenize(text: String): Array[String] = {
    if (text == null) return Array.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    val n = text.length
    while (i < n) {
      while (i < n && graft.text.PyText.isPySpace(text.charAt(i))) i += 1
      val s = i
      while (i < n && !graft.text.PyText.isPySpace(text.charAt(i))) i += 1
      if (i > s) out += text.substring(s, i).toLowerCase(java.util.Locale.ROOT)
    }
    out.toArray
  }

  private def mix(h0: Long): Long = {
    var h = h0
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    h
  }

  private def hashTokens(tokens: Array[String], from: Int, to: Int): Long = {
    var h = 1125899906842597L
    var i = from
    while (i < to) {
      h = h * 0x100000001b3L + tokens(i).hashCode
      i += 1
    }
    mix(h)
  }

  /** MinHash signature: numHashes seeded permutations approximated by
    * h_i(x) = mix(x ^ seed_i) minimum over the shingle set.
    */
  private[ops] def minhashSignature(shingles: Array[Long], numHashes: Int): Array[Long] = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < shingles.length) {
      val x = shingles(i)
      var j = 0
      while (j < numHashes) {
        val h = mix(x ^ (0x9e3779b97f4a7c15L * (j + 1)))
        if (h < sig(j)) sig(j) = h
        j += 1
      }
      i += 1
    }
    sig
  }

  private[ops] def jaccard(a: Array[Long], b: Array[Long]): Double = {
    if (a.isEmpty && b.isEmpty) return 1.0
    if (a.isEmpty || b.isEmpty) return 0.0
    val sa = new java.util.HashSet[java.lang.Long]()
    a.foreach(sa.add(_))
    var inter = 0
    val sb = new java.util.HashSet[java.lang.Long]()
    b.foreach { x => if (sb.add(x) && sa.contains(x)) inter += 1 }
    inter.toDouble / (sa.size + sb.size - inter)
  }

  /** MinHash+LSH near-duplicate pairs:
    * shingle → minhash → band buckets → bucket join → exact-jaccard
    * verify. Only (band-hash, id) pairs shuffle; texts are re-read just
    * for the verified candidate set.
    */
  def minhashLshPairs(
      docs: DataFrame,
      threshold: Double = 0.8,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 5): DataFrame = {
    val buckets = lshBandIndex(docs, numHashes, bands, shingleSize)
    val candidates = buckets.as("a")
      .join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()

    verifyJaccard(docs, candidates, threshold, shingleSize)
  }

  /** The banded-minhash index of a corpus: one (doc_id, band, key) row
    * per band. This IS the table a production pipeline persists (e.g.
    * as an IcebergLite unit) so that tomorrow's ingest batch joins
    * against it instead of re-fingerprinting 10^12 historical docs.
    */
  def lshBandIndex(docs: DataFrame, numHashes: Int = 64, bands: Int = 16,
      shingleSize: Int = 5): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(numHashes % bands == 0)
    val rowsPerBand = numHashes / bands
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val sig = minhashSignature(shingleHashes(text, shingleSize), numHashes)
        val bandKeys = Array.tabulate(bands) { b =>
          var h = 1469598103934665603L ^ b
          var r = 0
          while (r < rowsPerBand) { h = (h ^ sig(b * rowsPerBand + r)) * 0x100000001b3L; r += 1 }
          h
        }
        (id, bandKeys)
      })
      .toDF("doc_id", "band_keys")
      .select(col("doc_id"), posexplode(col("band_keys")).as(Seq("band", "key")))
  }

  /** Incremental near-dup mining — the production ingestion loop:
    * dedupe a (small) NEW batch against an already-indexed corpus
    * without touching historical text wholesale. The history
    * contributes its PERSISTED band index ([[lshBandIndex]], read not
    * recomputed); only the new batch is fingerprinted. Candidates =
    * new×old band collisions ∪ new×new collisions — old×old pairs are
    * yesterday's work and never re-mined — then exact-jaccard verify
    * joins text for exactly the candidate ids (history is touched
    * point-wise by id, the 10^12-doc table never scans). Emitted pairs
    * therefore always involve ≥ 1 new doc; id_a < id_b as everywhere.
    */
  def incrementalNearDupPairs(oldIndex: DataFrame, oldDocs: DataFrame,
      newDocs: DataFrame, threshold: Double = 0.8, numHashes: Int = 64,
      bands: Int = 16, shingleSize: Int = 5): DataFrame = {
    val nb = lshBandIndex(newDocs, numHashes, bands, shingleSize)
    // the id-inequality guard matters when a doc_id exists on BOTH
    // sides (a re-crawled document): its new bands collide with its own
    // persisted old bands, which must not become a (id, id) self-pair
    val newOld = nb.as("a")
      .join(oldIndex.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("id_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("id_b"))
    val newNew = nb.as("a")
      .join(nb.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    val candidates = newOld.union(newNew).distinct()
    // last-write-wins for ids on BOTH sides: the re-crawled version's
    // text verifies; keeping both rows would fan every candidate pair
    // touching that id into duplicate output rows through the verify
    // join
    val texts = oldDocs
      .join(broadcast(newDocs.select(col("doc_id"))), Seq("doc_id"), "left_anti")
      .unionByName(newDocs)
    verifyJaccard(texts, candidates, threshold, shingleSize)
  }

  /** Exact-jaccard verification of candidate id pairs. */
  private def verifyJaccard(docs: DataFrame, candidates: DataFrame,
      threshold: Double, shingleSize: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val texts = docs.select(col("doc_id").cast("long").as("id"), col("text"))
    candidates
      .join(texts.withColumnRenamed("id", "id_a").withColumnRenamed("text", "text_a"), "id_a")
      .join(texts.withColumnRenamed("id", "id_b").withColumnRenamed("text", "text_b"), "id_b")
      .select(col("id_a"), col("id_b"), col("text_a"), col("text_b"))
      .as[(Long, Long, String, String)]
      .mapPartitions(_.map { case (a, b, ta, tb) =>
        (a, b, jaccard(shingleHashes(ta, shingleSize), shingleHashes(tb, shingleSize)))
      })
      .toDF("id_a", "id_b", "j")
      .where(col("j") >= threshold)
      .withColumn("jaccard_bp", floor(col("j") * 10000).cast("long"))
      .select("id_a", "id_b", "jaccard_bp")
  }

  // ---------------- SimHash ----------------

  /** 64-bit SimHash over token hashes. */
  private[ops] def simhash64(text: String): Long = {
    val counts = new Array[Int](64)
    val tokens = tokenize(text)
    var i = 0
    while (i < tokens.length) {
      val h = mix(tokens(i).hashCode.toLong * 0x9e3779b97f4a7c15L)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** SimHash near-dup pairs within `maxHamming` bit flips, found via
    * the pigeonhole block trick: split the 64-bit hash into
    * maxHamming+1 blocks — any pair within distance d shares at least
    * one exact block; join per block, then verify distance.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val blocks = maxHamming + 1
    val bits = 64 / blocks

    val hashed = docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) => (id, simhash64(t)) })
      .toDF("doc_id", "simhash")

    val keyed = hashed.select(col("doc_id"), col("simhash"),
      explode(array((0 until blocks).map { b =>
        struct(lit(b).as("block"),
          shiftright(col("simhash"), b * bits)
            .bitwiseAND(lit((1L << bits) - 1)).as("key"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("simhash"),
        col("bk.block").as("block"), col("bk.key").as("key"))

    val hamming = {
      val x = col("a.simhash").bitwiseXOR(col("b.simhash"))
      bit_count(x)
    }
    keyed.as("a").join(keyed.as("b"),
        col("a.block") === col("b.block") && col("a.key") === col("b.key") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        hamming.as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Exact word-trigram-set Jaccard pairs via a shingle inverted
    * index — SQL-expressible (DuckDB oracle in SparkEntry). Shuffles
    * (shingle, id) pairs; at scale, common-shingle filtering (df cap)
    * bounds the self-join fan-out.
    */
  def trigramJaccardPairs(docs: DataFrame, threshold: Double = 0.8,
      maxDocFreq: Long = 1000000): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // Shingle generation runs in the same Scala kernel family as
    // minhash (tokenize → distinct trigram hashes): the Catalyst
    // formulation (split + sequence/transform/concat_ws HOFs) evaluates
    // interpreted lambdas per element and measured ~20x slower end to
    // end. Only 8-byte hashed shingle keys ever shuffle, never trigram
    // strings (64-bit collisions are negligible vs the shingle count).
    val toks = docs
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        shingleHashes(text, 3, shortDocWholeShingle = false).iterator
          .map(h => (id, h))
      })
      .toDF("id", "tok")
      // materialized once for its consumers (df-cap agg, self-join,
      // per-doc sizes ×2) — the prefixJaccardPairs pattern; without it
      // the shingle kernel re-scans the corpus per consumer
      .localCheckpoint(true)
    // stop-shingle (df > cap) removal: the hot set is tiny, so compute
    // it with a hash partial-aggregate (map-side combine, no sort) and
    // remove it with a broadcast left-anti join — vs a sort-based
    // count-over-window this was the whole suite's worst plan (13.3 s
    // of 26.9 s at sf0.1)
    val hot = toks.groupBy("tok").agg(count(lit(1)).as("df"))
      .where(col("df") > maxDocFreq)
      .select("tok")
    val filtered = toks.join(broadcast(hot), Seq("tok"), "left_anti")
      .select("id", "tok")
    val sizes = filtered.groupBy("id").agg(count(lit(1)).as("n"))
    val shared = filtered.as("a").join(filtered.as("b"),
        col("a.tok") === col("b.tok") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    shared
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "n_b"), "id_b")
      .withColumn("j", col("inter") / (col("n_a") + col("n_b") - col("inter")))
      .where(col("j") >= threshold)
      // basis points via floor: bit-stable across engines (Spark round()
      // goes through the decimal string; DuckDB rounds the binary double
      // — they disagree on exact .00005 boundaries, floor never does
      // when the unrounded doubles are identical)
      .withColumn("jaccard_bp", floor(col("j") * 10000).cast("long"))
      .select("id_a", "id_b", "jaccard_bp")
  }

  /** Exact threshold-Jaccard pairs via PPJoin-style prefix filtering
    * (Chaudhuri/Ganti/Kaushik 2006, Xiao et al. 2008): order every
    * document's shingles by a global total order (ascending document
    * frequency — rarest first, ties by hash) and expose only the first
    * |d| - ceil(t·|d|) + 1 of them. Any pair with J ≥ t must share a
    * token inside BOTH prefixes (if all prefix tokens differed, the
    * overlap could not reach the t-implied minimum), so the equi-join
    * on prefix tokens yields a guaranteed superset of the true pairs;
    * each candidate is then verified exactly over the full sets.
    *
    * Complement of [[trigramJaccardPairs]]: the df cap there bounds
    * fan-out by DROPPING hot shingles from the similarity domain
    * (J is computed over the capped sets); the prefix filter is
    * LOSSLESS — output is the exact threshold pair set over the full
    * shingle sets, and fan-out is bounded because hot shingles rank
    * last in the df order and almost never enter a prefix (measured
    * 12× fewer candidate pairs than the share-any-shingle join at the
    * driver tier).
    *
    * SCALE: exchanges carry (id, 8-byte shingle hash) rows plus
    * aggregated df counts — never text; the ranking window partitions
    * by doc id (a |d|-row sort per document, no global sort); the
    * verify join touches candidate pairs only. Threshold is an exact
    * rational num/den and every comparison is BIGINT
    * cross-multiplication — no float thresholds to disagree across
    * engines.
    */
  def prefixJaccardPairs(docs: DataFrame, num: Int = 1, den: Int = 2): DataFrame = {
    require(num > 0 && den > 0 && num <= den,
      s"threshold must be a rational in (0, 1]: $num/$den")
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // same pooled shingle kernel as trigramJaccardPairs (Catalyst HOFs
    // evaluate interpreted per element — measured ~20x slower);
    // checkpointed once for its three consumers (df, ranking, verify)
    val toks = docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        shingleHashes(text, 3, shortDocWholeShingle = false).iterator
          .map(h => (id, h))
      })
      .toDF("id", "tok")
      .localCheckpoint(true)
    val sizes = toks.groupBy("id").agg(count(lit(1)).as("n"))
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    val win = Window.partitionBy(col("id")).orderBy(col("df"), col("tok"))
    // prefix length |d| - ceil(t|d|) + 1, ceil spelled in integers
    val prefix = toks.join(dfreq, "tok")
      .select(col("id"), col("tok"), row_number().over(win).as("r"))
      .join(sizes, "id")
      .where(col("r") <= col("n") -
        expr(s"(($num * n + ${den - 1}) div $den)") + 1)
      .select("id", "tok")
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.tok") === col("b.tok") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // exact verify over full sets, candidates only
    val inter = cand
      .join(toks.select(col("id").as("id_a"), col("tok")), "id_a")
      .join(toks.select(col("id").as("id_b"), col("tok")), Seq("id_b", "tok"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n").as("n_b")), "id_b")
      .withColumn("uni", col("n_a") + col("n_b") - col("inter"))
      .where(col("inter") * lit(den.toLong) >= lit(num.toLong) * col("uni"))
      .select(col("id_a"), col("id_b"),
        expr("(inter * 10000) div uni").as("jaccard_bp"))
  }

  /** Apply a near-dup pair set to the corpus: greedy canonicalization
    * keeps every doc that never appears as the larger id of a pair
    * (pairs carry id_a < id_b). One anti-join — no iterative connected
    * components; for transitive clusters this may drop a doc whose
    * direct canonical was itself dropped, which is the standard greedy
    * trade-off for one-pass dedup at scale.
    */
  def applyPairDedup(docs: DataFrame, pairs: DataFrame): DataFrame =
    docs.join(pairs.select(col("id_b").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")

  // ---------------- connected-components dedup clusters ----------------

  /** Edge count up to which the contraction runs as ONE pass in ONE
    * partition, whose forest is then exact. That task receives each edge
    * twice (once per endpoint); [[unionFindForest]] holds per edge the
    * ids received (32 bytes), their sorted copy (32), an Int parent per
    * node (≤ 8) and ≤ 32 bytes of array growth: under 110 bytes per edge.
    */
  private val OnePartitionEdges = 1000000L

  /** Safety cap on multi-partition passes; a 2048-node path takes 5. */
  private val MaxPasses = 30

  /** Union-find over one partition's edges, always linking the larger
    * root under the smaller, so every root is its component's minimum.
    * Emits (node, root) for every non-root node seen: the output depends
    * on the edge SET alone, so a retried task emits the same rows.
    */
  private[ops] def unionFindForest(edges: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val ends = new scala.collection.mutable.ArrayBuilder.ofLong
    edges.foreach { case (u, v) => ends += u; ends += v }
    val e = ends.result()
    val ids = e.clone() // sorted and unique: index order is id order
    java.util.Arrays.sort(ids)
    var n = 0
    for (x <- ids) if (n == 0 || ids(n - 1) != x) { ids(n) = x; n += 1 }
    val parent = Array.tabulate(n)(identity)
    @annotation.tailrec def find(i: Int): Int = // with path halving
      if (parent(i) == i) i else { parent(i) = parent(parent(i)); find(parent(i)) }
    def root(id: Long): Int = find(java.util.Arrays.binarySearch(ids, 0, n, id))
    for (k <- e.indices by 2) {
      val a = root(e(k))
      val b = root(e(k + 1))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
    }
    Iterator.range(0, n).filter(i => find(i) != i).map(i => (ids(i), ids(find(i))))
  }

  /** One contraction pass: every edge is keyed under BOTH endpoints, so
    * a node's partition sees all of its edges; [[unionFindForest]] runs
    * per partition and the forests' distinct union is the next edge set.
    * Keyed by one end alone, a chain a→b→c could keep its two edges in
    * different partitions and come back unchanged: a false fixpoint. The
    * explicit partition count keeps AQE from folding the pass into one task.
    */
  private[graft] def contractionPass(edges: DataFrame, partitions: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.select(explode(array(col("u"), col("v"))).as("k"), col("u"), col("v"))
      .repartition(partitions, col("k"))
      .select("u", "v").as[(Long, Long)]
      .mapPartitions(unionFindForest)
      .toDF("u", "v").distinct()
  }

  /** Connected components over a near-dup pair table by union-find
    * contraction, FP-Hadoop's intermediate reduce (PAPERS.md): each
    * partition merges its partial groups before the next merge. The
    * exact-cluster upgrade over [[applyPairDedup]]'s greedy rule, which
    * in a chain a–b–c can drop c whose canonical b was itself dropped.
    *
    * The canonical edge set is materialized once. Up to
    * `OnePartitionEdges` edges, one single-partition pass is exact. Above
    * it, checkpointed passes over the shuffle partitions repeat until the
    * edge set stops changing: a one-pass fingerprint (count + XOR of row
    * hashes) probes each pass and an exact `except` confirms a "stable"
    * probe, so a collision costs a pass, never a wrong answer. A fixpoint
    * is a star forest: every node points at its component's minimum.
    *
    * Returns (id, component) for every node of `pairs`, component = the
    * cluster's minimum id.
    */
  def connectedComponents(pairs: DataFrame): DataFrame =
    connectedComponentsWithRounds(pairs)._1

  /** [[connectedComponents]] plus the number of contraction passes it ran. */
  def connectedComponentsWithRounds(pairs: DataFrame): (DataFrame, Int) =
    connectedComponentsWithRounds(pairs, OnePartitionEdges)

  /** Tests lower the bound to drive small graphs through the fixpoint. */
  private[graft] def connectedComponentsWithRounds(pairs: DataFrame,
      onePartitionEdges: Long): (DataFrame, Int) = {
    var edges = pairs // larger id → smaller id
      .select(greatest(col("id_a"), col("id_b")).cast("long").as("u"),
        least(col("id_a"), col("id_b")).cast("long").as("v"))
      .where(col("u") =!= col("v"))
      .localCheckpoint(true)
    var passes = 1
    if (edges.count() <= onePartitionEdges) edges = contractionPass(edges, 1)
    else {
      val partitions = pairs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
      var lastFp = (-1L, 0L) // no edge set has count -1
      var done = false
      while (!done) {
        require(passes <= MaxPasses,
          s"connected components did not converge in $MaxPasses passes")
        val next = contractionPass(edges, partitions).localCheckpoint(true)
        val fp = next.select(xxhash64(col("u"), col("v")).as("h"))
          .agg(count(lit(1)), expr("bit_xor(h)")).collect()(0)
        val fpNow = (fp.getLong(0), if (fp.isNullAt(1)) 0L else fp.getLong(1))
        // two distinct sets of equal count: one inclusion is equality
        done = fpNow == lastFp && next.except(edges).isEmpty
        if (!done) passes += 1
        lastFp = fpNow
        edges = next
      }
    }
    // a star forest: u → its component's minimum v, never itself a child
    val assign = edges.select(col("u").as("id"), col("v").as("component"))
      .union(edges.select(col("v").as("id"), col("v").as("component")).distinct())
    (assign, passes)
  }

  // ---------------- cross-document substring dedup ----------------

  /** Cross-document SUBSTRING-level duplicate pairs — the training-data
    * cleanup step beyond document-level dedup (shared boilerplate,
    * quoted passages, templated spans). Built on the winnowing
    * fingerprints (TextAnalysis.winnow: rolling k-gram hashes, min per
    * window — a LOCAL fingerprint, so a shared substring yields the
    * same fingerprint run in both documents wherever it sits):
    *
    *   1. per-doc fingerprint sequence (positio-indexed) — per-row
    *      kernel, embarrassingly parallel;
    *   2. df cap: fingerprints present in > maxDocFreq docs are
    *      boilerplate-of-the-corpus; a hash aggregate finds the (tiny)
    *      hot set, a broadcast anti-join removes it — bounding the
    *      inverted-index fan-out exactly like trigramJaccardPairs;
    *   3. inverted-index self-join on the 8-byte fingerprint →
    *      matched position pairs (ia, ib);
    *   4. exact extend-verify IN RELATIONAL FORM: a shared contiguous
    *      span lies on one diagonal d = ia − ib; islands of consecutive
    *      ia on a diagonal are found with the classic
    *      `ia − row_number()` trick, so `max_run` is the longest
    *      shared fingerprint run (and shared_fps the distinct overlap
    *      mass). No per-pair text re-read is needed — the fingerprint
    *      index IS the evidence, which is what makes this shape hold
    *      at 100 TB (only (fp, id, pos) triples ever shuffle).
    */
  /** The matched-position table of [[substringDupPairs]] — per-doc
    * winnow fingerprints, df-capped, self-joined on fp into
    * (id_a, id_b, ia, ib, fp, diag) rows — exposed un-materialized so
    * PlanQualitySpec can gate THESE exchanges (the text-kernel and
    * self-join stage) even though substringDupPairs materializes the
    * result for its three downstream consumers.
    */
  private[graft] def substringMatchTable(docs: DataFrame,
      maxDocFreq: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val fps = docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, t) =>
        TextAnalysis.winnow(t).iterator.zipWithIndex
          .map { case (fp, i) => (id, i, fp) }
      })
      .toDF("doc_id", "fp_index", "fp")
    // fps is NOT checkpointed: its second execution (under the hot-set
    // broadcast build) overlaps the probe-side pass on idle cores, and
    // an eager checkpoint here measured +0.46 s (r06) — serializing the
    // kernel behind a materialization barrier costs more than the
    // duplicated, parallel pass
    val hot = fps.groupBy("fp")
      .agg(count_distinct(col("doc_id")).as("df"))
      .where(col("df") > maxDocFreq).select("fp")
    val filtered = fps.join(broadcast(hot), Seq("fp"), "left_anti")
    filtered.as("a").join(filtered.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.fp_index").as("ia"), col("b.fp_index").as("ib"), col("a.fp").as("fp"))
      .withColumn("diag", col("ia") - col("ib"))
  }

  def substringDupPairs(docs: DataFrame, minSharedFps: Int = 4,
      maxDocFreq: Long = 64, minRun: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("id_a"), col("id_b"), col("diag"))
      .orderBy(col("ia"))
    // diagonal prefilter: a contiguous run of length L lives on one
    // diagonal and contributes L matches to it, so any diagonal that
    // could hold a qualifying run has count >= minRun. The count is a
    // map-side-combinable hash aggregate — far cheaper than sorting the
    // full match table for the window — and the reported max_run is
    // unchanged: the pair's longest run (>= minRun when the pair
    // qualifies) always lives on a kept diagonal.
    //
    // THREE consumers read the match table (diagonal prefilter, island
    // window, shared-mass agg) — materialize it once (fixed-width rows,
    // pair-volume-bounded) instead of executing the winnow kernel +
    // fp self-join once per consumer (measured 3x at the driver tier).
    val withDiag = substringMatchTable(docs, maxDocFreq).localCheckpoint(true)
    val goodDiag = withDiag.groupBy("id_a", "id_b", "diag")
      .agg(count(lit(1)).as("dcnt"))
      .where(col("dcnt") >= minRun)
      .select("id_a", "id_b", "diag")
    val runs = withDiag
      .join(goodDiag, Seq("id_a", "id_b", "diag"), "left_semi")
      .withColumn("island", col("ia") - row_number().over(w))
      .groupBy("id_a", "id_b", "diag", "island")
      .agg(count(lit(1)).as("run_len"))
      .groupBy("id_a", "id_b")
      .agg(max(col("run_len")).as("max_run"))
    // NOT semi-joined to the good-diagonal pair set before aggregating
    // (the final inner join with `runs` discards no-run pairs anyway):
    // tried in r06 and measured +0.22 s — the probe side still pays its
    // shuffle write before AQE can broadcast the tiny pair set, so the
    // "skipped" aggregation was replaced by an equal-sized exchange
    // plus a join. The direct aggregation stands.
    val sharedMass = withDiag.groupBy("id_a", "id_b")
      .agg(count_distinct(col("fp")).as("shared_fps"))
    // BOTH gates: diffuse trigram-level overlap (many shared fps, no
    // run) is near-dup territory, not substring dedup — a pair counts
    // only when a CONTIGUOUS fingerprint run evidences a shared span
    sharedMass.join(runs, Seq("id_a", "id_b"))
      .where(col("shared_fps") >= minSharedFps && col("max_run") >= minRun)
      .select("id_a", "id_b", "shared_fps", "max_run")
  }

  // ---------------- eval-set contamination ----------------

  /** Eval-set contamination check: which training documents share
    * enough word-trigram shingles with a held-out eval document that
    * the eval example is (partially) present in the training corpus —
    * the audit every LLM-data pipeline runs before trusting its
    * benchmark numbers.
    *
    * Shape for 10^12 train docs: the EVAL side is small by construction
    * (benchmarks are thousands of docs, not billions), so its capped
    * shingle set broadcasts and the train side never shuffles — one
    * map-side join + one aggregation. The df cap (shared with
    * trigramJaccardPairs) drops corpus-boilerplate shingles so a
    * stop-phrase cannot fan a single eval doc out to every train doc.
    *
    * @return (train_id, eval_id, shared_shingles,
    *          overlap_bp = floor(shared / |eval shingles| * 10000))
    *         for pairs with shared_shingles >= minShared
    */
  def contaminationCheck(train: DataFrame, eval: DataFrame,
      minShared: Long = 8, maxDocFreq: Long = 64): DataFrame = {
    val spark = train.sparkSession
    import spark.implicits._
    def toks(docs: DataFrame): DataFrame = docs
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        shingleHashes(text, 3, shortDocWholeShingle = false).iterator
          .map(h => (id, h))
      })
      .toDF("id", "tok")
    val trainT = toks(train)
    val evalT = toks(eval)
    // df cap computed over the UNION (one rule for what "boilerplate"
    // means, same 64 cap the jaccard oracle uses). count(*) IS the doc
    // frequency — shingleHashes emits each tok once per doc — and unlike
    // count_distinct it keeps the map-side partial combine: the exchange
    // carries (tok, partial_count) rows, never raw (tok, id) pairs.
    // An eval-token semi-join BEFORE this aggregation (df is only
    // consulted for eval tokens) was tried in r06 and reverted: the
    // extra broadcast build of the eval token set gated the pipeline's
    // start and measured net +0.17 s against the smaller agg exchange.
    val all = trainT.unionByName(evalT)
    val hot = all.groupBy("tok").agg(count(lit(1)).as("df"))
      .where(col("df") > maxDocFreq).select("tok")
    // not materialized: `hot`'s df-agg exchange subtree is identical
    // under evalKept's two consumers, so runtime exchange reuse computes
    // the train scan once; only the small eval scan re-runs per branch
    val evalKept = evalT.join(broadcast(hot), Seq("tok"), "left_anti")
    val evalSizes = evalKept.groupBy("id").agg(count(lit(1)).as("n_eval"))
    val shared = trainT
      .join(broadcast(evalKept.withColumnRenamed("id", "eval_id")), Seq("tok"))
      .groupBy(col("id").as("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("shared_shingles"))
    shared
      .join(broadcast(evalSizes.withColumnRenamed("id", "eval_id")), Seq("eval_id"))
      .where(col("shared_shingles") >= minShared)
      .withColumn("overlap_bp",
        floor(col("shared_shingles") / col("n_eval") * 10000).cast("long"))
      .select("train_id", "eval_id", "shared_shingles", "overlap_bp")
  }

  /** 64-bit line fingerprint: FNV-1a over UTF-16 code units + finalizer
    * mix. Both lineDedup passes use the same function, so the counted
    * set and the removal set agree; a cross-line collision (~2⁻⁶⁴ per
    * pair) merges two lines' document counts — the standard
    * hash-countable trade every CCNet-style pipeline makes.
    */
  private[graft] def lineHash(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i); h *= 0x100000001b3L; i += 1 }
    mix(h)
  }

  /** lineDedup's counting pass, exposed for plan gating: per-doc-
    * distinct 8-byte line fingerprints into a map-side-combinable
    * count — the ONLY thing that shuffles is the (h, partial-count)
    * pair; document text never crosses an exchange.
    */
  def boilerplateLineHashes(docs: DataFrame, minDocs: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (_, text) =>
        if (text == null) Iterator.empty
        else {
          val seen = new java.util.HashSet[java.lang.Long]()
          text.split("\n", -1).iterator
            .filter(_.nonEmpty).map(lineHash)
            .filter(h => seen.add(h))
        }
      }
      .toDF("h").groupBy("h").count()
      .where(col("count") >= minDocs)
      .select(col("h"))
  }

  /** Line-level corpus dedup (the RefinedWeb / CCNet boilerplate pass,
    * public method): a non-empty line occurring in >= `minDocs`
    * DISTINCT documents is corpus boilerplate (nav menus, cookie
    * banners, footers) and is removed from EVERY document; empty lines
    * are structure and always kept. Returns
    * (doc_id, text, n_removed) with lines rejoined in original order.
    *
    * Scale shape: document text never shuffles. Pass 1 ships only
    * per-doc-distinct 8-byte line hashes into a map-side-combinable
    * count; the surviving boilerplate set is bounded (its size is at
    * most total_lines/minDocs and in practice the distinct boilerplate
    * vocabulary — `maxBoilerplate` fails loudly if an adversarial
    * corpus breaks that assumption) and broadcast into a second
    * per-row kernel pass that filters lines in place — the same
    * bounded-broadcast discipline as contaminationCheck's eval side.
    */
  def lineDedup(docs: DataFrame, minDocs: Int = 3,
      maxBoilerplate: Int = 1 << 22): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val src = docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
    // ONE aggregation pass: limit(max+1) bounds driver memory exactly
    // like a pre-count would, without paying the full count as a
    // second scan+shuffle over the corpus; the collected array is the
    // complete boilerplate set whenever the bound holds
    val freq = boilerplateLineHashes(docs, minDocs)
      .limit(maxBoilerplate + 1)
      .as[Long].collect()
    require(freq.length <= maxBoilerplate,
      s"boilerplate set exceeds bound $maxBoilerplate — raise minDocs")
    val bc = spark.sparkContext.broadcast(
      freq.foldLeft(new java.util.HashSet[java.lang.Long]()) {
        (s, h) => s.add(h); s
      })
    src.map { case (id, text) =>
      if (text == null) (id, null: String, 0)
      else {
        val lines = text.split("\n", -1)
        val kept = lines.filter(l => l.isEmpty || !bc.value.contains(lineHash(l)))
        (id, kept.mkString("\n"), lines.length - kept.length)
      }
    }.toDF("doc_id", "text", "n_removed")
  }

  /** Quality-aware canonical selection over near-dup CLUSTERS: run
    * [[connectedComponents]] over the verified pair set, then keep the
    * HIGHEST-scoring member of each cluster (ties → lowest id) instead
    * of the cluster-minimum id. This is what production curation does —
    * when five mirrors of a page near-dup each other, you keep the
    * cleanest copy, not the numerically-first crawl.
    *
    * Scale shape: the component assignment is the union-find
    * contraction of [[connectedComponents]] (one pass below its edge
    * bound); the best-pick is ONE map-side-combinable min(struct)
    * aggregate over (component) — no window, no sort —
    * followed by an id-keyed equi-join of the (cluster-count-bounded)
    * best table.
    *
    * @param pairs  (id_a, id_b) verified near-dup pairs
    * @param scores (doc_id, score) integer per-doc quality, defined at
    *               least on every pair member
    * @return (doc_id, component, score, kept) — one row per pair member
    */
  def keepBestPerCluster(pairs: DataFrame, scores: DataFrame): DataFrame = {
    val cc = connectedComponents(pairs)
    // NOT materialized: both consumers (best agg + final join) exchange
    // scored on `component` with identical subtrees, so runtime exchange
    // reuse already computes it once — an eager checkpoint here measured
    // +0.29 s of pure barrier overhead (r06)
    val scored = cc.join(
      scores.select(col("doc_id").cast("long").as("id"), col("score")), "id")
    val best = scored.groupBy(col("component"))
      .agg(min(struct((-col("score")).as("ns"), col("id").as("bid"))).as("m"))
      .select(col("component"), col("m.bid").as("best_id"))
    scored.join(best, "component")
      .select(col("id").as("doc_id"), col("component"), col("score"),
        (col("id") === col("best_id")).as("kept"))
  }

  /** The APPLY side of eval-set decontamination (the GPT-3 appendix-C
    * move: don't just report train/eval overlap — drop the train
    * documents that carry it). A train doc is contaminated when it
    * shares ≥ `minShared` shingles with ANY eval doc at ≥
    * `minOverlapBp` of that eval doc's shingle set, per
    * [[contaminationCheck]]'s df-capped rule.
    *
    * Scale shape: the contaminated-id set is output-bounded (≤ the
    * eval set's blast radius, not the corpus), so the removal is one
    * broadcast anti-join on doc_id — the train side's text never
    * shuffles, same as [[applyPairDedup]].
    */
  def decontaminate(train: DataFrame, eval: DataFrame,
      minShared: Long = 8, maxDocFreq: Long = 64,
      minOverlapBp: Long = 0): DataFrame = {
    val hits = contaminationCheck(train, eval, minShared, maxDocFreq)
      .where(col("overlap_bp") >= minOverlapBp)
      .select(col("train_id").as("doc_id")).distinct()
    train.join(broadcast(hits), Seq("doc_id"), "left_anti")
  }

  /** WITHIN-document repeated-line removal (the intra-doc counterpart
    * of [[lineDedup]]'s cross-doc boilerplate rule — the Gopher /
    * RefinedWeb "remove duplicated lines inside a page" transform:
    * nav menus, subscribe banners and share bars repeat inside one
    * page as well as across pages). Keeps the FIRST occurrence of
    * every non-empty line, preserves empty lines (paragraph
    * structure), recomposes with '\n'.
    *
    * Scale shape: a pure per-row kernel — zero exchanges, parallelizes
    * with the scan; per-row state is one HashSet over the row's OWN
    * line hashes (page-bounded, not corpus-bounded). Dedup is on the
    * same 64-bit fingerprint as [[lineDedup]], so the two passes see
    * one line identity.
    */
  def derepLines(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        if (text == null) (id, null: String, 0)
        else {
          val lines = text.split("\n", -1)
          val seen = new java.util.HashSet[java.lang.Long]()
          val kept = lines.filter(l => l.isEmpty || seen.add(lineHash(l)))
          (id, kept.mkString("\n"), lines.length - kept.length)
        }
      }.toDF("doc_id", "text", "n_removed")
  }

  /** Embedding-cosine near-dup pairs (brute force — the small-N /
    * oracle path; the scale path is Similarity.lshNearDupPairs).
    */
  def cosineNearDupPairs(embeddings: DataFrame, threshold: Double = 0.95): DataFrame = {
    val a = embeddings.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"))
    val b = embeddings.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("c", VectorExpr.cosineSim(col("emb_a"), col("emb_b")))
      .where(col("c") >= threshold)
      .withColumn("cos_bp", floor(col("c") * 10000).cast("long"))
      .select("id_a", "id_b", "cos_bp")
  }
}
