package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Real byte-pair-encoding token counting.
  *
  * `TextAnalysis.bpeTokenCount` counts GPT-2-style PREtokenizer pieces;
  * a training pipeline bills by post-merge BPE tokens, which that
  * overstates by the merge ratio. This module closes the gap with the
  * standard two-artifact shape:
  *
  *  - [[train]]: classic BPE training (Sennrich et al. 2016, public
  *    algorithm) on a bounded corpus sample — deterministic (ties break
  *    in code-point order), run OFFLINE like the IVF/PQ quantizers, with
  *    the learned merges committed as a text artifact
  *    (golden/bpe_merges.txt).
  *  - [[tokenCountDf]]: greedy lowest-rank merge application inside a
  *    pooled mapPartitions kernel with a per-partition piece cache
  *    (Zipf makes the hit rate high — the same trick GPT-2's encoder
  *    uses). Per-row work only: parallelizes with the scan at 100 TB.
  *
  * The driver oracle is a DUAL derivation: tools/bpe_expected.py is an
  * independent Python reimplementation (pretokenizer + merge loop) that
  * generates the golden from the same committed merges artifact —
  * divergence anywhere turns the token_bpe row red.
  */
object Bpe {

  /** Pretokenizer — the exact pattern TextAnalysis.bpeTokenCount counts
    * (disjoint alternation classes, so Java / RE2 / Python `re` pick
    * identical matches).
    */
  private val pretokenRe =
    java.util.regex.Pattern.compile(graft.ops.TextAnalysis.BpeTokenPattern)

  def pretokenize(text: String): Iterator[String] = {
    if (text == null || text.isEmpty) return Iterator.empty
    val m = pretokenRe.matcher(text)
    new Iterator[String] {
      private var has = m.find()
      def hasNext: Boolean = has
      def next(): String = { val s = m.group(); has = m.find(); s }
    }
  }

  /** Initial symbol split by CODE POINT (not UTF-16 unit): the Python
    * dual derivation iterates code points natively, so a surrogate pair
    * must be one symbol here too or astral chars diverge.
    */
  private[text] def symbolsOf(piece: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < piece.length) {
      val cp = piece.codePointAt(i)
      val n = Character.charCount(cp)
      out += piece.substring(i, i + n)
      i += n
    }
    out.toArray
  }

  /** Deterministic BPE training over raw texts: counts the corpus's
    * pretokenizer pieces, then runs [[trainWeighted]]'s merge loop over
    * that (piece, freq) dict.
    */
  def train(texts: IterableOnce[String], numMerges: Int,
      minPairFreq: Long = 2): Seq[(String, String)] = {
    val pieceFreq = new java.util.HashMap[String, Long]()
    texts.iterator.foreach { t =>
      pretokenize(t).foreach(p => pieceFreq.merge(p, 1L, _ + _))
    }
    trainWeighted(pieceFreq.asScala.toArray, numMerges, minPairFreq)
  }

  /** The aggregated (piece, freq) dict of a corpus — ONE corpus pass:
    * pretokenize kernel with per-partition HashMap combine, then a
    * hash agg. Zipf/Heaps means distinct pieces ≪ corpus tokens; this
    * table (not the corpus) is what training iterates over, exactly
    * the word-frequency-dict shape of Sennrich et al. 2016.
    */
  private[text] def pieceFreqTable(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("text")).as[String]
      .mapPartitions { it =>
        val m = new java.util.HashMap[String, Long]()
        it.foreach(t => pretokenize(t).foreach(p => m.merge(p, 1L, _ + _)))
        val out = new Array[(String, Long)](m.size)
        val eit = m.entrySet().iterator()
        var j = 0
        while (eit.hasNext) {
          val e = eit.next(); out(j) = (e.getKey, e.getValue); j += 1
        }
        out.iterator
      }
      .toDF("piece", "freq").groupBy(col("piece"))
      .agg(sum(col("freq")).as("freq"))
  }

  /** UTF-8 binary string order (== code point order) — the ordering
    * Spark SQL's `orderBy(col)` applies to strings, mirrored here so
    * the driver-side argmax tie-break of [[trainWeighted]] is
    * bit-identical to an SQL `ORDER BY f DESC, l, r` (BpeSpec's
    * per-round reference trainer). Java String `<` is UTF-16
    * code-unit order, which differs for astral code points vs
    * [U+E000, U+FFFF].
    */
  private[text] def cpLess(a: String, b: String): Boolean = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return ca < cb
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    a.length - i < b.length - j
  }

  /** The merge loop, over an ALREADY-AGGREGATED (piece, freq) dict:
    * start from single code points, repeat `numMerges` times: count
    * adjacent symbol pairs over the distinct pieces (weighted by piece
    * frequency), merge the most frequent pair (ties → smallest (left,
    * right) in code-point order, matching the SQL `ORDER BY f DESC, l,
    * r` of BpeSpec's per-round reference). Stops early when no pair
    * occurs at least `minPairFreq` times. Cost per round is O(total
    * symbols of the dict), so 32k production merges are driver-cheap
    * once the dict is in hand.
    */
  def trainWeighted(pieces: Array[(String, Long)], numMerges: Int,
      minPairFreq: Long = 2): Seq[(String, String)] = {
    require(minPairFreq >= 1, s"minPairFreq must be >= 1, got $minPairFreq")
    // deterministic processing order (input order must not leak);
    // counting is order-independent, this just pins iteration for
    // debuggability — the argmax comparison is total regardless
    var words: Array[(Array[String], Long)] = pieces
      .map { case (p, f) => (symbolsOf(p), f) }
      .sortBy(w => (w._1.mkString, w._2))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var step = 0
    var done = false
    while (step < numMerges && !done) {
      val pairFreq = new java.util.HashMap[(String, String), Long]()
      words.foreach { case (syms, f) =>
        var i = 0
        while (i + 1 < syms.length) {
          pairFreq.merge((syms(i), syms(i + 1)), f, _ + _)
          i += 1
        }
      }
      if (pairFreq.isEmpty) done = true
      else {
        var best: (String, String) = null
        var bestF = 0L
        val it = pairFreq.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val p = e.getKey
          val f = e.getValue
          if (f > bestF || (f == bestF && best != null &&
              (cpLess(p._1, best._1) ||
                (p._1 == best._1 && cpLess(p._2, best._2))))) {
            best = p; bestF = f
          }
        }
        if (bestF < minPairFreq) done = true
        else {
          merges += best
          val merged = best._1 + best._2
          words = words.map { case (syms, f) =>
            if (syms.length < 2) (syms, f)
            else {
              val out = scala.collection.mutable.ArrayBuffer.empty[String]
              var i = 0
              while (i < syms.length) {
                if (i + 1 < syms.length && syms(i) == best._1 && syms(i + 1) == best._2) {
                  out += merged; i += 2
                } else { out += syms(i); i += 1 }
              }
              (out.toArray, f)
            }
          }
        }
      }
      step += 1
    }
    merges.toSeq
  }

  /** DISTRIBUTED BPE training — [[train]] (the same [[trainWeighted]]
    * merge loop) for a corpus that does not fit one machine: ONE
    * corpus pass builds the aggregated (piece, freq)
    * dict, the dict is collected under a LOUD bound (Heaps' law keeps
    * distinct pretokens ≪ corpus tokens; the `require` fails fast if
    * an adversarial corpus breaks that), and the merge loop runs
    * driver-side over it — the IVF/PQ offline-artifact pattern, and
    * what production trainers (HuggingFace tokenizers, SentencePiece)
    * do. This removes the previous shape's one-driver-round-trip-PER-
    * MERGE coordination (48 merges = 48 sequential jobs; a 32k
    * production vocab would be 32k), whose round count scaled with
    * the vocab parameter rather than the data. BpeSpec keeps that
    * per-round shape as a reference and pins both to identical merges.
    */
  def trainDistributed(docs: DataFrame, numMerges: Int,
      minPairFreq: Long = 2, maxDistinctPieces: Int = 1 << 22): Seq[(String, String)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    // limit(max+1) bounds driver memory exactly like a pre-count
    // would, without a second scan — the lineDedup pattern
    val rows = pieceFreqTable(docs).as[(String, Long)]
      .limit(maxDistinctPieces + 1).collect()
    require(rows.length <= maxDistinctPieces,
      s"distinct piece dict exceeds bound $maxDistinctPieces — raise the bound")
    trainWeighted(rows, numMerges, minPairFreq)
  }

  /** Post-merge BPE token COUNT of one pretokenizer piece (the billing
    * metric — the token strings themselves are never materialized
    * downstream).
    */
  def applyCount(piece: String, ranks: java.util.HashMap[(String, String), Int]): Int =
    applyTokens(piece, ranks).length

  /** Greedy merge application: repeatedly merge the lowest-rank
    * adjacent pair present in `ranks` until none remains; returns the
    * post-merge BPE token SEQUENCE of one pretokenizer piece.
    */
  def applyTokens(piece: String,
      ranks: java.util.HashMap[(String, String), Int]): Array[String] = {
    val initial = symbolsOf(piece)
    if (initial.length <= 1) return initial
    val syms = new java.util.ArrayList[String](initial.length)
    initial.foreach(syms.add)
    var continue = true
    while (continue && syms.size > 1) {
      var bestRank = Int.MaxValue
      var bestAt = -1
      var j = 0
      while (j + 1 < syms.size) {
        val r = ranks.getOrDefault((syms.get(j), syms.get(j + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; bestAt = j }
        j += 1
      }
      if (bestAt < 0) continue = false
      else {
        syms.set(bestAt, syms.get(bestAt) + syms.get(bestAt + 1))
        syms.remove(bestAt + 1)
      }
    }
    syms.toArray(new Array[String](syms.size))
  }

  /** Post-merge token stream of a whole text, with a piece-level memo
    * cache (same Zipf argument and bound as [[countTokens]]'s).
    */
  def tokens(text: String, ranks: java.util.HashMap[(String, String), Int],
      cache: java.util.HashMap[String, Array[String]]): Iterator[String] =
    pretokenize(text).flatMap { p =>
      var a = cache.get(p)
      if (a == null) {
        a = applyTokens(p, ranks)
        if (cache.size < 262144) cache.put(p, a)
      }
      a.iterator
    }

  /** Post-merge BPE token count of a whole text (sum over pretokenizer
    * pieces), with a piece-level memo cache.
    */
  def countTokens(text: String, ranks: java.util.HashMap[(String, String), Int],
      cache: java.util.HashMap[String, Int]): Long = {
    var total = 0L
    pretokenize(text).foreach { p =>
      var c = cache.getOrDefault(p, -1)
      if (c < 0) {
        c = applyCount(p, ranks)
        // bound the memo so an adversarial corpus of unique pieces
        // cannot grow it without limit
        if (cache.size < 262144) cache.put(p, c)
      }
      total += c
    }
    total
  }

  def ranksOf(merges: Seq[(String, String)]): java.util.HashMap[(String, String), Int] = {
    val m = new java.util.HashMap[(String, String), Int]()
    merges.zipWithIndex.foreach { case (p, i) => m.put(p, i) }
    m
  }

  // ---- merges ↔ committed text artifact ----
  // one line per merge: `left<space>right`, symbols escaped so merges
  // containing whitespace round-trip (\\ \t \n \r and \s for space)

  def escape(s: String): String = {
    val sb = new StringBuilder
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '\t' => sb.append("\\t")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case ' '  => sb.append("\\s")
      case c    => sb.append(c)
    }
    sb.toString
  }

  def unescape(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '\\' => sb.append('\\')
          case 't'  => sb.append('\t')
          case 'n'  => sb.append('\n')
          case 'r'  => sb.append('\r')
          case 's'  => sb.append(' ')
          case o    => sb.append(o)
        }
        i += 2
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  def toLines(merges: Seq[(String, String)]): String =
    merges.map { case (a, b) => s"${escape(a)} ${escape(b)}" }.mkString("", "\n", "\n")

  def fromFile(path: String): Seq[(String, String)] =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
      .split("\n").filter(_.nonEmpty).toSeq
      .map { l =>
        val sp = l.indexOf(' ')
        require(sp > 0, s"corrupt BPE merges artifact $path: line without separator: $l")
        (unescape(l.substring(0, sp)), unescape(l.substring(sp + 1)))
      }

  /** documents(doc_id, text) → (doc_id, bpe_tokens): the pooled kernel.
    * Ranks build once per partition from the broadcast-by-closure
    * merges list (a few KB); the memo cache is per-partition.
    */
  def tokenCountDf(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val ranks = ranksOf(merges)
        val cache = new java.util.HashMap[String, Int]()
        it.map { case (id, t) => (id, countTokens(t, ranks, cache)) }
      }
      .toDF("doc_id", "bpe_tokens")
  }
}
