package graft.text

import graft.{SparkSuite, TempDirs}
import org.scalatest.funsuite.AnyFunSuite

class BpeSpec extends AnyFunSuite with SparkSuite with TempDirs {

  test("pretokenize matches the piece pattern (leading-space words, digits, punct, ws runs)") {
    val pieces = Bpe.pretokenize("Hello world, 42 times!\n").toSeq
    assert(pieces == Seq("Hello", " world", ",", " 42", " times", "!", "\n"))
    // pieces reassemble the input exactly (the alternation is total)
    assert(pieces.mkString == "Hello world, 42 times!\n")
  }

  test("train is deterministic and learns the most frequent pair first") {
    val corpus = Seq("aaab aaab aaab", "aaab cd cd")
    val m1 = Bpe.train(corpus, numMerges = 10)
    val m2 = Bpe.train(corpus, numMerges = 10)
    assert(m1 == m2)
    // "aa" is the most frequent adjacent pair (2 per "aaab" x 4 = 8)
    assert(m1.head == ("a", "a"))
  }

  test("applyCount: greedy lowest-rank merges, unmergeable pieces stay char-split") {
    val ranks = Bpe.ranksOf(Seq(("a", "b"), ("ab", "c")))
    assert(Bpe.applyCount("abc", ranks) == 1)  // ab then abc
    assert(Bpe.applyCount("ab", ranks) == 1)
    assert(Bpe.applyCount("ba", ranks) == 2)   // no merge applies
    assert(Bpe.applyCount("xyz", ranks) == 3)  // fully unmerged
    assert(Bpe.applyCount("a", ranks) == 1)
  }

  test("countTokens sums piece counts and the memo cache does not change results") {
    val ranks = Bpe.ranksOf(Seq(("a", "b")))
    val cache = new java.util.HashMap[String, Int]()
    val n1 = Bpe.countTokens("ab ab cd", ranks, cache)
    val n2 = Bpe.countTokens("ab ab cd", ranks, cache) // cache hits now
    assert(n1 == n2)
    // "ab"->1, " ab"->2 (space+a+b: only (a,b) merges -> [" ","ab"]... )
    // exact value pinned so a kernel change is visible:
    // pieces: "ab"(1) " ab"(2) " cd"(3) -> 6
    assert(n1 == 6)
  }

  test("merges artifact escape/unescape round-trips whitespace symbols") {
    val merges = Seq((" ", "t"), ("\t", "\n"), ("a\\b", " c"))
    val lines = Bpe.toLines(merges)
    assert(!lines.contains("\t")) // whitespace symbols are escaped
    val path = tempDir("bpe").resolve("merges.txt")
    java.nio.file.Files.write(path, lines.getBytes("UTF-8"))
    assert(Bpe.fromFile(path.toString) == merges)
  }

  test("committed artifact loads and kernel count exceeds piece count on long-tail words") {
    val merges = Bpe.fromFile("src/test/resources/golden/bpe_merges.txt")
    assert(merges.nonEmpty)
    val ranks = Bpe.ranksOf(merges)
    val cache = new java.util.HashMap[String, Int]()
    val text = "key agg row scan slow customer window stream"
    val pieces = Bpe.pretokenize(text).size
    val tokens = Bpe.countTokens(text, ranks, cache)
    // merges never cross piece boundaries, so every piece contributes at
    // least one token; with the budget-limited vocab, long-tail words
    // ("customer", "window", "stream") stay multi-token
    assert(tokens >= pieces, s"pieces=$pieces tokens=$tokens")
    assert(tokens > pieces, s"expected long-tail words to split: pieces=$pieces tokens=$tokens")
  }

  test("trainDistributed == single-machine train, independent of partitioning") {
    import testImplicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val texts = docs.orderBy("doc_id").as[(Long, String)].collect().map(_._2)
    val local = Bpe.train(texts, numMerges = 24)
    val dist1 = Bpe.trainDistributed(docs.repartition(1), numMerges = 24)
    val dist7 = Bpe.trainDistributed(docs.repartition(7), numMerges = 24)
    assert(dist1 == local)
    assert(dist7 == local)
    // the per-round fully-distributed argmax path must stay merge-
    // identical to the collect-the-dict hybrid — the r06 optimization's
    // equality cross-check (VERDICT r05 next #2)
    val rounds = PerRoundBpe.trainDistributedRounds(docs.repartition(7), numMerges = 24)
    assert(rounds == local)
  }

  test("train breaks an astral-vs-U+FB01 tie in code-point order, like trainDistributed") {
    import testImplicits._
    // (U+FB01, é) and (U+1D400, é) both occur twice; code-point order
    // picks the U+FB01 pair, UTF-16 code-unit order the astral one
    val texts = Seq("\uFB01\u00E9\n\uFB01\u00E9", "\uD835\uDC00\u00E9\n\uD835\uDC00\u00E9")
    val local = Bpe.train(texts, numMerges = 1)
    assert(local == Seq(("\uFB01", "\u00E9")))
    assert(Bpe.trainDistributed(texts.toDF("text"), numMerges = 1) == local)
  }

  test("minPairFreq below 1 is rejected, never a null merge") {
    intercept[IllegalArgumentException](Bpe.train(Seq("abab"), numMerges = 4, minPairFreq = 0))
    intercept[IllegalArgumentException](Bpe.trainWeighted(Array(("ab", 0L)), 1, minPairFreq = 0))
    // zero-weight pieces: no pair reaches 1, so nothing is merged
    assert(Bpe.trainWeighted(Array(("ab", 0L)), 1, minPairFreq = 1).isEmpty)
  }

  test("cpLess is UTF-8 binary order: astral code points sort above BMP high chars") {
    // U+10000 (surrogate pair "𐀀") must sort ABOVE U+FFFD —
    // Java String '<' gets this backwards (UTF-16 code-unit order),
    // which is exactly why trainWeighted's tie-break uses cpLess
    assert(Bpe.cpLess("�", "𐀀"))
    assert(!Bpe.cpLess("𐀀", "�"))
    assert("𐀀" < "�") // the Java order it corrects
    assert(Bpe.cpLess("a", "ab") && !Bpe.cpLess("ab", "a"))
    assert(!Bpe.cpLess("a", "a"))
  }
}

/** The per-round BPE trainer, kept as the reference that
  * `Bpe.trainDistributed` must match merge for merge.
  */
private object PerRoundBpe {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions.{col, sum}

  /** The per-round fully-distributed trainer (the pre-optimization
    * shape): each round maps the CACHED piece table (replaying merges
    * so far — pure function of the broadcast merge list, so rounds
    * are partitioning-independent), partially combines pair counts
    * per partition, hash-aggregates, and collects ONE row: the argmax
    * pair. numMerges rounds = numMerges bounded-output jobs over the
    * piece table. The equality cross-check for `Bpe.trainDistributed`.
    */
  def trainDistributedRounds(docs: DataFrame, numMerges: Int,
      minPairFreq: Long = 2): Seq[(String, String)] = {
    require(minPairFreq >= 1, s"minPairFreq must be >= 1, got $minPairFreq")
    val spark = docs.sparkSession
    import spark.implicits._
    val pieceFreq = Bpe.pieceFreqTable(docs).as[(String, Long)].persist()
    try {
      val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      var done = false
      while (merges.length < numMerges && !done) {
        val sofar: IndexedSeq[(String, String)] = merges.toIndexedSeq
        val top = pieceFreq
          .mapPartitions { it =>
            val m = new java.util.HashMap[(String, String), Long]()
            it.foreach { case (piece, f) =>
              val syms = applyMergesInOrder(piece, sofar)
              var i = 0
              while (i + 1 < syms.length) {
                m.merge((syms(i), syms(i + 1)), f, _ + _)
                i += 1
              }
            }
            val out = new Array[(String, String, Long)](m.size)
            val eit = m.entrySet().iterator()
            var j = 0
            while (eit.hasNext) {
              val e = eit.next()
              out(j) = (e.getKey._1, e.getKey._2, e.getValue); j += 1
            }
            out.iterator
          }
          .toDF("l", "r", "f").groupBy(col("l"), col("r"))
          .agg(sum(col("f")).as("f"))
          .orderBy(col("f").desc, col("l"), col("r"))
          .limit(1).collect() // the argmax pair: 1 bounded row per round
        if (top.isEmpty || top(0).getLong(2) < minPairFreq) done = true
        else merges += ((top(0).getString(0), top(0).getString(1)))
      }
      merges.toSeq
    } finally pieceFreq.unpersist()
  }

  /** Sequential in-rank-order merge application — the TRAINER's view of
    * a word (training applies exactly one merge globally per round, so
    * replaying the merge list in rank order over the raw split
    * reproduces the incremental state bit-for-bit).
    */
  private def applyMergesInOrder(piece: String,
      merges: IndexedSeq[(String, String)]): Array[String] = {
    var syms = Bpe.symbolsOf(piece)
    var m = 0
    while (m < merges.length && syms.length > 1) {
      val (l, r) = merges(m)
      var hit = false
      var i = 0
      while (!hit && i + 1 < syms.length) {
        hit = syms(i) == l && syms(i + 1) == r
        i += 1
      }
      if (hit) {
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var j = 0
        while (j < syms.length) {
          if (j + 1 < syms.length && syms(j) == l && syms(j + 1) == r) {
            out += l + r; j += 2
          } else { out += syms(j); j += 1 }
        }
        syms = out.toArray
      }
      m += 1
    }
    syms
  }
}
