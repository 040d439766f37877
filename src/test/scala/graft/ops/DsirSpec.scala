package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DsirSpec extends AnyFunSuite with SparkSuite {

  import testImplicits._

  test("tokenize: Python-\\s split, per-codepoint lowercase, null/empty safe") {
    assert(Dsir.tokenize("Hello  World\tFOO\nbar\r\fbaz").toSeq ==
      Seq("hello", "world", "foo", "bar", "baz"))
    assert(Dsir.tokenize("  padded  ").toSeq == Seq("padded"))
    assert(Dsir.tokenize(null).isEmpty)
    assert(Dsir.tokenize("").isEmpty)
    // vertical tab is NOT in the split class (matches the oracle's rule)
    assert(Dsir.tokenize("ab").toSeq == Seq("ab"))
  }

  test("featureBuckets: n unigrams + n-1 bigrams, all within [0, B)") {
    val fs = Dsir.featureBuckets("one two three", 64)
    assert(fs.length == 5) // 3 unigrams + 2 bigrams
    assert(fs.forall(b => b >= 0 && b < 64))
    // bigram feature differs from its parts (no degenerate bucketing)
    val single = Dsir.featureBuckets("one", 1 << 30)
    val pair = Dsir.featureBuckets("one two", 1 << 30)
    assert(pair.take(1).toSeq == single.toSeq) // unigram hash is stable
    assert(pair.length == 3)
  }

  test("importance weights favor target-only vocabulary; scores rank accordingly") {
    // target docs speak "quantum flux", raw-only docs speak "celery soup";
    // with B large enough the vocabularies do not collide
    val docs = (
      (0L until 10L).map(i => (i, "quantum flux quantum flux", "en")) ++
      (10L until 20L).map(i => (i, "celery soup celery soup", "xx"))
    ).toDF("doc_id", "text", "lang")
    val out = Dsir.selectTopK(docs, col("lang") === "en", k = 10, b = 4096)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.count(_._3) == 10)
    val (tgt, other) = out.partition(_._1 < 10L)
    assert(tgt.forall(_._3), "every target-style doc selected")
    assert(other.forall(!_._3))
    assert(tgt.map(_._2).min > other.map(_._2).max,
      "target-vocabulary scores strictly dominate")
    // all-identical texts score identically (pure function of text)
    assert(tgt.map(_._2).toSet.size == 1)
  }

  test("scores are partitioning-independent (exact integers, no float drift)") {
    val docs = (0L until 200L)
      .map(i => (i, s"word${i % 7} word${i % 13} tail common", if (i % 3 == 0) "en" else "xx"))
      .toDF("doc_id", "text", "lang")
    def run(parts: Int) =
      Dsir.selectTopK(docs.repartition(parts), col("lang") === "en", k = 20)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(run(1) == run(11))
  }
}
