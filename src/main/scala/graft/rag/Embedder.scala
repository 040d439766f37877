package graft.rag

/** Batch text embedder — the reference's Embedder seam
  * (core/rag/embedders/base.py:11-26). Implementations must be pure
  * and deterministic for a given input (the goldens depend on it).
  *
  * The sentence-transformers / OpenAI embedders
  * (sentence_transformer.py:59-101, openai_embedder.py:59-104) are
  * model-serving concerns; this sandbox is offline, so the production
  * impl here is a deterministic feature-hashing embedder behind the
  * same trait. A real model plugs in as another Embedder whose handle
  * is pooled per partition exactly like [[DeterministicHashEmbedder]].
  */
trait Embedder extends Serializable {
  def dim: Int
  /** Embed one batch. Must return one vector per input text. */
  def embedBatch(texts: Seq[String]): Seq[Array[Float]]
  /** Embed `rows` in the reference's batches of 100
    * (openai_embedder.py:73-82), each row paired with its vector.
    */
  def embedRows[T](rows: Iterator[T])(text: T => String): Iterator[(T, Array[Float])] =
    rows.grouped(100).flatMap(batch => batch.iterator.zip(embedBatch(batch.map(text)).iterator))
}

/** Feature-hashing embedder: token unigrams + bigrams hashed into `dim`
  * buckets with a sign hash, L2-normalized. Deterministic, language
  * agnostic, cheap — it preserves enough lexical similarity structure
  * that cosine top-k behaves sensibly in tests. Default dim 384 stands
  * in for all-MiniLM-L6-v2 (config/default.yml:43).
  */
final class DeterministicHashEmbedder(val dim: Int = 384) extends Embedder {

  private def mix(h0: Long): Long = {
    var h = h0
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    h
  }

  private def tokenHash(s: String, from: Int, to: Int): Long = {
    var h = 1125899906842597L
    var i = from
    while (i < to) {
      var c = s.charAt(i)
      if (c >= 'A' && c <= 'Z') c = (c + 32).toChar
      h = 31 * h + c
      i += 1
    }
    mix(h)
  }

  def embedOne(text: String): Array[Float] = {
    val v = new Array[Float](dim)
    if (text != null) {
      var i = 0
      val n = text.length
      var prev = 0L
      var hasPrev = false
      while (i < n) {
        while (i < n && graft.text.PyText.isPySpace(text.charAt(i))) i += 1
        val start = i
        while (i < n && !graft.text.PyText.isPySpace(text.charAt(i))) i += 1
        if (i > start) {
          val h = tokenHash(text, start, i)
          addFeature(v, h)
          if (hasPrev) addFeature(v, mix(prev ^ (h * 0x9e3779b97f4a7c15L)))
          prev = h
          hasPrev = true
        }
      }
    }
    // L2 normalize
    var ss = 0.0
    var k = 0
    while (k < dim) { ss += v(k).toDouble * v(k); k += 1 }
    if (ss > 0) {
      val inv = (1.0 / math.sqrt(ss)).toFloat
      k = 0
      while (k < dim) { v(k) *= inv; k += 1 }
    }
    v
  }

  private def addFeature(v: Array[Float], h: Long): Unit = {
    val idx = ((h >>> 1) % dim).toInt
    val sign = if ((h & 1L) == 0L) 1f else -1f
    v(idx) += sign
  }

  override def embedBatch(texts: Seq[String]): Seq[Array[Float]] =
    texts.map(embedOne)
}
