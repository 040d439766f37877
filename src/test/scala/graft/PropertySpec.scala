package graft

import graft.extract.{CascadeConfig, CascadeExtractor}
import graft.html.HtmlParser
import graft.text.{ChunkConfig, Chunker, PyText}
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** Property/fuzz laws: tokenizer robustness on Common-Crawl-grade
  * malformed input (SURVEY.md §7.4 hard part 3), chunker coverage/
  * bound laws (tests/unit/test_rag/test_chunking.py invariants),
  * normalize idempotence, codec totality.
  */
object PropertySpec extends Properties("graft") {

  private val htmlChunk: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr.map(_.take(20)),
    Gen.oneOf("<", ">", "</", "/>", "<!--", "-->", "&", "&amp;", "&#x", ";",
      "\"", "'", "=", "<div", "<p>", "</p>", "</div>", "<script>", "</script>",
      "<style>", "<a href=", "<img src=x", "<!doctype html>", "<![CDATA[",
      "<table><tr><td>", " ", "�", "中文", "é", "\n", "\t", " "),
    Gen.listOf(Gen.choose(' ', '~')).map(_.mkString))

  private val fuzzHtml: Gen[String] =
    Gen.listOf(htmlChunk).map(_.mkString).map(_.take(4000))

  property("tokenizer total; arena parents precede children") =
    forAll(fuzzHtml) { html =>
      val dom = new HtmlParser().parse(html)
      var ok = dom.size >= 1
      var n = 1
      while (ok && n < dom.size) {
        ok = dom.parent(n) >= 0 && dom.parent(n) < n
        n += 1
      }
      ok
    }

  property("cascade total on arbitrary bytes; errors are data") =
    forAll(Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray)) { bytes =>
      val e = new CascadeExtractor().extract("https://x.example/f", bytes, CascadeConfig())
      e.succeeded || e.failure_reason != null
    }

  property("normalizeWhitespace idempotent, single ASCII spaces, trimmed") =
    forAll(Gen.asciiPrintableStr, Gen.oneOf("\t", "\n", " ", " ", "  ")) { (s, ws) =>
      val t = PyText.normalizeWhitespace(s + ws + s)
      PyText.normalizeWhitespace(t) == t &&
      !t.exists(c => PyText.isPySpace(c) && c != ' ') &&
      !t.contains("  ") &&
      (t.isEmpty || (!PyText.isPySpace(t.head) && !PyText.isPySpace(t.last)))
    }

  private val sentenceGen: Gen[String] = Gen.chooseNum(3, 12).flatMap(n =>
    Gen.listOfN(n, Gen.oneOf("alpha", "beta", "gamma", "delta", "words"))
      .map(_.mkString(" ") + ". "))
  private val textGen: Gen[String] = Gen.chooseNum(1, 40).flatMap(n =>
    Gen.listOfN(n, sentenceGen).map(_.mkString))

  property("chunker laws: ids sequential, min respected, spans valid+ordered") =
    forAll(textGen, Gen.oneOf(true, false)) { (t, sentMode) =>
      val cfg = ChunkConfig(chunkSize = 100, overlap = 20, minChunkSize = 10,
        preserveSentences = sentMode)
      val chunks = Chunker.chunk(t, cfg)
      // sentence-mode spans index the stripped text; char-mode spans
      // index the raw text (the reference's single-chunk identity path
      // returns the unstripped input)
      val bound = if (sentMode) PyText.strip(t).length else t.length
      val idsOk = chunks.map(_.chunk_id).toSeq == chunks.indices.toSeq
      val minOk = chunks.forall(c =>
        PyText.strip(c.text).length >= cfg.minChunkSize ||
        (!sentMode && t.length <= cfg.chunkSize))
      val spansOk = chunks.forall(c =>
        c.start >= 0 && c.end <= bound && c.start < c.end)
      val orderedOk = chunks.sliding(2).forall {
        case Array(a, b) => b.start >= a.start
        case _ => true
      }
      idsOk && minOk && spansOk && orderedOk
    }

  property("chunker sentence coverage: <10% of sentences dropped") =
    forAll(textGen) { t =>
      val chunks = Chunker.chunk(t, ChunkConfig(100, 20, 10, preserveSentences = true))
      if (chunks.isEmpty) Prop.passed
      else {
        val joined = chunks.map(_.text).mkString(" ")
        val sentences = PyText.splitSentences(t)
        val missing = sentences.count(s => !joined.contains(s))
        Prop(missing * 10 <= sentences.length) :| s"missing=$missing/${sentences.length}"
      }
    }

  property("hash embedder: unit norm or zero, never NaN") =
    forAll(Gen.asciiPrintableStr) { s =>
      val v = new graft.rag.DeterministicHashEmbedder(64).embedOne(s)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.length == 64 && !v.exists(_.isNaN) && (math.abs(n - 1.0) < 1e-4 || n == 0.0)
    }

  property("PageCodec.decode total on arbitrary bytes") =
    forAll(Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray)) { bytes =>
      graft.extract.PageCodec.decode(bytes) != null
    }

  // pixel/container decoders must be TOTAL: arbitrary bytes (including
  // valid-looking magic prefixes) return None/invalid, never throw or
  // hang — one bad payload in a crawl must not kill a task
  private val fuzzBytes: Gen[Array[Byte]] = for {
    magic <- Gen.oneOf(
      Array[Byte](),                                      // raw garbage
      Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a),
      "GIF89a".getBytes("US-ASCII"),
      "RIFF1234WAVE".getBytes("US-ASCII"),
      Array[Byte](0, 0, 0, 16, 'f', 't', 'y', 'p'))
    body <- Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue))
  } yield magic ++ body.toArray

  property("decodePixels total on arbitrary (magic-prefixed) bytes") =
    forAll(fuzzBytes) { bytes =>
      graft.ops.Multimodal.decodePixels(bytes).forall(img =>
        img.pixels.length == img.width * img.height * img.channels)
    }

  property("decodeAvMeta total on arbitrary (magic-prefixed) bytes") =
    forAll(fuzzBytes) { bytes =>
      graft.ops.Multimodal.decodeAvMeta(bytes) != null
    }

  property("decodeMeta total on arbitrary (magic-prefixed) bytes") =
    forAll(fuzzBytes) { bytes =>
      graft.ops.Multimodal.decodeMeta(bytes) != null
    }

  property("winnow deterministic and bounded") =
    forAll(Gen.asciiPrintableStr) { s =>
      val a = graft.ops.TextAnalysis.winnow(s)
      val b = graft.ops.TextAnalysis.winnow(s)
      a.toSeq == b.toSeq && a.length <= math.max(1, s.length)
    }

  property("warc: encode/parse roundtrip on arbitrary payload bytes and URIs") =
    forAll(
      Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray),
      Gen.alphaNumStr.map(s => s"https://h.example/${s.take(40)}")) { (payload, uri) =>
      val f = graft.sources.Warc.encodeFile(Seq(
        graft.sources.Warc.encodeRecord(uri, "2024-01-01T00:00:00Z", payload)))
      val rs = graft.sources.Warc.parseFile(f)
      rs.length == 1 && rs.head.warcType == "response" &&
        rs.head.targetUri == uri && rs.head.payload.sameElements(payload)
    }

  property("warc: parseFile total on arbitrary bytes, errors are data") =
    forAll(Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray)) { bytes =>
      // warcType CAN legitimately be null (record missing the mandatory
      // WARC-Type header — Warc.read turns those into failure rows);
      // the invariant is totality plus error records carrying a reason
      graft.sources.Warc.parseFile(bytes).forall(r =>
        r != null && (r.warcType != "error" || r.headers.contains("x-parse-error")))
    }

  property("warc: httpBody total; strips iff an HTTP header block terminates") =
    forAll(Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray)) { payload =>
      val out = graft.sources.Warc.httpBody(payload)
      val isHttp = payload.length >= 5 &&
        new String(payload, 0, 5, java.nio.charset.StandardCharsets.UTF_8) == "HTTP/"
      if (!isHttp) out.sameElements(payload)
      else out.length <= payload.length
    }

  /** A one-record `.warc.gz` with one byte overwritten. */
  private val corruptedWarc: Gen[Array[Byte]] =
    for (at <- Gen.choose(0, 200); b <- Gen.choose(Byte.MinValue, Byte.MaxValue)) yield {
      val f = graft.sources.Warc.encodeFile(Seq(
        graft.sources.Warc.encodeRecord("https://h.example/x",
          "2024-01-01T00:00:00Z", ("body " * 20).getBytes("UTF-8"))))
      val c = f.clone()
      c(at % f.length) = b
      c
    }

  property("warc: parseFile total on corrupted valid files") =
    forAll(corruptedWarc) { c =>
      graft.sources.Warc.parseFile(c).forall(r => r.warcType != null)
    }

  /** A valid multi-member `.warc.gz` of arbitrary payloads. */
  private val warcFile: Gen[Array[Byte]] =
    Gen.listOf(Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray)).map { ps =>
      graft.sources.Warc.encodeFile(ps.zipWithIndex.map { case (p, i) =>
        graft.sources.Warc.encodeRecord(s"https://h.example/$i", "2024-01-01T00:00:00Z", p)
      })
    }

  /** `bytes` served at most `k` bytes per `read` call. */
  private def trickle(bytes: Array[Byte], k: Int): java.io.InputStream =
    new java.io.ByteArrayInputStream(bytes) {
      override def read(b: Array[Byte], off: Int, len: Int): Int =
        super.read(b, off, math.min(len, k))
    }

  private def walk(in: java.io.InputStream) =
    graft.sources.Warc.members(in).map(_.map(m => (m.bytes.toSeq, m.offset, m.length))).toList

  property("warc: member walk over k-byte reads equals the whole-array walk") =
    forAll(warcFile, Gen.choose(1, 64)) { (f, k) =>
      val whole = walk(new java.io.ByteArrayInputStream(f))
      // GZIPInputStream reads concatenated members: an independent reference
      val reference =
        if (f.isEmpty) Array.emptyByteArray
        else new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(f)).readAllBytes()
      walk(trickle(f, k)) == whole && whole.forall(_.isRight) &&
        whole.flatMap(_.toOption.get._1).sameElements(reference)
    }

  property("warc: member walk over k-byte reads, corrupted files") =
    forAll(corruptedWarc, Gen.choose(1, 64)) { (c, k) =>
      walk(trickle(c, k)) == walk(new java.io.ByteArrayInputStream(c))
    }

  property("bpe: countTokens total, deterministic, >= piece count") =
    forAll(Gen.asciiStr.map(_.take(500))) { s =>
      val ranks = graft.text.Bpe.ranksOf(Seq(("a", "b"), ("ab", "c"), (" ", "t")))
      val c1 = graft.text.Bpe.countTokens(s,
        ranks, new java.util.HashMap[String, Int]())
      val c2 = graft.text.Bpe.countTokens(s,
        ranks, new java.util.HashMap[String, Int]())
      val pieces = graft.text.Bpe.pretokenize(s).size
      c1 == c2 && c1 >= pieces
    }

  property("bpe: train total and deterministic on arbitrary corpora") =
    forAll(Gen.listOfN(5, Gen.asciiStr.map(_.take(80)))) { texts =>
      val m1 = graft.text.Bpe.train(texts, numMerges = 16)
      val m2 = graft.text.Bpe.train(texts, numMerges = 16)
      m1 == m2 && m1.length <= 16
    }

  property("bpe: merges artifact escape round-trips arbitrary symbols") =
    forAll(Gen.asciiStr.map(_.take(20)), Gen.asciiStr.map(_.take(20))) { (a, b) =>
      graft.text.Bpe.unescape(graft.text.Bpe.escape(a)) == a &&
        graft.text.Bpe.unescape(graft.text.Bpe.escape(b)) == b
    }

  property("cpCompare sign equals UTF-8 byte-order compare on arbitrary unicode") =
    forAll(Gen.listOf(Gen.choose(Char.MinValue, Char.MaxValue)).map(_.mkString),
        Gen.listOf(Gen.choose(Char.MinValue, Char.MaxValue)).map(_.mkString)) { (a, b) =>
      // lone surrogates don't round-trip through UTF-8; compare on the
      // well-formed projection (what any stored text actually is)
      val wa = new String(a.getBytes("UTF-8"), "UTF-8")
      val wb = new String(b.getBytes("UTF-8"), "UTF-8")
      val byUtf8 = java.util.Arrays.compareUnsigned(
        wa.getBytes("UTF-8"), wb.getBytes("UTF-8"))
      Integer.signum(graft.ops.TextAnalysis.cpCompare(wa, wb)) ==
        Integer.signum(byUtf8)
    }

  property("gopherMetrics total; alpha fraction bounded; counts non-negative") =
    forAll(Gen.asciiStr.map(_.take(1000))) { s =>
      val (nw, mean, sym, alpha, g2, g3) = graft.ops.TextAnalysis.gopherMetrics(s)
      // n-gram char fractions can exceed 10000 bp by construction:
      // overlapping occurrences ("a a a a") count a character into
      // several gram instances — the repetition signal, not a bug
      nw >= 0 && mean >= 0 && sym >= 0 &&
        alpha >= 0 && alpha <= 10000 && g2 >= 0 && g3 >= 0
    }

  property("rotationMatrix orthonormal for arbitrary (dim, seed); rotateVec preserves norm") =
    forAll(Gen.choose(1, 24), Gen.choose(Long.MinValue, Long.MaxValue)) { (dim, seed) =>
      val r = graft.ops.Pq.rotationMatrix(dim, seed)
      val ortho = (0 until dim).forall { i =>
        (i until dim).forall { j =>
          var d = 0.0; var k = 0
          while (k < dim) { d += r(i)(k) * r(j)(k); k += 1 }
          math.abs(d - (if (i == j) 1.0 else 0.0)) < 1e-9
        }
      }
      val v = Array.tabulate(dim)(i => ((seed + i) % 7 - 3).toFloat)
      val rv = graft.ops.Pq.rotateVec(v, r)
      def norm(x: Array[Float]) = math.sqrt(x.map(e => e.toDouble * e).sum)
      ortho && math.abs(norm(v) - norm(rv)) < 1e-3
    }

  property("twoLevelQuantizer: members partition the fine set; assignment lands in the chosen coarse group") =
    forAll(Gen.choose(2, 40), Gen.choose(0L, 1L << 40)) { (k, seed) =>
      val rnd = new scala.util.Random(seed)
      val fine = Array.fill(k)(Array.fill(6)(rnd.nextGaussian()))
      val q = graft.ops.Similarity.twoLevelQuantizer(fine)
      val all = q.members.flatten.sorted
      val partitions = all.toSeq == (0 until k)
      val v = Array.fill(6)(rnd.nextGaussian())
      val cell = graft.ops.Similarity.nearestTwoLevel(v, q)
      val inGroup = q.members.exists(_.contains(cell))
      partitions && inGroup && cell >= 0 && cell < k
    }

  /** A near-dup pair set of `n` components (isolated pairs, chains and
    * cliques) on permuted ids: a component's minimum sits anywhere in it,
    * a pair's larger id is as often first as second, and components
    * interleave across partitions.
    */
  private def nearDupGraph(n: Int): Gen[Seq[(Long, Long)]] = for {
    shapes <- Gen.listOfN(n, Gen.oneOf(Gen.const(("pair", 2)),
      Gen.choose(2, 16).map(("chain", _)), Gen.choose(2, 16).map(("clique", _))))
    seed <- Gen.long
  } yield {
    val perm = new scala.util.Random(seed).shuffle((0L until shapes.map(_._2).sum).toVector)
    shapes.zip(shapes.scanLeft(0)(_ + _._2)).flatMap { case ((shape, k), first) =>
      val nodes = perm.slice(first, first + k)
      if (shape == "clique") nodes.combinations(2).map(p => (p(0), p(1)))
      else nodes.sliding(2).map(p => (p(0), p(1)))
    }
  }

  /** The reference: BFS on the driver from each unlabeled node in
    * ascending id order, so every node gets its component's minimum.
    */
  private def bfsComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }.groupMap(_._1)(_._2)
    val label = scala.collection.mutable.Map.empty[Long, Long]
    for (s <- adj.keys.toSeq.sorted if !label.contains(s)) {
      label(s) = s
      val queue = scala.collection.mutable.Queue(s)
      while (queue.nonEmpty)
        for (n <- adj(queue.dequeue()) if !label.contains(n)) { label(n) = s; queue += n }
    }
    label.toMap
  }

  property("connectedComponents equals a driver BFS, in one pass and past the edge bound") =
    Prop { params =>
      // ONE draw of 300 components, run once per regime: a forAll would
      // start a hundred Spark runs per regime, minutes for the same shapes
      val seed = params.initialSeed.getOrElse(org.scalacheck.rng.Seed.random())
      val edges = nearDupGraph(300).pureApply(params, seed)
      val spark = graft.util.Sessions.local(4, "PropertySpec")
      import spark.implicits._
      val pairs = edges.toDF("id_a", "id_b")
      val want = bfsComponents(edges)
      val ok = Seq(graft.ops.Dedup.connectedComponentsWithRounds(pairs),
          graft.ops.Dedup.connectedComponentsWithRounds(pairs, 0L)).forall { case (cc, _) =>
        val rows = cc.collect().map(r => r.getLong(0) -> r.getLong(1))
        rows.length == want.size && rows.toMap == want
      }
      // no further draws needed once the one draw holds
      Prop.Result(if (ok) Prop.Proof else Prop.False).label(s"seed ${seed.toBase64}")
    }

  property("lineHash: deterministic, distinct on distinct short strings (no trivial collisions)") =
    forAll(Gen.listOf(Gen.asciiPrintableStr.map(_.take(30))).map(_.distinct.take(50))) { ls =>
      val hs = ls.map(graft.ops.Dedup.lineHash)
      hs == ls.map(graft.ops.Dedup.lineHash) && hs.distinct.length == ls.length
    }
}
