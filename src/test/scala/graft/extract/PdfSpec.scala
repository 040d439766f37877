package graft.extract

import graft.SparkSuite
import graft.fixtures.PdfFixtures
import org.scalatest.funsuite.AnyFunSuite

/** PDF text extraction: generator→parser round-trips (both raw and
  * FlateDecode streams), literal-string escaping, multi-page assembly,
  * and totality on garbage.
  */
class PdfSpec extends AnyFunSuite with SparkSuite {

  test("round-trip: uncompressed and Flate-compressed content streams") {
    val pages = Seq(Seq("hello world", "second line"), Seq("page two text"))
    for (compress <- Seq(false, true)) {
      val pdf = PdfFixtures.makePdf(pages, compress)
      assert(new String(pdf.take(5), "US-ASCII") == "%PDF-")
      val r = PdfExtract.extract(pdf)
      assert(r.valid, s"compress=$compress")
      assert(r.n_pages == 2)
      assert(r.text == "hello world\nsecond line\n\npage two text")
    }
  }

  test("literal-string escapes: parens, backslash, octal survive") {
    val tricky = Seq(Seq("""a (nested) \ backslash""", "line)with(parens"))
    val r = PdfExtract.extract(PdfFixtures.makePdf(tricky, compress = true))
    assert(r.valid)
    assert(r.text == """a (nested) \ backslash""" + "\nline)with(parens")
  }

  test("layout parse: out-of-order draws recover reading order from positions") {
    val pages = Seq(Seq("first line", "second line", "third line"),
      Seq("page two alpha", "page two beta"))
    val pdf = PdfFixtures.makePdf(pages, compress = true, outOfOrderDraw = true)
    val r = PdfExtract.extract(pdf)
    assert(r.valid && r.n_pages == 2)
    // the stream draws third/second/first — reading order must win
    assert(r.text ==
      "first line\nsecond line\nthird line\n\npage two alpha\npage two beta")
  }

  test("garbage and truncation are data, never exceptions") {
    assert(!PdfExtract.extract(null).valid)
    assert(!PdfExtract.extract(Array[Byte](1, 2, 3)).valid)
    assert(!PdfExtract.extract("not a pdf at all".getBytes("US-ASCII")).valid)
    val ok = PdfFixtures.makePdf(Seq(Seq("abc def")), compress = true)
    // truncate mid-stream: must not throw
    PdfExtract.extract(ok.take(ok.length / 2))
    // corrupt the deflate payload: must not throw
    val corrupt = ok.clone()
    val mid = corrupt.length / 2
    corrupt(mid) = (corrupt(mid) ^ 0x5a).toByte
    PdfExtract.extract(corrupt)
  }

  test("golden corpus is deterministic and self-consistent") {
    (0L until 200L).foreach { id =>
      val (payload, text, np) = PdfFixtures.goldenPdf(id)
      val again = PdfFixtures.goldenPdf(id)
      assert(java.util.Arrays.equals(payload, again._1))
      val r = PdfExtract.extract(payload)
      assert(r.valid && r.n_pages == np, s"id=$id")
      assert(r.text == text, s"id=$id text diverged")
    }
  }

  test("extractPdfs: distributed kernel over binary column") {
    import testImplicits._
    val pdfs = spark.range(0, 60).map(id => (id, PdfFixtures.goldenPdf(id)._1))
      .toDF("id", "payload")
    val out = PdfExtract.extractPdfs(pdfs).collect()
    assert(out.length == 60 && out.forall(_.getBoolean(3)))
  }
}
