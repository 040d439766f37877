package graft.fixtures

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.util.zip.Deflater

/** Deterministic PDF generation for the golden PDF corpus and the
  * [[graft.extract.PdfExtract]] specs.
  */
object PdfFixtures {

  /** Escape a string for a PDF literal. */
  private def esc(s: String): String =
    s.flatMap {
      case '\\' => "\\\\"
      case '(' => "\\("
      case ')' => "\\)"
      case '\n' => "\\n"
      case c => c.toString
    }

  /** A minimal structurally-valid PDF (catalog, page tree, font, one
    * content stream per page with Tj line shows, xref, trailer).
    * `outOfOrderDraw` emits each page's lines in REVERSED stream order
    * at absolutely-positioned Tm coordinates — the layout-parse case:
    * reading order must be recovered from positions, not draw order.
    */
  def makePdf(pages: Seq[Seq[String]], compress: Boolean,
      outOfOrderDraw: Boolean = false): Array[Byte] = {
    val objs = scala.collection.mutable.ArrayBuffer.empty[String]
    val nPages = pages.length
    val fontObjNum = 3 + 2 * nPages
    val kids = (0 until nPages).map(p => s"${3 + 2 * p} 0 R").mkString(" ")
    objs += s"<< /Type /Catalog /Pages 2 0 R >>"
    objs += s"<< /Type /Pages /Kids [$kids] /Count $nPages >>"
    val contentStreams = pages.map { lines =>
      val body = new StringBuilder("BT /F1 12 Tf\n")
      if (outOfOrderDraw) {
        lines.zipWithIndex.reverse.foreach { case (line, li) =>
          body.append(s"1 0 0 1 72 ${720 - 14 * li} Tm\n")
          body.append("(").append(esc(line)).append(") Tj\n")
        }
      } else {
        body.append("72 720 Td\n")
        lines.zipWithIndex.foreach { case (line, li) =>
          if (li > 0) body.append("0 -14 Td\n")
          body.append("(").append(esc(line)).append(") Tj\n")
        }
      }
      body.append("ET\n")
      body.toString.getBytes(StandardCharsets.ISO_8859_1)
    }
    val out = new ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes(StandardCharsets.ISO_8859_1))
    w("%PDF-1.4\n")
    val offsets = scala.collection.mutable.ArrayBuffer.empty[Int]
    var objNum = 1
    def writeObj(body: Array[Byte]): Unit = {
      offsets += out.size()
      w(s"$objNum 0 obj\n")
      out.write(body)
      w("\nendobj\n")
      objNum += 1
    }
    writeObj(objs(0).getBytes(StandardCharsets.ISO_8859_1))
    writeObj(objs(1).getBytes(StandardCharsets.ISO_8859_1))
    (0 until nPages).foreach { p =>
      writeObj((s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        s"/Contents ${4 + 2 * p} 0 R /Resources << /Font << /F1 $fontObjNum 0 R >> >> >>")
        .getBytes(StandardCharsets.ISO_8859_1))
      val raw = contentStreams(p)
      val data = if (compress) deflate(raw) else raw
      val filter = if (compress) " /Filter /FlateDecode" else ""
      val head = s"<< /Length ${data.length}$filter >>\nstream\n"
      val b = new ByteArrayOutputStream()
      b.write(head.getBytes(StandardCharsets.ISO_8859_1))
      b.write(data)
      b.write("\nendstream".getBytes(StandardCharsets.ISO_8859_1))
      writeObj(b.toByteArray)
    }
    writeObj("<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
      .getBytes(StandardCharsets.ISO_8859_1))
    val xrefPos = out.size()
    w(s"xref\n0 ${offsets.length + 1}\n")
    w("0000000000 65535 f \n")
    offsets.foreach(o => w(f"$o%010d 00000 n \n"))
    w(s"trailer\n<< /Size ${offsets.length + 1} /Root 1 0 R >>\nstartxref\n$xrefPos\n%%EOF\n")
    out.toByteArray
  }

  private def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new Deflater()
    d.setInput(data)
    d.finish()
    val out = new ByteArrayOutputStream(data.length)
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** Deterministic PDF corpus row: 1-3 pages of seeded word-salad
    * lines, Flate-compressed for even ids. Returns
    * (payload, true_text, true_pages).
    */
  def goldenPdf(id: Long): (Array[Byte], String, Int) = {
    var h = id * 0x9e3779b97f4a7c15L
    def next(): Long = { h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33; h }
    val words = Array("crawl", "parse", "extract", "shard", "commit", "resume",
      "table", "spark", "cascade", "lineage", "(paren)", "esc\\ape")
    val nPages = 1 + Math.floorMod(next(), 3L).toInt
    val pages = (0 until nPages).map { _ =>
      val nLines = 2 + Math.floorMod(next(), 4L).toInt
      (0 until nLines).map { _ =>
        val nWords = 3 + Math.floorMod(next(), 6L).toInt
        (0 until nWords).map(_ => words(Math.floorMod(next(), words.length.toLong).toInt))
          .mkString(" ")
      }
    }
    // a third of the corpus draws lines in reversed stream order at
    // absolute positions — reading order must come from layout
    val payload = makePdf(pages, compress = id % 2 == 0,
      outOfOrderDraw = id % 3 == 1)
    val text = pages.map(_.mkString("\n")).mkString("\n\n")
    (payload, text, nPages)
  }
}
