package graft.extract

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.util.zip.Inflater

/** Minimal, from-scratch PDF text extraction — the north rule's
  * "PDF/layout parse" leg (BASELINE.json). Pure JVM: content streams
  * are located by scanning `stream`/`endstream` pairs (no xref
  * dependency — robust to the truncated/garbled PDFs a crawl yields),
  * FlateDecode is inflated with java.util.zip, and text is recovered
  * from the text-showing operators (Tj, ', TJ) with full
  * literal-string unescaping (octal, \n-family, balanced parens, line
  * continuations).
  *
  * Emission semantics (ours, documented — this is an extension beyond
  * the reference, which is HTML-only): each text-showing operator
  * emits one segment; a TJ array concatenates its string elements
  * (kerning numbers ignored); segments join with "\n" within a page
  * stream and page texts join with "\n\n" — mirroring the newspaper
  * strategy's paragraph convention. Errors are data: malformed input
  * yields `valid=false`, never an exception.
  */
object PdfExtract {

  final case class PdfText(n_pages: Int, text: String, valid: Boolean)

  private val StreamKw = "stream".getBytes(StandardCharsets.US_ASCII)
  private val EndstreamKw = "endstream".getBytes(StandardCharsets.US_ASCII)

  def extract(bytes: Array[Byte]): PdfText = {
    try extractUnsafe(bytes)
    catch { case _: Exception => PdfText(0, null, valid = false) }
  }

  private def extractUnsafe(bytes: Array[Byte]): PdfText = {
    if (bytes == null || bytes.length < 8 ||
        bytes(0) != '%' || bytes(1) != 'P' || bytes(2) != 'D' || bytes(3) != 'F')
      return PdfText(0, null, valid = false)

    val pageTexts = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i >= 0 && i < bytes.length) {
      val s = indexOf(bytes, StreamKw, i)
      if (s < 0) i = -1
      else {
        // dict immediately preceding this stream: scan back to "<<"
        val dictStart = lastIndexOf(bytes, "<<", s)
        val dict =
          if (dictStart < 0) ""
          else new String(bytes, dictStart, s - dictStart, StandardCharsets.ISO_8859_1)
        // data begins after the keyword's EOL
        var d = s + StreamKw.length
        if (d < bytes.length && bytes(d) == '\r') d += 1
        if (d < bytes.length && bytes(d) == '\n') d += 1
        val e = indexOf(bytes, EndstreamKw, d)
        if (e < 0) i = -1
        else {
          var end = e
          // strip the EOL before "endstream"
          if (end > d && bytes(end - 1) == '\n') end -= 1
          if (end > d && bytes(end - 1) == '\r') end -= 1
          val raw = java.util.Arrays.copyOfRange(bytes, d, end)
          val data =
            if (dict.contains("/FlateDecode")) inflate(raw)
            else raw
          if (data != null) {
            val t = textFromContent(data)
            if (t.nonEmpty) pageTexts += t
          }
          i = e + EndstreamKw.length
        }
      }
    }
    val nPages = {
      val hdr = new String(bytes, StandardCharsets.ISO_8859_1)
      val n = "/Type /Page[^s]".r.findAllIn(hdr).length
      if (n > 0) n else pageTexts.length
    }
    PdfText(nPages, pageTexts.mkString("\n\n"), valid = pageTexts.nonEmpty)
  }

  private def indexOf(hay: Array[Byte], needle: Array[Byte], from: Int): Int = {
    var i = math.max(0, from)
    val last = hay.length - needle.length
    while (i <= last) {
      var k = 0
      while (k < needle.length && hay(i + k) == needle(k)) k += 1
      if (k == needle.length) return i
      i += 1
    }
    -1
  }

  private def lastIndexOf(hay: Array[Byte], needle: String, before: Int): Int = {
    val n = needle.getBytes(StandardCharsets.US_ASCII)
    var i = math.min(before, hay.length) - n.length
    while (i >= 0) {
      var k = 0
      while (k < n.length && hay(i + k) == n(k)) k += 1
      if (k == n.length) return i
      i -= 1
    }
    -1
  }

  private def inflate(data: Array[Byte]): Array[Byte] = {
    try {
      val inf = new Inflater()
      inf.setInput(data)
      val out = new ByteArrayOutputStream(data.length * 4)
      val buf = new Array[Byte](8192)
      while (!inf.finished() && !inf.needsInput()) {
        val n = inf.inflate(buf)
        if (n == 0 && !inf.finished()) return null // stuck: corrupt
        out.write(buf, 0, n)
      }
      inf.end()
      out.toByteArray
    } catch { case _: Exception => null }
  }

  /** Text-showing operators of one content stream, emitted in READING
    * ORDER (layout parse): the text-positioning operators (Td/TD/Tm/T*)
    * are interpreted to give every shown segment a page position, and
    * segments sort top-to-bottom then left-to-right — so a stream that
    * draws its blocks out of document order (footers first, absolutely
    * positioned blocks) still yields the human reading order. Rotation/
    * scaling text matrices are treated as translations (the crawl-PDF
    * common case); ties keep stream order.
    */
  private def textFromContent(data: Array[Byte]): String = {
    val s = new String(data, StandardCharsets.ISO_8859_1)
    // (y, x, seq, text)
    val segments = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Int, String)]
    val arrayBuf = new java.lang.StringBuilder
    val operands = new Array[Double](8)
    var nOps = 0
    var inArray = false
    var lastString: String = null
    var lineX = 0.0
    var lineY = 0.0
    var leading = 0.0
    def show(text: String): Unit =
      if (text != null) segments += ((lineY, lineX, segments.length, text))
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c == '(') {
        val (str, next) = parseLiteralString(s, i + 1)
        if (inArray) arrayBuf.append(str) else lastString = str
        i = next
      } else if (c == '[') { inArray = true; arrayBuf.setLength(0); i += 1 }
      else if (c == ']') { inArray = false; i += 1 }
      else if (c == '%') { // comment to EOL
        while (i < n && s.charAt(i) != '\n' && s.charAt(i) != '\r') i += 1
      } else if (isRegular(c)) {
        val st = i
        while (i < n && isRegular(s.charAt(i))) i += 1
        val tok = s.substring(st, i)
        tok match {
          case "Tj" =>
            show(lastString); lastString = null; nOps = 0
          case "'" =>
            lineY -= leading // ' moves to the next line, then shows
            show(lastString); lastString = null; nOps = 0
          case "\"" =>
            lineY -= leading
            show(lastString); lastString = null; nOps = 0
          case "TJ" =>
            if (arrayBuf.length() > 0) { show(arrayBuf.toString); arrayBuf.setLength(0) }
            nOps = 0
          case "Td" =>
            if (nOps >= 2) { lineX += operands(nOps - 2); lineY += operands(nOps - 1) }
            nOps = 0
          case "TD" =>
            if (nOps >= 2) {
              leading = -operands(nOps - 1)
              lineX += operands(nOps - 2); lineY += operands(nOps - 1)
            }
            nOps = 0
          case "Tm" =>
            if (nOps >= 6) { lineX = operands(nOps - 2); lineY = operands(nOps - 1) }
            nOps = 0
          case "TL" =>
            if (nOps >= 1) leading = operands(nOps - 1)
            nOps = 0
          case "T*" =>
            lineY -= leading; nOps = 0
          case "BT" =>
            lineX = 0.0; lineY = 0.0; nOps = 0
          case _ =>
            // a numeric operand, or an operator we don't track
            val first = tok.charAt(0)
            if (first == '-' || first == '+' || first == '.' || (first >= '0' && first <= '9')) {
              try {
                if (nOps == operands.length) nOps = 0 // overflow: reset
                operands(nOps) = tok.toDouble; nOps += 1
              } catch { case _: NumberFormatException => nOps = 0 }
            } else nOps = 0
        }
      } else i += 1
    }
    segments.sortBy { case (y, x, seq, _) => (-y, x, seq) }
      .map(_._4).mkString("\n")
  }

  private def isRegular(c: Char): Boolean =
    !(c == ' ' || c == '\t' || c == '\r' || c == '\n' || c == '\f' || c == 0.toChar ||
      c == '(' || c == ')' || c == '<' || c == '>' || c == '[' || c == ']' ||
      c == '{' || c == '}' || c == '/' || c == '%')

  /** PDF literal string body starting after '('; returns (decoded,
    * index after the closing ')'). Handles escapes, octal, balanced
    * unescaped parens, and backslash line continuations.
    */
  private def parseLiteralString(s: String, from: Int): (String, Int) = {
    val out = new java.lang.StringBuilder
    var depth = 1
    var i = from
    val n = s.length
    while (i < n && depth > 0) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < n) {
        s.charAt(i + 1) match {
          case 'n' => out.append('\n'); i += 2
          case 'r' => out.append('\r'); i += 2
          case 't' => out.append('\t'); i += 2
          case 'b' => out.append('\b'); i += 2
          case 'f' => out.append('\f'); i += 2
          case '(' => out.append('('); i += 2
          case ')' => out.append(')'); i += 2
          case '\\' => out.append('\\'); i += 2
          case '\n' => i += 2 // line continuation
          case '\r' =>
            i += 2
            if (i < n && s.charAt(i) == '\n') i += 1
          case d if d >= '0' && d <= '7' =>
            var v = 0
            var k = 0
            i += 1
            while (k < 3 && i < n && s.charAt(i) >= '0' && s.charAt(i) <= '7') {
              v = v * 8 + (s.charAt(i) - '0'); i += 1; k += 1
            }
            out.append((v & 0xff).toChar)
          case other => out.append(other); i += 2
        }
      } else if (c == '(') { depth += 1; out.append(c); i += 1 }
      else if (c == ')') {
        depth -= 1
        if (depth > 0) out.append(c)
        i += 1
      } else { out.append(c); i += 1 }
    }
    (out.toString, i)
  }

  /** pdfs(id, payload BINARY) → extracted text columns; the pooled-
    * kernel mapPartitions shape shared with the HTML cascade.
    */
  def extractPdfs(pdfs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val spark = pdfs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    pdfs.select(col("id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val r = extract(bytes)
        (id, r.n_pages, r.text, r.valid)
      })
      .toDF("id", "n_pages", "text", "valid")
  }
}
