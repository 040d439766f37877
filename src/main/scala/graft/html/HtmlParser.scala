package graft.html

import graft.text.PyText

/** From-scratch, allocation-pooled HTML tokenizer + tree builder.
  *
  * Design goals (north-star requirements):
  *  - single pass, no regexes, linear in input size — robust on
  *    Common-Crawl-grade malformed HTML and 100MB blobs;
  *  - pooled: one parser (and one arena [[Dom]]) per thread via
  *    [[HtmlParser.pooled]]; steady-state parsing allocates only the
  *    emitted text/attribute strings, never a parser;
  *  - HTML5-flavored error recovery: void elements, raw-text elements
  *    (script/style), RCDATA (title/textarea), implicit `</p>`/`</li>`/
  *    `</td>`-style auto-closing, unmatched end tags ignored.
  *
  * Divergences from the WHATWG spec, chosen for simplicity and
  * documented because goldens pin them: self-closing syntax (`<div/>`)
  * is honored on any element; comments/doctypes are dropped from the
  * DOM; whitespace-only text nodes are not materialized (every
  * downstream consumer strips-and-drops them anyway, cf. the reference
  * stripped-strings semantics at core/extractors/base.py:84-86).
  *
  * The parser owns each text node's character facts (comma and word
  * counts, stripped interior, collapsed flag; see [[Dom]]): it classifies
  * every text character once, as it appends it to the node, on every
  * emission path — plain runs, entity output, the merge into a preceding
  * text sibling, and raw-text/RCDATA content. Downstream consumers read
  * the facts instead of rescanning the text.
  */
final class HtmlParser {
  import TagDict._

  private val dom = new Dom
  private val sb = new java.lang.StringBuilder(4096)
  // The text gathered since the last flush is the source range
  // [runStart, runEnd) while it is one plain run, the common case: it is
  // then copied out once, by `substring`. An entity or a stray '<' moves
  // it into `sb`, which gathers the rest.
  private var runStart = -1
  private var runEnd = -1
  private val nameBuf = new java.lang.StringBuilder(32)
  private var stack = new Array[Int](128)
  private var stackTags = new Array[Int](128)
  private var depth = 0
  private val MaxDepth = 512

  /** Direct-mapped cache of lowercased tag/attr names: HTML repeats the
    * same few dozen names millions of times, so readName output is
    * canonicalized without a per-occurrence String allocation.
    */
  private val nameCache = new Array[String](256)

  /** The current nameBuf contents as a canonical String. */
  private def internedName(): String = {
    val n = nameBuf.length()
    var h = 0
    var i = 0
    while (i < n) { h = h * 31 + nameBuf.charAt(i); i += 1 }
    val slot = (h ^ (h >>> 16)) & 255
    val cached = nameCache(slot)
    if (cached != null && cached.length == n) {
      var k = 0
      var same = true
      while (same && k < n) { same = cached.charAt(k) == nameBuf.charAt(k); k += 1 }
      if (same) return cached
    }
    val s = nameBuf.toString
    nameCache(slot) = s
    s
  }

  private def push(node: Int, t: Int): Unit = {
    if (depth < MaxDepth) {
      if (depth == stack.length) {
        stack = java.util.Arrays.copyOf(stack, depth * 2)
        stackTags = java.util.Arrays.copyOf(stackTags, depth * 2)
      }
      stack(depth) = node
      stackTags(depth) = t
      depth += 1
    }
  }

  private def curParent: Int = if (depth == 0) 0 else stack(depth - 1)

  // Facts of the text gathered since the last flush (or of a raw-text
  // node), kept by [[scanText]] as characters are appended; positions
  // are offsets into the node's text
  private var tCommas = 0
  private var tWords = 0
  private var tStart = 0
  private var tEnd = 0
  private var tInWord = false
  private var tGapOk = false // the space run since the last word is one ' '
  private var tCollapsed = true

  /** Start gathering a new text: no pending run, empty `sb`, no facts. */
  private def resetText(): Unit = {
    runStart = -1
    sb.setLength(0)
    tCommas = 0; tWords = 0; tStart = 0; tEnd = 0
    tInWord = false; tGapOk = false; tCollapsed = true
  }

  /** Classify `s[from, to)` — stopping early at the first `'<'` or `'&'`
    * when `markup` — as the text continuing at offset `pos` of the node
    * being gathered; returns where it stopped. The facts live in locals
    * for the loop: this is the parser's per-character hot path.
    */
  private def scanText(s: String, from: Int, to: Int, pos: Int, markup: Boolean): Int = {
    var commas = tCommas; var words = tWords; var start = tStart; var end = tEnd
    var inWord = tInWord; var gapOk = tGapOk; var collapsed = tCollapsed
    val shift = pos - from
    var j = from
    var stop = false
    while (j < to && !stop) {
      val c = s.charAt(j)
      if (markup && (c == '<' || c == '&')) stop = true
      else {
        if (c == ',') commas += 1
        if (PyText.isPySpace(c)) {
          if (inWord) { inWord = false; end = j + shift; gapOk = c == ' ' }
          else gapOk = false
        } else if (!inWord) {
          inWord = true
          if (words == 0) start = j + shift
          else if (!gapOk) collapsed = false
          words += 1
        }
        j += 1
      }
    }
    if (inWord) end = j + shift
    tCommas = commas; tWords = words; tStart = start; tEnd = end
    tInWord = inWord; tGapOk = gapOk; tCollapsed = collapsed
    j
  }

  private def textLength: Int = if (runStart >= 0) runEnd - runStart else sb.length()

  /** Move a pending plain run into `sb`. */
  private def spillRun(): Unit =
    if (runStart >= 0) { sb.append(dom.src, runStart, runEnd); runStart = -1 }

  private def appendText(s: String): Unit = {
    spillRun()
    scanText(s, 0, s.length, sb.length(), markup = false)
    sb.append(s)
  }

  private def record(node: Int): Unit = {
    dom.textCommas(node) = tCommas
    dom.textWords(node) = tWords
    dom.textStart(node) = tStart
    dom.textEnd(node) = tEnd
    dom.textCollapsed(node) = tCollapsed
  }

  private def gathered: String =
    if (runStart >= 0) dom.src.substring(runStart, runEnd) else sb.toString

  /** Materialize the gathered text as a text node, or append it to a
    * preceding text sibling, joining the two nodes' facts;
    * whitespace-only text is dropped.
    */
  private def flushText(): Unit = {
    if (tWords > 0) {
      val p = curParent
      val last = dom.lastChild(p)
      if (last >= 0 && dom.isText(last)) {
        val old = dom.text(last)
        val text = gathered
        val oldEnd = dom.textEnd(last)
        // the Python space between the old node's last word and text's first
        val gap = old.length - oldEnd + tStart
        val gapIsOneSpace = gap == 1 &&
          (if (oldEnd < old.length) old.charAt(oldEnd) else text.charAt(0)) == ' '
        dom.text(last) = old + text
        dom.textCommas(last) += tCommas
        dom.textWords(last) += (if (gap == 0) tWords - 1 else tWords) // a word spans the join
        dom.textEnd(last) = old.length + tEnd
        dom.textCollapsed(last) &&= tCollapsed && (gap == 0 || gapIsOneSpace)
      } else {
        val t = dom.newNode(2, -1, p)
        dom.text(t) = gathered
        record(t)
      }
    }
    resetText()
  }

  /** End-of-row hook: drop the parsed source string so the pooled
    * parser doesn't pin the previous page's HTML between rows (see
    * Dom.release).
    */
  def release(): Unit = dom.release()

  def parse(html: String): Dom = {
    dom.reset(html) // lazy attr values substring from the source
    depth = 0
    resetText()
    val len = html.length
    var i = 0
    while (i < len) {
      val c = html.charAt(i)
      if (c == '<' && i + 1 < len) {
        val c1 = html.charAt(i + 1)
        if (c1 == '/') { flushText(); i = parseEndTag(html, i + 2, len) }
        else if (isNameStart(c1)) { flushText(); i = parseStartTag(html, i + 1, len) }
        else if (c1 == '!') {
          flushText()
          if (i + 3 < len && html.charAt(i + 2) == '-' && html.charAt(i + 3) == '-') {
            val end = html.indexOf("-->", i + 4)
            i = if (end < 0) len else end + 3
          } else {
            val end = html.indexOf('>', i + 2)
            i = if (end < 0) len else end + 1
          }
        } else if (c1 == '?') {
          flushText()
          val end = html.indexOf('>', i + 2)
          i = if (end < 0) len else end + 1
        } else { appendText("<"); i += 1 }
      } else if (c == '&') {
        spillRun()
        val at = sb.length()
        i = Entities.decodeRef(html, i, len, sb)
        val decoded = sb.substring(at)
        scanText(decoded, 0, decoded.length, at, markup = false)
      } else if (c == '<') { appendText("<"); i += 1 } // ends the input
      else {
        // the whole plain-text run (the dominant case), classified as its
        // end is sought and copied only when the text node is made
        val j = scanText(html, i, len, textLength, markup = true)
        if (textLength == 0) { runStart = i; runEnd = j }
        else sb.append(html, i, j) // after an entity or a stray '<'
        i = j
      }
    }
    flushText()
    dom
  }

  private def isNameStart(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f'

  /** Read a tag/attr name starting at `i`, lowercased into nameBuf.
    * Returns index after the name.
    */
  private def readName(s: String, i0: Int, len: Int): Int = {
    nameBuf.setLength(0)
    var i = i0
    var done = false
    while (i < len && !done) {
      val c = s.charAt(i)
      if (isWs(c) || c == '/' || c == '>' || c == '=') done = true
      else {
        nameBuf.append(if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)
        i += 1
      }
    }
    i
  }

  /** Parse a start tag whose name begins at `i0`; returns resume index. */
  private def parseStartTag(s: String, i0: Int, len: Int): Int = {
    var i = readName(s, i0, len)
    val t = TagDict.intern(internedName())

    // implicit closes (HTML5-ish): </p>, </li>, </dt|dd>, </option>,
    // </tr>, </td|th>, nested <a>
    var closing = true
    while (closing && depth > 0) {
      val top = stackTags(depth - 1)
      val pop =
        (top == P && closesOpenP(t)) ||
        (top == Li && t == Li) ||
        ((top == Dt || top == Dd) && (t == Dt || t == Dd)) ||
        (top == Option_ && (t == Option_ || t == Optgroup)) ||
        (top == Tr && t == Tr) ||
        ((top == Td || top == Th) && (t == Td || t == Th || t == Tr)) ||
        (top == A && t == A)
      if (pop) depth -= 1 else closing = false
    }

    val node = dom.newNode(1, t, curParent)
    dom.attrStart(node) = dom.nAttrs

    var selfClosing = false
    var inTag = true
    while (inTag && i < len) {
      while (i < len && isWs(s.charAt(i))) i += 1
      if (i >= len) inTag = false
      else {
        val c = s.charAt(i)
        if (c == '>') { i += 1; inTag = false }
        else if (c == '/') {
          if (i + 1 < len && s.charAt(i + 1) == '>') {
            selfClosing = true; i += 2; inTag = false
          } else i += 1
        } else {
          // attribute — value captured as [vs, ve) offsets; Dom
          // materializes (substring + entity decode) only if some
          // extractor actually reads this attribute
          i = readName(s, i, len)
          val an = internedName()
          while (i < len && isWs(s.charAt(i))) i += 1
          var vs = 0
          var ve = 0
          if (i < len && s.charAt(i) == '=') {
            i += 1
            while (i < len && isWs(s.charAt(i))) i += 1
            if (i < len) {
              val q = s.charAt(i)
              if (q == '"' || q == '\'') {
                val end = s.indexOf(q, i + 1)
                if (end < 0) { vs = i + 1; ve = len; i = len }
                else { vs = i + 1; ve = end; i = end + 1 }
              } else {
                vs = i
                while (i < len && !isWs(s.charAt(i)) && s.charAt(i) != '>') i += 1
                ve = i
              }
            }
          }
          if (an.nonEmpty) dom.addAttrLazy(an, vs, ve)
        }
      }
    }
    dom.attrEnd(node) = dom.nAttrs

    if (isRawText(t) || isRcdata(t)) {
      // consume raw content up to the matching close tag
      val tagName = TagDict.name(t)
      val close = findCloseTag(s, i, len, tagName)
      val (contentEnd, resume) =
        if (close < 0) (len, len)
        else {
          val gt = s.indexOf('>', close)
          (close, if (gt < 0) len else gt + 1)
        }
      if (contentEnd > i) {
        val raw = s.substring(i, contentEnd)
        val txt = if (isRcdata(t)) Entities.decodeAll(raw) else raw
        scanText(txt, 0, txt.length, 0, markup = false)
        if (tWords > 0) {
          val tn = dom.newNode(2, -1, node)
          dom.text(tn) = txt
          record(tn)
        }
        resetText()
      }
      resume
    } else {
      if (!selfClosing && !isVoid(t)) push(node, t)
      i
    }
  }

  /** Find `</name` (case-insensitive, followed by ws / '/' / '>') at or
    * after `from`; returns its index or -1.
    */
  private def findCloseTag(s: String, from: Int, len: Int, name: String): Int = {
    val nl = name.length
    var i = from
    while (i >= 0) {
      i = s.indexOf('<', i)
      if (i < 0 || i + 2 + nl > len) return -1
      if (s.charAt(i + 1) == '/') {
        var k = 0
        var ok = true
        while (ok && k < nl) {
          val c = s.charAt(i + 2 + k)
          val lc = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
          ok = lc == name.charAt(k)
          k += 1
        }
        if (ok) {
          val after = i + 2 + nl
          if (after >= len || isWs(s.charAt(after)) ||
              s.charAt(after) == '/' || s.charAt(after) == '>') return i
        }
      }
      i += 1
    }
    -1
  }

  /** Parse an end tag whose name begins at `i0`; returns resume index. */
  private def parseEndTag(s: String, i0: Int, len: Int): Int = {
    var i = readName(s, i0, len)
    val t = TagDict.intern(internedName())
    // skip to '>' (end-tag attributes are ignored)
    while (i < len && s.charAt(i) != '>') i += 1
    if (i < len) i += 1
    // pop to the matching open element, or ignore
    var k = depth - 1
    while (k >= 0 && stackTags(k) != t) k -= 1
    if (k >= 0) depth = k
    else if (t == Br) dom.newNode(1, Br, curParent) // </br> → <br>
    i
  }
}

object HtmlParser {
  private val pool = new ThreadLocal[HtmlParser] {
    override def initialValue(): HtmlParser = new HtmlParser
  }

  /** Per-thread pooled parser — the "no per-row parser allocation"
    * contract. The returned [[Dom]] is only valid until the next
    * `parse` call on the same thread.
    */
  def pooled(): HtmlParser = pool.get()
}
