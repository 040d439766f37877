package graft.extract

import graft.html.{Dom, TagDict => T}
import graft.text.PyText
import java.util.regex.Pattern

/** Output of one strategy over one page. `spans` are character offsets
  * of each emitted segment inside `content`.
  */
final case class StratResult(
    content: String,
    spans: Array[(Int, Int, String)],
    title: String,
    author: String,
    publishDate: java.sql.Timestamp,
    succeeded: Boolean,
    reason: String)

/** Per-DOM derived statistics shared by all three strategies (arrays
  * are grow-only, pooled with the thread's extractor — zero steady-state
  * allocation). The parser owns the per-text-node counts (see
  * [[graft.html.Dom]]); [[compute]] reads no text character, it only
  * seeds each text node from those counts and folds them into parents.
  *
  * The fold exploits the arena invariant parent-id < child-id: iterating
  * ids in reverse order completes every subtree sum before its parent
  * reads it.
  */
final class DomStats {
  var textLen: Array[Int] = new Array[Int](256)
  var linkLen: Array[Int] = new Array[Int](256)
  var commas: Array[Int] = new Array[Int](256)
  var words: Array[Int] = new Array[Int](256)
  var alive: Array[Boolean] = new Array[Boolean](256)
  var score: Array[Double] = new Array[Double](256)
  var touched: Array[Boolean] = new Array[Boolean](256)
  var include: Array[Boolean] = new Array[Boolean](256)
  var removed: Array[Boolean] = new Array[Boolean](256)

  private def ensure(n: Int): Unit = {
    if (textLen.length < n) {
      val m = Integer.highestOneBit(n - 1) * 2
      textLen = new Array[Int](m); linkLen = new Array[Int](m)
      commas = new Array[Int](m); words = new Array[Int](m)
      alive = new Array[Boolean](m); score = new Array[Double](m)
      touched = new Array[Boolean](m); include = new Array[Boolean](m)
      removed = new Array[Boolean](m)
    }
  }

  def compute(dom: Dom): Unit = {
    val n = dom.size
    ensure(n)
    var i = 0
    while (i < n) {
      if (dom.isText(i)) {
        textLen(i) = dom.text(i).length; commas(i) = dom.textCommas(i); words(i) = dom.textWords(i)
      } else {
        textLen(i) = 0; commas(i) = 0; words(i) = 0
      }
      linkLen(i) = 0; score(i) = 0.0; touched(i) = false; include(i) = false
      i += 1
    }
    // reverse accumulation into parents
    i = n - 1
    while (i >= 1) {
      val p = dom.parent(i)
      val propagate = !(dom.isElem(i) && DomStats.isIgnoredSubtree(dom.tag(i)))
      if (propagate && p >= 0) {
        if (dom.isElem(i) && dom.tag(i) == T.A) linkLen(i) = textLen(i)
        textLen(p) += textLen(i)
        linkLen(p) += linkLen(i)
        commas(p) += commas(i)
        words(p) += words(i)
      }
      i -= 1
    }
  }

  def linkDensity(node: Int): Double =
    if (textLen(node) == 0) 0.0 else linkLen(node).toDouble / textLen(node)
}

object DomStats {
  /** True when this element's subtree text is never content: it is not
    * counted here and readability does not emit it.
    */
  private[extract] def isIgnoredSubtree(tag: Int): Boolean =
    tag == T.Script || tag == T.Style || tag == T.Noscript ||
    tag == T.Template || tag == T.Svg
}

/** The three extraction strategies, reimplemented Spark-first from the
  * behaviors of the reference engine (see SURVEY.md §2.2):
  *
  *  - [[Extractors.bs4Strip]]: the "http" strategy's text assembly —
  *    every text node stripped, empties dropped, joined with `"\n"`
  *    (core/extractors/base.py:84-98). Our documented divergence:
  *    script/style/template contents are excluded (modern-bs4
  *    behavior); the goldens pin this.
  *  - [[Extractors.readability]]: arc90-style DOM scoring (the public
  *    readability algorithm: paragraph scoring by text length + comma
  *    count propagated to parent/grandparent, tag/class weights, link
  *    density, sibling grafting, conditional boilerplate cleaning) as
  *    used via readability-lxml in
  *    core/extractors/readability_extractor.py:57-70.
  *  - [[Extractors.newspaperLike]]: newspaper3k-style article detection
  *    (core/extractors/newspaper_extractor.py:25-47): top-node scoring
  *    from paragraph word mass, title/author/publish-date classifiers,
  *    paragraphs joined `"\n\n"`.
  */
object Extractors {

  // --- class/id heuristics from the public arc90/readability algorithm ---
  private val unlikelyRe = Pattern.compile(
    "combx|comment|community|disqus|extra|foot|header|menu|remark|rss|" +
    "shoutbox|sidebar|sponsor|ad-break|agegate|pagination|pager|popup|tweet|twitter")
  private val okMaybeRe = Pattern.compile("and|article|body|column|main|shadow")
  private val positiveRe = Pattern.compile(
    "article|body|content|entry|hentry|main|page|pagination|post|text|blog|story")
  private val negativeRe = Pattern.compile(
    "combx|comment|com-|contact|foot|footer|footnote|masthead|media|meta|" +
    "outbrain|promo|related|scroll|shoutbox|sidebar|sponsor|shopping|tags|tool|widget")

  private def classId(dom: Dom, n: Int): String = {
    val c = dom.attr(n, "class")
    val id = dom.attr(n, "id")
    if (c == null && id == null) ""
    else ((if (c == null) "" else c) + " " + (if (id == null) "" else id)).toLowerCase(java.util.Locale.ROOT)
  }

  private def classWeight(dom: Dom, n: Int): Double = {
    val ci = classId(dom, n)
    if (ci.isEmpty) 0.0
    else {
      var w = 0.0
      if (negativeRe.matcher(ci).find()) w -= 25
      if (positiveRe.matcher(ci).find()) w += 25
      w
    }
  }

  private def tagWeight(tag: Int): Double =
    if (tag == T.Div) 5
    else if (tag == T.Pre || tag == T.Td || tag == T.Blockquote) 3
    else if (tag == T.Address || tag == T.Ol || tag == T.Ul || tag == T.Dl ||
             tag == T.Dd || tag == T.Dt || tag == T.Li || tag == T.Form) -3
    else if (tag == T.H1 || tag == T.H2 || tag == T.H3 || tag == T.H4 ||
             tag == T.H5 || tag == T.H6 || tag == T.Th) -5
    else 0

  /** Every text node of the document that `keepText` accepts, outside
    * the subtrees `keepElem` rejects, stripped, empties dropped, joined
    * by "\n" with one "line" span each; fails as "empty_content" when
    * nothing is left.
    */
  private def emitLines(dom: Dom, title: String,
      keepElem: Int => Boolean, keepText: Int => Boolean): StratResult = {
    val out = new java.lang.StringBuilder(256)
    val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String)]
    dom.walk(0) { n =>
      if (dom.isElem(n)) keepElem(n)
      else {
        if (dom.isText(n) && keepText(n)) {
          val seg = PyText.strip(dom.text(n))
          if (seg.nonEmpty) {
            if (out.length() > 0) out.append('\n')
            val start = out.length()
            out.append(seg)
            spans += ((start, out.length(), "line"))
          }
        }
        true
      }
    }
    val content = out.toString
    val ok = PyText.strip(content).nonEmpty
    StratResult(content, spans.toArray, title, null, null,
      succeeded = ok, reason = if (ok) null else "empty_content")
  }

  // ------------------------------------------------------------------
  // Strategy 1: bs4-style stripped strings ("http" strategy)
  // ------------------------------------------------------------------
  def bs4Strip(dom: Dom, stats: DomStats): StratResult =
    emitLines(dom, titleText(dom),
      n => { val t = dom.tag(n); t != T.Script && t != T.Style && t != T.Template },
      _ => true)

  /** The `<title>` element's first child when it is a text node, else -1. */
  private def titleNode(dom: Dom): Int = {
    val t = dom.findFirst(0, T.Title)
    val c = if (t < 0) -1 else dom.firstChild(t)
    if (c >= 0 && dom.isText(c)) c else -1
  }

  /** `<title>` text, stripped — soup.title semantics. */
  private def titleText(dom: Dom): String = {
    val c = titleNode(dom)
    if (c < 0) null else stripOrNull(dom.text(c))
  }

  /** `s` Python-stripped, or null when nothing is left. */
  private def stripOrNull(s: String): String =
    if (s == null) null else { val t = PyText.strip(s); if (t.isEmpty) null else t }

  // ------------------------------------------------------------------
  // Strategy 2: readability-style DOM scoring
  // ------------------------------------------------------------------
  private val MinParagraphLen = 25

  def readability(dom: Dom, stats: DomStats): StratResult = {
    val n = dom.size
    val alive = stats.alive
    val score = stats.score
    val touched = stats.touched
    val include = stats.include

    // 1. unlikely-candidate removal (inherited): class/id matches the
    //    unlikely pattern and not the maybe pattern → subtree dead
    alive(0) = true
    var i = 1
    while (i < n) {
      val p = dom.parent(i)
      var a = alive(p)
      if (a && dom.isElem(i)) {
        val t = dom.tag(i)
        if (t != T.Html && t != T.Body && t != T.Article) {
          val ci = classId(dom, i)
          if (ci.nonEmpty && unlikelyRe.matcher(ci).find() &&
              !okMaybeRe.matcher(ci).find()) a = false
        }
      }
      alive(i) = a
      i += 1
    }

    // 2. score paragraphs into parents/grandparents (arrays are shared
    //    across strategies in a row — zero our slices first)
    java.util.Arrays.fill(touched, 0, n, false)
    java.util.Arrays.fill(score, 0, n, 0.0)
    var best = -1
    var bestScore = 0.0
    i = 1
    while (i < n) {
      if (dom.isElem(i) && alive(i) && isParagraphish(dom, i) &&
          stats.textLen(i) >= MinParagraphLen) {
        val contentScore = 1.0 + stats.commas(i) +
          math.min(stats.textLen(i) / 100.0, 3.0)
        val p = dom.parent(i)
        if (p > 0) {
          if (!touched(p)) { touched(p) = true; score(p) = tagWeight(dom.tag(p)) + classWeight(dom, p) }
          score(p) += contentScore
          val gp = dom.parent(p)
          if (gp > 0) {
            if (!touched(gp)) { touched(gp) = true; score(gp) = tagWeight(dom.tag(gp)) + classWeight(dom, gp) }
            score(gp) += contentScore / 2.0
          }
        }
      }
      i += 1
    }
    i = 1
    while (i < n) {
      if (touched(i)) {
        score(i) = score(i) * (1.0 - stats.linkDensity(i))
        if (best < 0 || score(i) > bestScore) { best = i; bestScore = score(i) }
      }
      i += 1
    }

    // 3. article assembly: best candidate + qualifying siblings
    val body = dom.findFirst(0, T.Body)
    if (best < 0) best = if (body >= 0) body else 0
    val siblingThreshold = math.max(10.0, bestScore * 0.2)
    java.util.Arrays.fill(include, 0, n, false)
    include(best) = true
    if (dom.parent(best) >= 0) {
      var sib = dom.firstChild(dom.parent(best))
      while (sib >= 0) {
        if (sib != best && dom.isElem(sib) && alive(sib)) {
          val qualifies =
            (touched(sib) && score(sib) >= siblingThreshold) ||
            (dom.tag(sib) == T.P && {
              val ld = stats.linkDensity(sib)
              val tl = stats.textLen(sib)
              (tl > 80 && ld < 0.25) ||
              (tl < 80 && ld == 0.0 && containsSentence(dom, sib))
            })
          if (qualifies) include(sib) = true
        }
        sib = dom.nextSib(sib)
      }
    }

    // 4. conditional boilerplate cleaning inside the included subtrees
    //    only (the arc90 sanitize pass runs on the assembled article,
    //    never on its ancestors; goldens pin this simplification)
    val removed = stats.removed
    java.util.Arrays.fill(removed, 0, n, false)
    i = 1
    while (i < n) {
      if (dom.isElem(i) && !include(i) && inIncluded(dom, i, include)) {
        val t = dom.tag(i)
        val unconditional = t == T.Form || t == T.Textarea || t == T.Iframe ||
          t == T.Button || t == T.Input || t == T.Select || t == T.Canvas ||
          t == T.Object_
        val conditional = t == T.Table || t == T.Ul || t == T.Ol ||
          t == T.Div || t == T.Aside || t == T.Footer || t == T.Header ||
          t == T.Section || t == T.Nav
        val headerClean = (t == T.H1 || t == T.H2) &&
          (classWeight(dom, i) < 0 || stats.linkDensity(i) > 0.33)
        if (unconditional || headerClean) removed(i) = true
        else if (conditional) {
          val weight = classWeight(dom, i) + (if (touched(i)) score(i) else 0.0)
          if (weight < 0) removed(i) = true
          else if (stats.commas(i) < 10) {
            val ld = stats.linkDensity(i)
            if ((stats.textLen(i) < MinParagraphLen && imgCount(dom, i) == 0) ||
                (weight < 25 && ld > 0.2) || ld > 0.5) removed(i) = true
          }
        }
      }
      i += 1
    }

    // 5. emit text in document order over included-minus-removed
    val head = dom.findFirst(0, T.Head)
    emitLines(dom, shortTitle(dom),
      node => node != head && !removed(node) && alive(node) &&
        !DomStats.isIgnoredSubtree(dom.tag(node)),
      node => inIncluded(dom, node, include))
  }

  private def inIncluded(dom: Dom, node: Int, include: Array[Boolean]): Boolean = {
    var p = node
    while (p >= 0) {
      if (include(p)) return true
      p = dom.parent(p)
    }
    false
  }

  private def containsSentence(dom: Dom, n: Int): Boolean = {
    var found = false
    dom.walk(n) { c =>
      if (!found && dom.isText(c) && dom.text(c).contains(". ")) found = true
      !found
    }
    found
  }

  private def imgCount(dom: Dom, root: Int): Int = {
    var c = 0
    dom.walk(root) { n =>
      if (dom.isElem(n) && dom.tag(n) == T.Img) c += 1
      true
    }
    c
  }

  /** `<p>`, `<td>`, `<pre>`, or a `<div>` with no block children —
    * the nodes whose text mass votes for their ancestors.
    */
  private def isParagraphish(dom: Dom, n: Int): Boolean = {
    val t = dom.tag(n)
    if (t == T.P || t == T.Td || t == T.Pre) true
    else if (t == T.Div) {
      var c = dom.firstChild(n)
      var hasBlock = false
      while (!hasBlock && c >= 0) {
        if (dom.isElem(c) && T.closesOpenP(dom.tag(c))) hasBlock = true
        c = dom.nextSib(c)
      }
      !hasBlock
    } else false
  }

  /** readability short_title: split on strong separators, prefer a part
    * with >= 4 words; keep the original unless the shortened form is
    * 15..150 chars (the published readability-lxml rule, simplified —
    * no h1 cross-check).
    */
  private[extract] def shortTitle(dom: Dom): String = {
    val c = titleNode(dom)
    val orig = if (c < 0) "" else paragraphText(dom, c)
    if (orig.isEmpty) return null
    var title = orig
    var done = false
    for (delim <- Seq(" | ", " - ", " :: ", " / ") if !done) {
      if (title.contains(delim)) {
        val parts = orig.split(Pattern.quote(delim))
        if (wordCount(parts(0)) >= 4) { title = parts(0); done = true }
        else if (wordCount(parts(parts.length - 1)) >= 4) {
          title = parts(parts.length - 1); done = true
        }
      }
    }
    if (!done && title.contains(": ")) {
      val parts = orig.split(": ")
      if (wordCount(parts(parts.length - 1)) >= 4) title = parts(parts.length - 1)
      else title = orig.substring(orig.lastIndexOf(": ") + 2)
    }
    if (title.length > 15 && title.length < 150) title else orig
  }

  private def wordCount(s: String): Int = {
    var wc = 0; var inWord = false; var i = 0
    while (i < s.length) {
      if (PyText.isPySpace(s.charAt(i))) inWord = false
      else if (!inWord) { inWord = true; wc += 1 }
      i += 1
    }
    wc
  }

  // ------------------------------------------------------------------
  // Strategy 3: newspaper-style article detection
  // ------------------------------------------------------------------
  /** top-node scoring: each <p> with >= 5 words and link density < 0.5
    * votes its word mass to parent (full) and grandparent (half)
    */
  private def scoreTopNode(dom: Dom, stats: DomStats): Int = {
    val n = dom.size
    val score = stats.score
    val touched = stats.touched
    java.util.Arrays.fill(touched, 0, n, false)
    java.util.Arrays.fill(score, 0, n, 0.0)
    var top = -1
    var topScore = 0.0
    var i = 1
    while (i < n) {
      if (dom.isElem(i) && dom.tag(i) == T.P && stats.words(i) >= 5 &&
          stats.linkDensity(i) < 0.5) {
        val w = stats.words(i).toDouble
        val p = dom.parent(i)
        if (p > 0) {
          touched(p) = true; score(p) += w
          val gp = dom.parent(p)
          if (gp > 0) { touched(gp) = true; score(gp) += w / 2.0 }
        }
      }
      i += 1
    }
    i = 1
    while (i < n) {
      if (touched(i) && score(i) > topScore) { top = i; topScore = score(i) }
      i += 1
    }
    top
  }

  def newspaperLike(dom: Dom, stats: DomStats): StratResult = {
    val top = scoreTopNode(dom, stats)
    val out = new java.lang.StringBuilder(256)
    val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String)]
    // paragraphs: each descendant <p> plus each direct text child of the
    // top node, in document order, collapsed straight into `out` and
    // joined "\n\n"; an empty paragraph rolls its separator back
    def para(node: Int): Unit = {
      val mark = out.length()
      if (mark > 0) out.append("\n\n")
      val start = out.length()
      if (appendCollapsed(dom, node, out)) spans += ((start, out.length(), "para"))
      else out.setLength(mark)
    }
    if (top >= 0) dom.walk(top) { node =>
      if (dom.isElem(node) && dom.tag(node) == T.P) {
        para(node)
        false // paragraph consumed whole
      } else if (dom.isElem(node)) {
        val t = dom.tag(node)
        !(t == T.Script || t == T.Style || t == T.Noscript || t == T.Template)
      } else {
        if (dom.isText(node) && dom.parent(node) == top) para(node)
        true
      }
    }
    val meta = scanNewsMeta(dom)
    StratResult(out.toString, spans.toArray,
      title = newsTitle(dom, meta),
      author = authors(dom, meta),
      publishDate = publishDate(meta),
      succeeded = true, // reference quirk: newspaper reports success even
                        // for empty text (newspaper_extractor.py:47)
      reason = null)
  }

  /** Appends the text of `node` — a text node, or an element's subtree
    * minus script and style — to `out`, Python-stripped and with every
    * inner run of Python space collapsed to one ' ' (newspaper's
    * OutputFormatter innerTrim), with no intermediate string. A text node
    * whose interior the parser found already collapsed is copied in one
    * append; only the others are walked character by character. Returns
    * whether anything was appended.
    */
  private def appendCollapsed(dom: Dom, node: Int, out: java.lang.StringBuilder): Boolean = {
    var pendingSpace = false
    var wrote = false
    def append(n: Int): Unit = {
      val s = dom.text(n)
      if (dom.textCollapsed(n)) {
        // parser-made text nodes are never whitespace-only: start < end
        val start = dom.textStart(n)
        val end = dom.textEnd(n)
        if (pendingSpace || (wrote && start > 0)) out.append(' ')
        out.append(s, start, end)
        pendingSpace = end < s.length
        wrote = true
      } else {
        var i = 0
        val len = s.length
        while (i < len) {
          if (PyText.isPySpace(s.charAt(i))) {
            if (wrote) pendingSpace = true
            i += 1
          } else {
            val runStart = i
            while (i < len && !PyText.isPySpace(s.charAt(i))) i += 1
            if (pendingSpace) { out.append(' '); pendingSpace = false }
            out.append(s, runStart, i) // bulk copy of the word run
            wrote = true
          }
        }
      }
    }
    if (dom.isText(node)) append(node)
    else dom.walk(node) { n =>
      if (dom.isElem(n)) { val t = dom.tag(n); t != T.Script && t != T.Style }
      else { if (dom.isText(n)) append(n); true }
    }
    wrote
  }

  /** [[appendCollapsed]] as a string: the h1, byline and title lookups. */
  private def paragraphText(dom: Dom, node: Int): String = {
    val sb = new java.lang.StringBuilder(64)
    appendCollapsed(dom, node, sb)
    sb.toString
  }

  /** The metadata keys newspaper reads, as `(attribute, value)` of a
    * `<meta>` element whose `content` the key takes. Per key the first
    * occurrence with non-empty stripped content wins; attribute values
    * match with `equalsIgnoreCase` (lowercasing differs on non-ASCII).
    * One more slot, [[TimeSlot]], takes the first non-empty
    * `<time datetime>`.
    */
  private val MetaKeys: Array[(String, String)] = Array(
    "property" -> "og:title",
    "name" -> "author", "name" -> "byl", "name" -> "dc.creator",
    "property" -> "article:author",
    "property" -> "article:published_time", "name" -> "date",
    "name" -> "pubdate", "name" -> "publishdate", "name" -> "timestamp",
    "name" -> "dc.date.issued")
  private val TitleSlot = 0
  private val TimeSlot = MetaKeys.length
  /** Author slots in join order; date slots in precedence order. */
  private val AuthorSlots = 1 to 4
  private val DateSlots = 5 +: TimeSlot +: (6 to 10)

  /** Every metadata slot the newspaper strategy reads, collected in one
    * DOM walk: a walk per key was measured as the cascade's single
    * largest cost.
    */
  private def scanNewsMeta(dom: Dom): Array[String] = {
    val found = new Array[String](MetaKeys.length + 1)
    dom.walk(0) { n =>
      if (dom.isElem(n)) {
        val t = dom.tag(n)
        if (t == T.Meta) {
          var k = 0
          while (k < MetaKeys.length) {
            if (found(k) == null) {
              val v = dom.attr(n, MetaKeys(k)._1)
              if (v != null && v.equalsIgnoreCase(MetaKeys(k)._2))
                found(k) = stripOrNull(dom.attr(n, "content"))
            }
            k += 1
          }
        } else if (t == T.Time && found(TimeSlot) == null)
          found(TimeSlot) = stripOrNull(dom.attr(n, "datetime"))
      }
      true
    }
    found
  }

  private def newsTitle(dom: Dom, meta: Array[String]): String = {
    if (meta(TitleSlot) != null) return meta(TitleSlot)
    val t = titleText(dom)
    if (t != null) return t
    val h1 = dom.findFirst(0, T.H1)
    if (h1 >= 0) {
      val s = paragraphText(dom, h1)
      if (s.nonEmpty) return s
    }
    null
  }

  // visible-byline class/id pattern (newspaper heuristic). Compiled once;
  // the substring prefilter below skips the regex for the overwhelming
  // majority of elements.
  private val bylineRe = Pattern.compile("byline|author|\\bbyl\\b")

  /** class/id attr match for the byline walk — equivalent to running
    * bylineRe over the old lowercased "class id" concatenation (the
    * patterns contain no spaces, so per-attribute matching sees the
    * same word boundaries), without the per-element concat allocation.
    */
  private def bylineAttrHit(s: String): Boolean = {
    if (s == null || s.isEmpty) return false
    val lc = s.toLowerCase(java.util.Locale.ROOT)
    (lc.contains("byl") || lc.contains("author")) && bylineRe.matcher(lc).find()
  }

  private def authors(dom: Dom, meta: Array[String]): String = {
    val found = scala.collection.mutable.LinkedHashSet.empty[String]
    for (k <- AuthorSlots if meta(k) != null) found += meta(k)
    if (found.isEmpty) {
      // visible byline: class/id/rel containing author|byline|byl
      var hit = -1
      dom.walk(0) { n =>
        if (hit < 0 && dom.isElem(n)) {
          val rel = dom.attr(n, "rel")
          if (bylineAttrHit(dom.attr(n, "class")) || bylineAttrHit(dom.attr(n, "id")) ||
              (rel != null && rel.equalsIgnoreCase("author"))) hit = n
        }
        hit < 0
      }
      if (hit >= 0) {
        val s = paragraphText(dom, hit)
        if (s.nonEmpty) found += s.replaceFirst("(?i)^by[:\\s]+", "")
      }
    }
    if (found.isEmpty) null else found.mkString(", ")
  }

  /** The first non-empty date slot, parsed; an unparseable one is null. */
  private def publishDate(meta: Array[String]): java.sql.Timestamp =
    DateSlots.iterator.map(meta(_)).find(_ != null).map(parseIsoTimestamp).orNull

  private[extract] def parseIsoTimestamp(s: String): java.sql.Timestamp = {
    import java.time._
    import java.time.format.DateTimeFormatter
    try {
      java.sql.Timestamp.from(OffsetDateTime.parse(s).toInstant)
    } catch {
      case _: Exception =>
        try {
          java.sql.Timestamp.from(
            LocalDateTime.parse(s).atOffset(ZoneOffset.UTC).toInstant)
        } catch {
          case _: Exception =>
            try {
              java.sql.Timestamp.from(
                LocalDate.parse(s, DateTimeFormatter.ISO_LOCAL_DATE)
                  .atStartOfDay(ZoneOffset.UTC).toInstant)
            } catch { case _: Exception => null }
        }
    }
  }
}
