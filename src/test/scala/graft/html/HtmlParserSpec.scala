package graft.html

import graft.extract.PageCodec
import graft.table.SyntheticPages
import graft.text.PyText
import org.scalatest.funsuite.AnyFunSuite
import java.util.regex.Pattern

class HtmlParserSpec extends AnyFunSuite {

  private def parse(s: String) = new HtmlParser().parse(s)

  private def textNodes(dom: Dom): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    dom.walk(0) { n => if (dom.isText(n)) out += dom.text(n); true }
    out.toSeq
  }

  test("basic nesting and text") {
    val dom = parse("<html><body><p>Hello <b>world</b>!</p></body></html>")
    assert(textNodes(dom) == Seq("Hello ", "world", "!"))
    val p = dom.findFirst(0, TagDict.P)
    assert(p >= 0)
    assert(dom.tag(dom.parent(p)) == TagDict.Body)
  }

  test("void elements take no children") {
    val dom = parse("<p>a<br>b<img src=x>c</p>")
    val br = dom.findFirst(0, TagDict.Br)
    assert(dom.firstChild(br) == -1)
    assert(textNodes(dom) == Seq("a", "b", "c"))
    val p = dom.findFirst(0, TagDict.P)
    // all three text nodes are children of the same <p>
    assert(dom.parent(dom.lastChild(p)) == p)
  }

  test("implicit p close on block start") {
    val dom = parse("<p>one<div>two</div>")
    val p = dom.findFirst(0, TagDict.P)
    val div = dom.findFirst(0, TagDict.Div)
    assert(dom.parent(div) != p) // div is a sibling, not a child, of p
  }

  test("li auto-close") {
    val dom = parse("<ul><li>a<li>b</ul>")
    val ul = dom.findFirst(0, TagDict.Ul)
    var lis = 0
    dom.walk(ul) { n =>
      if (dom.isElem(n) && dom.tag(n) == TagDict.Li) {
        assert(dom.parent(n) == ul); lis += 1
      }
      true
    }
    assert(lis == 2)
  }

  test("td/tr auto-close") {
    val dom = parse("<table><tr><td>a<td>b<tr><td>c</table>")
    var tds = 0
    var trs = 0
    dom.walk(0) { n =>
      if (dom.isElem(n) && dom.tag(n) == TagDict.Td) tds += 1
      if (dom.isElem(n) && dom.tag(n) == TagDict.Tr) trs += 1
      true
    }
    assert(tds == 3 && trs == 2)
  }

  test("attributes: quoted, unquoted, bare, duplicate-first-wins, entities") {
    val dom = parse("""<a href="x&amp;y" Class=foo disabled href="z">t</a>""")
    val a = dom.findFirst(0, TagDict.A)
    assert(dom.attr(a, "href") == "x&y")
    assert(dom.attr(a, "class") == "foo")
    assert(dom.attr(a, "disabled") == "")
  }

  test("script raw text is not parsed as markup") {
    val dom = parse("<script>if (a < b) { x = '<div>'; }</script><p>after</p>")
    val script = dom.findFirst(0, TagDict.Script)
    val child = dom.firstChild(script)
    assert(dom.isText(child))
    assert(dom.text(child).contains("a < b"))
    assert(dom.text(child).contains("<div>"))
    assert(textNodes(dom).exists(_ == "after"))
  }

  test("style raw text; case-insensitive close tag") {
    val dom = parse("<style>p { color: red }</STYLE><p>x</p>")
    val style = dom.findFirst(0, TagDict.Style)
    assert(dom.text(dom.firstChild(style)).contains("color: red"))
    assert(textNodes(dom).contains("x"))
  }

  test("title rcdata decodes entities") {
    val dom = parse("<title>Tom &amp; Jerry</title>")
    val t = dom.findFirst(0, TagDict.Title)
    assert(dom.text(dom.firstChild(t)) == "Tom & Jerry")
  }

  test("comments and doctype dropped") {
    val dom = parse("<!DOCTYPE html><!-- hidden --><p>shown</p>")
    assert(textNodes(dom) == Seq("shown"))
  }

  test("entities in text: named, numeric, bare legacy, unknown passthrough") {
    val dom = parse("<p>a&nbsp;b &#65; &#x42; &amp c &bogus; d</p>")
    assert(textNodes(dom) == Seq("a b A B & c &bogus; d"))
  }

  test("unclosed tags at EOF recover") {
    val dom = parse("<div><p>dangling")
    assert(textNodes(dom) == Seq("dangling"))
  }

  test("stray end tags ignored") {
    val dom = parse("</div><p>ok</p></span>")
    assert(textNodes(dom) == Seq("ok"))
  }

  test("stray < kept as text") {
    val dom = parse("<p>1 < 2 and 3 > 2</p>")
    assert(textNodes(dom) == Seq("1 < 2 and 3 > 2"))
  }

  test("self-closing honored") {
    val dom = parse("<div/><p>sib</p>")
    val div = dom.findFirst(0, TagDict.Div)
    val p = dom.findFirst(0, TagDict.P)
    assert(dom.parent(p) == dom.parent(div))
  }

  test("parser instance is reusable across rows") {
    val parser = new HtmlParser
    val d1 = parser.parse("<p>first</p>")
    assert(textNodes(d1) == Seq("first"))
    val d2 = parser.parse("<p>second</p>")
    assert(textNodes(d2) == Seq("second"))
    assert(d1 eq d2) // same pooled arena
  }

  test("adjacent text merged, whitespace-only nodes skipped") {
    val dom = parse("<div>  \n  </div><p>a&#32;b</p>")
    assert(textNodes(dom) == Seq("a b"))
  }

  test("deeply nested html does not blow the stack") {
    val sb = new StringBuilder
    (1 to 2000).foreach(_ => sb.append("<div>"))
    sb.append("deep")
    val dom = parse(sb.toString)
    assert(textNodes(dom).contains("deep"))
  }

  test("million-char text node is linear and survives") {
    val big = "x" * 1000000
    val dom = parse(s"<p>$big</p>")
    assert(textNodes(dom).head.length == 1000000)
  }

  // A from-scratch recount of one text's facts through regexes over
  // Python's whitespace class: (commas, words, strip start, strip end,
  // interior collapsed)
  private val wsRun = Pattern.compile(PyText.PyWsClass + "+")
  private val wordRun = Pattern.compile("[^" + PyText.PyWsClass.drop(1) + "+")
  private val leadWs = Pattern.compile("^" + PyText.PyWsClass + "*")
  private val trailWs = Pattern.compile(PyText.PyWsClass + "*$")

  private def recount(s: String): (Int, Int, Int, Int, Boolean) = {
    val commas = s.count(_ == ',')
    val wm = wordRun.matcher(s)
    var words = 0
    while (wm.find()) words += 1
    val lm = leadWs.matcher(s); lm.find()
    val tm = trailWs.matcher(s); tm.find()
    val start = lm.end()
    val end = math.max(start, tm.start())
    val interior = s.substring(start, end)
    (commas, words, start, end, wsRun.matcher(interior).replaceAll(" ") == interior)
  }

  private def facts(dom: Dom, n: Int): (Int, Int, Int, Int, Boolean) =
    (dom.textCommas(n), dom.textWords(n), dom.textStart(n), dom.textEnd(n), dom.textCollapsed(n))

  /** Every text node's recorded facts equal a recount of its text;
    * returns the text nodes checked.
    */
  private def checkFacts(dom: Dom, what: String): Int = {
    var checked = 0
    var n = 0
    while (n < dom.size) {
      if (dom.isText(n)) {
        val s = dom.text(n)
        assert(facts(dom, n) == recount(s), s"$what, node $n: ${s.take(80)}")
        assert(dom.textWords(n) > 0, s"$what, node $n is whitespace-only")
        checked += 1
      }
      n += 1
    }
    checked
  }

  test("text facts recorded during the parse equal a recount of every text node") {
    val parser = new HtmlParser
    var nodes = 0
    for (id <- 0L until 2000L) {
      val page = SyntheticPages.pageFor(42L, id)
      if (page.html != null) {
        nodes += checkFacts(parser.parse(PageCodec.decode(page.html)), s"page $id")
        parser.release()
      }
    }
    assert(nodes > 90000, nodes) // about 48 text nodes a page

    // every emission path: entities that decode to Python spaces
    // (&#133; remaps to U+2026, not a space), runs merged across a comment
    // or an entity, CR/LF, \x1c-\x1f, U+0085, astral characters, raw
    // text, RCDATA, and a dropped whitespace-only run
    val adversarial = Seq(
      "<p>a&nbsp;b&#x3000;c&#133;d &nbsp; e</p>",
      "<p>&nbsp;lead, trail&#32;</p><p>&#32;</p>",
      "<p>one<!-- c -->two, three <!-- c --> four<!-- c --> five</p>",
      "<p>word,<!-- c -->,next <!-- --> \n <!-- -->x</p>",
      "<p>a<!---->&nbsp;<!---->b</p><p>a&#32;<!---->b</p><p>a <!---->&#x20;b</p>",
      "<p>crlf\r\nline \u001c\u001d\u001e\u001f seps \u0085 nel</p>",
      "<p>astral \ud83d\ude00,\ud83d\ude00 pair</p><p>1 < 2 <</p>",
      "<script> if (a < b) { x = 1,  y } </script><style>\n p { }\n</style>",
      "<title> Tom &amp;&nbsp;Jerry, &#x3000;</title><textarea>a  b&#32;</textarea>",
      "<div> \n\t &nbsp; </div><p>kept</p><xmp>  </xmp><title>\u3000</title>x<")
    for (html <- adversarial) checkFacts(parser.parse(html), html)

    // the merge joins facts: a word spanning the join counts once, and a
    // join of two spaces is not collapsed
    val merged = parser.parse("<p>a,<!---->b c</p><div>x <!----> y</div>")
    val p = onlyText(merged, TagDict.P)
    assert(merged.text(p) == "a,b c" && facts(merged, p) == ((1, 2, 0, 5, true)))
    val d = onlyText(merged, TagDict.Div)
    assert(merged.text(d) == "x  y" && !merged.textCollapsed(d))
  }

  /** The single text child of the first `tag` element. */
  private def onlyText(d: Dom, tag: Int): Int = {
    val c = d.firstChild(d.findFirst(0, tag))
    assert(d.isText(c) && d.nextSib(c) < 0)
    c
  }
}
