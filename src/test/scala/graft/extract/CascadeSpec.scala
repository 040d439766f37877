package graft.extract

import graft.html.HtmlParser
import graft.table.SyntheticPages
import graft.text.PyText
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets

/** Ports the reference's extractor/cascade unit tests (SURVEY.md §5,
  * FIXTURES.md §B) plus the strategy-specific behaviors our goldens pin.
  */
class CascadeSpec extends AnyFunSuite {

  // the reference's inline fixture
  // (tests/unit/test_extractors/test_readability_extractor.py:10-18)
  private val fixtureHtml =
    """
    <html>
      <head><title>A Test Title</title></head>
      <body>
        <p>This is the main article text.</p>
        <footer>This is a footer.</footer>
      </body>
    </html>
    """

  private def strat(html: String, which: String): StratResult = {
    val parser = new HtmlParser
    val dom = parser.parse(html)
    val stats = new DomStats
    stats.compute(dom)
    which match {
      case "http" => Extractors.bs4Strip(dom, stats)
      case "readability" => Extractors.readability(dom, stats)
      case "newspaper" => Extractors.newspaperLike(dom, stats)
    }
  }

  private def cascade(html: String, url: String = "https://example.com/a",
      minLen: Int = 200): Extracted =
    new CascadeExtractor().extract(url,
      if (html == null) null else html.getBytes(StandardCharsets.UTF_8),
      CascadeConfig(minContentLength = minLen))

  test("readability: main text kept, footer dropped, title extracted") {
    val r = strat(fixtureHtml, "readability")
    assert(r.succeeded)
    assert(r.content.contains("This is the main article text"))
    assert(!r.content.contains("This is a footer"))
    assert(r.title == "A Test Title")
  }

  test("readability: exact text and spans") {
    val r = strat(fixtureHtml, "readability")
    assert(r.content == "This is the main article text.")
    assert(r.spans.toSeq == Seq((0, 30, "line")))
  }

  test("bs4 strip: every stripped text node, newline-joined, title first") {
    val r = strat(fixtureHtml, "http")
    assert(r.content ==
      "A Test Title\nThis is the main article text.\nThis is a footer.")
    assert(r.title == "A Test Title")
    assert(r.spans.toSeq == Seq((0, 12, "line"), (13, 43, "line"), (44, 61, "line")))
  }

  test("newspaper: paragraph text, title, no boilerplate") {
    val r = strat(fixtureHtml, "newspaper")
    assert(r.succeeded) // unconditional-success quirk preserved
    assert(r.content == "This is the main article text.")
    assert(r.title == "A Test Title")
  }

  test("newspaper: og:title, authors, publish date classifiers") {
    val html =
      """<html><head>
        |<title>Site Name - Real Title</title>
        |<meta property="og:title" content="The OG Title">
        |<meta name="author" content="Jane Doe">
        |<meta property="article:published_time" content="2024-03-01T12:30:00+00:00">
        |</head><body>
        |<p>First paragraph of the article body with enough words.</p>
        |<p>Second paragraph also has plenty of words in it.</p>
        |</body></html>""".stripMargin
    val r = strat(html, "newspaper")
    assert(r.title == "The OG Title")
    assert(r.author == "Jane Doe")
    assert(r.publishDate != null)
    assert(r.publishDate.toInstant.toString == "2024-03-01T12:30:00Z")
    assert(r.content ==
      "First paragraph of the article body with enough words.\n\n" +
      "Second paragraph also has plenty of words in it.")
    assert(r.spans.toSeq == Seq((0, 54, "para"), (56, 104, "para")))
  }

  test("newspaper: <time datetime> fallback and visible byline") {
    val html =
      """<html><body>
        |<div class="byline">By John Smith</div>
        |<time datetime="2023-11-05">Nov 5</time>
        |<p>Body paragraph with more than five words here.</p>
        |</body></html>""".stripMargin
    val r = strat(html, "newspaper")
    assert(r.author == "John Smith")
    assert(r.publishDate.toInstant.toString == "2023-11-05T00:00:00Z")
  }

  test("newspaper: metadata precedence per key, across authors and across dates") {
    def news(markup: String): StratResult = strat(
      s"<html><body>$markup<p>Body paragraph with more than five words here.</p></body></html>",
      "newspaper")
    // per key the first non-empty content wins, keys ignore case, and
    // authors follow author, byl, dc.creator, article:author, deduplicated
    val r = news(
      """<meta property="og:title" content="  ">
        |<meta property="OG:Title" content="Later OG">
        |<meta property="og:title" content="Ignored OG">
        |<meta name="AUTHOR" content=" ">
        |<meta property="article:author" content="Dave">
        |<meta name="DC.Creator" content="Bob">
        |<meta name="byl" content="Bob">
        |<meta name="author" content="Alice">
        |<meta name="dc.creator" content="Carol">""".stripMargin)
    assert(r.title == "Later OG")
    assert(r.author == "Alice, Bob, Dave")

    // dates: each source in document order after every higher-priority one
    val dates = Seq(
      """<meta property="article:published_time" content="2020-01-01">""",
      """<time datetime="2020-01-02">x</time>""",
      """<meta name="date" content="2020-01-03">""",
      """<meta name="pubdate" content="2020-01-04">""",
      """<meta name="publishdate" content="2020-01-05">""",
      """<meta name="timestamp" content="2020-01-06">""",
      """<meta name="dc.date.issued" content="2020-01-07">""")
    for (i <- dates.indices)
      assert(news(dates.drop(i).reverse.mkString).publishDate.toInstant.toString ==
        s"2020-01-0${i + 1}T00:00:00Z", dates(i))
    // an unparseable higher-priority date is not skipped: the date is null
    assert(news("""<meta property="article:published_time" content="yesterday">""" +
      dates(2)).publishDate == null)

    // with no og:title and no <title>, the h1 title collapses inner whitespace
    assert(news("<h1>  Big \n\t <em>Head</em>   line </h1>").title == "Big Head line")
  }

  test("readability: link-density demotes link farms") {
    val nav = (1 to 30).map(i => s"""<a href="/$i">Category link number $i</a>""").mkString(" ")
    val para = "Sentence with several words, and a comma. " * 10
    val html =
      s"""<html><body>
         |<div id="nav">$nav</div>
         |<div id="story"><p>$para</p></div>
         |</body></html>""".stripMargin
    val r = strat(html, "readability")
    assert(r.content.contains("Sentence with several words"))
    assert(!r.content.contains("Category link number"))
  }

  test("readability: unlikely candidates (sidebar/comment classes) removed") {
    val para = "Real article content sentence, with words and a comma here. " * 6
    val html =
      s"""<html><body>
         |<div class="sidebar"><p>Sidebar junk that is long enough to score paragraphs too, yes it is quite long indeed.</p></div>
         |<div class="article-main"><p>$para</p></div>
         |</body></html>""".stripMargin
    val r = strat(html, "readability")
    assert(r.content.contains("Real article content"))
    assert(!r.content.contains("Sidebar junk"))
  }

  test("cascade: first strategy over threshold wins immediately") {
    val e = cascade(fixtureHtml, minLen = 10)
    assert(e.succeeded && !e.partial)
    assert(e.strategy_used == "newspaper")
    assert(e.extracted_text == "This is the main article text.")
    assert(e.warnings.isEmpty)
  }

  test("cascade: short strategies skipped, longest short returned as partial") {
    // all three under 200 chars → partial, longest (http) wins, warnings set
    val e = cascade(fixtureHtml, minLen = 200)
    assert(e.succeeded && e.partial)
    assert(e.strategy_used == "http")
    assert(e.extracted_text ==
      "A Test Title\nThis is the main article text.\nThis is a footer.")
    assert(e.warnings.size == 1)
    assert(e.warnings.head == "http produced 61 characters (< 200).")
  }

  test("cascade: mid cascade win leaves later strategies unrun") {
    // newspaper gets nothing (no <p>), readability falls back to body text
    val body = "Plain text content that is long enough to pass. " * 6
    val html = s"<html><body><span>$body</span></body></html>"
    val e = cascade(html, minLen = 100)
    assert(e.succeeded && !e.partial)
    assert(e.strategy_used == "readability")
  }

  test("cascade: null/empty html fails as data with reason") {
    val e = cascade(null)
    assert(!e.succeeded && e.failure_reason == "no_html_or_url")
    assert(e.extracted_text == null && e.strategy_used == null)
    val e2 = cascade("   ")
    assert(!e2.succeeded && e2.failure_reason == "no_html_or_url")
  }

  test("cascade: oversized html fails as data") {
    val e = new CascadeExtractor().extract("u", new Array[Byte](1024),
      CascadeConfig(maxHtmlBytes = 512))
    assert(!e.succeeded && e.failure_reason == "oversized")
  }

  test("cascade: missing url skips newspaper, readability still runs") {
    val e = new CascadeExtractor().extract(null,
      fixtureHtml.getBytes(StandardCharsets.UTF_8),
      CascadeConfig(minContentLength = 10))
    assert(e.succeeded)
    assert(e.strategy_used == "readability")
  }

  test("spans index into extracted_text exactly") {
    for (which <- Seq("http", "readability", "newspaper")) {
      val r = strat(fixtureHtml, which)
      r.spans.foreach { case (s, e, _) =>
        assert(s >= 0 && e <= r.content.length && s < e)
      }
      // reassembling segments via spans reproduces the joined text
      val joinSep = if (which == "newspaper") "\n\n" else "\n"
      val rebuilt = r.spans.map { case (s, e, _) => r.content.substring(s, e) }
        .mkString(joinSep)
      assert(rebuilt == r.content)
    }
  }

  test("codec: meta charset sniff (latin-1) and utf-8 fallback") {
    val latin = "<html><head><meta charset=\"iso-8859-1\"></head><body><p>café</p></body></html>"
    val bytes = latin.getBytes(StandardCharsets.ISO_8859_1)
    assert(PageCodec.decode(bytes).contains("café"))
    val utf8 = "<p>café</p>".getBytes(StandardCharsets.UTF_8)
    assert(PageCodec.decode(utf8).contains("café"))
    // malformed bytes never throw
    val bad = Array[Byte](0x3c, 0x70, 0x3e, 0xff.toByte, 0xfe.toByte, 0x3c, 0x2f, 0x70, 0x3e)
    assert(PageCodec.decode(bad).nonEmpty)
  }

  test("codec: BOM wins over meta") {
    val s = "<html><head><meta charset=\"iso-8859-1\"></head><body>é</body></html>"
    val bom = Array[Byte](0xef.toByte, 0xbb.toByte, 0xbf.toByte)
    val bytes = bom ++ s.getBytes(StandardCharsets.UTF_8)
    assert(PageCodec.decode(bytes).contains("é"))
  }

  test("strategy registry drives the cascade (config-ordered, unknown skipped)") {
    val ex = CascadeExtractor.pooled()
    val html = fixtureHtml.getBytes(StandardCharsets.UTF_8)
    assert(CascadeExtractor.registry.keySet == Set("newspaper", "readability", "http"))
    // reorder via config: http first wins when over threshold
    val r = ex.extract("https://x.example/a", html,
      CascadeConfig(strategies = Seq("nope", "http", "newspaper"), minContentLength = 10))
    assert(r.succeeded && r.strategy_used == "http")
  }

  test("short_title: separators and length rule") {
    def title(t: String): String =
      Extractors.shortTitle(new HtmlParser().parse(s"<title>$t</title>"))
    assert(title("A Test Title") == "A Test Title")
    assert(title("The Actual Story Headline Here | SiteName") ==
      "The Actual Story Headline Here")
    assert(title("Site - Short") == "Site - Short") // no 4-word part → orig
  }

  test("replaying parse, stats and each strategy in cascade order equals the cascade on every corpus page") {
    // the layer-by-layer replay the benchmark times: one parser and one
    // DomStats reused across pages, the strategies called directly, the
    // win rule spelled out; a strategy reading state that only the
    // cascade path sets makes the two disagree
    val cfg = CascadeConfig()
    val strategies = Seq[(String, (graft.html.Dom, DomStats) => StratResult)](
      "newspaper" -> Extractors.newspaperLike,
      "readability" -> Extractors.readability,
      "http" -> Extractors.bs4Strip)
    assert(cfg.strategies == strategies.map(_._1))
    val parser = new HtmlParser
    val stats = new DomStats
    val cascade = new CascadeExtractor

    def replay(url: String, html: Array[Byte]): (String, String) =
      if (html == null || html.isEmpty || html.length > cfg.maxHtmlBytes) (null, null)
      else {
        val decoded = PageCodec.decode(html)
        if (PyText.strip(decoded).isEmpty) (null, null)
        else try {
          val dom = parser.parse(decoded)
          stats.compute(dom)
          var won: (String, String) = null
          var best: (String, String) = (null, null)
          var bestLen = 0
          val it = strategies.iterator
          while (won == null && it.hasNext) {
            val (name, run) = it.next()
            if (name != "newspaper" || (url != null && url.nonEmpty)) {
              val r = run(dom, stats)
              if (r.succeeded) {
                val len = PyText.strip(if (r.content == null) "" else r.content).length
                if (len >= cfg.minContentLength) won = (name, r.content)
                else if (len > bestLen) { best = (name, r.content); bestLen = len }
              }
            }
          }
          if (won != null) won else best
        } finally parser.release()
      }

    val differ = (0L until 2000L).filter { id =>
      val page = SyntheticPages.pageFor(42L, id)
      val ex = cascade.extract(page.url, page.html, cfg)
      replay(page.url, page.html) != ((ex.strategy_used, ex.extracted_text))
    }
    assert(differ.isEmpty, s"${differ.size} pages differ, first ${differ.take(5)}")
  }
}
