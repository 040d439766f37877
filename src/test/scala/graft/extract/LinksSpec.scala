package graft.extract

import graft.SparkSuite
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** DOM-based out-link extraction: the adversarial shapes the planted
  * driver query (html_links) cannot oracle with a regex-free SQL —
  * comment/script traps, nested markup in anchors, entity decode,
  * host resolution branches, hrefless anchors.
  */
class LinksSpec extends AnyFunSuite with SparkSuite {

  private def links(html: String, url: String = "https://s.example/p") = {
    import testImplicits._
    Links.extractLinks(
        Seq((1L, url, html)).toDF("doc_id", "url", "html"))
      .orderBy(col("link_idx")).collect()
      .map(r => (r.getString(2), r.getString(3), r.getString(4))).toSeq
  }

  test("comment and script anchors are invisible; real anchors survive") {
    val html = """<html><body>
      |<!-- <a href="/commented">ghost</a> -->
      |<script>document.write('<a href="/scripted">ghost</a>');</script>
      |<a href="/real">Real</a>
      |</body></html>""".stripMargin
    assert(links(html) == Seq(("/real", "Real", "s.example")))
  }

  test("anchor text concatenates nested markup's text nodes; entities decode") {
    val html = """<a href="/x"><b>Bo</b>ld &amp; <i>nested</i></a>"""
    assert(links(html) == Seq(("/x", "Bold & nested", "s.example")))
  }

  test("host resolution: absolute, protocol-relative, rooted, fragment, empty") {
    val html =
      """<a href="https://other.example/deep?q=1">abs</a>
        |<a href="//cdn.example/lib.js">proto</a>
        |<a href="/rooted">root</a>
        |<a href="rel/path">rel</a>
        |<a href="#frag">frag</a>
        |<a href="">self</a>
        |<a name="no-href">skip me</a>""".stripMargin
    assert(links(html) == Seq(
      ("https://other.example/deep?q=1", "abs", "other.example"),
      ("//cdn.example/lib.js", "proto", "cdn.example"),
      ("/rooted", "root", "s.example"),
      ("rel/path", "rel", "s.example"),
      ("#frag", "frag", "s.example"),
      ("", "self", "s.example")))
  }

  test("href entity decode + document order across structure") {
    val html =
      """<nav><a href="/a&amp;b">first</a></nav>
        |<div><p><a href="/second">second</a></p></div>""".stripMargin
    assert(links(html) == Seq(
      ("/a&b", "first", "s.example"),
      ("/second", "second", "s.example")))
  }

  test("null/empty html and pages without anchors emit nothing") {
    import testImplicits._
    val out = Links.extractLinks(Seq(
      (1L, "https://s.example/p", null.asInstanceOf[String]),
      (2L, "https://s.example/p", ""),
      (3L, "https://s.example/p", "<html><body><p>plain</p></body></html>")
    ).toDF("doc_id", "url", "html")).collect()
    assert(out.isEmpty)
  }

  test("partitioning-independent over the synthetic corpus") {
    import testImplicits._
    def run(parts: Int) = {
      val pages = graft.table.SyntheticPages
        .generate(spark, 150, seed = 42, partitions = parts)
        .toDF()
        .select(col("url"), col("html").cast("string").as("html"))
        .withColumn("doc_id", org.apache.spark.sql.functions
          .monotonically_increasing_id())
      // key by url (stable), not the partition-dependent synthetic id
      Links.extractLinks(pages.select(col("doc_id"), col("url"), col("html")))
        .join(pages.select(col("doc_id"), col("url").as("u")), "doc_id")
        .select(col("u"), col("link_idx"), col("href"), col("anchor"),
          col("dst_host"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2),
          r.getString(3), r.getString(4))).toSet
    }
    assert(run(3) == run(11))
    // the article family must yield its 19 planted links per page
    val counts = run(3).groupBy(_._1).map { case (u, ls) => (u, ls.size) }
    assert(counts.filter(_._1.contains("/article/")).forall(_._2 == 19))
  }
}
