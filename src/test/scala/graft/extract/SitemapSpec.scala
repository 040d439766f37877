package graft.extract

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

class SitemapSpec extends AnyFunSuite with SparkSuite {

  import testImplicits._

  private def parse(xml: String) =
    Sitemap.parseSitemaps(Seq((1L, xml)).toDF("site_id", "xml"))
      .orderBy("entry_idx").collect()
      .map(r => (r.getLong(1), r.getString(2), r.getString(3), r.getString(4)))

  test("entries in document order; lastmod/priority optional") {
    val out = parse(
      """<?xml version="1.0"?><urlset>
        |<url><loc> https://a.example/1 </loc><lastmod>2024-01-01</lastmod>
        |<priority>0.8</priority></url>
        |<url><loc>https://a.example/2</loc></url>
        |</urlset>""".stripMargin)
    assert(out.toSeq == Seq(
      (0L, "https://a.example/1", "2024-01-01", "0.8"), // loc trimmed
      (1L, "https://a.example/2", null, null)))
  }

  test("commented-out <url> blocks and loc-less entries contribute no rows") {
    val out = parse(
      """<urlset><!-- <url><loc>https://trap.example/x</loc></url> -->
        |<url><lastmod>2020-01-01</lastmod></url>
        |<url><loc></loc></url>
        |<url><loc>https://real.example/ok</loc></url></urlset>""".stripMargin)
    assert(out.toSeq == Seq((0L, "https://real.example/ok", null, null)))
  }

  test("entities in <loc> decode (&amp; is REQUIRED escaping per the protocol)") {
    val out = parse("<urlset><url><loc>https://e.example/p?a=1&amp;b=2</loc></url></urlset>")
    assert(out.toSeq == Seq((0L, "https://e.example/p?a=1&b=2", null, null)))
  }

  test("malformed input never throws: unclosed tags, null, empty") {
    assert(parse("<urlset><url><loc>https://u.example/x").toSeq ==
      Seq((0L, "https://u.example/x", null, null)))
    assert(parse("").isEmpty)
    val nullOut = Sitemap.parseSitemaps(
      Seq((1L, null.asInstanceOf[String])).toDF("site_id", "xml")).collect()
    assert(nullOut.isEmpty)
  }
}
