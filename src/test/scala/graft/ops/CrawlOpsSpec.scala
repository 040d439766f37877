package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CrawlOpsSpec extends AnyFunSuite with SparkSuite {

  import testImplicits._

  test("snapshotDiff: all four statuses, digest null on the absent side") {
    val prev = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val curr = Seq((2L, "b"), (3L, "c2"), (4L, "d")).toDF("doc_id", "text")
    val out = CrawlOps.snapshotDiff(prev, curr)
      .orderBy("doc_id").collect()
    assert(out.map(r => r.getLong(0) -> r.getString(1)).toSeq ==
      Seq(1L -> "removed", 2L -> "unchanged", 3L -> "changed", 4L -> "added"))
    assert(out(0).isNullAt(3) && !out(0).isNullAt(2)) // removed: new null
    assert(out(3).isNullAt(2) && !out(3).isNullAt(3)) // added: old null
    assert(out(1).getString(2) == out(1).getString(3)) // unchanged: equal
    assert(out(2).getString(2) != out(2).getString(3)) // changed: differ
  }

  test("anchorSummary: top anchor by count, ties broken by anchor asc") {
    val links = Seq(
      (1L, 9L, "beta"), (2L, 9L, "beta"), (2L, 9L, "alpha"),
      (3L, 9L, "alpha"), // 9: beta=2 alpha=2 -> tie -> alpha wins
      (1L, 8L, "only"), (1L, 8L, "only") // 8: one distinct src, 2 mentions
    ).toDF("u", "v", "anchor")
    val out = CrawlOps.anchorSummary(links).orderBy("doc_id").collect()
    val by = out.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4))).toMap
    assert(by(9L) == ((3L, 4L, "alpha", 2L)))
    assert(by(8L) == ((1L, 2L, "only", 2L)))
  }

  test("stratifiedSample: partitioning-independent and equal to the global rank") {
    val rows = (0L until 500L).map(i => (s"s${i % 3}", i)).toDF("lang", "doc_id")
    val k = 7
    def run(parts: Int) =
      CrawlOps.stratifiedSample(rows.repartition(parts), "lang", "doc_id", k)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val a = run(1)
    val b = run(13)
    assert(a == b, "sample depends on partitioning")
    // independent recomputation: global k smallest priorities per stratum
    val expect = (0L until 500L).groupBy(i => s"s${i % 3}").flatMap {
      case (s, ids) =>
        ids.sortBy(i => (CrawlOps.priorityOf(i), i)).take(k).zipWithIndex
          .map { case (i, r) => (s, i, (r + 1).toLong) }
    }.toSet
    assert(a == expect)
  }

  test("stratifiedSample: partial pass emits at most k candidates per stratum") {
    val out = CrawlOps.partialSample(
      (0L until 100L).iterator.map(i => ("x", i)), 5).toSeq
    assert(out.size == 5)
    assert(out.map(_._2).toSet.subsetOf((0L until 100L).toSet))
  }

  test("politenessSchedule: priority order, key tiebreak, default delay") {
    val frontier = Seq(
      (1L, "a", 10L), (2L, "a", 30L), (3L, "a", 30L), // a: 2 (tie->2 first), 3, 1
      (4L, "b", 5L) // b: alone, unknown host -> default delay
    ).toDF("doc_id", "host", "priority")
    val delays = Seq(("a", 100L)).toDF("host", "delay_ms")
    val out = CrawlOps.politenessSchedule(frontier, delays, defaultDelayMs = 777L)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(out(2L) == ((0L, 0L)))   // highest priority, lowest key
    assert(out(3L) == ((1L, 100L))) // tie broken by key asc
    assert(out(1L) == ((2L, 200L)))
    assert(out(4L) == ((0L, 0L)))   // slot 0 costs 0 even at default delay
    // a second url on the unknown host pays the default spacing
    val out2 = CrawlOps.politenessSchedule(
      frontier.union(Seq((5L, "b", 1L)).toDF("doc_id", "host", "priority")),
      delays, defaultDelayMs = 777L)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(out2(5L) == 777L)
  }

  test("parseRobots: groups, comments, case, multi-agent, orphans, unknown directives") {
    val body =
      """# preamble comment
        |Disallow: /orphan/
        |User-agent: *
        |Disallow: /a/ # inline comment
        |CRAWL-DELAY:  7
        |Sitemap: https://x.example/sitemap.xml
        |
        |user-agent: botA
        |User-Agent: botB
        |Allow:
        |no colon line
        |Disallow: /b/""".stripMargin
    val out = CrawlOps.parseRobots(Seq((1L, body)).toDF("host_id", "robots"))
      .orderBy("rule_idx", "agent").collect()
      .map(r => (r.getString(1), r.getLong(2), r.getString(3), r.getString(4)))
    assert(out.toSeq == Seq(
      ("*", 0L, "disallow", "/a/"),       // orphan /orphan/ dropped
      ("*", 1L, "crawl-delay", "7"),      // case-insensitive, Sitemap ignored
      ("botA", 2L, "allow", ""),          // blank line did NOT close the group
      ("botB", 2L, "allow", ""),          // two agents share the rule + idx
      ("botA", 3L, "disallow", "/b/"),
      ("botB", 3L, "disallow", "/b/")))
    // null body yields nothing, never throws
    assert(CrawlOps.parseRobots(
      Seq((2L, null.asInstanceOf[String])).toDF("host_id", "robots"))
      .collect().isEmpty)
  }

  test("hostQuality: shrinkage pulls small hosts toward the global mean, exact integers") {
    // host big: 10 docs at 9000; host tiny: 1 doc at 0
    val docs = ((0 until 10).map(_ => ("big", 9000L)) :+ (("tiny", 0L)))
      .toDF("host", "score")
    val out = CrawlOps.hostQuality(docs, k = 5).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val g = 90000L / 11L // 8181
    assert(out("big") == ((10L, 9000L, (90000L + 5 * g) / 15L)))
    assert(out("tiny") == ((1L, 0L, (0L + 5 * g) / 6L)))
    // the shrunk tiny host sits far from its raw 0, near-ish the global mean
    assert(out("tiny")._3 > 6000L && out("big")._3 < 9000L)
  }
}
