package graft.extract

import graft.html.HtmlParser
import graft.text.PyText
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions.col

/** Character-offset span of an emitted segment inside extracted_text. */
final case class Span(start: Int, end: Int, kind: String)

/** One extraction-result row — the typed output of the cascade
  * (SURVEY.md §1.2; the reference's ExtractionResult + the metadata keys
  * the pipeline actually reads, as typed columns).
  */
final case class Extracted(
    url: String,
    extracted_text: String,
    spans: Seq[Span],
    strategy_used: String,
    succeeded: Boolean,
    failure_reason: String,
    partial: Boolean,
    title: String,
    author: String,
    publish_date: java.sql.Timestamp,
    warnings: Seq[String])

/** Cascade configuration — mirrors the reference defaults:
  * strategy order newspaper → readability → http
  * (config/default.yml:8-11), minimum_content_length 200
  * (config/default.yml:14).
  */
final case class CascadeConfig(
    strategies: Seq[String] = Seq("newspaper", "readability", "http"),
    minContentLength: Int = 200,
    maxHtmlBytes: Int = 64 << 20)

/** The confidence-ranking cascade (reference semantics,
  * core/pipeline.py:99-156):
  *
  *  1. strategies run in configured order; unsupported ones skipped;
  *  2. a failed strategy records its reason and the cascade continues;
  *  3. a result shorter (Python-strip length) than minContentLength
  *     records "<name> produced N characters (< M)." and is kept as the
  *     best-short fallback iff strictly longer than the previous best;
  *  4. the first strategy at/over the threshold with non-empty content
  *     wins immediately — later strategies never run (short-circuit,
  *     observable via strategy_used and required at 10^12-row scale);
  *  5. if none won, the longest short result returns with partial=true
  *     and the last recorded failure reason appended as a warning;
  *  6. if nothing succeeded the row carries succeeded=false and the
  *     reason — errors are data, not task exceptions (the reference's
  *     all-fail RuntimeError becomes a driver-side assertion).
  *
  * One HTML parse + one stats pass per row, shared by all strategies;
  * parser, DOM arena and stat arrays are pooled per thread.
  */
final class CascadeExtractor {
  private val parser = new HtmlParser
  private val stats = new DomStats

  def extract(url: String, html: Array[Byte], cfg: CascadeConfig): Extracted = {
    try extractUnsafe(url, html, cfg)
    catch {
      case e: Throwable =>
        fail(url, s"extractor_error: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    // end-of-row: unpin the page source from the pooled parser — the
    // Extracted result owns only fresh strings, never dom.src slices
    finally parser.release()
  }

  private def fail(url: String, reason: String): Extracted =
    Extracted(url, null, Nil, null, succeeded = false, reason,
      partial = false, null, null, null, Nil)

  private def extractUnsafe(url: String, html: Array[Byte], cfg: CascadeConfig): Extracted = {
    if (html == null || html.length == 0) return fail(url, "no_html_or_url")
    if (html.length > cfg.maxHtmlBytes) return fail(url, "oversized")

    val decoded = PageCodec.decode(html)
    if (PyText.strip(decoded).isEmpty) return fail(url, "no_html_or_url")

    val dom = parser.parse(decoded)
    stats.compute(dom)

    var failureReason: String = null
    var bestShort: StratResult = null
    var bestShortName: String = null
    var bestShortLen = 0

    val it = cfg.strategies.iterator
    while (it.hasNext) {
      val name = it.next()
      // unknown names silently skipped (extractors/__init__.py:21-37)
      val strategy = CascadeExtractor.registry.get(name)
      val supported = strategy.exists(_.supports(url))
      if (supported) {
        val r = strategy.get.run(dom, stats)
        if (!r.succeeded) {
          failureReason =
            if (r.reason != null) r.reason else s"$name reported failure"
        } else {
          val content = if (r.content == null) "" else r.content
          val trimmedLen = PyText.strip(content).length
          if (trimmedLen < cfg.minContentLength) {
            failureReason =
              s"$name produced $trimmedLen characters (< ${cfg.minContentLength})."
            if (trimmedLen > bestShortLen) {
              bestShort = r; bestShortName = name; bestShortLen = trimmedLen
            }
          } else if (content.nonEmpty) {
            return win(url, name, r, partial = false, Nil)
          }
        }
      }
    }

    if (bestShort != null) {
      val warning =
        if (failureReason != null) failureReason
        else s"Content shorter than minimum threshold of ${cfg.minContentLength} characters."
      win(url, bestShortName, bestShort, partial = true, Seq(warning))
    } else {
      fail(url,
        if (failureReason != null) failureReason
        else "All extractors failed to retrieve content")
    }
  }

  private def win(url: String, name: String, r: StratResult,
      partial: Boolean, warnings: Seq[String]): Extracted =
    Extracted(url, r.content,
      r.spans.map { case (s, e, k) => Span(s, e, k) }.toSeq,
      name, succeeded = true, null, partial,
      r.title, r.author, r.publishDate, warnings)
}

object CascadeExtractor {
  /** One registered strategy: a supports() gate over the url (the only
    * context the reference gates on pre-parse) plus the DOM kernel.
    */
  final case class Strategy(
      supports: String => Boolean,
      run: (graft.html.Dom, DomStats) => StratResult)

  /** Strategy registry (the reference's EXTRACTOR_REGISTRY + supports
    * gates, core/extractors/__init__.py:11-18; supports semantics per
    * SURVEY.md §2.2 — the reference's readability `html` AttributeError
    * quirk is not reproduced). Cascade order remains config-driven
    * (CascadeConfig.strategies / ScragConfig "pipeline.extractors").
    */
  val registry: Map[String, Strategy] = Map(
    "newspaper" -> Strategy(url => url != null && url.nonEmpty, Extractors.newspaperLike),
    "readability" -> Strategy(_ => true, Extractors.readability),
    "http" -> Strategy(_ => true, Extractors.bs4Strip))

  private val pool = new ThreadLocal[CascadeExtractor] {
    override def initialValue(): CascadeExtractor = new CascadeExtractor
  }
  /** Per-thread pooled extractor (parser + DOM arena + stat arrays). */
  def pooled(): CascadeExtractor = pool.get()
}

/** Dataset-level entry points. */
object Extract {

  /** pages(url, html, ...) → Dataset[Extracted]; per-row, shuffle-free.
    * Cheap Catalyst predicates (html IS NOT NULL etc.) should be applied
    * by the caller BEFORE this opaque kernel so parquet pushdown still
    * fires (SURVEY.md §4).
    *
    *  - `strategyHist`: per-strategy row counts collected inside the
    *    kernel itself during whatever action the caller runs — no extra
    *    pass, no per-row serde detour (an earlier map-over-Row layer
    *    cost one full row-codec pass on the north-star hot path).
    */
  def extractPages(pages: DataFrame,
      cfg: CascadeConfig = CascadeConfig(),
      strategyHist: Option[graft.util.MapAccumulator] = None): Dataset[Extracted] = {
    def count(r: Extracted): Extracted = {
      strategyHist.foreach(a =>
        a.add(if (r.strategy_used == null) "FAILED" else r.strategy_used))
      r
    }
    pages.select(col("url"), col("html"))
      .as(pageEncoder)
      .mapPartitions { it =>
        val ex = CascadeExtractor.pooled()
        it.map { case (u, h) => count(ex.extract(u, h, cfg)) }
      }(extractedEncoder)
  }

  // Derived once: deriving a product encoder reflects over its type,
  // which profiled as the largest part of planning an extraction unit
  private lazy val pageEncoder = Encoders.product[(String, Array[Byte])]
  private lazy val extractedEncoder = Encoders.product[Extracted]
}
