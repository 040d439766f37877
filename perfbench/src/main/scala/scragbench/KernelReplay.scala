package scragbench

import scala.collection.mutable

import graft.extract.{CascadeConfig, CascadeExtractor, DomStats, Extractors, PageCodec, StratResult}
import graft.html.{Dom, HtmlParser}
import graft.table.Page
import graft.text.PyText

/** Single-thread, driver-side replay of the extraction kernel, one
  * public layer at a time: decode, parse, DOM stats, then each strategy
  * in cascade order with the cascade's win rule. The replay's outcome
  * must equal [[CascadeExtractor.extract]] on every page; the sum of its
  * parts against the cascade's own time is `extract.replay_coverage`.
  */
object KernelReplay {

  private val strategies: Seq[(String, (Dom, DomStats) => StratResult)] = Seq(
    "newspaper" -> Extractors.newspaperLike,
    "readability" -> Extractors.readability,
    "http" -> Extractors.bs4Strip)

  /** Outcome of one replayed page: winning strategy (null if none) and
    * its text, mirroring the cascade's documented rule.
    */
  private final case class Outcome(strategy: String, text: String)

  def run(pages: Seq[Page], h: Harness): Unit = {
    val cfg = CascadeConfig()
    require(cfg.strategies == strategies.map(_._1), "replay order differs from the cascade default")
    val parser = new HtmlParser
    val stats = new DomStats
    val ns = mutable.LinkedHashMap[String, Long]().withDefaultValue(0L)
    val attempts = mutable.Map[String, Long]().withDefaultValue(0L)
    val wins = mutable.Map[String, Long]().withDefaultValue(0L)
    var parsed = 0L
    var nodes = 0L
    var mismatches = 0
    val cascade = new CascadeExtractor

    def timed[T](key: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      ns(key) += System.nanoTime() - t0
      r
    }

    for (p <- pages) {
      val outcome: Outcome =
        if (p.html == null || p.html.isEmpty || p.html.length > cfg.maxHtmlBytes) Outcome(null, null)
        else {
          val decoded = timed("decode")(PageCodec.decode(p.html))
          if (PyText.strip(decoded).isEmpty) Outcome(null, null)
          else try {
            val dom = timed("parse")(parser.parse(decoded))
            parsed += 1
            nodes += dom.size
            timed("stats")(stats.compute(dom))
            var best: Outcome = null
            var bestLen = 0
            var won: Outcome = null
            val it = strategies.iterator
            while (won == null && it.hasNext) {
              val (name, run) = it.next()
              if (name != "newspaper" || (p.url != null && p.url.nonEmpty)) {
                attempts(name) += 1
                val r = timed(name)(run(dom, stats))
                if (r.succeeded) {
                  val content = if (r.content == null) "" else r.content
                  val len = PyText.strip(content).length
                  if (len < cfg.minContentLength) {
                    if (len > bestLen) { best = Outcome(name, r.content); bestLen = len }
                  } else if (content.nonEmpty) {
                    won = Outcome(name, r.content)
                    wins(name) += 1
                  }
                }
              }
            }
            if (won != null) won else if (best != null) best else Outcome(null, null)
          } finally parser.release()
        }
      val t0 = System.nanoTime()
      val ex = cascade.extract(p.url, p.html, cfg)
      ns("cascade") += System.nanoTime() - t0
      if (ex.strategy_used != outcome.strategy || ex.extracted_text != outcome.text) mismatches += 1
    }

    val n = pages.size.toDouble
    def us(key: String, per: Double) = if (per > 0) ns(key) / 1e3 / per else 0.0
    h.layers("extract.decode_us") = us("decode", n)
    h.layers("html.parse_us") = us("parse", n)
    h.layers("html.nodes_per_page") = if (parsed > 0) nodes.toDouble / parsed else 0.0
    h.layers("extract.stats_us") = us("stats", n)
    for ((name, _) <- strategies) {
      val a = attempts(name).toDouble
      h.layers(s"extract.${name}_us") = us(name, a)
      h.layers(s"extract.${name}_attempts") = a
      h.layers(s"extract.${name}_wins") = wins(name).toDouble
      h.layers(s"extract.${name}_yield") = if (a > 0) wins(name) / a else 0.0
    }
    h.layers("extract.cascade_us") = us("cascade", n)
    val parts = Seq("decode", "parse", "stats").map(ns).sum + strategies.map(s => ns(s._1)).sum
    h.layers("extract.replay_coverage") = if (ns("cascade") > 0) parts.toDouble / ns("cascade") else 0.0
    h.info("replay_pages") = pages.size
    h.attempt("replay") {
      Harness.gate(mismatches == 0, s"$mismatches of ${pages.size} replayed pages differ from the cascade")
    }
  }
}
