package graft.table

import org.apache.spark.sql.{Dataset, SparkSession}
import java.nio.charset.StandardCharsets

/** One Common-Crawl-style page row — exactly the driver-mandated input
  * shape (BASELINE.json input_hint):
  * (url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING).
  */
final case class Page(
    url: String,
    warc_ts: java.sql.Timestamp,
    html: Array[Byte],
    text: String,
    lang: String)

/** Deterministic synthetic page corpus (seed-fixed, no wall clock, no
  * external data). Each row is a pure function of (seed, id), so the
  * corpus is identical regardless of partitioning or parallelism — the
  * property the byte-identical goldens and the N-vs-4N scaling bench
  * both rely on.
  *
  * HTML families (FIXTURES.md §A): article (readability/newspaper path),
  * plain (min-length / partial path), soup (malformed-markup path),
  * empty (failure path), oversized (MB-size pages, about half the
  * bytes), skew (one hot host).
  */
object SyntheticPages {

  val families: Seq[String] =
    Seq("article", "plain", "soup", "empty", "oversized", "skew")

  /** xorshift64* — tiny deterministic RNG, one instance per row. */
  final class Rng(seed0: Long) {
    private var s: Long = {
      var z = seed0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def nextLong(): Long = {
      s ^= s >>> 12; s ^= s << 25; s ^= s >>> 27
      s * 0x2545f4914f6cdd1dL
    }
    def nextInt(n: Int): Int = {
      val v = (nextLong() >>> 1) % n
      v.toInt
    }
    def nextDouble(): Double = (nextLong() >>> 11) * 1.1102230246251565e-16
  }

  private val words: Array[String] = Array(
    "the", "quick", "analytics", "engine", "processes", "large", "web",
    "corpus", "data", "with", "spark", "partitions", "every", "document",
    "carries", "text", "and", "metadata", "columns", "extraction",
    "quality", "matters", "for", "training", "pipelines", "tokens",
    "flow", "through", "stages", "while", "filters", "prune", "noise",
    "sentences", "vary", "in", "length", "structure", "some", "contain",
    "numbers", "like", "forty", "two", "others", "reference", "urls",
    "markup", "tables", "headers", "footers", "content", "scoring",
    "ranks", "candidate", "nodes", "by", "density", "links", "dilute",
    "value", "paragraphs", "accumulate", "mass", "readers", "prefer",
    "clean", "articles", "over", "boilerplate", "navigation", "menus",
    "advertising", "banners", "distract", "from", "substance", "good")

  private val langs = Array("en", "en", "en", "en", "en", "en", "en",
    "de", "de", "fr", "es", "zh", "ru", "ja")

  private def sentence(rng: Rng, minW: Int = 6, maxW: Int = 14): String = {
    val n = minW + rng.nextInt(maxW - minW + 1)
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      var w = words(rng.nextInt(words.length))
      if (i == 0) w = w.substring(0, 1).toUpperCase(java.util.Locale.ROOT) + w.substring(1)
      sb.append(w)
      if (i < n - 1) {
        if (rng.nextInt(8) == 0) sb.append(',')
        sb.append(' ')
      }
      i += 1
    }
    sb.append(if (rng.nextInt(10) == 0) "!" else ".")
    sb.toString
  }

  private def paragraph(rng: Rng, sentences: Int): String =
    (0 until sentences).map(_ => sentence(rng)).mkString(" ")

  private def title(rng: Rng): String = {
    val n = 3 + rng.nextInt(5)
    (0 until n).map { _ =>
      val w = words(rng.nextInt(words.length))
      w.substring(0, 1).toUpperCase + w.substring(1)
    }.mkString(" ")
  }

  /** Family of a given row id (stable, independent of everything else). */
  def familyOf(seed: Long, id: Long): String = {
    val r = new Rng(seed * 0x632be59bd9b4e019L + id).nextInt(1000)
    if (r < 550) "article"
    else if (r < 700) "plain"
    else if (r < 850) "soup"
    else if (r < 870) "empty"
    else if (r < 875) "oversized"
    else "skew"
  }

  /** Pure row constructor — usable with or without Spark. */
  def pageFor(seed: Long, id: Long): Page = {
    val rng = new Rng(seed * 0x9e3779b97f4a7c15L + id * 0xc2b2ae3d27d4eb4fL)
    val family = familyOf(seed, id)

    // Zipf-ish host distribution; the skew family all lands on host-0
    val host =
      if (family == "skew") "host-0.example"
      else {
        val z = math.pow(rng.nextDouble(), 3.0)
        s"host-${(z * 500).toInt}.example"
      }
    val url = s"https://$host/${family}/page-$id.html"
    val ts = new java.sql.Timestamp(
      1704067200000L + (id * 37139L) % (365L * 86400L) * 1000L) // 2024 epoch, deterministic
    val lang = langs(rng.nextInt(langs.length))

    val htmlStr: String = family match {
      case "article" | "skew" => articleHtml(rng, id)
      case "plain" =>
        s"<html><body><p>${sentence(rng, 4, 8)}</p></body></html>"
      case "soup" => soupHtml(rng, id)
      case "empty" => if (rng.nextInt(2) == 0) "" else "   \n  "
      case "oversized" =>
        val p = paragraph(rng, 8)
        val reps = 1500 + rng.nextInt(1000)
        val sb = new StringBuilder(reps * (p.length + 9) + 64)
        sb.append("<html><body>")
        (0 until reps).foreach(_ => sb.append("<p>").append(p).append("</p>"))
        sb.append("</body></html>")
        sb.toString
    }

    val teaser =
      if (rng.nextInt(5) == 0) null
      else sentence(rng, 5, 9) // independent pre-extracted teaser text
    val bytes =
      if (family == "soup" && rng.nextInt(3) == 0)
        ("<html><head><meta charset=\"iso-8859-1\"></head><body><p>café " +
         paragraph(rng, 3) + "</p></body></html>")
          .getBytes(StandardCharsets.ISO_8859_1)
      else htmlStr.getBytes(StandardCharsets.UTF_8)

    Page(url, ts, bytes, teaser, lang)
  }

  private def articleHtml(rng: Rng, id: Long): String = {
    val t = title(rng)
    val nParas = 5 + rng.nextInt(46)
    val hasOg = rng.nextInt(3) != 0
    val hasAuthor = rng.nextInt(2) == 0
    val hasDate = rng.nextInt(2) == 0
    val sb = new StringBuilder(4096)
    sb.append("<!DOCTYPE html><html><head><title>").append(t)
      .append(" | SyntheticNews</title>")
    if (hasOg) sb.append("<meta property=\"og:title\" content=\"").append(t).append("\">")
    if (hasAuthor) sb.append("<meta name=\"author\" content=\"Author ")
      .append(rng.nextInt(100)).append("\">")
    if (hasDate) sb.append("<meta property=\"article:published_time\" content=\"2024-")
      .append(f"${1 + rng.nextInt(12)}%02d-${1 + rng.nextInt(28)}%02d")
      .append("T08:30:00+00:00\">")
    sb.append("<style>body { font: 12px serif }</style>")
    sb.append("<script>var tracker = \"<div>\" + 1;</script>")
    sb.append("</head><body>")
    sb.append("<header><nav>")
    (0 until 8).foreach { i =>
      sb.append("<a href=\"/section-").append(i).append("\">Section ")
        .append(words(rng.nextInt(words.length))).append("</a> ")
    }
    sb.append("</nav></header>")
    sb.append("<div class=\"content\" id=\"main\">")
    sb.append("<h1>").append(t).append("</h1>")
    (0 until nParas).foreach { _ =>
      sb.append("<p>").append(paragraph(rng, 2 + rng.nextInt(4))).append("</p>")
    }
    sb.append("</div>")
    sb.append("<div class=\"sidebar\"><ul>")
    (0 until 10).foreach { i =>
      sb.append("<li><a href=\"/rel-").append(i).append("\">Related ")
        .append(words(rng.nextInt(words.length))).append("</a></li>")
    }
    sb.append("</ul></div>")
    sb.append("<footer>Copyright 2024 SyntheticNews. <a href=\"/terms\">Terms</a></footer>")
    sb.append("</body></html>")
    sb.toString
  }

  private def soupHtml(rng: Rng, id: Long): String = {
    val sb = new StringBuilder(1024)
    sb.append("<html><body>")
    sb.append("<!-- comment with <p>fake markup</p> inside -->")
    sb.append("<div><p>").append(paragraph(rng, 3))
    sb.append("<p>Unclosed paragraph with entities &amp; &lt;tags&gt; &#8212; and more ")
      .append(sentence(rng))
    sb.append("<table><tr><td>cell ").append(words(rng.nextInt(words.length)))
      .append("<td>next ").append(sentence(rng, 4, 7))
    sb.append("<script>document.write(\"<p>not text</p>\");</script>")
    sb.append("<div class=\"weird attr=\" broken>").append(sentence(rng))
    if (rng.nextInt(2) == 0) sb.append("</div></body></html>")
    sb.toString
  }

  /** Distributed generator: n rows as a Dataset[Page]. */
  def generate(spark: SparkSession, n: Long, seed: Long = 42,
      partitions: Int = 32): Dataset[Page] = {
    import spark.implicits._
    spark.range(0, n, 1, partitions).mapPartitions { ids =>
      ids.map(id => pageFor(seed, id))
    }
  }
}
