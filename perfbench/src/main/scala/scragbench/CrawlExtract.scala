package scragbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.extract.{CascadeConfig, CascadeExtractor}
import graft.jobs.{ExtractJob, ExtractJobConfig}
import graft.table.{IcebergLite, SyntheticPages}
import Harness.gate

/** `crawl_extract`: seeded pages in the generator's natural family mix,
  * staged as parquet in units, through `ExtractJob.runUnits` (url-hash
  * mode) into an [[IcebergLite]] table. The one-thread pass covers a
  * quarter of the units; `scaling_eff` compares it with the full-width
  * pass. A query reads one url's result back.
  *
  * The corpus holds each family in its exact expected share (the first
  * ids of each family), the same in every unit, so seeds vary the pages
  * but not the mix; at seed 42 it includes every id below 2000 for the
  * golden check.
  */
final class CrawlExtract(h: Harness, scale: Double) extends Workload(h) {
  private val units = 4
  private val nPages = math.max(1, (12288 * scale / 16).toInt) * 16
  private val perUnit = nPages / units
  val passSeconds = 5.0
  private val full = h.maxThreads
  private var stageDir: String = _
  private var latest: IcebergLite = _
  /** The committed table as the query client opened it. */
  private var latestDf: DataFrame = _
  private var goldenChecked = false
  private var corpus: Array[Long] = Array.empty
  private val rng = new SyntheticPages.Rng(h.seed ^ 0x5ca1ab1eL)

  /** url -> (strategy_used, extracted_text) from a driver-side cascade. */
  private val expected = mutable.HashMap.empty[String, (String, String)]
  private val sampleIds: Array[Long] = Array.fill(units * 4)(0L)
  private val queryUrls: Array[String] = new Array[String](64)

  /** The units a one-thread pass covers. */
  private def quarter(pass: Int): Seq[Int] = {
    val k = units / 4
    (0 until k).map(i => (pass * k + i) % units)
  }

  /** Family shares of SyntheticPages.familyOf, per mille. */
  private val mix = Seq("article" -> 550, "plain" -> 150, "soup" -> 150,
    "empty" -> 20, "oversized" -> 5, "skew" -> 125)

  /** The staged ids in unit order: the first ids of each family up to
    * its share, dealt round-robin per family across the units so every
    * unit holds the same mix.
    */
  private def corpusIds(): Array[Long] = {
    // every family's quota a multiple of the unit count, so each unit
    // gets exactly the same number of pages of each family
    val quota = mutable.LinkedHashMap(mix.map { case (f, pm) => f -> nPages * pm / 1000 / units * units }: _*)
    quota("article") += nPages - quota.values.sum
    val perUnitIds = Array.fill(units)(mutable.ArrayBuffer.empty[Long])
    val taken = mutable.Map.empty[String, Int].withDefaultValue(0)
    var id = 0L
    while (perUnitIds.map(_.size).sum < nPages) {
      val f = SyntheticPages.familyOf(h.seed, id)
      if (taken(f) < quota(f)) {
        // article fills what the other families leave, so each unit ends
        // at exactly perUnit pages
        val u = (0 until units).map(k => (taken(f) + k) % units).find(perUnitIds(_).size < perUnit)
        u.foreach { k => perUnitIds(k) += id; taken(f) += 1 }
      }
      id += 1
    }
    perUnitIds.flatMap(_.sorted)
  }

  private def page(id: Long) = SyntheticPages.pageFor(h.seed, id)

  private def expect(id: Long): Unit = {
    val p = page(id)
    val ex = CascadeExtractor.pooled().extract(p.url, p.html, CascadeConfig())
    expected(p.url) = (ex.strategy_used, ex.extracted_text)
  }

  def stage(dir: Path): Unit = {
    val spark = h.spark
    import spark.implicits._
    val seed = h.seed
    val per = perUnit
    stageDir = dir.resolve("pages").toString
    val ids = corpusIds()
    // slices of the id list align with units (perUnit is a multiple of
    // 4), so every unit is staged as four files
    spark.sparkContext.parallelize(ids.toSeq.zipWithIndex, units * 4)
      .map { case (id, i) =>
        val p = SyntheticPages.pageFor(seed, id)
        (p.url, p.warc_ts, p.html, p.text, p.lang, i / per)
      }
      .toDF("url", "warc_ts", "html", "text", "lang", "unit")
      .write.partitionBy("unit").parquet(stageDir)
    // the seed fixes the corpus, so the expectations hold for every set-up
    if (expected.isEmpty) h.untimed {
      for (u <- 0 until units; k <- 0 until 4) {
        val id = ids(u * perUnit + rng.nextInt(perUnit))
        sampleIds(u * 4 + k) = id
        expect(id)
      }
      for (i <- queryUrls.indices) {
        val id = ids(rng.nextInt(nPages))
        expect(id)
        queryUrls(i) = page(id).url
      }
    }
    corpus = ids
    h.info("pages") = nPages
    h.info("units") = units
    h.info("staged_bytes") = parquetBytes(stageDir)
  }

  private def unitPages(u: Int): DataFrame = h.spark.read.parquet(s"$stageDir/unit=$u")

  def warmUp(): Unit = {
    val spark = h.session(full)
    val out = new IcebergLite(tableDir("crawl-warm"))
    ExtractJob.runUnits(spark, _ => unitPages(0), out,
      ExtractJobConfig(nUnits = 1, partitionsPerUnit = full))
    latest = out
    latestDf = out.read(spark)
    (0 until 2).map(k => page(sampleIds(k)).url).foreach(lookup)
    dropTable(out)
    latest = null
  }

  def batch(threads: Int, round: Int): Unit = {
    val spark = h.session(threads)
    val unitIds = if (threads == full) 0 until units else quarter(round)
    val out = new IcebergLite(tableDir(s"crawl-r$round-t$threads"))
    val starts = mutable.ArrayBuffer.empty[Long]
    var unitSpan: Span = null
    var error: Throwable = null
    val root = h.tracer.open("crawl_extract")
    val t0 = System.nanoTime()
    try ExtractJob.runUnits(spark, { i =>
        starts += System.nanoTime()
        h.tracer.close(unitSpan)
        unitSpan = h.tracer.open("crawl_extract.unit")
        if (unitSpan != null) unitSpan.attrs("cores") = threads
        unitPages(unitIds(i))
      }, out, ExtractJobConfig(nUnits = unitIds.size, partitionsPerUnit = threads))
    catch { case NonFatal(e) => error = e }
    finally { h.tracer.close(unitSpan); h.tracer.close(root) }
    val end = System.nanoTime()
    if (error != null) h.failures += s"runUnits: ${error.getClass.getSimpleName}: ${error.getMessage}"

    val okUnits = verify(out, unitIds)
    if (error == null && okUnits == unitIds.size) {
      h.rate(round, threads, unitIds.size * perUnit / ((end - t0) / 1e9))
      if (threads == full) {
        if (latest != null) dropTable(latest)
        latest = out
        latestDf = out.read(spark)
      } else dropTable(out)
    }
  }

  /** Gate every unit of a pass; returns how many passed. */
  private def verify(out: IcebergLite, unitIds: Seq[Int]): Int = {
    val spark = h.spark
    val man = try manifest(out) catch { case NonFatal(_) => Map.empty[Int, Map[String, String]] }
    val back = try rowsPerUnit(out) catch { case NonFatal(_) => Map.empty[Int, Long] }
    val urls = unitIds.flatMap(u => (0 until 4).map(k => page(sampleIds(u * 4 + k)).url))
    val committed =
      try out.read(spark).where(col("url").isin(urls: _*))
        .select("url", "strategy_used", "extracted_text").collect()
        .map(r => r.getString(0) -> ((r.getString(1), r.getString(2)))).toMap
      catch { case NonFatal(_) => Map.empty[String, (String, String)] }
    var ok = 0
    for ((u, i) <- unitIds.zipWithIndex) {
      if (h.attempt("unit") {
        val m = man.getOrElse(i, Map.empty)
        gate(m.get("rows").contains(perUnit.toString), s"unit $u: manifest rows ${m.get("rows")} != staged $perUnit")
        gate(back.get(i).contains(perUnit.toLong), s"unit $u: read back ${back.get(i)} rows, manifest $perUnit")
        for (k <- 0 until 4) {
          val url = page(sampleIds(u * 4 + k)).url
          gate(committed.get(url) == expected.get(url), s"unit $u: committed result for $url differs from the cascade")
        }
      }) ok += 1
    }
    if (h.seed == 42 && !goldenChecked && unitIds.size == units) {
      // the golden corpus digests are generated at seed 42
      goldenChecked = true
      h.attempt("golden")(checkGolden(out))
    }
    ok
  }

  /** At seed 42 the committed rows of ids below 2000 must reproduce the
    * repository's golden corpus digests line for line.
    */
  private def checkGolden(out: IcebergLite): Unit = {
    val golden = Paths.get("src/test/resources/golden/corpus_digests.txt")
    gate(Files.exists(golden), s"missing $golden")
    val want = new String(Files.readAllBytes(golden), StandardCharsets.UTF_8).split("\n").toSeq
    val n = want.size
    val rows = out.read(h.spark)
      .withColumn("id", regexp_extract(col("url"), "page-(\\d+)\\.html$", 1).cast("long"))
      .where(col("id") < n)
      .select(col("id"), col("url"), col("strategy_used"), col("succeeded"), col("partial"),
        col("extracted_text"), col("title"), col("author"), col("publish_date"),
        col("failure_reason"), col("warnings"), size(col("spans")))
      .collect().sortBy(_.getLong(0))
    gate(rows.length == n, s"golden: ${rows.length} committed rows below id $n")
    def orDash(s: String) = if (s == null) "-" else s
    val got = rows.map { r =>
      val text = r.getString(5)
      val hash =
        if (text == null) "-"
        else MessageDigest.getInstance("SHA-256").digest(text.getBytes(StandardCharsets.UTF_8))
          .map("%02x".format(_)).mkString.take(16)
      val date = if (r.isNullAt(8)) "-" else r.getTimestamp(8).toInstant.toString
      val warnings = r.getSeq[String](10).mkString(";") match { case "" => "-"; case w => w }
      s"${r.getLong(0)}|${r.getString(1)}|${orDash(r.getString(2))}|${r.getBoolean(3)}|${r.getBoolean(4)}|" +
        s"${if (text == null) -1 else text.length}|$hash|${orDash(r.getString(6))}|${orDash(r.getString(7))}|" +
        s"$date|${orDash(r.getString(9))}|$warnings|${r.getInt(11)}"
    }
    val diff = got.zip(want).indexWhere { case (a, b) => a != b }
    gate(diff < 0, s"golden: digest line ${if (diff >= 0) rows(diff).getLong(0) else -1} differs")
  }

  def query(i: Int): Unit = lookup(queryUrls(i % queryUrls.length))

  /** Read one url's result back from the committed table, which the
    * client opened once after the commit.
    */
  private def lookup(url: String): Unit =
    h.attempt("query") {
      val s = h.tracer.open("crawl_extract.query")
      val t0 = System.nanoTime()
      val rows = try latestDf.where(col("url") === url).select("strategy_used", "succeeded").collect()
      finally h.tracer.close(s)
      h.sample("query_ms", h.since(t0) * 1e3)
      val (strategy, text) = expected(url)
      gate(rows.length == 1 && rows(0).getString(0) == strategy && rows(0).getBoolean(1) == (text != null),
        s"read back of $url differs from the cascade")
    }

  def probeLayers(): Unit = {
    h.session(full)
    KernelReplay.run((0 until 256).map(_ => page(corpus(rng.nextInt(nPages)))), h)
    probeTableWrite(ExtractJob.processUnit(unitPages(0), ExtractJobConfig(partitionsPerUnit = full)), 2)
    val man = manifest(latest)
    h.layers("table.bytes_per_input_byte") = man.values.map(_("bytes").toDouble).sum / h.info("staged_bytes").asInstanceOf[Long]
    h.layers("table.files_per_unit") = man.values.map(_("files").toDouble).sum / man.size
    // the dedup layer over this run's own committed article text, with
    // planted near-duplicate chains
    val articles = latest.read(h.spark).where(col("url").contains("/article/"))
      .orderBy("url").select("extracted_text").limit(400).collect().map(_.getString(0))
    new DedupProbe(h).probe(h.work.resolve("probe-dedup"), articles)
  }
}
