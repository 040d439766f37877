package graft

import graft.extract.{CascadeConfig, CascadeExtractor, DomStats, PageCodec}
import graft.fixtures.{MediaFixtures, PdfFixtures}
import graft.html.HtmlParser
import graft.ops.Multimodal
import graft.table.SyntheticPages
import java.nio.file.{Files, Paths, Path}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Regenerates the frozen golden fixtures under src/test/resources/golden.
  *
  * The goldens are outputs of OUR spec'd extraction semantics (SURVEY.md
  * §5: the reference ships no golden files and its Python deps are not
  * installable offline), frozen once and then enforced byte-for-byte by
  * GoldenSpec. Regenerate ONLY on a deliberate, documented semantics
  * change: `sbt "Test/runMain graft.GoldenGen"`.
  */
object GoldenGen {
  val CorpusSize = 2000
  val Seed = 42L
  /** representative ids, one per family (computed in main). */

  def digestLine(id: Long): String = {
    val page = SyntheticPages.pageFor(Seed, id)
    val ex = CascadeExtractor.pooled().extract(page.url, page.html, CascadeConfig())
    val meta = Seq(
      Option(ex.title).getOrElse("-"),
      Option(ex.author).getOrElse("-"),
      Option(ex.publish_date).map(_.toInstant.toString).getOrElse("-"),
      Option(ex.failure_reason).getOrElse("-"),
      ex.warnings.mkString(";") match { case "" => "-"; case w => w },
      ex.spans.size.toString)
    s"$id|${page.url}|${Option(ex.strategy_used).getOrElse("-")}|${ex.succeeded}|${ex.partial}|" +
      s"${if (ex.extracted_text == null) -1 else ex.extracted_text.length}|${hash16(ex.extracted_text)}|" +
      meta.mkString("|")
  }

  /** One line per strategy, in cascade order, for page `id`: what each
    * strategy returns over the page's DOM, whether or not the cascade
    * would run it or let it win. Hashes only: id, strategy, text length,
    * then 16-hex hashes of text, spans, title and author, the publish
    * date, `succeeded` and `reason`.
    */
  def strategyDigestLines(id: Long): Seq[String] = {
    val page = SyntheticPages.pageFor(Seed, id)
    val parser = new HtmlParser
    val stats = new DomStats
    val dom = parser.parse(if (page.html == null) "" else PageCodec.decode(page.html))
    stats.compute(dom)
    CascadeConfig().strategies.map { name =>
      val r = CascadeExtractor.registry(name).run(dom, stats)
      val spans = r.spans.map { case (s, e, k) => s"$s,$e,$k" }.mkString(";")
      Seq(id, name, if (r.content == null) -1 else r.content.length,
        hash16(r.content), hash16(spans), hash16(r.title), hash16(r.author),
        Option(r.publishDate).map(_.toInstant.toString).getOrElse("-"),
        r.succeeded, Option(r.reason).getOrElse("-")).mkString("|")
    }
  }

  /** First 16 hex digits of the UTF-8 SHA-256 of `s`; "-" for null. */
  private def hash16(s: String): String =
    if (s == null) "-"
    else hex(MessageDigest.getInstance("SHA-256").digest(s.getBytes(StandardCharsets.UTF_8))).take(16)

  private def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString

  /** `strategy_digests.txt`: [[strategyDigestLines]] over the corpus. */
  def writeStrategyDigests(dir: Path): Unit = {
    val lines = (0L until CorpusSize).flatMap(strategyDigestLines)
    Files.write(dir.resolve("strategy_digests.txt"),
      (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
  }

  def main(args: Array[String]): Unit = {
    val dir = Paths.get("src/test/resources/golden")
    Files.createDirectories(dir)
    val lines = (0L until CorpusSize).map(digestLine)
    Files.write(dir.resolve("corpus_digests.txt"),
      (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    writeStrategyDigests(dir)

    // full-text goldens: first id of each family within the corpus
    val byFamily = (0L until CorpusSize)
      .groupBy(id => SyntheticPages.familyOf(Seed, id))
      .map { case (f, ids) => f -> ids.min }
    val fullDir = dir.resolve("fulltext")
    Files.createDirectories(fullDir)
    byFamily.toSeq.sortBy(_._1).foreach { case (family, id) =>
      val page = SyntheticPages.pageFor(Seed, id)
      val ex = CascadeExtractor.pooled().extract(page.url, page.html, CascadeConfig())
      val text = if (ex.extracted_text == null) "" else ex.extracted_text
      Files.write(fullDir.resolve(s"$family-$id.txt"),
        text.getBytes(StandardCharsets.UTF_8))
      println(s"family=$family id=$id strategy=${ex.strategy_used} " +
        s"succeeded=${ex.succeeded} partial=${ex.partial} len=${text.length}")
    }
    println(s"wrote ${lines.size} digest lines + ${byFamily.size} fulltext goldens to $dir")

    // ---- golden parquet tables (driver oracles, SparkEntry) ----
    val spark = graft.util.Sessions.local(8, "golden-gen")

    val sf001 = "/root/testdata/sf0.01"
    writeSingleParquet(
      SparkEntry.queries("chunk_documents")(spark, sf001),
      dir.resolve("chunks_sf001.parquet"))

    val cascade = SparkEntry.queries("cascade_extract")(spark, sf001)
    val urls = cascade.select("url").distinct().count()
    val total = cascade.count()
    require(urls == total, s"cascade urls not unique: $urls of $total — golden order unstable")
    writeSingleParquet(cascade, dir.resolve("cascade_sf001.parquet"))

    writeSingleParquet(
      SparkEntry.queries("text_winnow")(spark, sf001),
      dir.resolve("winnow_sf001.parquet"))

    // simhash_sf001.parquet is NOT written here: its provenance is the
    // INDEPENDENT Python derivation tools/simhash_expected.py (brute-force
    // all-pairs hamming over a from-scratch simhash reimplementation),
    // so the golden is a dual derivation rather than a pin of the
    // kernel's own output. Regenerate with:
    //   python3 tools/simhash_expected.py
    // which also fails loudly if kernel and derivation ever diverge.

    // IVF coarse quantizer: trained once on the sf0.01 sample, committed
    // as text (Double round-trip) — the offline-trained artifact both
    // ann_ivf and its DuckDB oracle consume
    val centroids = graft.ops.Similarity.kmeansTrainSample(
      spark.read.parquet(s"$sf001/embeddings.parquet"), k = 16, iters = 5)
    Files.write(dir.resolve("ivf_centroids.txt"),
      graft.ops.Similarity.centroidsToLines(centroids)
        .getBytes(StandardCharsets.UTF_8))

    // PQ codebooks: per-subspace quantizers trained once on the sf0.01
    // sample, committed as text (the ann_pq oracle inlines them)
    val pqCb = graft.ops.Pq.train(
      spark.read.parquet(s"$sf001/embeddings.parquet"), m = 8, k = 64, iters = 5)
    Files.write(dir.resolve("pq_codebooks.txt"),
      graft.ops.Pq.toLines(pqCb).getBytes(StandardCharsets.UTF_8))

    fixtureTables(spark).foreach { case (name, df) =>
      writeSingleParquet(df, dir.resolve(s"$name.parquet"))
    }

    println("wrote golden parquets: chunks_sf001, cascade_sf001, winnow_sf001, pdfs, media " +
      "(simhash_sf001 comes from tools/simhash_expected.py)")
    spark.stop()
  }

  /** The committed PDF and media fixture tables, keyed by file name
    * (`<name>.parquet` under the golden dir): payloads from
    * `graft.fixtures`, truth columns computed from the procedural
    * sources. `main` writes them; FixtureGoldenSpec rebuilds them and
    * compares every committed row.
    */
  def fixtureTables(spark: SparkSession): Seq[(String, DataFrame)] = {
    import spark.implicits._
    val pdfs = spark.range(0, 1000).as[Long].map { id =>
      val (payload, text, np) = PdfFixtures.goldenPdf(id)
      (id, payload, text, np)
    }.toDF("id", "payload", "true_text", "true_pages")

    val media = spark.range(0, 2500).as[Long].map { id =>
      val (payload, w, h, ch) = MediaFixtures.goldenMedia(id)
      (id, payload, "image", w, h, ch)
    }.toDF("id", "payload", "true_kind", "true_width", "true_height", "true_channels")

    // pixel-path golden: payload = real PNG encode of procedural pixels;
    // truth columns computed straight from those pixels (resize + CRC
    // never touch the PNG bytes) — the kernel must recover the identical
    // buffers from the payload alone (inflate + unfilter)
    val px = spark.range(0, 700).as[Long].map { id =>
      // ids 0-299: real PNG (filtered scanlines + zlib); 300-499: real
      // GIF (palette + LZW); 500-699: real baseline JPEG (huffman + DCT,
      // truth from the quantized coefficients). Truth pixels never pass
      // through any encoder's bitstream.
      val (payload, img) =
        if (id < 300) {
          val im = MediaFixtures.goldenPixels(id)
          (MediaFixtures.makePngPixels(
            im, MediaFixtures.goldenColorType(id)), im)
        } else if (id < 500) MediaFixtures.goldenGif(id)
        else MediaFixtures.goldenJpeg(id)
      val resized = Multimodal.resizePixels(img, 64)
      (id, payload, img.width, img.height, img.channels,
        resized.width, resized.height,
        Multimodal.pixelCrc(img), Multimodal.pixelCrc(resized))
    }.toDF("id", "payload", "true_width", "true_height", "true_channels",
      "true_out_width", "true_out_height", "true_raw_crc", "true_out_crc")

    // animated-GIF frame-sampling golden: payloads in one file, the
    // per-frame truth (computed from index planes + palette, never
    // through the LZW encoder) exploded in a sibling file the oracle
    // reads directly
    val animIds = (0L until 200L)
    val animPayloads = spark.createDataset(animIds).map { id =>
      (id, MediaFixtures.goldenAnimGif(id)._1)
    }.toDF("id", "payload")
    val animTruth = spark.createDataset(animIds).flatMap { id =>
      val (_, frames) = MediaFixtures.goldenAnimGif(id)
      frames.zipWithIndex.map { case (f, idx) =>
        (id, idx, frames.length, f.width, f.height,
          Multimodal.pixelCrc(f))
      }
    }.toDF("id", "frame_idx", "true_n_frames", "true_width", "true_height", "true_crc")

    val av = spark.range(0, 1500).as[Long].map { id =>
      val (payload, kind, ch, sr, dur, tracks) = MediaFixtures.goldenAv(id)
      (id, payload, kind, ch, sr, dur, tracks)
    }.toDF("id", "payload", "true_kind", "true_channels", "true_sample_rate",
      "true_duration_ms", "true_tracks")

    Seq("pdfs" -> pdfs, "media" -> media, "media_px" -> px,
      "media_anim" -> animPayloads, "media_anim_truth" -> animTruth,
      "media_av" -> av)
  }

  /** Spark writes a directory; the goldens are committed single files. */
  private def writeSingleParquet(df: DataFrame, target: Path): Unit = {
    val tmp = Files.createTempDirectory("golden-pq").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no parquet part written under $tmp"))
    Files.createDirectories(target.getParent)
    Files.move(part.toPath, target, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }
}
