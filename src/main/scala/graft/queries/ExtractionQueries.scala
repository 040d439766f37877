package graft.queries

import graft.SparkEntry.goldenDir
import graft.queries.Shared._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The extraction tier (north rule): the HTML cascade in batch and as a
  * stream, PDF text, out-links, sitemaps, and the WARC and CDX formats.
  */
object ExtractionQueries {
  /** The cascade over `nPages` synthetic pages, sorted by url: the
    * cascade_extract query and `SparkEntry.entry`.
    */
  private[graft] def cascade(s: SparkSession, nPages: Long): DataFrame = {
    val pages = graft.table.SyntheticPages.generate(s, nPages)
    // the narrow result is held before the sort: the sort's range
    // sampling would otherwise run the cascade once more
    graft.extract.Extract.extractPages(pages.toDF())
      .toDF()
      .select(col("url"), col("strategy_used"), col("succeeded"),
        col("partial"), length(col("extracted_text")).as("text_len"),
        col("title"), col("failure_reason"))
      .localCheckpoint(eager = true)
      .orderBy(col("url"))
  }

  val all: Seq[Query] = Seq(
    Query("cascade_extract", (s, dir) => cascade(s, pagesFor(dir)),
      ("SELECT url, strategy_used, succeeded, partial, text_len, title, failure_reason " +
        s"FROM read_parquet('$goldenDir/cascade_sf001.parquet') " +
        "ORDER BY url")),

    Query("stream_extract", (s, dir) => {
      // the streaming-extraction leg of the north rule: the SAME pages
      // flow through readStream → cascade → exactly-once checkpointed
      // parquet sink; the result must equal the batch cascade, so it
      // shares cascade_extract's golden oracle. The narrow result is held
      // in the block manager so the work dir can go before returning.
      val pages = graft.table.SyntheticPages.generate(s, pagesFor(dir))
      val work = java.nio.file.Files.createTempDirectory("se-stream-extract")
      val held = try {
        val pagesDir = s"$work/pages"
        pages.toDF().write.mode("overwrite").parquet(pagesDir)
        graft.streaming.StreamingOps.streamingExtract(
          s, pagesDir, s"$work/out", s"$work/ck")
        s.read.parquet(s"$work/out")
          .select(col("url"), col("strategy_used"), col("succeeded"),
            col("partial"), length(col("extracted_text")).as("text_len"),
            col("title"), col("failure_reason"))
          .localCheckpoint(eager = true)
      } finally org.apache.commons.io.FileUtils.deleteQuietly(work.toFile)
      held.orderBy(col("url"))
    },
      // streaming extraction must equal the batch cascade — same golden
      ("SELECT url, strategy_used, succeeded, partial, text_len, title, failure_reason " +
        s"FROM read_parquet('$goldenDir/cascade_sf001.parquet') " +
        "ORDER BY url")),

    Query("pdf_extract", (s, dir) => {
      // the north rule's PDF/layout-parse leg: real FlateDecode content
      // streams — the kernel must inflate and parse the text-showing
      // operators from the BYTES, while the oracle reads the
      // generation-time truth columns of the committed corpus
      val pdfs = s.read.parquet(s"$goldenDir/pdfs.parquet")
        .select(col("id"), col("payload"))
      graft.extract.PdfExtract.extractPdfs(pdfs).orderBy(col("id"))
    },
      (s"SELECT id, true_pages AS n_pages, true_text AS text, true AS valid " +
        s"FROM read_parquet('$goldenDir/pdfs.parquet') ORDER BY id")),

    Query("warc_roundtrip", (s, dir) => {
      // WARC (ISO 28500) encode→decode roundtrip over real per-record
      // gzip members — the Common-Crawl .warc.gz layout whose member
      // framing is what makes the format splittable for distributed
      // reads. Batches of 16 records per file exercise multi-member
      // parsing; the oracle needs only the documents table because the
      // roundtrip is lossless (payload bytes + target URI survive).
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .mapPartitions { it =>
          it.grouped(16).flatMap { batch =>
            val encoded = graft.sources.Warc.encodeFile(batch.map { case (id, text) =>
              graft.sources.Warc.encodeRecord(s"https://docs.example/$id",
                "2024-01-01T00:00:00Z", text.getBytes("UTF-8"))
            })
            graft.sources.Warc.parseFile(encoded).iterator.map { r =>
              val id = r.targetUri.substring(r.targetUri.lastIndexOf('/') + 1).toLong
              val sha = java.security.MessageDigest.getInstance("SHA-256")
                .digest(r.payload).map("%02x".format(_)).mkString
              (id, r.payload.length.toLong, sha, r.warcType == "response")
            }
          }
        }.toDF("doc_id", "payload_len", "payload_sha", "type_ok")
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, octet_length(encode(text))::BIGINT AS payload_len,
        |sha256(text) AS payload_sha, true AS type_ok
        |FROM documents ORDER BY doc_id""".stripMargin),

    Query("cdx_build", (s, dir) =>
      // CDX index construction + point-read verification (the Common
      // Crawl cdx artifact: what makes a 100 TB .warc.gz archive
      // random-accessible). Every member's (offset, length) is proven
      // by re-parsing ONLY that byte slice; digests of the point-read
      // payloads must equal sha-256 recomputed from the source table
      graft.sources.Warc.cdxIndex(t(s, dir, "documents"),
          recordsPerFile = 16)
        .orderBy(col("doc_id")),
      // offsets are compression-internal and never cross engines;
      // what crosses is their CORRECTNESS: digest must equal sha-256
      // of the source text (only reachable through a good point read)
      // and both flags must be true for every record
      """SELECT doc_id,
        |  row_number() OVER (PARTITION BY doc_id // 16 ORDER BY doc_id)
        |    - 1 AS member_seq,
        |  sha256(text) AS digest,
        |  TRUE AS uri_ok, TRUE AS point_read_ok
        |FROM documents ORDER BY doc_id""".stripMargin),

    Query("html_links", (s, dir) => {
      // DOM-based out-link extraction (the link-graph producer). The
      // corpus carries no HTML, so the query PLANTS identical pages in
      // both engines from doc_id/lang/source/text — including two
      // regex traps: an anchor inside a comment and an anchor-shaped
      // string inside a <script> body, which the DOM parser must NOT
      // emit (the oracle expects exactly the two real links per doc)
      val j = pmod(col("doc_id"), lit(20L)).cast("string")
      val k = pmod(col("doc_id"), lit(7L)).cast("string")
      val m = pmod(col("doc_id"), lit(50L)).cast("string")
      val url = concat(lit("https://src-"), j, lit(".example/p/"),
        col("doc_id").cast("string"), lit(".html"))
      val html = concat(
        lit("<html><head><title>t</title><script>var x = '<a href=\"/fake\">no</a>';</script></head><body>"),
        lit("<!-- <a href=\"/c\">out</a> -->"),
        lit("<nav><a href=\"/s-"), k, lit("\">sec "), col("lang"),
        lit("</a></nav><p>"), col("text"), lit("</p>"),
        lit("<a href=\"https://host-"), m, lit(".example/deep\">ext "),
        col("source"), lit("</a></body></html>"))
      graft.extract.Links.extractLinks(
          t(s, dir, "documents")
            .select(col("doc_id"), url.as("url"), html.as("html")))
        .orderBy(col("doc_id"), col("link_idx"))
    },
      // the oracle does NOT parse: it reconstructs the two planted
      // links per doc from the same construction rule — any extra row
      // (comment trap, script trap) or missing/mangled anchor turns
      // the hash red
      """WITH d AS (
        |  SELECT doc_id, lang, source,
        |    doc_id % 20 AS j, doc_id % 7 AS k, doc_id % 50 AS m
        |  FROM documents)
        |SELECT doc_id, 0::BIGINT AS link_idx,
        |  '/s-' || k AS href, 'sec ' || lang AS anchor,
        |  'src-' || j || '.example' AS dst_host
        |FROM d
        |UNION ALL
        |SELECT doc_id, 1::BIGINT,
        |  'https://host-' || m || '.example/deep', 'ext ' || source,
        |  'host-' || m || '.example'
        |FROM d
        |ORDER BY doc_id, link_idx""".stripMargin),

    Query("sitemap_parse", (s, dir) => {
      // sitemap XML entries via the arena DOM parser. Traps: a
      // commented-out <url> block (regex bait — a comment node to the
      // parser), a loc-less entry (must be skipped without consuming
      // an entry_idx), and REQUIRED &amp; escaping in <loc> that must
      // decode. The oracle rebuilds both surviving entries per site
      // relationally from doc_id.
      val site = pmod(col("doc_id"), lit(40)).cast("string")
      val xml = concat(
        lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?><urlset><url><loc>https://site"),
        site, lit(".example.com/page/"), col("doc_id").cast("string"),
        lit("?a=1&amp;b=2</loc><lastmod>2024-0"),
        (pmod(col("doc_id"), lit(9)) + 1).cast("string"),
        lit("-15</lastmod><priority>0."),
        pmod(col("doc_id"), lit(10)).cast("string"),
        lit("</priority></url><!-- <url><loc>https://trap.example.com/"),
        col("doc_id").cast("string"),
        lit("</loc></url> --><url><lastmod>2020-01-01</lastmod></url><url><loc>https://site"),
        site, lit(".example.com/alt/"), col("doc_id").cast("string"),
        lit("</loc></url></urlset>"))
      graft.extract.Sitemap.parseSitemaps(
          t(s, dir, "documents").select(col("doc_id").as("site_id"), xml.as("xml")))
        .orderBy(col("site_id"), col("entry_idx"))
    },
      // both surviving entries rebuilt relationally from doc_id: the
      // commented-out <url> and the loc-less <url> contribute NO rows
      // (a regex extractor would emit the trap row and go red), and
      // the &amp; in <loc> arrives DECODED
      """SELECT site_id, entry_idx, loc, lastmod, priority FROM (
        |  SELECT doc_id AS site_id, 0::BIGINT AS entry_idx,
        |    'https://site' || (doc_id % 40) || '.example.com/page/' ||
        |      doc_id || '?a=1&b=2' AS loc,
        |    '2024-0' || ((doc_id % 9) + 1) || '-15' AS lastmod,
        |    '0.' || (doc_id % 10) AS priority
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, 1::BIGINT,
        |    'https://site' || (doc_id % 40) || '.example.com/alt/' || doc_id,
        |    NULL::VARCHAR, NULL::VARCHAR
        |  FROM documents)
        |ORDER BY site_id, entry_idx""".stripMargin)
  )

  /** Synthetic-page count scaled to the sf tier of `dir`. */
  private def pagesFor(dir: String): Long =
    if (dir.contains("sf0.1")) 20000L
    else if (dir.contains("sf0.01")) 5000L
    else 1000L
}
