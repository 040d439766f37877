package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{CRC32, Deflater, Inflater}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** From-scratch WARC (ISO 28500, the Common-Crawl container format)
  * encode/decode. Real Common-Crawl files are a CONCATENATION of
  * per-record gzip members (`.warc.gz`), so a reader can split a file
  * at member boundaries and decode records independently — that
  * per-record framing is exactly what makes the format splittable for
  * distributed processing, and both sides are implemented here:
  *
  *  - [[encodeFile]]: records → one gzip member each (raw-deflate +
  *    gzip header/trailer written by hand) → concatenated bytes.
  *  - [[parseFile]]: walks the multi-member stream with an Inflater
  *    per member, then parses each record's CRLF header block and
  *    Content-Length-framed payload.
  *
  * Errors are DATA: a malformed member/record yields one record with
  * `warcType = "error"` and the reason in `headers("x-parse-error")`,
  * never an exception — the per-row contract the extraction cascade
  * uses (a poison record costs one row, not a task retry at 10^12
  * docs).
  */
object Warc {

  final case class WarcRecord(
      targetUri: String,
      warcType: String,
      headers: Map[String, String],
      payload: Array[Byte])

  // ---------------- encode ----------------

  /** One WARC/1.1 record with deterministic headers (record id is
    * name-based on the target URI — no wall-clock, no randomness).
    */
  def encodeRecord(targetUri: String, date: String,
      payload: Array[Byte], warcType: String = "response"): Array[Byte] = {
    val id = java.util.UUID.nameUUIDFromBytes(targetUri.getBytes(UTF_8))
    val header =
      s"WARC/1.1\r\n" +
      s"WARC-Type: $warcType\r\n" +
      s"WARC-Record-ID: <urn:uuid:$id>\r\n" +
      s"WARC-Date: $date\r\n" +
      s"WARC-Target-URI: $targetUri\r\n" +
      s"Content-Length: ${payload.length}\r\n" +
      "\r\n"
    val out = new ByteArrayOutputStream(header.length + payload.length + 4)
    out.write(header.getBytes(UTF_8))
    out.write(payload)
    out.write("\r\n\r\n".getBytes(UTF_8))
    out.toByteArray
  }

  /** Wrap bytes as ONE gzip member (header + raw deflate + CRC32/ISIZE
    * trailer, little-endian — RFC 1952, written by hand so member
    * boundaries are explicit).
    */
  def gzipMember(bytes: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(bytes.length / 2 + 64)
    // 10-byte header: magic, CM=deflate, no flags, MTIME=0 (determinism),
    // XFL=0, OS=255 (unknown)
    out.write(Array[Byte](0x1f, 0x8b.toByte, 8, 0, 0, 0, 0, 0, 0, 0xff.toByte))
    val deflater = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
    deflater.setInput(bytes)
    deflater.finish()
    val buf = new Array[Byte](8192)
    while (!deflater.finished()) {
      val n = deflater.deflate(buf)
      out.write(buf, 0, n)
    }
    deflater.end()
    val crc = new CRC32
    crc.update(bytes)
    def le32(v: Long): Unit = {
      out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
      out.write(((v >> 16) & 0xff).toInt); out.write(((v >> 24) & 0xff).toInt)
    }
    le32(crc.getValue)
    le32(bytes.length.toLong & 0xffffffffL)
    out.toByteArray
  }

  /** records (already WARC-encoded) → concatenated per-record gzip
    * members — the `.warc.gz` layout.
    */
  def encodeFile(records: Seq[Array[Byte]]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    records.foreach(r => out.write(gzipMember(r)))
    out.toByteArray
  }

  // ---------------- decode ----------------

  private def error(reason: String): WarcRecord =
    WarcRecord(null, "error", Map("x-parse-error" -> reason), Array.emptyByteArray)

  /** Walk a multi-member gzip stream, emitting each decoded member with
    * its compressed (offset, length); returns the first framing error,
    * if any. Shared by the direct decode path and the cdx-style member
    * indexer.
    */
  private def walkMembers(bytes: Array[Byte])(
      emit: (Array[Byte], Int, Int) => Unit): Option[String] = {
    var pos = 0
    while (pos < bytes.length) {
      if (pos + 10 > bytes.length ||
          (bytes(pos) & 0xff) != 0x1f || (bytes(pos + 1) & 0xff) != 0x8b)
        return Some(s"bad gzip magic at offset $pos")
      if (bytes(pos + 2) != 8) return Some("unsupported CM")
      val flg = bytes(pos + 3) & 0xff
      var p = pos + 10
      if ((flg & 4) != 0) { // FEXTRA
        if (p + 2 > bytes.length) return Some("truncated FEXTRA")
        val xlen = (bytes(p) & 0xff) | ((bytes(p + 1) & 0xff) << 8)
        p += 2 + xlen
      }
      if ((flg & 8) != 0) { while (p < bytes.length && bytes(p) != 0) p += 1; p += 1 } // FNAME
      if ((flg & 16) != 0) { while (p < bytes.length && bytes(p) != 0) p += 1; p += 1 } // FCOMMENT
      if ((flg & 2) != 0) p += 2 // FHCRC
      if (p > bytes.length) return Some("truncated gzip header")
      val inflater = new Inflater(true)
      inflater.setInput(bytes, p, bytes.length - p)
      val out = new ByteArrayOutputStream(8192)
      val buf = new Array[Byte](8192)
      try {
        while (!inflater.finished()) {
          val n = inflater.inflate(buf)
          if (n == 0 && inflater.needsInput())
            return Some("truncated deflate stream")
          out.write(buf, 0, n)
        }
      } catch {
        case e: java.util.zip.DataFormatException =>
          return Some(s"deflate error: ${e.getMessage}")
      }
      val consumed = (bytes.length - p) - inflater.getRemaining
      inflater.end()
      val member = out.toByteArray
      // verify the RFC 1952 trailer (CRC32 + ISIZE)
      val tp = p + consumed
      if (tp + 8 > bytes.length) return Some("truncated gzip trailer")
      def le32(o: Int): Long =
        (bytes(o) & 0xffL) | ((bytes(o + 1) & 0xffL) << 8) |
        ((bytes(o + 2) & 0xffL) << 16) | ((bytes(o + 3) & 0xffL) << 24)
      val crc = new CRC32
      crc.update(member)
      if (le32(tp) != crc.getValue) return Some("gzip CRC mismatch")
      if (le32(tp + 4) != (member.length.toLong & 0xffffffffL))
        return Some("gzip ISIZE mismatch")
      emit(member, pos, (tp + 8) - pos)
      pos = tp + 8
    }
    None
  }

  /** Split a multi-member gzip stream; returns (members, trailingError). */
  private def gunzipMembers(bytes: Array[Byte]): (Seq[Array[Byte]], Option[String]) = {
    val members = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    val err = walkMembers(bytes)((m, _, _) => members += m)
    (members.toSeq, err)
  }

  /** (offset, compressedLength) of every gzip member — the cdx-style
    * record index of a `.warc.gz`. Built by one full decode pass,
    * exactly like Common Crawl's published cdx indexes are.
    */
  def memberOffsets(bytes: Array[Byte]): (Seq[(Long, Long)], Option[String]) = {
    val offs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val err = walkMembers(bytes)((_, off, len) => offs += ((off.toLong, len.toLong)))
    (offs.toSeq, err)
  }

  /** Offset of the first CRLF CRLF at/after `from`, or -1 — the header
    * block terminator of both WARC records and HTTP messages.
    */
  private def crlfCrlf(bytes: Array[Byte], from: Int): Int = {
    var i = from
    while (i + 3 < bytes.length) {
      if (bytes(i) == '\r' && bytes(i + 1) == '\n' &&
          bytes(i + 2) == '\r' && bytes(i + 3) == '\n') return i
      i += 1
    }
    -1
  }

  /** Parse one decompressed WARC record (header block + framed payload). */
  def parseRecord(bytes: Array[Byte]): WarcRecord = {
    val end = crlfCrlf(bytes, 0)
    if (end < 0) return error("no header terminator")
    val headerText = new String(bytes, 0, end, UTF_8)
    val lines = headerText.split("\r\n")
    if (lines.isEmpty || !lines(0).startsWith("WARC/"))
      return error("missing WARC version line")
    val headers = lines.drop(1).flatMap { l =>
      val c = l.indexOf(':')
      if (c <= 0) None
      else Some(l.substring(0, c).trim.toLowerCase -> l.substring(c + 1).trim)
    }.toMap
    val len =
      try headers.getOrElse("content-length", "-1").toInt
      catch { case _: NumberFormatException => -1 }
    if (len < 0) return error("bad content-length")
    val payloadStart = end + 4
    if (payloadStart + len > bytes.length) return error("payload truncated")
    val payload = java.util.Arrays.copyOfRange(bytes, payloadStart, payloadStart + len)
    WarcRecord(headers.getOrElse("warc-target-uri", null),
      headers.getOrElse("warc-type", null), headers, payload)
  }

  /** `.warc.gz` bytes → records (+ at most one trailing error record if
    * the member stream is malformed).
    */
  def parseFile(bytes: Array[Byte]): Seq[WarcRecord] = {
    val (members, err) = gunzipMembers(bytes)
    members.map(parseRecord) ++ err.map(error).toSeq
  }

  /** Record types whose payload is page content. `warcinfo`, `request`,
    * `metadata` and `revisit` records (one or more per page in a real
    * Common-Crawl segment) are crawl structure, not documents — turning
    * them into page rows would feed request headers and WAT metadata to
    * the extractor as "html" roughly 2:1 against real pages.
    */
  private val pageTypes = Set("response", "resource", "conversion")

  /** A real `response` record's payload is a full HTTP message (status
    * line + headers + body); the document is the body. Payloads that
    * don't start with `HTTP/` (e.g. our own writer's raw-html records)
    * pass through untouched.
    */
  private[graft] def httpBody(payload: Array[Byte]): Array[Byte] = {
    if (payload.length < 5 ||
        new String(payload, 0, 5, UTF_8) != "HTTP/") return payload
    val end = crlfCrlf(payload, 0)
    if (end < 0) payload // header block never terminated — keep everything
    else java.util.Arrays.copyOfRange(payload, end + 4, payload.length)
  }

  /** WARC ingestion source: `.warc.gz` files or directories of them → a
    * pages DataFrame `(url, warc_ts, html, warc_file, succeeded,
    * failure_reason)` feeding the extraction cascade — the real
    * Common-Crawl entry point. Built on Spark's binaryFile source (one
    * task per file; at Common-Crawl's ~1 GB-per-file layout that is the
    * natural split unit, and a custom FileFormat splitting at member
    * boundaries would be the next step if files were larger). Parse
    * failures are rows; non-page record types are dropped.
    */
  def read(spark: SparkSession, paths: String*): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.warc.gz")
      .load(paths: _*)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions(_.flatMap { case (path, bytes) =>
        recordRows(path, parseFile(bytes).iterator)
      })
      .toDF("url", "warc_ts", "html", "warc_file", "succeeded", "failure_reason")
  }

  /** Record → row mapping shared by the whole-file and member-split
    * readers (same output schema, same errors-as-rows contract).
    */
  private def recordRows(path: String, records: Iterator[WarcRecord])
      : Iterator[(String, String, Array[Byte], String, Boolean, String)] =
    records.collect {
      case r if r.warcType == "error" =>
        (null: String, null: String, null: Array[Byte], path,
          false, r.headers.getOrElse("x-parse-error", "parse error"))
      case r if r.warcType == null =>
        // WARC-Type is mandatory (ISO 28500 §5.5) — a record without
        // it is malformed, and errors are ROWS, never silent drops
        (r.targetUri, null: String, null: Array[Byte], path,
          false, "missing warc-type")
      case r if pageTypes(r.warcType) =>
        // only genuine response records carry an HTTP message to
        // strip; conversion/resource payloads ARE the document, even
        // when the document text happens to start with "HTTP/"
        val body =
          if (r.warcType == "response") httpBody(r.payload) else r.payload
        (r.targetUri, r.headers.getOrElse("warc-date", null),
          body, path, true, null: String)
    }

  // ---------------- member-split read (cdx-style index) ----------------
  //
  // `read` is one task per archive — the right unit when archives are
  // ~1 GB Common-Crawl segments and there are millions of them, but a
  // parallelism ceiling when files are few and fat. Common Crawl solves
  // this with PUBLISHED cdx indexes (member offsets per record) enabling
  // random access into the .warc.gz; the same design here:
  //
  //   writeMemberIndexes — one decode pass per archive emits a sidecar
  //     `<file>.warc.gz.idx` ("offset length" per gzip member). Built
  //     once per archive, like cdx generation at crawl time.
  //   readIndexed — plans one task per MEMBER GROUP: sidecars are read
  //     as a distributed text source, members are grouped into
  //     contiguous ~bytesPerSplit ranges RELATIONALLY (no driver-side
  //     index materialization — at 10^12 docs the index itself is big),
  //     and each task seeks into its range with the Hadoop FS API
  //     (works identically on file://, HDFS, S3A).

  val IndexSuffix = ".idx"

  /** Build missing sidecar member indexes (one "offset length" line per
    * gzip member). Returns the number of archives indexed.
    */
  def writeMemberIndexes(spark: SparkSession, dir: String): Long = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.warc.gz")
      .load(dir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions(_.map { case (path, bytes) =>
        val p = new org.apache.hadoop.fs.Path(path + IndexSuffix)
        val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
        if (fs.exists(p)) 0L
        else {
          val (offs, err) = memberOffsets(bytes)
          // a framing error invalidates offsets past it; the direct
          // reader surfaces it as an error row — don't index the file
          if (err.isDefined) 0L
          else {
            val out = fs.create(p, true)
            out.write(offs.map { case (o, l) => s"$o $l" }
              .mkString("", "\n", "\n").getBytes(UTF_8))
            out.close()
            1L
          }
        }
      })
      .reduce(_ + _)
  }

  /** Member-split WARC read: same rows as [[read]], one task per member
    * GROUP (contiguous ~`bytesPerSplit` compressed ranges), planned from
    * the sidecar indexes without collecting them to the driver.
    */
  def readIndexed(spark: SparkSession, dir: String,
      bytesPerSplit: Long = 32L * 1024 * 1024): DataFrame = {
    import spark.implicits._
    val entries = spark.read.textFile(s"$dir/*.warc.gz$IndexSuffix")
      .select(input_file_name().as("idx"), col("value"))
      .select(regexp_replace(col("idx"), "\\.idx$", "").as("warc"),
        split(col("value"), " ").getItem(0).cast("long").as("off"),
        split(col("value"), " ").getItem(1).cast("long").as("len"))
    // contiguous, disjoint, covering ranges: a member belongs to the
    // window its START offset falls in
    val splits = entries
      .groupBy(col("warc"), floor(col("off") / bytesPerSplit).as("grp"))
      .agg(min("off").as("start"), max(col("off") + col("len")).as("end"))
      .select(col("warc"), col("start"), col("end"))
    // EXPLICIT partition count: the shuffle carries only (warc, start,
    // end) descriptors — a few KB however big the archives are — so
    // AQE's byte-based coalescing would fold it to ONE partition and
    // serialize the whole decode behind a single task (measured: flat
    // ~4.7k docs/s at local[4] AND local[16]). A user-specified count
    // is exempt from AQE coalescing; 3x parallelism keeps every core
    // fed while group sizes vary (a task owns ~1/3 core's worth).
    val parts = math.max(1, spark.sparkContext.defaultParallelism * 3)
    splits.as[(String, Long, Long)]
      .repartition(parts, col("warc"), col("start")) // spread groups over tasks
      .mapPartitions(_.flatMap { case (warc, start, end) =>
        val p = new org.apache.hadoop.fs.Path(warc)
        val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
        val in = fs.open(p)
        val buf = new Array[Byte]((end - start).toInt)
        try { in.seek(start); in.readFully(buf) } finally in.close()
        recordRows(warc, parseFile(buf).iterator)
      })
      .toDF("url", "warc_ts", "html", "warc_file", "succeeded", "failure_reason")
  }

  /** The production entry point: member-split read of the archives that
    * have a sidecar index (building any missing ones first — a one-time
    * cost per archive, like cdx generation), unioned with the whole-file
    * read of the archives that cannot be indexed (a framing error), so
    * their valid members and their error rows are kept.
    */
  def readAuto(spark: SparkSession, dir: String): DataFrame = {
    writeMemberIndexes(spark, dir)
    val p = new org.apache.hadoop.fs.Path(dir)
    val names = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(p).map(_.getPath.getName).toSet
    val unindexed = names.toSeq.sorted
      .filter(n => n.endsWith(".warc.gz") && !names(n + IndexSuffix))
      .map(n => new org.apache.hadoop.fs.Path(p, n).toString)
    if (!names.exists(_.endsWith(".warc.gz" + IndexSuffix))) read(spark, dir)
    else if (unindexed.isEmpty) readIndexed(spark, dir)
    else readIndexed(spark, dir).union(read(spark, unindexed: _*))
  }

  /** CDX-style record index construction with POINT-READ verification —
    * the Common Crawl cdx artifact's defining property: each (offset,
    * length) window of a `.warc.gz` must decompress and parse as a
    * standalone record (that is what makes a 100 TB archive
    * random-accessible without scanning). Documents group into
    * `recordsPerFile`-record archives by `doc_id / recordsPerFile`
    * (assembly REQUIRES co-locating a file's records — the one genuine
    * shuffle here, carrying exactly the payload bytes an archive writer
    * must move); each archive is then encoded, member-indexed
    * ([[memberOffsets]]), and every index entry is verified by slicing
    * the raw bytes at [offset, offset+length) and re-parsing JUST that
    * slice.
    *
    * Emitted per record: (doc_id, member_seq, digest, uri_ok,
    * point_read_ok) where digest is the sha-256 of the point-read
    * payload — so a wrong offset, a torn member boundary, or a
    * non-contiguous index turns digest/flags red against an oracle that
    * recomputes digests from the source table alone. Compression-
    * dependent byte offsets never cross engines; their CORRECTNESS does.
    */
  def cdxIndex(docs: DataFrame, recordsPerFile: Int = 16): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .groupByKey(_._1 / recordsPerFile)
      .flatMapGroups { (_, itr) =>
        val batch = itr.toArray.sortBy(_._1)
        val bytes = encodeFile(batch.toIndexedSeq.map { case (id, text) =>
          encodeRecord(s"https://docs.example/$id", "2024-01-01T00:00:00Z",
            (if (text == null) "" else text).getBytes(UTF_8))
        })
        val (offs, err) = memberOffsets(bytes)
        val structureOk = err.isEmpty && offs.length == batch.length &&
          offs.headOption.forall(_._1 == 0L) &&
          offs.zip(offs.drop(1)).forall { case ((o1, l1), (o2, _)) => o1 + l1 == o2 } &&
          offs.lastOption.forall { case (o, l) => o + l == bytes.length }
        val md = java.security.MessageDigest.getInstance("SHA-256")
        batch.indices.iterator.map { i =>
          val (id, _) = batch(i)
          if (!structureOk) (id, i.toLong, "", false, false)
          else {
            // the point read: parse ONLY the indexed slice
            val (off, len) = offs(i)
            val slice = java.util.Arrays.copyOfRange(
              bytes, off.toInt, (off + len).toInt)
            val recs = parseFile(slice)
            val ok = recs.length == 1 && recs.head.warcType != "error"
            md.reset()
            val digest =
              if (!ok) ""
              else md.digest(recs.head.payload).map("%02x".format(_)).mkString
            (id, i.toLong, digest,
              ok && recs.head.targetUri == s"https://docs.example/$id", ok)
          }
        }
      }
      .toDF("doc_id", "member_seq", "digest", "uri_ok", "point_read_ok")
  }
}
