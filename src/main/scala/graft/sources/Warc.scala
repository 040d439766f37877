package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, InputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{CRC32, DataFormatException, Deflater, Inflater}

import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

/** From-scratch WARC (ISO 28500, the Common-Crawl container format)
  * encode/decode. Real Common-Crawl files are a CONCATENATION of
  * per-record gzip members (`.warc.gz`), so records decode one member
  * at a time, and both sides are implemented here:
  *
  *  - [[encodeFile]]: records → one gzip member each (raw-deflate +
  *    gzip header/trailer written by hand) → concatenated bytes.
  *  - [[members]]: the one member walker, over any `InputStream`: it
  *    inflates one member at a time and checks its trailer. [[read]]
  *    runs it on each archive's Hadoop stream; [[parseFile]] and
  *    [[memberOffsets]] run it on in-memory bytes. [[parseRecord]]
  *    parses each record's CRLF header block and Content-Length-framed
  *    payload.
  *
  * Errors are DATA: a malformed member/record yields one record with
  * `warcType = "error"` and the reason in `headers("x-parse-error")`,
  * never an exception — the per-row contract the extraction cascade
  * uses (a poison record costs one row, not a task retry at 10^12
  * docs). Only an I/O failure of the underlying stream fails the task.
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

  /** One decoded gzip member and its compressed (offset, length). */
  private[graft] final case class Member(bytes: Array[Byte], offset: Long, length: Long)

  /** Walk a multi-member gzip stream lazily: one `Right` per member,
    * then at most one `Left` with the first framing error, which ends
    * the walk. It holds one member and one read buffer, never the
    * archive, and closes `in` once the walk ends. An I/O exception from
    * `in` is not a framing error: it propagates and fails the task.
    */
  private[graft] def members(in: InputStream): Iterator[Either[String, Member]] =
    new Iterator[Either[String, Member]] {
      private val buf = new Array[Byte](64 * 1024)
      private val chunk = new Array[Byte](8192)
      private var pos, lim = 0
      private var base = 0L // archive offset of buf(0)
      private val inflater = new Inflater(true)
      private var pending: Either[String, Member] = null
      private var ended = false

      private def fill(): Boolean = pos < lim || {
        base += lim; pos = 0; lim = math.max(0, in.read(buf)); lim > 0
      }
      private def byte(): Int =
        if (fill()) { pos += 1; buf(pos - 1) & 0xff } else -1
      private def skip(n: Int): Boolean = (0 until n).forall(_ => byte() >= 0)
      private def zeroTerminated(): Boolean = { var b = byte(); while (b > 0) b = byte(); b == 0 }
      private def le32(): Long =
        (0 until 4).foldLeft(0L) { (v, i) =>
          val b = byte(); if (v < 0 || b < 0) -1L else v | (b.toLong << (8 * i)) }

      /** The next member, its framing error, or null at a clean end. */
      private def step(): Either[String, Member] = {
        if (!fill()) return null
        val start = base + pos
        val h = Array.fill(10)(byte())
        if (h(9) < 0 || h(0) != 0x1f || h(1) != 0x8b)
          return Left(s"bad gzip magic at offset $start")
        if (h(2) != 8) return Left("unsupported CM")
        val flg = h(3)
        if ((flg & 4) != 0) { // FEXTRA
          val lo = byte(); val hi = byte()
          if (hi < 0) return Left("truncated FEXTRA")
          if (!skip(lo | (hi << 8))) return Left("truncated gzip header")
        }
        if (((flg & 8) != 0 && !zeroTerminated()) || // FNAME
            ((flg & 16) != 0 && !zeroTerminated()) || // FCOMMENT
            ((flg & 2) != 0 && !skip(2))) // FHCRC
          return Left("truncated gzip header")
        inflater.reset()
        val out = new ByteArrayOutputStream(8192)
        val crc = new CRC32
        try {
          while (!inflater.finished()) {
            if (inflater.needsInput()) {
              if (!fill()) return Left("truncated deflate stream")
              inflater.setInput(buf, pos, lim - pos)
              pos = lim
            }
            val n = inflater.inflate(chunk)
            out.write(chunk, 0, n)
            crc.update(chunk, 0, n)
          }
        } catch {
          case e: DataFormatException => return Left(s"deflate error: ${e.getMessage}")
        }
        pos -= inflater.getRemaining // the trailer and the next member start there
        // verify the RFC 1952 trailer (CRC32 + ISIZE)
        val (crcField, isize) = (le32(), le32())
        if (isize < 0) return Left("truncated gzip trailer")
        if (crcField != crc.getValue) return Left("gzip CRC mismatch")
        if (isize != (out.size.toLong & 0xffffffffL)) return Left("gzip ISIZE mismatch")
        Right(Member(out.toByteArray, start, base + pos - start))
      }

      def hasNext: Boolean = {
        if (pending == null && !ended) {
          pending = step()
          if (pending == null || pending.isLeft) {
            ended = true; inflater.end(); in.close()
          }
        }
        pending != null
      }

      def next(): Either[String, Member] = {
        if (!hasNext) throw new NoSuchElementException("no more gzip members")
        val m = pending
        pending = null
        m
      }
    }

  /** Records of a `.warc.gz` stream, lazily (+ at most one trailing
    * error record if the member stream is malformed).
    */
  private def records(in: InputStream): Iterator[WarcRecord] =
    members(in).map(_.fold(error, m => parseRecord(m.bytes)))

  /** (offset, compressedLength) of every gzip member — the cdx-style
    * record index of a `.warc.gz`. Built by one full decode pass,
    * exactly like Common Crawl's published cdx indexes are.
    */
  def memberOffsets(bytes: Array[Byte]): (Seq[(Long, Long)], Option[String]) = {
    val (errs, offs) = members(new ByteArrayInputStream(bytes))
      .map(_.map(m => (m.offset, m.length))).toSeq.partitionMap(identity)
    (offs, errs.headOption)
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
  def parseFile(bytes: Array[Byte]): Seq[WarcRecord] =
    records(new ByteArrayInputStream(bytes)).toVector

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
    * Common-Crawl entry point. binaryFile lists the archives (only
    * `path` is selected, so it reads no bytes and packs the files into
    * tasks by size); each task opens its archives through the Hadoop
    * `FileSystem` with the session's Hadoop configuration (so
    * `spark.hadoop.*` settings such as S3A credentials reach it) and
    * walks their gzip members lazily: a task holds one member, never an
    * archive. The parallelism is one task per archive at most, which a
    * Common-Crawl crawl (tens of thousands of ~1 GB archives) exceeds
    * by far. Parse failures are rows; non-page record types are
    * dropped.
    */
  def read(spark: SparkSession, paths: String*): DataFrame = {
    import spark.implicits._
    val conf = spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sparkContext.hadoopConfiguration))
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.warc.gz")
      .load(paths: _*)
      .select(col("path"))
      .as[String]
      .mapPartitions(_.flatMap { path =>
        val p = new Path(path)
        val in = p.getFileSystem(conf.value.value).open(p)
        // the walk closes `in` at its end; a task that fails or stops
        // early closes it here
        TaskContext.get().addTaskCompletionListener[Unit](_ => in.close())
        recordRows(path, records(in))
      })
      .toDF("url", "warc_ts", "html", "warc_file", "succeeded", "failure_reason")
  }

  /** Record → row mapping of [[read]] (errors-as-rows contract). */
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
