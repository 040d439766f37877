package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads are opaque
  * BINARY columns with typed metadata structs; per-row media kernels
  * run in mapPartitions exactly like the HTML cascade.
  *
  * [[decodeMeta]] is a pure-JVM header decoder for PNG, GIF and JPEG
  * (signature sniff → format-specific dimension/channel parse; no codec
  * jar needed for header metadata); [[decodeAvMeta]] walks WAV (RIFF)
  * and MP4 (ISO-BMFF) container headers.
  *
  * All three image formats also have pixel paths ([[decodePixels]]
  * sniffing into [[decodePngPixels]] / [[decodeGifPixels]] /
  * [[Jpeg.decode]], then [[resizePixels]] / [[resizeImages]]): PNG =
  * IDAT zlib inflate + all five scanline unfilters (pure
  * java.util.zip); GIF = a from-scratch LZW decompressor + palette
  * mapping; JPEG = baseline huffman decode + dequant + IDCT +
  * YCbCr->RGB ([[Jpeg]]); all feed an integer box-filter downscale.
  * [[frameSample]] decodes every frame of an animated GIF; video codecs
  * are out of scope (no codec jar), so MP4 gets header metadata only.
  *
  * The encoders that build the committed media goldens are test code
  * (`graft.fixtures.MediaFixtures`, `graft.fixtures.JpegEncoder`).
  */
object Multimodal {

  /** Image header metadata; `kind` is "image", or "unknown" when the
    * signature matches no supported format.
    */
  final case class MediaMeta(kind: String, width: Int, height: Int,
      channels: Int, payload_len: Int, valid: Boolean)

  /** Header decoder kernel: sniffs the payload signature and parses
    * real PNG / GIF / JPEG headers (pure JVM — dimensions and channel
    * count need no codec). Unknown/truncated payloads come back as
    * `("unknown", valid=false)` rows — errors are data, never task
    * exceptions, same convention as the HTML cascade.
    */
  def decodeMeta(bytes: Array[Byte]): MediaMeta = {
    if (bytes == null || bytes.length < 6)
      return MediaMeta("unknown", 0, 0, 0, 0, valid = false)
    try {
      if ((bytes(0) & 0xff) == 0x89 && bytes(1) == 'P' && bytes(2) == 'N' && bytes(3) == 'G')
        decodePng(bytes)
      else if (bytes(0) == 'G' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == '8')
        decodeGif(bytes)
      else if ((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8)
        decodeJpeg(bytes)
      else MediaMeta("unknown", 0, 0, 0, 0, valid = false)
    } catch {
      case _: Exception => MediaMeta("unknown", 0, 0, 0, 0, valid = false)
    }
  }

  private def beU32(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
    ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)

  private def beU16(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)

  private def leU16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)

  /** PNG: 8-byte signature, then the IHDR chunk — width/height are
    * big-endian u32 at offsets 16/20; color type at 25 maps to the
    * channel count (spec: gray=1, rgb=3, palette=1, gray+a=2, rgba=4).
    */
  private def decodePng(b: Array[Byte]): MediaMeta = {
    if (b.length < 26 || b(12) != 'I' || b(13) != 'H' || b(14) != 'D' || b(15) != 'R')
      return MediaMeta("image", 0, 0, 0, b.length, valid = false)
    val w = beU32(b, 16)
    val h = beU32(b, 20)
    val channels = (b(25) & 0xff) match {
      case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
      case _ => 0
    }
    MediaMeta("image", w.toInt, h.toInt, channels, b.length,
      valid = w > 0 && h > 0 && channels > 0)
  }

  /** GIF87a/89a: logical screen width/height are little-endian u16 at
    * offsets 6/8; palette-indexed RGB → 3 channels.
    */
  private def decodeGif(b: Array[Byte]): MediaMeta = {
    if (b.length < 13) return MediaMeta("image", 0, 0, 0, b.length, valid = false)
    val w = leU16(b, 6)
    val h = leU16(b, 8)
    MediaMeta("image", w, h, 3, b.length, valid = w > 0 && h > 0)
  }

  /** JPEG: walk the marker segments from SOI until a start-of-frame
    * (SOF0..SOF15 except the DHT/DAC markers C4/C8/CC); the frame
    * header carries height/width as big-endian u16 and the component
    * count (1=gray, 3=YCbCr).
    */
  private def decodeJpeg(b: Array[Byte]): MediaMeta = {
    var i = 2
    while (i + 3 < b.length) {
      if ((b(i) & 0xff) != 0xff) return MediaMeta("image", 0, 0, 0, b.length, valid = false)
      val marker = b(i + 1) & 0xff
      if (marker == 0xd9 || marker == 0xda) { // EOI / SOS: no frame seen
        return MediaMeta("image", 0, 0, 0, b.length, valid = false)
      } else if (marker >= 0xc0 && marker <= 0xcf &&
          marker != 0xc4 && marker != 0xc8 && marker != 0xcc) {
        if (i + 9 >= b.length) return MediaMeta("image", 0, 0, 0, b.length, valid = false)
        val h = beU16(b, i + 5)
        val w = beU16(b, i + 7)
        val channels = b(i + 9) & 0xff
        return MediaMeta("image", w, h, channels, b.length, valid = w > 0 && h > 0)
      } else if (marker == 0xd8 || (marker >= 0xd0 && marker <= 0xd7)) {
        i += 2 // standalone markers carry no length
      } else {
        i += 2 + beU16(b, i + 2)
      }
    }
    MediaMeta("image", 0, 0, 0, b.length, valid = false)
  }

  // ---- real audio/video container headers (pure JVM, no codec) ----

  /** Audio/video container metadata parsed from real headers:
    * WAV (RIFF chunks → channels/sample-rate/duration) and MP4
    * (ISO-BMFF box walk → mvhd timescale/duration, trak count).
    */
  final case class AvMeta(kind: String, channels: Int, sample_rate: Int,
      duration_ms: Long, n_tracks: Int, valid: Boolean)

  def decodeAvMeta(bytes: Array[Byte]): AvMeta = {
    try {
      if (bytes == null || bytes.length < 12)
        AvMeta("unknown", 0, 0, 0L, 0, valid = false)
      else if (bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == 'F' &&
          bytes(8) == 'W' && bytes(9) == 'A' && bytes(10) == 'V' && bytes(11) == 'E')
        decodeWav(bytes)
      else if (bytes(4) == 'f' && bytes(5) == 't' && bytes(6) == 'y' && bytes(7) == 'p')
        decodeMp4(bytes)
      else AvMeta("unknown", 0, 0, 0L, 0, valid = false)
    } catch {
      case _: Exception => AvMeta("unknown", 0, 0, 0L, 0, valid = false)
    }
  }

  private def leU32(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
    ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)

  /** WAV: walk RIFF chunks for `fmt ` (channels, sample rate, bits) and
    * `data` (payload size → sample count → duration).
    */
  private def decodeWav(b: Array[Byte]): AvMeta = {
    var channels = 0
    var sampleRate = 0
    var bitsPerSample = 16
    var dataLen = -1L
    // Offsets walked in Long arithmetic: leU32 is unsigned, so the word-
    // aligned step 8+size+(size&1) is always >= 8 and the walk provably
    // terminates. (Int truncation here once let a corrupt size of
    // 0xFFFFFFF8 produce a zero step and wedge the task forever.)
    var i = 12L
    while (i + 8 <= b.length) {
      val ii = i.toInt
      val id = new String(b, ii, 4, "US-ASCII")
      val size = leU32(b, ii + 4)
      if (id == "fmt " && ii + 24 <= b.length) {
        channels = leU16(b, ii + 10)
        sampleRate = leU32(b, ii + 12).toInt
        if (size >= 16) bitsPerSample = leU16(b, ii + 22)
      } else if (id == "data") dataLen = size
      i += 8L + size + (size & 1L) // chunks are word-aligned
    }
    if (channels <= 0 || sampleRate <= 0 || dataLen < 0)
      return AvMeta("audio", channels, sampleRate, 0L, 1, valid = false)
    val bytesPerSample = math.max(1, bitsPerSample / 8) * channels
    val nSamples = dataLen / bytesPerSample
    AvMeta("audio", channels, sampleRate, nSamples * 1000L / sampleRate, 1,
      valid = true)
  }

  /** MP4 (ISO-BMFF): walk the top-level boxes to `moov`, read `mvhd`
    * (v0: timescale u32 / duration u32 at offsets 12/16 of the box
    * body; v1: u32 timescale at 20, u64 duration at 24) and count
    * `trak` children.
    */
  private def decodeMp4(b: Array[Byte]): AvMeta = {
    var timescale = 0L
    var duration = -1L
    var tracks = 0
    // Box offsets in Long arithmetic with an explicit size >= 8 gate at
    // both nesting levels: beU32 is unsigned, so every accepted step
    // advances by >= 8 and both walks provably terminate (no reliance on
    // a truncated negative index throwing).
    var i = 0L
    while (i + 8 <= b.length) {
      val ii = i.toInt
      val size = beU32(b, ii)
      val typ = new String(b, ii + 4, 4, "US-ASCII")
      if (size < 8) return AvMeta("video", 0, 0, 0L, tracks, valid = false)
      if (typ == "moov") {
        var j = i + 8
        val end = math.min(b.length.toLong, i + size)
        while (j + 8 <= end) {
          val jj = j.toInt
          val s2 = beU32(b, jj)
          val t2 = new String(b, jj + 4, 4, "US-ASCII")
          if (s2 < 8) return AvMeta("video", 0, 0, 0L, tracks, valid = false)
          if (t2 == "mvhd" && j + 8 < end) {
            val version = b(jj + 8) & 0xff
            if (version == 0 && j + 24 <= end) {
              timescale = beU32(b, jj + 20)
              duration = beU32(b, jj + 24)
            } else if (version == 1 && j + 36 <= end) {
              timescale = beU32(b, jj + 28)
              duration = (beU32(b, jj + 32) << 32) | beU32(b, jj + 36)
            }
          } else if (t2 == "trak") tracks += 1
          j += s2
        }
      }
      i += size
    }
    if (timescale <= 0 || duration < 0)
      AvMeta("video", 0, 0, 0L, tracks, valid = false)
    else AvMeta("video", 0, 0, duration * 1000L / timescale, tracks, valid = true)
  }

  /** media(id, payload BINARY) → audio/video metadata columns. */
  def decodeAv(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val m = decodeAvMeta(bytes)
        (id, m.kind, m.channels, m.sample_rate, m.duration_ms, m.n_tracks, m.valid)
      })
      .toDF("id", "kind", "channels", "sample_rate", "duration_ms", "n_tracks", "valid")
  }

  /** media(id, payload BINARY) → typed metadata columns; the pooled-
    * kernel mapPartitions shape shared with the HTML cascade.
    */
  def decode(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // a real decoder would init its (pooled) codec context here,
        // once per partition — same pattern as CascadeExtractor.pooled()
        it.map { case (id, bytes) =>
          val m = decodeMeta(bytes)
          (id, m.kind, m.width, m.height, m.channels, m.payload_len, m.valid)
        }
      }
      .toDF("id", "kind", "width", "height", "channels", "payload_len", "valid")
  }

  /** Real feature extraction from the payload bytes (no codec needed):
    * header metadata joined with content statistics — byte entropy
    * (Shannon, over the 256-bucket byte histogram), zero-byte ratio,
    * and aspect ratio. The mapPartitions kernel reuses one histogram
    * buffer per partition (pooled, like the HTML parser).
    */
  def extractFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val hist = new Array[Long](256) // pooled per partition
        it.map { case (id, bytes) =>
          val m = decodeMeta(bytes)
          java.util.Arrays.fill(hist, 0L)
          var i = 0
          val n = if (bytes == null) 0 else bytes.length
          while (i < n) { hist(bytes(i) & 0xff) += 1; i += 1 }
          var entropy = 0.0
          var zeros = 0L
          if (n > 0) {
            var b = 0
            while (b < 256) {
              val c = hist(b)
              if (c > 0) {
                val p = c.toDouble / n
                entropy -= p * (math.log(p) / math.log(2.0))
              }
              b += 1
            }
            zeros = hist(0)
          }
          val aspect = if (m.height > 0) m.width.toDouble / m.height else 0.0
          (id, m.kind, m.valid, n, entropy, zeros.toDouble / math.max(n, 1), aspect)
        }
      }
      .toDF("id", "kind", "valid", "n_bytes", "byte_entropy", "zero_ratio", "aspect_ratio")
  }

  // ---- real PNG pixel path (decode + resize, pure java.util.zip) ----

  /** A fully-decoded 8-bit image: interleaved channel bytes, row-major. */
  final case class PixelImage(width: Int, height: Int, channels: Int,
      pixels: Array[Byte])

  /** Full PNG decode: chunk walk → concatenated IDAT zlib inflate →
    * per-scanline unfilter (None/Sub/Up/Average/Paeth per the PNG spec
    * §9). Supports the non-palette 8-bit color types (gray / rgb /
    * gray+alpha / rgba), non-interlaced — the shapes the golden PNG
    * encoder emits and the overwhelming web majority. Returns None for
    * palette/16-bit/interlaced/corrupt payloads (callers surface
    * valid=false rows; errors are data).
    */
  def decodePngPixels(b: Array[Byte]): Option[PixelImage] = {
    try {
      if (b == null || b.length < 33 ||
          (b(0) & 0xff) != 0x89 || b(1) != 'P' || b(2) != 'N' || b(3) != 'G' ||
          b(12) != 'I' || b(13) != 'H' || b(14) != 'D' || b(15) != 'R')
        return None
      val w = beU32(b, 16).toInt
      val h = beU32(b, 20).toInt
      val bitDepth = b(24) & 0xff
      val colorType = b(25) & 0xff
      val interlace = b(28) & 0xff
      val channels = colorType match {
        case 0 => 1; case 2 => 3; case 4 => 2; case 6 => 4
        case _ => return None // palette (3) needs PLTE handling
      }
      if (bitDepth != 8 || interlace != 0 || w <= 0 || h <= 0) return None
      // gather IDAT payloads (offsets walked in Long like the AV parsers)
      val idat = new java.io.ByteArrayOutputStream()
      var i = 8L
      var done = false
      while (!done && i + 8 <= b.length) {
        val len = beU32(b, i.toInt)
        val typ = new String(b, i.toInt + 4, 4, "US-ASCII")
        if (typ == "IEND") done = true
        else if (typ == "IDAT") {
          if (i + 8 + len > b.length) return None
          idat.write(b, i.toInt + 8, len.toInt)
        }
        i += 12L + len // len + type + crc
      }
      val stride = w * channels
      val raw = new Array[Byte]((stride + 1) * h)
      val inf = new java.util.zip.Inflater()
      inf.setInput(idat.toByteArray)
      var off = 0
      while (off < raw.length && !inf.finished()) {
        val n = inf.inflate(raw, off, raw.length - off)
        // truncated stream or preset-dictionary stream: no progress possible
        if (n == 0 && (inf.needsInput() || inf.needsDictionary())) return None
        off += n
      }
      inf.end()
      if (off != raw.length) return None
      // unfilter in place into the output buffer
      val out = new Array[Byte](stride * h)
      val bpp = channels
      var y = 0
      while (y < h) {
        val ft = raw(y * (stride + 1)) & 0xff
        val src = y * (stride + 1) + 1
        val dst = y * stride
        var x = 0
        while (x < stride) {
          val cur = raw(src + x) & 0xff
          val left = if (x >= bpp) out(dst + x - bpp) & 0xff else 0
          val up = if (y > 0) out(dst - stride + x) & 0xff else 0
          val ul = if (y > 0 && x >= bpp) out(dst - stride + x - bpp) & 0xff else 0
          val v = ft match {
            case 0 => cur
            case 1 => cur + left
            case 2 => cur + up
            case 3 => cur + ((left + up) >> 1)
            case 4 =>
              val p = left + up - ul
              val pa = math.abs(p - left); val pb = math.abs(p - up); val pc = math.abs(p - ul)
              val pred = if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul
              cur + pred
            case _ => return None
          }
          out(dst + x) = (v & 0xff).toByte
          x += 1
        }
        y += 1
      }
      Some(PixelImage(w, h, channels, out))
    } catch { case _: Exception => None }
  }

  /** GIF frame enumeration (pure JVM): header + logical screen
    * descriptor + global color table, extension-block skip, then EVERY
    * image descriptor decoded through a from-scratch LZW decompressor
    * (variable code width 3..12 bits, clear/EOI codes, 4096-entry
    * dictionary) and mapped through the palette to interleaved RGB.
    * Animated GIFs yield one PixelImage per frame. Restricted to the
    * tractable-and-common shape: full-frame, non-interlaced frames on
    * the global palette (no disposal compositing); anything else —
    * local palettes, interlacing, partial frames, corrupt streams —
    * returns None (errors are data).
    */
  def decodeGifFrames(b: Array[Byte], maxFrames: Int = 4096): Option[Seq[PixelImage]] = {
    try {
      if (b == null || b.length < 14 || b(0) != 'G' || b(1) != 'I' || b(2) != 'F' || b(3) != '8')
        return None
      val sw = leU16(b, 6)
      val sh = leU16(b, 8)
      val packed = b(10) & 0xff
      if ((packed & 0x80) == 0) return None // no global color table
      val gctSize = 2 << (packed & 0x07)
      var i = 13
      val palette = new Array[Byte](gctSize * 3)
      if (i + palette.length > b.length) return None
      System.arraycopy(b, i, palette, 0, palette.length)
      i += palette.length
      val frames = scala.collection.mutable.ArrayBuffer.empty[PixelImage]
      var done = false
      while (!done && i < b.length && frames.length < maxFrames) {
        (b(i) & 0xff) match {
          case 0x21 => // extension: label + sub-blocks
            i += 2
            while (i < b.length && b(i) != 0) i += 1 + (b(i) & 0xff)
            i += 1
          case 0x3b => done = true
          case 0x2c =>
            val r = decodeOneGifFrame(b, i, sw, sh, palette, gctSize)
            if (r == null) return None
            frames += r._1
            i = r._2
          case _ => return None
        }
      }
      if (frames.isEmpty) None else Some(frames.toSeq)
    } catch { case _: Exception => None }
  }

  /** Single-frame convenience view of [[decodeGifFrames]]. */
  def decodeGifPixels(b: Array[Byte]): Option[PixelImage] =
    decodeGifFrames(b, maxFrames = 1).flatMap(_.headOption)

  /** One image descriptor + LZW stream starting at `i0` (which points at
    * the 0x2C separator). Returns (frame, nextIndex) or null on any
    * unsupported/corrupt shape.
    */
  private def decodeOneGifFrame(b: Array[Byte], i0: Int, sw: Int, sh: Int,
      palette: Array[Byte], gctSize: Int): (PixelImage, Int) = {
    var i = i0
    if (i + 10 > b.length) return null
    // descriptor: 0x2C, left u16, top u16, width u16, height u16, packed
    val iw = leU16(b, i + 5)
    val ih = leU16(b, i + 7)
    val ipacked = b(i + 9) & 0xff
    if ((ipacked & 0x80) != 0) return null // local color table unsupported
    if ((ipacked & 0x40) != 0) return null // interlaced unsupported
    if (iw <= 0 || ih <= 0 || iw != sw || ih != sh) return null // full-frame only
    i += 10
    if (i >= b.length) return null
    val minCodeSize = b(i) & 0xff
    i += 1
    if (minCodeSize < 2 || minCodeSize > 8) return null
    // concatenate data sub-blocks
    val data = new java.io.ByteArrayOutputStream()
    while (i < b.length && b(i) != 0) {
      val len = b(i) & 0xff
      if (i + 1 + len > b.length) return null
      data.write(b, i + 1, len)
      i += 1 + len
    }
    if (i >= b.length) return null
    i += 1 // block terminator
    val bytes = data.toByteArray
    // LZW decode into index buffer
    val nPix = iw * ih
    val indices = new Array[Byte](nPix)
    var out = 0
    val clear = 1 << minCodeSize
    val eoi = clear + 1
    // dictionary as prefix/suffix arrays
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    val stack = new Array[Byte](4097)
    var dictSize = eoi + 1
    var codeWidth = minCodeSize + 1
    var prev = -1
    var bitPos = 0
    val totalBits = bytes.length * 8
    var finished = false
    while (!finished && out < nPix) {
      if (bitPos + codeWidth > totalBits) { finished = true }
      else {
        // read little-endian bit-packed code
        var code = 0
        var k = 0
        while (k < codeWidth) {
          val bit = bitPos + k
          if ((bytes(bit >> 3) >> (bit & 7) & 1) != 0) code |= 1 << k
          k += 1
        }
        bitPos += codeWidth
        if (code == clear) {
          dictSize = eoi + 1
          codeWidth = minCodeSize + 1
          prev = -1
        } else if (code == eoi) {
          finished = true
        } else {
          // expand a code into `stack` (bytes in reverse); roots are
          // codes < clear, table entries are >= eoi+1
          def expand(c0: Int): Int = {
            var sp = 0
            var cur = c0
            while (cur >= eoi + 1) {
              if (cur >= dictSize || sp >= stack.length - 1) return -1
              stack(sp) = suffix(cur); sp += 1
              cur = prefix(cur)
            }
            if (cur >= clear) return -1 // clear/eoi inside a chain: corrupt
            stack(sp) = cur.toByte; sp += 1
            sp
          }
          var sp = 0
          if (code < dictSize) {
            sp = expand(code)
          } else if (code == dictSize && prev >= 0) {
            // KwKwK: entry = expand(prev) + firstChar(expand(prev))
            sp = expand(prev)
            if (sp > 0) {
              val first = stack(sp - 1) // last pushed = first byte
              // prepend first at the BOTTOM of the reversed stack
              System.arraycopy(stack, 0, stack, 1, sp)
              stack(0) = first
              sp += 1
            }
          } else return null
          if (sp <= 0) return null
          if (out + sp > nPix) return null
          var w = sp - 1
          while (w >= 0) { indices(out) = stack(w); out += 1; w -= 1 }
          // new dictionary entry: expand(prev) + first byte just written
          if (prev >= 0 && dictSize < 4096) {
            prefix(dictSize) = prev
            suffix(dictSize) = indices(out - sp) // first byte of this output
            dictSize += 1
            if (dictSize == (1 << codeWidth) && codeWidth < 12) codeWidth += 1
          }
          prev = code
        }
      }
    }
    if (out != nPix) return null
    // palette map to RGB
    val px = new Array[Byte](nPix * 3)
    var p = 0
    while (p < nPix) {
      val idx = indices(p) & 0xff
      if (idx >= gctSize) return null
      px(p * 3) = palette(idx * 3)
      px(p * 3 + 1) = palette(idx * 3 + 1)
      px(p * 3 + 2) = palette(idx * 3 + 2)
      p += 1
    }
    (PixelImage(iw, ih, 3, px), i)
  }

  /** Integer box-filter downscale preserving aspect ratio: output pixel
    * (ox, oy) averages the exact source block [ox*w/ow, (ox+1)*w/ow) x
    * [oy*h/oh, (oy+1)*h/oh) per channel with floor division — fully
    * deterministic integer math, so generation-time truth and the
    * kernel agree bit-for-bit. Images already within maxSide pass
    * through untouched.
    */
  def resizePixels(img: PixelImage, maxSide: Int): PixelImage = {
    val maxDim = math.max(img.width, img.height)
    if (maxDim <= maxSide) return img
    val ow = math.max(1, img.width.toLong * maxSide / maxDim).toInt
    val oh = math.max(1, img.height.toLong * maxSide / maxDim).toInt
    val c = img.channels
    val out = new Array[Byte](ow * oh * c)
    var oy = 0
    while (oy < oh) {
      val y0 = (oy.toLong * img.height / oh).toInt
      val y1 = math.max(y0 + 1, ((oy + 1).toLong * img.height / oh).toInt)
      var ox = 0
      while (ox < ow) {
        val x0 = (ox.toLong * img.width / ow).toInt
        val x1 = math.max(x0 + 1, ((ox + 1).toLong * img.width / ow).toInt)
        val count = (y1 - y0).toLong * (x1 - x0)
        var ch = 0
        while (ch < c) {
          var sum = 0L
          var y = y0
          while (y < y1) {
            var x = x0
            val rowBase = (y * img.width) * c + ch
            while (x < x1) { sum += img.pixels(rowBase + x * c) & 0xff; x += 1 }
            y += 1
          }
          out((oy * ow + ox) * c + ch) = (sum / count).toByte
          ch += 1
        }
        ox += 1
      }
      oy += 1
    }
    PixelImage(ow, oh, c, out)
  }

  /** CRC32 of an interleaved pixel buffer (the pixel-evidence checksum
    * carried by the resize oracle).
    */
  def pixelCrc(img: PixelImage): Long = {
    val crc = new java.util.zip.CRC32()
    crc.update(img.pixels)
    crc.getValue
  }

  /** REAL pixel-level resize over a binary image column (PNG or GIF,
    * sniffed): decode (PNG inflate+unfilter / GIF LZW+palette) →
    * box-filter downscale → checksum. Pooled mapPartitions kernel;
    * undecodable payloads yield valid=false rows. At 100 TB this is the
    * same per-row embarrassingly-parallel shape as the HTML cascade —
    * no shuffle, scan-partition parallelism.
    */
  def resizeImages(media: DataFrame, maxSide: Int = 64): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        decodePixels(bytes) match {
          case Some(img) =>
            val res = resizePixels(img, maxSide)
            (id, img.width, img.height, img.channels,
              res.width, res.height, pixelCrc(img), pixelCrc(res), true)
          case None => (id, 0, 0, 0, 0, 0, 0L, 0L, false)
        }
      })
      .toDF("id", "width", "height", "channels",
        "out_width", "out_height", "raw_crc", "out_crc", "valid")
  }

  /** Format-sniffing pixel decode: PNG, GIF or baseline JPEG. */
  def decodePixels(bytes: Array[Byte]): Option[PixelImage] = {
    if (bytes == null || bytes.length < 6) None
    else if ((bytes(0) & 0xff) == 0x89 && bytes(1) == 'P') decodePngPixels(bytes)
    else if (bytes(0) == 'G' && bytes(1) == 'I' && bytes(2) == 'F') decodeGifPixels(bytes)
    else if ((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8) Jpeg.decode(bytes)
    else None
  }

  /** Aspect-fit output dimensions: METADATA-ONLY projection computing
    * the (out_width, out_height) a maxSide-bounded aspect-preserving
    * resize would produce. No pixels move here — the real pixel resize
    * (decode + box filter) is [[resizeImages]]; this is the cheap
    * planning/projection companion used by multimodal_decode.
    */
  def aspectFit(decoded: DataFrame, maxSide: Int = 256): DataFrame =
    decoded
      .withColumn("scale",
        when(greatest(col("width"), col("height")) <= maxSide, lit(1.0))
          .otherwise(lit(maxSide) / greatest(col("width"), col("height"))))
      .withColumn("out_width", floor(col("width") * col("scale")).cast("int"))
      .withColumn("out_height", floor(col("height") * col("scale")).cast("int"))
      .drop("scale")

  /** REAL frame sampling over animated GIF payloads: decode every frame
    * (LZW + palette), keep each `stride`-th, emit per-frame dimensions
    * and a pixel CRC. One row in, a few rows out — the flat-map kernel
    * shape; undecodable payloads yield one valid=false row so errors
    * stay data. Frame decode is per-row work: at 100 TB it parallelizes
    * with the scan like every other kernel here.
    */
  def frameSample(media: DataFrame, stride: Int = 2): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        decodeGifFrames(bytes) match {
          case Some(frames) =>
            frames.zipWithIndex
              .filter { case (_, idx) => idx % stride == 0 }
              .map { case (f, idx) =>
                (id, idx, frames.length, f.width, f.height, pixelCrc(f), true)
              }
          case None => Seq((id, -1, 0, 0, 0, 0L, false))
        }
      }
      .toDF("id", "frame_idx", "n_frames", "width", "height", "frame_crc", "valid")
  }
}

