package graft.fixtures

import graft.ops.Multimodal.PixelImage

/** Deterministic real-format media encoders and the golden row builders
  * over them (GoldenGen, the media specs). The decoders they feed live
  * in [[graft.ops.Multimodal]] and [[graft.ops.Jpeg]]; truth columns
  * are computed from the procedural sources, never through an encoder,
  * so encode and decode stay independent derivations.
  */
object MediaFixtures {

  /** Minimal valid WAV with deterministic silence payload. */
  def makeWav(channels: Int, sampleRate: Int, nSamples: Int): Array[Byte] = {
    val dataLen = nSamples * channels * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(channels.toShort)
      .putInt(sampleRate)
      .putInt(sampleRate * channels * 2)
      .putShort((channels * 2).toShort)
      .putShort(16)
    bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < dataLen) { bb.put(((i * 31) & 0xff).toByte); i += 1 }
    bb.array()
  }

  /** Minimal valid MP4: ftyp + moov(mvhd v0 + `nTracks` trak stubs). */
  def makeMp4(timescale: Int, duration: Int, nTracks: Int): Array[Byte] = {
    val ftyp = java.nio.ByteBuffer.allocate(20)
    ftyp.putInt(20).put("ftyp".getBytes("US-ASCII"))
      .put("isom".getBytes("US-ASCII")).putInt(512)
      .put("mp41".getBytes("US-ASCII"))
    val mvhd = java.nio.ByteBuffer.allocate(108)
    mvhd.putInt(108).put("mvhd".getBytes("US-ASCII"))
      .putInt(0) // version 0 + flags
      .putInt(0).putInt(0) // creation/modification
      .putInt(timescale).putInt(duration)
    // rate/volume/reserved/matrix/predefined/nextTrack: zero-filled
    val trak = java.nio.ByteBuffer.allocate(16)
    trak.putInt(16).put("trak".getBytes("US-ASCII"))
      .putInt(8).put("free".getBytes("US-ASCII"))
    val moovLen = 8 + 108 + 16 * nTracks
    val out = java.nio.ByteBuffer.allocate(20 + moovLen)
    out.put(ftyp.array())
    out.putInt(moovLen).put("moov".getBytes("US-ASCII"))
    out.put(mvhd.array())
    var t = 0
    while (t < nTracks) { out.put(trak.array()); t += 1 }
    out.array()
  }

  /** Deterministic audio/video corpus row: WAV for even ids, MP4 for
    * odd. Returns (payload, kind, channels, sample_rate, duration_ms,
    * n_tracks).
    */
  def goldenAv(id: Long): (Array[Byte], String, Int, Int, Long, Int) = {
    var h = id * 0xc2b2ae3d27d4eb4fL
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
    if (id % 2 == 0) {
      val channels = 1 + Math.floorMod(h, 2L).toInt
      val rate = Array(8000, 16000, 22050, 44100)(Math.floorMod(h >> 8, 4L).toInt)
      val nSamples = 500 + Math.floorMod(h >> 16, 3500L).toInt
      (makeWav(channels, rate, nSamples), "audio", channels, rate,
        nSamples.toLong * 1000L / rate, 1)
    } else {
      val timescale = Array(600, 1000, 90000)(Math.floorMod(h, 3L).toInt)
      val duration = (timescale * (1 + Math.floorMod(h >> 8, 300L))).toInt
      val tracks = 1 + Math.floorMod(h >> 24, 3L).toInt
      (makeMp4(timescale, duration, tracks), "video", 0, 0,
        duration.toLong * 1000L / timescale, tracks)
    }
  }

  /** Minimal structurally-valid PNG: signature + IHDR (real CRC32) +
    * IEND. colorType ∈ {0 gray, 2 rgb, 6 rgba}.
    */
  def makePng(width: Int, height: Int, colorType: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(width).putInt(height)
      .put(8.toByte).put(colorType.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte).array()
    writePngChunk(out, "IHDR", ihdr)
    writePngChunk(out, "IEND", Array.empty)
    out.toByteArray
  }

  private def writePngChunk(out: java.io.ByteArrayOutputStream,
      typ: String, data: Array[Byte]): Unit = {
    val len = java.nio.ByteBuffer.allocate(4).putInt(data.length).array()
    out.write(len)
    val body = typ.getBytes("US-ASCII") ++ data
    out.write(body)
    val crc = new java.util.zip.CRC32()
    crc.update(body)
    out.write(java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array())
  }

  /** Minimal GIF89a: header + logical screen descriptor + trailer. */
  def makeGif(width: Int, height: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(14)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("GIF89a".getBytes("US-ASCII"))
    bb.putShort(width.toShort).putShort(height.toShort)
    bb.put(0.toByte).put(0.toByte).put(0.toByte) // packed, bg, aspect
    bb.put(0x3b.toByte) // trailer
    bb.array()
  }

  /** Minimal JPEG: SOI + APP0(JFIF) + SOF0 frame header + EOI. */
  def makeJpeg(width: Int, height: Int, components: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0xff, 0xd8).map(_.toByte)) // SOI
    // APP0 JFIF segment (so the scanner exercises segment skipping)
    val app0 = Array[Byte]('J', 'F', 'I', 'F', 0, 1, 1, 0, 0, 1, 0, 1, 0, 0)
    out.write(Array(0xff, 0xe0).map(_.toByte))
    out.write(Array(((app0.length + 2) >> 8) & 0xff, (app0.length + 2) & 0xff).map(_.toByte))
    out.write(app0)
    // SOF0
    val sofLen = 8 + 3 * components
    out.write(Array(0xff, 0xc0, (sofLen >> 8) & 0xff, sofLen & 0xff, 8).map(_.toByte))
    out.write(Array((height >> 8) & 0xff, height & 0xff,
      (width >> 8) & 0xff, width & 0xff, components).map(_.toByte))
    var c = 0
    while (c < components) {
      out.write(Array(c + 1, 0x11, 0).map(_.toByte))
      c += 1
    }
    out.write(Array(0xff, 0xd9).map(_.toByte)) // EOI
    out.toByteArray
  }

  /** Deterministic real-format media row for id: cycles PNG/GIF/JPEG
    * with hash-derived dimensions spanning both resize branches.
    * Returns (payload, width, height, channels).
    */
  def goldenMedia(id: Long): (Array[Byte], Int, Int, Int) = {
    var h = id * 0x9e3779b97f4a7c15L
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
    val width = 16 + Math.floorMod(h, 1500).toInt
    val height = 16 + Math.floorMod(h >> 16, 1500).toInt
    Math.floorMod(id, 3L).toInt match {
      case 0 =>
        val colorType = Array(0, 2, 6)(Math.floorMod(h >> 32, 3).toInt)
        val ch = colorType match { case 0 => 1; case 2 => 3; case _ => 4 }
        (makePng(width, height, colorType), width, height, ch)
      case 1 => (makeGif(width, height), width, height, 3)
      case _ =>
        val comps = if (Math.floorMod(h >> 40, 4) == 0L) 1 else 3
        (makeJpeg(width, height, comps), width, height, comps)
    }
  }

  /** Deterministic procedural pixels for golden row `id` — the SOURCE
    * both derivations share: GoldenGen encodes them into a real PNG
    * (per-row filters + zlib) and separately computes truth checksums
    * straight from this array; the kernel must recover the identical
    * pixels from the PNG bytes alone.
    */
  def goldenPixels(id: Long): PixelImage = {
    var h = id * 0x9e3779b97f4a7c15L
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
    val w = 16 + Math.floorMod(h, 110).toInt
    val ht = 16 + Math.floorMod(h >> 16, 110).toInt
    val colorType = Array(0, 2, 4, 6)(Math.floorMod(h >> 32, 4).toInt)
    val c = colorType match { case 0 => 1; case 2 => 3; case 4 => 2; case _ => 4 }
    val px = new Array[Byte](w * ht * c)
    var i = 0
    while (i < px.length) {
      // smooth gradients + hash noise: compressible but filter-exercising
      val y = i / (w * c); val x = (i % (w * c)) / c; val ch = i % c
      px(i) = ((x * (ch + 3) + y * 7 + (h >> (i % 48)).toInt) & 0xff).toByte
      i += 1
    }
    PixelImage(w, ht, c, px)
  }

  /** Deterministic indexed GIF golden for row `id`: procedural palette +
    * index plane. Returns (payload, truth RGB image), where the truth is
    * the palette mapping computed DIRECTLY from the procedural arrays —
    * the LZW encoder never touches it, so encode and decode stay
    * independent derivations.
    */
  def goldenGif(id: Long): (Array[Byte], PixelImage) = {
    var h = id * 0x9e3779b97f4a7c15L
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
    val w = 16 + Math.floorMod(h, 110).toInt
    val ht = 16 + Math.floorMod(h >> 16, 110).toInt
    val palette = new Array[Byte](768)
    var p = 0
    while (p < 256) {
      palette(p * 3) = ((p * 7 + (h >> 8)) & 0xff).toByte
      palette(p * 3 + 1) = ((p * 13 + (h >> 24)) & 0xff).toByte
      palette(p * 3 + 2) = ((p * 29 + (h >> 40)) & 0xff).toByte
      p += 1
    }
    val indices = new Array[Byte](w * ht)
    var i = 0
    while (i < indices.length) {
      val y = i / w; val x = i % w
      // gradient bands + hash noise: repetitive enough to exercise LZW
      // dictionary growth, noisy enough to exercise CLEAR resets
      indices(i) = ((x / 3 + y * 5 + ((h >> (i % 40)) & 7)) & 0xff).toByte
      i += 1
    }
    val rgb = new Array[Byte](w * ht * 3)
    i = 0
    while (i < indices.length) {
      val idx = indices(i) & 0xff
      rgb(i * 3) = palette(idx * 3)
      rgb(i * 3 + 1) = palette(idx * 3 + 1)
      rgb(i * 3 + 2) = palette(idx * 3 + 2)
      i += 1
    }
    (makeGifPixels(w, ht, indices, palette), PixelImage(w, ht, 3, rgb))
  }

  /** Color type for the golden row (drives encode; derived from the
    * same hash as [[goldenPixels]]).
    */
  def goldenColorType(id: Long): Int = {
    var h = id * 0x9e3779b97f4a7c15L
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
    Array(0, 2, 4, 6)(Math.floorMod(h >> 32, 4).toInt)
  }

  /** Real PNG encode of an 8-bit image: per-scanline filter chosen by a
    * deterministic row rotation (None/Sub/Up/Average/Paeth) so the
    * decoder's unfilter paths all get exercised, then one zlib stream.
    */
  def makePngPixels(img: PixelImage, colorType: Int): Array[Byte] = {
    val stride = img.width * img.channels
    val bpp = img.channels
    val filtered = new Array[Byte]((stride + 1) * img.height)
    var y = 0
    while (y < img.height) {
      val ft = y % 5 // rotate through all five filter types
      filtered(y * (stride + 1)) = ft.toByte
      var x = 0
      while (x < stride) {
        val cur = img.pixels(y * stride + x) & 0xff
        val left = if (x >= bpp) img.pixels(y * stride + x - bpp) & 0xff else 0
        val up = if (y > 0) img.pixels((y - 1) * stride + x) & 0xff else 0
        val ul = if (y > 0 && x >= bpp) img.pixels((y - 1) * stride + x - bpp) & 0xff else 0
        val enc = ft match {
          case 0 => cur
          case 1 => cur - left
          case 2 => cur - up
          case 3 => cur - ((left + up) >> 1)
          case 4 =>
            val p = left + up - ul
            val pa = math.abs(p - left); val pb = math.abs(p - up); val pc = math.abs(p - ul)
            val pred = if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul
            cur - pred
        }
        filtered(y * (stride + 1) + 1 + x) = (enc & 0xff).toByte
        x += 1
      }
      y += 1
    }
    val deflater = new java.util.zip.Deflater(java.util.zip.Deflater.BEST_SPEED)
    deflater.setInput(filtered)
    deflater.finish()
    val zipped = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!deflater.finished()) zipped.write(buf, 0, deflater.deflate(buf))
    deflater.end()
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(img.width).putInt(img.height)
      .put(8.toByte).put(colorType.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte).array()
    writePngChunk(out, "IHDR", ihdr)
    writePngChunk(out, "IDAT", zipped.toByteArray)
    writePngChunk(out, "IEND", Array.empty)
    out.toByteArray
  }

  /** Real GIF89a encode of an indexed image: global 256-color palette +
    * from-scratch LZW compressor (variable width, CLEAR on dictionary
    * overflow, EOI) packed into <=255-byte sub-blocks. The decoder must
    * recover the exact palette-mapped RGB pixels.
    */
  def makeGifPixels(width: Int, height: Int, indices: Array[Byte],
      palette: Array[Byte]): Array[Byte] =
    makeAnimatedGif(width, height, Seq(indices), palette)

  /** Real animated GIF89a: global palette + one full-size frame per
    * index plane, each behind a graphic-control extension (fixed 4/100s
    * delay). [[graft.ops.Multimodal.decodeGifFrames]] must recover every
    * frame's palette-mapped RGB exactly.
    */
  def makeAnimatedGif(width: Int, height: Int, frames: Seq[Array[Byte]],
      palette: Array[Byte]): Array[Byte] = {
    require(palette.length == 768, "expect a full 256-entry RGB palette")
    require(frames.nonEmpty && frames.forall(_.length == width * height))
    val out = new java.io.ByteArrayOutputStream()
    def w8(v: Int): Unit = out.write(v & 0xff)
    def w16(v: Int): Unit = { w8(v); w8(v >> 8) } // little-endian
    out.write("GIF89a".getBytes("US-ASCII"))
    w16(width); w16(height)
    w8(0x80 | 0x07) // global color table, 256 entries
    w8(0); w8(0)    // bg index, aspect
    out.write(palette)
    if (frames.length > 1) {
      // NETSCAPE2.0 looping application extension (the standard marker
      // that makes multi-frame GIFs animate; also exercises the
      // decoder's extension skipping)
      w8(0x21); w8(0xff); w8(11)
      out.write("NETSCAPE2.0".getBytes("US-ASCII"))
      w8(3); w8(1); w16(0); w8(0)
    }
    frames.foreach { indices =>
      if (frames.length > 1) { // graphic control extension per frame
        w8(0x21); w8(0xf9); w8(4)
        w8(0); w16(4); w8(0); w8(0) // no disposal, 4/100s delay
      }
      w8(0x2c) // image descriptor
      w16(0); w16(0); w16(width); w16(height)
      w8(0) // no local table, not interlaced
      val mcs = 8
      w8(mcs)
      // LZW compress
      val clear = 1 << mcs
      val eoi = clear + 1
      var dictSize = eoi + 1
      var codeWidth = mcs + 1
      val dict = new java.util.HashMap[Integer, Integer]()
      val bits = new java.io.ByteArrayOutputStream()
      var acc = 0L
      var nAcc = 0
      def emit(code: Int): Unit = {
        acc |= code.toLong << nAcc
        nAcc += codeWidth
        while (nAcc >= 8) { bits.write((acc & 0xff).toInt); acc >>>= 8; nAcc -= 8 }
      }
      emit(clear)
      var cur = indices(0) & 0xff
      var i = 1
      while (i < indices.length) {
        val b = indices(i) & 0xff
        val key = Integer.valueOf((cur << 8) | b)
        val hit = dict.get(key)
        if (hit != null) cur = hit.intValue()
        else {
          emit(cur)
          if (dictSize == 4096) {
            emit(clear)
            dict.clear()
            dictSize = eoi + 1
            codeWidth = mcs + 1
          } else {
            dict.put(key, Integer.valueOf(dictSize))
            dictSize += 1
            // the decoder trails one entry behind: it reaches 2^w (and
            // widens) exactly when our dict holds 2^w + 1 entries
            if (dictSize == (1 << codeWidth) + 1 && codeWidth < 12) codeWidth += 1
          }
          cur = b
        }
        i += 1
      }
      emit(cur)
      emit(eoi)
      if (nAcc > 0) bits.write((acc & 0xff).toInt)
      // package into sub-blocks
      val payload = bits.toByteArray
      var off = 0
      while (off < payload.length) {
        val len = math.min(255, payload.length - off)
        w8(len)
        out.write(payload, off, len)
        off += len
      }
      w8(0) // block terminator
    }
    w8(0x3b) // trailer
    out.toByteArray
  }

  /** Deterministic JPEG golden for row `id`: procedural smooth RGB →
    * baseline 4:4:4 encode. Truth pixels come from the QUANTIZED
    * coefficients (dequant + shared IDCT), computed inside
    * [[JpegEncoder.encodeWithTruth]] without touching the bitstream —
    * JPEG is lossy, so the coefficients, not the source pixels, are the
    * truth.
    */
  def goldenJpeg(id: Long): (Array[Byte], PixelImage) = {
    var h = id * 0x9e3779b97f4a7c15L
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
    val w = 8 * (2 + Math.floorMod(h, 14).toInt)        // 16..112, %8==0
    val ht = 8 * (2 + Math.floorMod(h >> 16, 14).toInt)
    val px = new Array[Byte](w * ht * 3)
    var i = 0
    while (i < px.length) {
      val y = i / (w * 3); val x = (i % (w * 3)) / 3; val ch = i % 3
      // smooth gradients (JPEG-friendly) with mild per-row variation
      px(i) = ((x * (ch + 2) / 2 + y * 3 + ((h >> (ch * 8)) & 63)) & 0xff).toByte
      i += 1
    }
    JpegEncoder.encodeWithTruth(PixelImage(w, ht, 3, px))
  }

  /** Deterministic animated-GIF golden for row `id`: 3..10 procedural
    * frames evolving from a base plane. Returns (payload, per-frame
    * truth RGB images) with truth computed straight from the index
    * planes + palette (never through the LZW encoder).
    */
  def goldenAnimGif(id: Long): (Array[Byte], Seq[PixelImage]) = {
    var h = id * 0x9e3779b97f4a7c15L
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
    val w = 16 + Math.floorMod(h, 70).toInt
    val ht = 16 + Math.floorMod(h >> 16, 70).toInt
    val nFrames = 3 + Math.floorMod(h >> 32, 8).toInt
    val palette = new Array[Byte](768)
    var p = 0
    while (p < 256) {
      palette(p * 3) = ((p * 3 + (h >> 8)) & 0xff).toByte
      palette(p * 3 + 1) = ((p * 17 + (h >> 24)) & 0xff).toByte
      palette(p * 3 + 2) = ((p * 31 + (h >> 40)) & 0xff).toByte
      p += 1
    }
    val frames = (0 until nFrames).map { f =>
      val idx = new Array[Byte](w * ht)
      var i = 0
      while (i < idx.length) {
        val y = i / w; val x = i % w
        // per-frame drift: a moving gradient (motion the sampler sees)
        idx(i) = ((x / 2 + y * 3 + f * 11 + ((h >> (i % 32)) & 3)) & 0xff).toByte
        i += 1
      }
      idx
    }
    val truth = frames.map { idx =>
      val rgb = new Array[Byte](w * ht * 3)
      var i = 0
      while (i < idx.length) {
        val pi = idx(i) & 0xff
        rgb(i * 3) = palette(pi * 3)
        rgb(i * 3 + 1) = palette(pi * 3 + 1)
        rgb(i * 3 + 2) = palette(pi * 3 + 2)
        i += 1
      }
      PixelImage(w, ht, 3, rgb)
    }
    (makeAnimatedGif(w, ht, frames, palette), truth)
  }
}
