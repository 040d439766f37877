package graft.ops

/** Baseline JPEG (SOF0) pixel decoder, pure JVM — the third real image
  * pixel path next to PNG (Multimodal.decodePngPixels) and GIF
  * (Multimodal.decodeGifPixels).
  *
  * Scope: 8-bit baseline sequential, 3 components, 4:4:4 sampling, one
  * interleaved scan, standard zigzag, no restart markers, no
  * progressive/arithmetic coding — exactly what the golden encoder
  * emits and a common web shape. Anything else returns None (errors are
  * data).
  *
  * Dual-derivation structure (mirrors the PNG/GIF goldens): the entropy
  * and marker layer — huffman tables, bit packing, 0xFF byte stuffing,
  * DC prediction, zigzag — is written by the test-side encoder
  * (`graft.fixtures.JpegEncoder`) and independently parsed by
  * [[decode]]; the transform math (IDCT, YCbCr→RGB) is shared
  * deterministic code ([[idct8x8]], [[ycbcrToRgb]]), so generation-time
  * truth equals decode output bit-for-bit iff the bitstream layer
  * round-trips. JPEG is lossy, so truth is computed from the QUANTIZED
  * coefficients (dequant → IDCT), never from the source pixels.
  */
object Jpeg {

  /** Zigzag order: zigzag(i) = natural index of the i-th coefficient. */
  val zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63)

  /** Canonical huffman decode tables from a (bits, values) spec: min/max
    * code and value pointer per code length.
    */
  private final class HuffTable(bits: Array[Int], vals: Array[Int]) {
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17)
    val valPtr = new Array[Int](17)
    val values: Array[Int] = vals
    locally {
      var code = 0
      var k = 0
      var len = 1
      while (len <= 16) {
        valPtr(len) = k
        minCode(len) = code
        var i = 0
        while (i < bits(len)) {
          code += 1
          k += 1
          i += 1
        }
        maxCode(len) = code - 1 // -1 when no codes of this length
        if (bits(len) == 0) maxCode(len) = -1
        code <<= 1
        len += 1
      }
    }
  }

  // ---- shared transform math (deterministic, both derivations) ----

  /** Float IDCT of one dequantized 8x8 block → level-shifted clamped
    * 0..255 samples. Separable 1-D passes; double precision keeps this
    * bit-deterministic across JVMs (strictfp semantics are the default
    * on JDK 17+).
    */
  def idct8x8(coef: Array[Int], out: Array[Int]): Unit = {
    val tmp = new Array[Double](64)
    var u = 0
    // rows
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var sum = 0.0
        u = 0
        while (u < 8) {
          val cu = if (u == 0) 0.70710678118654752 else 1.0
          sum += cu * coef(y * 8 + u) * Math.cos((2 * x + 1) * u * Math.PI / 16)
          u += 1
        }
        tmp(y * 8 + x) = sum / 2.0
        x += 1
      }
      y += 1
    }
    var x = 0
    while (x < 8) {
      y = 0
      while (y < 8) {
        var sum = 0.0
        var v = 0
        while (v < 8) {
          val cv = if (v == 0) 0.70710678118654752 else 1.0
          sum += cv * tmp(v * 8 + x) * Math.cos((2 * y + 1) * v * Math.PI / 16)
          v += 1
        }
        val s = Math.round(sum / 2.0 + 128.0).toInt
        out(y * 8 + x) = if (s < 0) 0 else if (s > 255) 255 else s
        y += 1
      }
      x += 1
    }
  }

  /** JFIF YCbCr → RGB (shared by truth and decode). */
  def ycbcrToRgb(yv: Int, cb: Int, cr: Int): (Int, Int, Int) = {
    def clamp(d: Double): Int = {
      val r = Math.round(d).toInt
      if (r < 0) 0 else if (r > 255) 255 else r
    }
    (clamp(yv + 1.402 * (cr - 128)),
      clamp(yv - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)),
      clamp(yv + 1.772 * (cb - 128)))
  }

  // ---- bit IO ----

  private final class BitReader(b: Array[Byte], var pos: Int) {
    private var acc = 0L
    private var nBits = 0
    var bad = false
    /** Read `len` bits MSB-first, honoring 0xFF00 stuffing. */
    def get(len: Int): Int = {
      while (nBits < len && !bad) {
        if (pos >= b.length) { bad = true }
        else {
          val v = b(pos) & 0xff
          pos += 1
          if (v == 0xff) {
            if (pos < b.length && (b(pos) & 0xff) == 0x00) pos += 1
            else { bad = true } // a real marker inside entropy data
          }
          acc = (acc << 8) | v
          nBits += 8
        }
      }
      if (bad) return 0
      val r = ((acc >> (nBits - len)) & ((1L << len) - 1)).toInt
      nBits -= len
      r
    }
  }

  private def decodeHuffSymbol(r: BitReader, t: HuffTable): Int = {
    var code = r.get(1)
    var len = 1
    while (len <= 16) {
      if (t.maxCode(len) >= 0 && code <= t.maxCode(len))
        return t.values(t.valPtr(len) + code - t.minCode(len))
      code = (code << 1) | r.get(1)
      len += 1
    }
    r.bad = true
    0
  }

  /** Signed magnitude category decode (JPEG "extend"). */
  private def extend(v: Int, n: Int): Int =
    if (n == 0) 0 else if (v < (1 << (n - 1))) v - (1 << n) + 1 else v

  // ---- decode (the kernel) ----

  def decode(b: Array[Byte]): Option[Multimodal.PixelImage] = {
    try {
      if (b == null || b.length < 4 ||
          (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) return None
      var width = 0
      var height = 0
      var nComp = 0
      val qtOf = new Array[Int](4) // component -> quant table id
      val qts = Array.ofDim[Int](4, 64) // natural order
      val dcTables = new Array[HuffTable](4)
      val acTables = new Array[HuffTable](4)
      val compDc = new Array[Int](3)
      val compAc = new Array[Int](3)
      var i = 2
      var sosAt = -1
      while (sosAt < 0 && i + 3 < b.length) {
        if ((b(i) & 0xff) != 0xff) return None
        val marker = b(i + 1) & 0xff
        if (marker == 0xd9) return None // EOI before SOS
        else if (marker >= 0xd0 && marker <= 0xd7) { i += 2 }
        else {
          val len = ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
          val seg = i + 4
          val segEnd = i + 2 + len
          if (segEnd > b.length) return None
          marker match {
            case 0xdb => // DQT (possibly several tables per segment)
              var j = seg
              while (j < segEnd) {
                val pq = (b(j) >> 4) & 0x0f
                val tq = b(j) & 0x0f
                if (pq != 0 || tq > 3 || j + 65 > segEnd) return None
                var k = 0
                while (k < 64) { qts(tq)(zigzag(k)) = b(j + 1 + k) & 0xff; k += 1 }
                j += 65
              }
            case 0xc4 => // DHT
              var j = seg
              while (j < segEnd) {
                val tc = (b(j) >> 4) & 0x0f
                val th = b(j) & 0x0f
                if (th > 3 || j + 17 > segEnd) return None
                val bits = new Array[Int](17)
                var total = 0
                var k = 1
                while (k <= 16) { bits(k) = b(j + k) & 0xff; total += bits(k); k += 1 }
                if (j + 17 + total > segEnd) return None
                val vals = new Array[Int](total)
                k = 0
                while (k < total) { vals(k) = b(j + 17 + k) & 0xff; k += 1 }
                if (tc == 0) dcTables(th) = new HuffTable(bits, vals)
                else acTables(th) = new HuffTable(bits, vals)
                j += 17 + total
              }
            case 0xc0 => // SOF0 baseline
              if (len < 8) return None
              if ((b(seg) & 0xff) != 8) return None
              height = ((b(seg + 1) & 0xff) << 8) | (b(seg + 2) & 0xff)
              width = ((b(seg + 3) & 0xff) << 8) | (b(seg + 4) & 0xff)
              nComp = b(seg + 5) & 0xff
              if (nComp != 3 || width <= 0 || height <= 0) return None
              var c = 0
              while (c < 3) {
                val samp = b(seg + 6 + c * 3 + 1) & 0xff
                if (samp != 0x11) return None // 4:4:4 only
                qtOf(c) = b(seg + 6 + c * 3 + 2) & 0x0f
                c += 1
              }
            case m if m >= 0xc1 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc =>
              return None // progressive / extended / arithmetic
            case 0xdd => return None // restart intervals unsupported
            case 0xda => // SOS
              if (len < 6) return None
              val ns = b(seg) & 0xff
              if (ns != 3) return None
              var c = 0
              while (c < 3) {
                compDc(c) = (b(seg + 2 + c * 2) >> 4) & 0x0f
                compAc(c) = b(seg + 2 + c * 2) & 0x0f
                c += 1
              }
              sosAt = segEnd
            case _ => () // APPn / COM / etc: skip
          }
          i = segEnd
        }
      }
      if (sosAt < 0 || width == 0) return None
      var c = 0
      while (c < 3) {
        if (dcTables(compDc(c)) == null || acTables(compAc(c)) == null) return None
        c += 1
      }
      val bw = (width + 7) / 8
      val bh = (height + 7) / 8
      val planes = Array.ofDim[Int](3, bw * 8 * bh * 8)
      val r = new BitReader(b, sosAt)
      val prevDc = new Array[Int](3)
      val coef = new Array[Int](64)
      val recon = new Array[Int](64)
      var by = 0
      while (by < bh) {
        var bx = 0
        while (bx < bw) {
          c = 0
          while (c < 3) {
            val dcT = dcTables(compDc(c))
            val acT = acTables(compAc(c))
            val qt = qts(qtOf(c))
            java.util.Arrays.fill(coef, 0)
            // DC
            val n = decodeHuffSymbol(r, dcT)
            val diff = extend(r.get(n), n)
            prevDc(c) += diff
            coef(0) = prevDc(c) * qt(0)
            // AC
            var k = 1
            while (k < 64) {
              val sym = decodeHuffSymbol(r, acT)
              if (r.bad) return None
              if (sym == 0x00) k = 64 // EOB
              else if (sym == 0xf0) k += 16 // ZRL
              else {
                k += (sym >> 4) & 0x0f
                if (k > 63) return None
                val s = sym & 0x0f
                coef(zigzag(k)) = extend(r.get(s), s) * qt(zigzag(k))
                k += 1
              }
            }
            if (r.bad) return None
            idct8x8(coef, recon)
            var ii = 0
            while (ii < 64) {
              val x = bx * 8 + ii % 8
              val y = by * 8 + ii / 8
              planes(c)(y * bw * 8 + x) = recon(ii)
              ii += 1
            }
            c += 1
          }
          bx += 1
        }
        by += 1
      }
      // crop to real dims + color convert
      val px = new Array[Byte](width * height * 3)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          val sp = y * bw * 8 + x
          val (rr, gg, bb2) = ycbcrToRgb(planes(0)(sp), planes(1)(sp), planes(2)(sp))
          val dp = (y * width + x) * 3
          px(dp) = rr.toByte; px(dp + 1) = gg.toByte; px(dp + 2) = bb2.toByte
          x += 1
        }
        y += 1
      }
      Some(Multimodal.PixelImage(width, height, 3, px))
    } catch { case _: Exception => None }
  }
}
