package graft.fixtures

import graft.ops.Jpeg.{idct8x8, ycbcrToRgb, zigzag}
import graft.ops.Multimodal.PixelImage

/** Baseline JPEG encoder (SOF0, 3 components, 4:4:4, one interleaved
  * scan) for the golden JPEG rows. It writes the entropy and marker
  * layer that [[graft.ops.Jpeg.decode]] parses independently; the
  * transform math it shares with the decoder is `Jpeg.idct8x8` and
  * `Jpeg.ycbcrToRgb`, so decode output equals the truth bit-for-bit
  * iff the bitstream round-trips.
  */
object JpegEncoder {

  // ---- standard quantization tables (quality 50 base) ----
  // The quant matrices, bits/values huffman specs below (and zigzag)
  // are the NORMATIVE example tables of the JPEG standard (ITU-T T.81 /
  // ISO 10918-1, Annex K.1-K.3) — fixed public constants every baseline
  // codec ships verbatim, not code derived from any implementation.
  private val qLuma: Array[Int] = Array(
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99)
  private val qChroma: Array[Int] = Array(
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99)

  // ---- standard Annex K huffman tables: (bits per length 1..16, values) ----
  private val dcLumaBits = Array(0, 0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val dcLumaVals = Array(0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11)
  private val dcChromaBits = Array(0, 0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
  private val dcChromaVals = Array(0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11)
  private val acLumaBits = Array(0, 0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
  private val acLumaVals = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xa1, 0x08,
    0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0a, 0x16,
    0x17, 0x18, 0x19, 0x1a, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5, 0xa6, 0xa7,
    0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6,
    0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5,
    0xc6, 0xc7, 0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4,
    0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1, 0xe2,
    0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea,
    0xf1, 0xf2, 0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8,
    0xf9, 0xfa)
  private val acChromaBits = Array(0, 0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
  private val acChromaVals = Array(
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xa1, 0xb1, 0xc1, 0x09, 0x23, 0x33, 0x52, 0xf0,
    0x15, 0x62, 0x72, 0xd1, 0x0a, 0x16, 0x24, 0x34,
    0xe1, 0x25, 0xf1, 0x17, 0x18, 0x19, 0x1a, 0x26,
    0x27, 0x28, 0x29, 0x2a, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7a, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8a, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5,
    0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4,
    0xb5, 0xb6, 0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3,
    0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9, 0xca, 0xd2,
    0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda,
    0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9,
    0xea, 0xf2, 0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8,
    0xf9, 0xfa)

  /** Canonical huffman codes from a (bits, values) spec: code and code
    * length per symbol value (T.81 Annex C).
    */
  private final class Codes(bits: Array[Int], vals: Array[Int]) {
    val code = new Array[Int](256)
    val size = new Array[Int](256)
    locally {
      var c = 0
      var k = 0
      var len = 1
      while (len <= 16) {
        var i = 0
        while (i < bits(len)) {
          code(vals(k)) = c
          size(vals(k)) = len
          c += 1
          k += 1
          i += 1
        }
        c <<= 1
        len += 1
      }
    }
  }

  private val dcL = new Codes(dcLumaBits, dcLumaVals)
  private val dcC = new Codes(dcChromaBits, dcChromaVals)
  private val acL = new Codes(acLumaBits, acLumaVals)
  private val acC = new Codes(acChromaBits, acChromaVals)

  /** Forward DCT of one level-shifted 8x8 block. */
  def fdct8x8(samples: Array[Int], out: Array[Double]): Unit = {
    var v = 0
    while (v < 8) {
      var u = 0
      while (u < 8) {
        var sum = 0.0
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) {
            sum += (samples(y * 8 + x) - 128) *
              Math.cos((2 * x + 1) * u * Math.PI / 16) *
              Math.cos((2 * y + 1) * v * Math.PI / 16)
            x += 1
          }
          y += 1
        }
        val cu = if (u == 0) 0.70710678118654752 else 1.0
        val cv = if (v == 0) 0.70710678118654752 else 1.0
        out(v * 8 + u) = sum * cu * cv / 4.0
        u += 1
      }
      v += 1
    }
  }

  /** RGB → JFIF YCbCr. */
  def rgbToYcbcr(r: Int, g: Int, b: Int): (Int, Int, Int) = {
    def clamp(d: Double): Int = {
      val v = Math.round(d).toInt
      if (v < 0) 0 else if (v > 255) 255 else v
    }
    (clamp(0.299 * r + 0.587 * g + 0.114 * b),
      clamp(128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b),
      clamp(128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b))
  }

  // ---- bit IO ----

  private final class BitWriter {
    val out = new java.io.ByteArrayOutputStream()
    private var acc = 0L
    private var nBits = 0
    def put(code: Int, len: Int): Unit = {
      acc = (acc << len) | (code & ((1L << len) - 1))
      nBits += len
      while (nBits >= 8) {
        val b = ((acc >> (nBits - 8)) & 0xff).toInt
        out.write(b)
        if (b == 0xff) out.write(0x00) // byte stuffing
        nBits -= 8
      }
    }
    def flush(): Unit = {
      if (nBits > 0) {
        val pad = 8 - nBits
        put((1 << pad) - 1, pad) // pad with 1s per the spec
      }
    }
  }

  private def category(v: Int): Int = {
    var a = Math.abs(v)
    var n = 0
    while (a != 0) { a >>= 1; n += 1 }
    n
  }

  /** Encode interleaved YCbCr 4:4:4 blocks. `quantized` holds, per MCU,
    * three zigzagged quantized 64-coefficient blocks (Y, Cb, Cr).
    * [[encodeWithTruth]] derives truth pixels from these SAME
    * coefficients without touching the bitstream.
    */
  def encodeFromCoefficients(width: Int, height: Int,
      quantized: Array[Array[Int]]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w8(v: Int): Unit = out.write(v & 0xff)
    def w16(v: Int): Unit = { w8(v >> 8); w8(v) }
    def marker(m: Int): Unit = { w8(0xff); w8(m) }
    marker(0xd8) // SOI
    // DQT x2
    marker(0xdb); w16(67); w8(0)
    var i = 0
    while (i < 64) { w8(qLuma(zigzag(i))); i += 1 }
    marker(0xdb); w16(67); w8(1)
    i = 0
    while (i < 64) { w8(qChroma(zigzag(i))); i += 1 }
    // SOF0: 8-bit, 3 components, all 1x1 sampling
    marker(0xc0); w16(17); w8(8); w16(height); w16(width); w8(3)
    w8(1); w8(0x11); w8(0) // Y  -> qt 0
    w8(2); w8(0x11); w8(1) // Cb -> qt 1
    w8(3); w8(0x11); w8(1) // Cr -> qt 1
    // DHT x4
    def dht(clazz: Int, id: Int, bits: Array[Int], vals: Array[Int]): Unit = {
      marker(0xc4)
      w16(2 + 1 + 16 + vals.length)
      w8((clazz << 4) | id)
      var l = 1
      while (l <= 16) { w8(bits(l)); l += 1 }
      vals.foreach(w8)
    }
    dht(0, 0, dcLumaBits, dcLumaVals)
    dht(1, 0, acLumaBits, acLumaVals)
    dht(0, 1, dcChromaBits, dcChromaVals)
    dht(1, 1, acChromaBits, acChromaVals)
    // SOS
    marker(0xda); w16(12); w8(3)
    w8(1); w8(0x00) // Y: DC 0 / AC 0
    w8(2); w8(0x11) // Cb: DC 1 / AC 1
    w8(3); w8(0x11)
    w8(0); w8(63); w8(0)
    // entropy-coded data
    val bw = new BitWriter
    val prevDc = new Array[Int](3)
    var m = 0
    while (m < quantized.length) {
      val comp = m % 3
      val blk = quantized(m)
      val (dcT, acT) = if (comp == 0) (dcL, acL) else (dcC, acC)
      // DC
      val diff = blk(0) - prevDc(comp)
      prevDc(comp) = blk(0)
      val n = category(diff)
      bw.put(dcT.code(n), dcT.size(n))
      if (n > 0) bw.put(if (diff < 0) diff + (1 << n) - 1 else diff, n)
      // AC with run-length + ZRL + EOB
      var k = 1
      var run = 0
      while (k < 64) {
        val v = blk(k)
        if (v == 0) run += 1
        else {
          while (run > 15) { bw.put(acT.code(0xf0), acT.size(0xf0)); run -= 16 }
          val s = category(v)
          val sym = (run << 4) | s
          bw.put(acT.code(sym), acT.size(sym))
          bw.put(if (v < 0) v + (1 << s) - 1 else v, s)
          run = 0
        }
        k += 1
      }
      if (run > 0) bw.put(acT.code(0x00), acT.size(0x00)) // EOB
      m += 1
    }
    bw.flush()
    out.write(bw.out.toByteArray)
    marker(0xd9) // EOI
    out.toByteArray
  }

  /** RGB pixels → (jpeg bytes, truth pixels). Truth is dequant+IDCT of
    * the same quantized coefficients the bitstream carries (JPEG is
    * lossy: the source pixels are NOT the truth, the coefficients are).
    */
  def encodeWithTruth(img: PixelImage): (Array[Byte], PixelImage) = {
    require(img.channels == 3 && img.width % 8 == 0 && img.height % 8 == 0,
      "golden JPEGs are RGB with multiple-of-8 dims")
    val w = img.width
    val h = img.height
    val bw = w / 8
    val bh = h / 8
    // component planes
    val planes = Array.ofDim[Int](3, w * h)
    var p = 0
    while (p < w * h) {
      val (yv, cb, cr) = rgbToYcbcr(img.pixels(p * 3) & 0xff,
        img.pixels(p * 3 + 1) & 0xff, img.pixels(p * 3 + 2) & 0xff)
      planes(0)(p) = yv; planes(1)(p) = cb; planes(2)(p) = cr
      p += 1
    }
    val mcus = new Array[Array[Int]](bw * bh * 3)
    val truthPlanes = Array.ofDim[Int](3, w * h)
    val samples = new Array[Int](64)
    val freq = new Array[Double](64)
    val recon = new Array[Int](64)
    val deq = new Array[Int](64)
    var by = 0
    var mi = 0
    while (by < bh) {
      var bx = 0
      while (bx < bw) {
        var comp = 0
        while (comp < 3) {
          val qt = if (comp == 0) qLuma else qChroma
          var i = 0
          while (i < 64) {
            val x = bx * 8 + i % 8
            val y = by * 8 + i / 8
            samples(i) = planes(comp)(y * w + x)
            i += 1
          }
          fdct8x8(samples, freq)
          val zz = new Array[Int](64)
          i = 0
          while (i < 64) {
            val nat = zigzag(i)
            zz(i) = Math.round(freq(nat) / qt(nat)).toInt
            i += 1
          }
          mcus(mi) = zz
          // truth: dequantize + shared IDCT
          i = 0
          while (i < 64) { deq(zigzag(i)) = zz(i) * qt(zigzag(i)); i += 1 }
          idct8x8(deq, recon)
          i = 0
          while (i < 64) {
            val x = bx * 8 + i % 8
            val y = by * 8 + i / 8
            truthPlanes(comp)(y * w + x) = recon(i)
            i += 1
          }
          comp += 1
          mi += 1
        }
        bx += 1
      }
      by += 1
    }
    val truth = new Array[Byte](w * h * 3)
    p = 0
    while (p < w * h) {
      val (r, g, b) = ycbcrToRgb(truthPlanes(0)(p), truthPlanes(1)(p), truthPlanes(2)(p))
      truth(p * 3) = r.toByte; truth(p * 3 + 1) = g.toByte; truth(p * 3 + 2) = b.toByte
      p += 1
    }
    (encodeFromCoefficients(w, h, mcus), PixelImage(w, h, 3, truth))
  }
}
