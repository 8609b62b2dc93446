package graft.multimodal

import scala.collection.mutable.ArrayBuffer

/** Baseline sequential JPEG codec (ITU-T T.81 / JFIF), pure JVM, no
  * dependencies — the second half of retiring the r6 "full-frame decode
  * needs a native codec" disclosure (PNG went in r16 via `PngCodec`;
  * after this, the disclosure narrows to MP4 video frames alone).
  *
  * Decoder (the library surface): real marker walk (APPn/COM skipped by
  * length), DQT with multiple tables per segment, SOF0, DHT built into
  * T.81 F.2.2.3 mincode/maxcode/valptr decode tables, SOS, then
  * bit-serial entropy decode with 0xFF00 unstuffing, run/size AC
  * decoding incl. ZRL/EOB, dequantization, a full 2-D IDCT per block,
  * level shift + clamp, and fixed-point YCbCr→RGB (constants derived
  * from the JFIF matrix at object init — the oracle SQL interpolates
  * the SAME values, so codec and replay cannot drift). Supports the
  * shapes the pipeline generates: 8-bit baseline, 1 or 3 components,
  * 4:4:4 (no subsampling), no restart markers — violations return None
  * loudly rather than mis-decoding.
  *
  * Encoder (the generator side): level shift, double-precision FDCT,
  * quantization (the pipeline ships all-ones tables ≈ quality 100),
  * zigzag, and Huffman coding with the STANDARD Annex K tables written
  * into DHT segments — so the emitted files are ordinary JFIF any
  * decoder reads. The pipeline feeds BLOCK-CONSTANT content on purpose:
  * a constant block's FDCT is exactly DC-only (the 64-point cosine sums
  * cancel below the round), and a DC-only IDCT is exactly uniform — so
  * the decode roundtrip is bit-exact and the DuckDB oracle can replay
  * the expected pixels from the id formula + the fixed-point color
  * roundtrip, while the decoder still runs its general path end to end.
  * Lossy AC-bearing content is the codec's normal case and is
  * spec-verified by tolerance roundtrip (`JpegCodecSpec`), not oracled.
  */
object JpegCodec {

  /** Zigzag scan order: i-th scanned coefficient's raster index. */
  private val ZigZag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63)

  // --- Annex K (K.3) Huffman tables ------------------------------------
  // bits(i) = number of codes of length i+1; vals in code order. These
  // are WRITTEN into DHT, and the decoder builds its tables from DHT —
  // the constants here are the encoder's choice of standard tables, not
  // a decode-side assumption.

  private val DcLumBits = Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val DcLumVals = (0 to 11).toArray
  private val DcChrBits = Array(0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
  private val DcChrVals = (0 to 11).toArray

  private val AcLumBits = Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
  private val AcLumVals = Array(
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
  private val AcChrBits = Array(0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
  private val AcChrVals = Array(
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

  // --- fixed-point JFIF color conversion (16-bit scale) -----------------
  // Derived, not hand-written: the oracle SQL interpolates these same
  // vals, so the replay's integer arithmetic is the codec's by
  // construction. Rounding is floor((sum + Half) / 65536) — Java's
  // arithmetic >> 16 IS floor division, matching SQL's // on negatives.

  private def fix(x: Double): Int = math.round(x * 65536).toInt
  private[multimodal] val Half = 32768

  private[multimodal] val FYR = fix(0.299)
  private[multimodal] val FYG = fix(0.587)
  private[multimodal] val FYB = fix(0.114)
  private[multimodal] val FCbR = -fix(0.168735892)
  private[multimodal] val FCbG = -fix(0.331264108)
  private[multimodal] val FCbB = fix(0.5)
  private[multimodal] val FCrR = fix(0.5)
  private[multimodal] val FCrG = -fix(0.418687589)
  private[multimodal] val FCrB = -fix(0.081312411)
  private[multimodal] val FRCr = fix(1.402)
  private[multimodal] val FGCb = fix(0.344136286)
  private[multimodal] val FGCr = fix(0.714136286)
  private[multimodal] val FBCb = fix(1.772)

  private def clamp(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

  /** RGB → YCbCr, the encoder direction. */
  private[graft] def rgbToYcbcr(r: Int, g: Int, b: Int): (Int, Int, Int) = (
    (FYR * r + FYG * g + FYB * b + Half) >> 16,
    ((FCbR * r + FCbG * g + FCbB * b + Half) >> 16) + 128,
    ((FCrR * r + FCrG * g + FCrB * b + Half) >> 16) + 128)

  /** YCbCr → RGB with clamp, the decoder direction. */
  private[graft] def ycbcrToRgb(y: Int, cb: Int, cr: Int): (Int, Int, Int) = {
    val cbd = cb - 128
    val crd = cr - 128
    (clamp(y + ((FRCr * crd + Half) >> 16)),
      clamp(y - ((FGCb * cbd + FGCr * crd + Half) >> 16)),
      clamp(y + ((FBCb * cbd + Half) >> 16)))
  }

  // --- DCT (double precision, O(64²) per block — exact on the shapes
  // the oracle relies on: a constant block forward-transforms to
  // DC-only below rounding, and a DC-only block inverse-transforms to
  // an exactly uniform field) ------------------------------------------

  private val CosT: Array[Array[Double]] =
    Array.tabulate(8, 8)((x, u) => math.cos((2 * x + 1) * u * math.Pi / 16))
  private def cc(u: Int): Double = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0

  private def fdct(f: Array[Double]): Array[Double] = {
    val out = new Array[Double](64)
    var u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        var s = 0.0
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) { s += f(y * 8 + x) * CosT(x)(u) * CosT(y)(v); x += 1 }
          y += 1
        }
        out(v * 8 + u) = 0.25 * cc(u) * cc(v) * s
        v += 1
      }
      u += 1
    }
    out
  }

  private def idct(coef: Array[Double]): Array[Double] = {
    val out = new Array[Double](64)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0
        var v = 0
        while (v < 8) {
          var u = 0
          while (u < 8) { s += cc(u) * cc(v) * coef(v * 8 + u) * CosT(x)(u) * CosT(y)(v); u += 1 }
          v += 1
        }
        out(y * 8 + x) = 0.25 * s
        x += 1
      }
      y += 1
    }
    out
  }

  // --- bit I/O with 0xFF byte stuffing ----------------------------------

  private final class BitWriter(out: ArrayBuffer[Byte]) {
    private var acc = 0
    private var n = 0
    def put(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        acc = (acc << 1) | ((code >> i) & 1)
        n += 1
        if (n == 8) {
          out += acc.toByte
          if ((acc & 0xff) == 0xff) out += 0x00.toByte
          acc = 0; n = 0
        }
        i -= 1
      }
    }
    def flush(): Unit = if (n > 0) put((1 << (8 - n)) - 1, 8 - n)
  }

  private final class BitReader(b: Array[Byte], var pos: Int) {
    private var acc = 0
    private var n = 0
    var truncated = false
    /** One bit; scan-end markers read as 1s (truncated flagged). */
    def bit(): Int = {
      if (n == 0) {
        if (pos < b.length && (b(pos) & 0xff) != 0xff) { acc = b(pos) & 0xff; pos += 1 }
        else if (pos + 1 < b.length && (b(pos) & 0xff) == 0xff && b(pos + 1) == 0) {
          acc = 0xff; pos += 2 // stuffed 0xFF data byte
        } else { truncated = true; acc = 0xff } // marker or EOF: pad 1s
        n = 8
      }
      n -= 1
      (acc >> n) & 1
    }
    def bits(len: Int): Int = {
      var v = 0
      var i = 0
      while (i < len) { v = (v << 1) | bit(); i += 1 }
      v
    }
  }

  // --- Huffman ----------------------------------------------------------

  /** Canonical code assignment for encoding: per symbol (code, len). */
  private def encTable(bits: Array[Int], vals: Array[Int]): Array[(Int, Int)] = {
    val t = new Array[(Int, Int)](256)
    var code = 0
    var k = 0
    var len = 1
    while (len <= 16) {
      var i = 0
      while (i < bits(len - 1)) { t(vals(k)) = (code, len); code += 1; k += 1; i += 1 }
      code <<= 1
      len += 1
    }
    t
  }

  /** T.81 F.2.2.3 serial decode tables. */
  private final class DecTable(bits: Array[Int], val vals: Array[Int]) {
    val minCode = new Array[Int](17)
    val maxCode = Array.fill(17)(-1)
    val valPtr = new Array[Int](17)
    locally {
      var code = 0
      var k = 0
      var len = 1
      while (len <= 16) {
        if (bits(len - 1) > 0) {
          valPtr(len) = k
          minCode(len) = code
          code += bits(len - 1)
          k += bits(len - 1)
          maxCode(len) = code - 1
        }
        code <<= 1
        len += 1
      }
    }
    def decode(in: BitReader): Int = {
      var code = in.bit()
      var len = 1
      while (len < 16 && (maxCode(len) < 0 || code > maxCode(len))) {
        code = (code << 1) | in.bit()
        len += 1
      }
      if (maxCode(len) < 0 || code > maxCode(len)) -1
      else vals(valPtr(len) + code - minCode(len))
    }
  }

  private def category(v: Int): Int =
    if (v == 0) 0 else 32 - Integer.numberOfLeadingZeros(math.abs(v))

  private def extend(v: Int, s: Int): Int =
    if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v

  // --- encoder -----------------------------------------------------------

  /** All-ones quantization tables (≈ quality 100) — what the pipeline
    * ships; the DQT segment carries whatever table is passed.
    */
  private val QOnes: Array[Int] = Array.fill(64)(1)

  /** Encode interleaved 8-bit RGB as baseline JFIF, 4:4:4, Annex K
    * Huffman tables, all-ones quantization.
    */
  def encode(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
    require(rgb.length == w * h * 3, "interleaved RGB expected")
    val out = ArrayBuffer.empty[Byte]
    def u8(v: Int): Unit = out += v.toByte
    def u16(v: Int): Unit = { u8(v >> 8); u8(v & 0xff) }
    def marker(m: Int): Unit = { u8(0xff); u8(m) }
    marker(0xd8) // SOI
    // APP0 JFIF v1.01, no thumbnail
    marker(0xe0); u16(16)
    Seq('J', 'F', 'I', 'F', 0.toChar).foreach(c => u8(c.toInt))
    u8(1); u8(1); u8(0); u16(1); u16(1); u8(0); u8(0)
    // DQT: table 0 (luma) and 1 (chroma), zigzag order
    Seq(0, 1).foreach { id =>
      marker(0xdb); u16(67); u8(id)
      ZigZag.foreach(z => u8(QOnes(z)))
    }
    // SOF0: 8-bit, 3 components, 4:4:4
    marker(0xc0); u16(17); u8(8); u16(h); u16(w); u8(3)
    u8(1); u8(0x11); u8(0) // Y, quant 0
    u8(2); u8(0x11); u8(1) // Cb, quant 1
    u8(3); u8(0x11); u8(1) // Cr, quant 1
    // DHT x4
    def dht(cls: Int, id: Int, bits: Array[Int], vals: Array[Int]): Unit = {
      marker(0xc4); u16(19 + vals.length); u8((cls << 4) | id)
      bits.foreach(u8); vals.foreach(u8)
    }
    dht(0, 0, DcLumBits, DcLumVals); dht(1, 0, AcLumBits, AcLumVals)
    dht(0, 1, DcChrBits, DcChrVals); dht(1, 1, AcChrBits, AcChrVals)
    // SOS
    marker(0xda); u16(12); u8(3)
    u8(1); u8(0x00); u8(2); u8(0x11); u8(3); u8(0x11)
    u8(0); u8(63); u8(0)
    // component planes (edge-replicated to block multiples)
    val bw = (w + 7) / 8
    val bh = (h + 7) / 8
    val planes = Array.ofDim[Int](3, bw * 8 * bh * 8)
    var y = 0
    while (y < bh * 8) {
      var x = 0
      while (x < bw * 8) {
        val sx = math.min(x, w - 1)
        val sy = math.min(y, h - 1)
        val i = (sy * w + sx) * 3
        val (cy, cb, cr) = rgbToYcbcr(rgb(i) & 0xff, rgb(i + 1) & 0xff, rgb(i + 2) & 0xff)
        planes(0)(y * bw * 8 + x) = cy
        planes(1)(y * bw * 8 + x) = cb
        planes(2)(y * bw * 8 + x) = cr
        x += 1
      }
      y += 1
    }
    val dcT = Array(encTable(DcLumBits, DcLumVals), encTable(DcChrBits, DcChrVals))
    val acT = Array(encTable(AcLumBits, AcLumVals), encTable(AcChrBits, AcChrVals))
    val bwOut = new BitWriter(out)
    val pred = new Array[Int](3)
    val blk = new Array[Double](64)
    var by = 0
    while (by < bh) {
      var bx = 0
      while (bx < bw) {
        var comp = 0
        while (comp < 3) {
          val tid = if (comp == 0) 0 else 1
          var j = 0
          while (j < 64) {
            blk(j) = planes(comp)((by * 8 + j / 8) * bw * 8 + bx * 8 + j % 8) - 128.0
            j += 1
          }
          val coef = fdct(blk)
          val zz = new Array[Int](64)
          var i = 0
          while (i < 64) { zz(i) = math.round(coef(ZigZag(i)) / QOnes(ZigZag(i))).toInt; i += 1 }
          // Annex K AC tables stop at size 10 (|v| <= 1023): a
          // pathological all-ones-quant block (Nyquist checkerboard at
          // full swing) can exceed it, so clamp — an encoder-side
          // magnitude choice, lossy-legal, inert on ordinary content.
          i = 1
          while (i < 64) {
            if (zz(i) > 1023) zz(i) = 1023 else if (zz(i) < -1023) zz(i) = -1023
            i += 1
          }
          // DC
          val diff = zz(0) - pred(comp)
          pred(comp) = zz(0)
          val s = category(diff)
          val (dcode, dlen) = dcT(tid)(s)
          bwOut.put(dcode, dlen)
          if (s > 0) bwOut.put(if (diff < 0) diff + (1 << s) - 1 else diff, s)
          // AC with ZRL/EOB
          var k = 1
          var run = 0
          while (k < 64) {
            if (zz(k) == 0) run += 1
            else {
              while (run >= 16) {
                val (zc, zl) = acT(tid)(0xf0); bwOut.put(zc, zl); run -= 16
              }
              val as = category(zz(k))
              val (ac, al) = acT(tid)((run << 4) | as)
              bwOut.put(ac, al)
              bwOut.put(if (zz(k) < 0) zz(k) + (1 << as) - 1 else zz(k), as)
              run = 0
            }
            k += 1
          }
          if (run > 0) { val (ec, el) = acT(tid)(0x00); bwOut.put(ec, el) }
          comp += 1
        }
        bx += 1
      }
      by += 1
    }
    bwOut.flush()
    marker(0xd9) // EOI
    out.toArray
  }

  // --- decoder -----------------------------------------------------------

  /** Decode a baseline JFIF byte stream; None on anything outside the
    * supported envelope (progressive, subsampled, restart-marked, >2
    * quant precision, truncated scans).
    */
  def decode(b: Array[Byte]): Option[RgbImage] = {
    if (b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) return None
    val quant = Array.ofDim[Int](4, 64)
    val dcTabs = new Array[DecTable](4)
    val acTabs = new Array[DecTable](4)
    var w = 0; var h = 0
    var nComp = 0
    val compQ = new Array[Int](3)
    val compDc = new Array[Int](3)
    val compAc = new Array[Int](3)
    var pos = 2
    var scanStart = -1
    while (scanStart < 0) {
      if (pos + 4 > b.length) return None
      if ((b(pos) & 0xff) != 0xff) return None
      val m = b(pos + 1) & 0xff
      val len = ((b(pos + 2) & 0xff) << 8) | (b(pos + 3) & 0xff)
      val seg = pos + 4
      val segEnd = pos + 2 + len
      if (segEnd > b.length) return None
      m match {
        case 0xdb => // DQT: one or more tables
          var p = seg
          while (p < segEnd) {
            val pq = (b(p) & 0xff) >> 4
            val tq = b(p) & 0x0f
            if (pq != 0 || tq > 3) return None // 8-bit tables only
            var i = 0
            while (i < 64) { quant(tq)(ZigZag(i)) = b(p + 1 + i) & 0xff; i += 1 }
            p += 65
          }
        case 0xc0 => // SOF0 baseline
          h = ((b(seg + 1) & 0xff) << 8) | (b(seg + 2) & 0xff)
          w = ((b(seg + 3) & 0xff) << 8) | (b(seg + 4) & 0xff)
          nComp = b(seg + 5) & 0xff
          if ((b(seg) & 0xff) != 8 || (nComp != 1 && nComp != 3)) return None
          var c = 0
          while (c < nComp) {
            if ((b(seg + 7 + 3 * c) & 0xff) != 0x11) return None // 4:4:4 only
            compQ(c) = b(seg + 8 + 3 * c) & 0x0f
            c += 1
          }
        case 0xc4 => // DHT: one or more tables
          var p = seg
          while (p < segEnd) {
            val cls = (b(p) & 0xff) >> 4
            val id = b(p) & 0x0f
            if (cls > 1 || id > 3) return None
            val bits = Array.tabulate(16)(i => b(p + 1 + i) & 0xff)
            val n = bits.sum
            val vals = Array.tabulate(n)(i => b(p + 17 + i) & 0xff)
            val t = new DecTable(bits, vals)
            if (cls == 0) dcTabs(id) = t else acTabs(id) = t
            p += 17 + n
          }
        case 0xda => // SOS
          val ns = b(seg) & 0xff
          if (ns != nComp) return None
          var c = 0
          while (c < ns) {
            compDc(c) = (b(seg + 2 + 2 * c) & 0xff) >> 4
            compAc(c) = b(seg + 2 + 2 * c) & 0x0f
            c += 1
          }
          scanStart = segEnd
        case x if x >= 0xc1 && x <= 0xcf && x != 0xc4 && x != 0xc8 && x != 0xcc =>
          return None // non-baseline SOF
        case 0xdd => return None // DRI/restart markers unsupported
        case _ => () // APPn / COM / others: skip by length
      }
      pos = segEnd
    }
    if (w <= 0 || h <= 0) return None
    val bw = (w + 7) / 8
    val bh = (h + 7) / 8
    val planes = Array.ofDim[Int](nComp, bw * 8 * bh * 8)
    val in = new BitReader(b, scanStart)
    val pred = new Array[Int](3)
    val zz = new Array[Int](64)
    val coef = new Array[Double](64)
    var by = 0
    while (by < bh) {
      var bx = 0
      while (bx < bw) {
        var comp = 0
        while (comp < nComp) {
          val dcT = dcTabs(compDc(comp))
          val acT = acTabs(compAc(comp))
          if (dcT == null || acT == null) return None
          java.util.Arrays.fill(zz, 0)
          val s = dcT.decode(in)
          if (s < 0 || s > 11) return None
          pred(comp) += extend(in.bits(s), s)
          zz(0) = pred(comp)
          var k = 1
          var done = false
          while (k < 64 && !done) {
            val sym = acT.decode(in)
            if (sym < 0) return None
            val r = sym >> 4
            val sz = sym & 0x0f
            if (sz == 0) {
              if (r == 15) k += 16 else done = true // ZRL vs EOB
            } else {
              k += r
              if (k > 63) return None
              zz(k) = extend(in.bits(sz), sz)
              k += 1
            }
          }
          if (in.truncated) return None
          val q = quant(compQ(comp))
          var i = 0
          while (i < 64) { coef(ZigZag(i)) = zz(i).toDouble * q(ZigZag(i)); i += 1 }
          val px = idct(coef)
          var j = 0
          while (j < 64) {
            planes(comp)((by * 8 + j / 8) * bw * 8 + bx * 8 + j % 8) =
              clamp(math.round(px(j) + 128.0).toInt)
            j += 1
          }
          comp += 1
        }
        bx += 1
      }
      by += 1
    }
    val rgb = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val i = y * bw * 8 + x
        val (r, g, bl) =
          if (nComp == 1) (planes(0)(i), planes(0)(i), planes(0)(i))
          else ycbcrToRgb(planes(0)(i), planes(1)(i), planes(2)(i))
        val o = (y * w + x) * 3
        rgb(o) = r.toByte; rgb(o + 1) = g.toByte; rgb(o + 2) = bl.toByte
        x += 1
      }
      y += 1
    }
    Some(RgbImage(w, h, rgb))
  }
}
