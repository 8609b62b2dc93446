package graft.multimodal

import java.util.zip.{CRC32, Deflater, Inflater}

/** A decoded 8-bit RGB frame, pixels interleaved r, g, b row-major —
  * what both `PngCodec.decode` and `JpegCodec.decode` return.
  */
final case class RgbImage(width: Int, height: Int, pixels: Array[Byte]) {
  /** Exact per-channel byte sums (r, g, b) — int64, order-defined. */
  def channelSums: (Long, Long, Long) = {
    var r = 0L; var g = 0L; var b = 0L
    var i = 0
    while (i + 2 < pixels.length) {
      r += pixels(i) & 0xff; g += pixels(i + 1) & 0xff; b += pixels(i + 2) & 0xff
      i += 3
    }
    (r, g, b)
  }
}

/** Pure-JVM PNG codec: full-frame pixel decode (zlib inflate + all five
  * scanline unfilters + chunk-CRC verification) and the matching
  * encoder the media generator uses to synthesize REAL pixel-bearing
  * PNGs. This retires the "no full-frame pixel decode" disclosure for
  * PNG — `java.util.zip.Inflater` plus the five PNG filter predictors
  * (RFC 2083 §6) is dependency-free public-knowledge JVM code; JPEG
  * and MP4 frame decode still need native codecs and stay header-walk
  * (the remaining, narrower disclosure).
  *
  * Supported pixel layout: 8-bit-depth truecolor RGB (color type 2,
  * no interlace) — the layout the generator emits; anything else
  * returns None rather than mis-decoding.
  *
  * Determinism: the DECODER is exact (zlib is lossless, unfiltering is
  * integer arithmetic), so decoded pixels equal the generator formula
  * bit-for-bit regardless of which deflate the encoder used — the
  * oracle replays pixel STATS from the id formula, never the
  * compressed bytes. Reference behavior anchor: media assets are
  * opaque blobs + typed metadata in the reference
  * (datapipeline/models.py:41 gathered match blobs); pixel decode is
  * the engine-side feature extraction a training pipeline adds.
  */
object PngCodec {

  private val Signature: Array[Byte] =
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  // ---------------------------------------------------------------- decode

  /** Decode a complete PNG: chunk walk (CRC-verified), IDAT
    * concatenation, zlib inflate, scanline unfilter. None on any
    * structural violation — truncated stream, bad CRC, unsupported
    * layout, inflated size mismatch — never a partial image.
    */
  def decode(b: Array[Byte]): Option[RgbImage] = {
    if (b.length < Signature.length + 12) return None
    var i = 0
    while (i < Signature.length) {
      if (b(i) != Signature(i)) return None
      i += 1
    }
    var w = -1; var h = -1
    var supported = false
    val idat = new java.io.ByteArrayOutputStream()
    var pos = Signature.length
    var done = false
    while (!done && pos + 12 <= b.length) {
      val len = be(b, pos, 4)
      if (len < 0 || pos + 12L + len > b.length) return None
      val tag = new String(b, pos + 4, 4, java.nio.charset.StandardCharsets.ISO_8859_1)
      val crc = new CRC32()
      crc.update(b, pos + 4, 4 + len)
      if (crc.getValue != (be(b, pos + 8 + len, 4).toLong & 0xffffffffL)) return None
      tag match {
        case "IHDR" =>
          if (len != 13) return None
          w = be(b, pos + 8, 4)
          h = be(b, pos + 12, 4)
          val bitDepth = b(pos + 16) & 0xff
          val colorType = b(pos + 17) & 0xff
          val interlace = b(pos + 20) & 0xff
          supported = bitDepth == 8 && colorType == 2 && interlace == 0
        case "IDAT" => idat.write(b, pos + 8, len)
        case "IEND" => done = true
        case _      => () // ancillary chunks are skipped by length
      }
      pos += 12 + len
    }
    if (!done || !supported || w <= 0 || h <= 0) return None
    val bpp = 3
    val stride = w * bpp
    val expected = h * (1 + stride)
    val raw = inflate(idat.toByteArray, expected).getOrElse(return None)
    if (raw.length != expected) return None
    // Unfilter in place into the output (RFC 2083 §6.1-6.6): a is the
    // reconstructed byte bpp back, bb the byte above, c above-left.
    val out = new Array[Byte](h * stride)
    var y = 0
    while (y < h) {
      val filter = raw(y * (1 + stride)) & 0xff
      if (filter > 4) return None
      val src = y * (1 + stride) + 1
      val dst = y * stride
      var x = 0
      while (x < stride) {
        val v = raw(src + x) & 0xff
        val a = if (x >= bpp) out(dst + x - bpp) & 0xff else 0
        val bb = if (y > 0) out(dst - stride + x) & 0xff else 0
        val c = if (x >= bpp && y > 0) out(dst - stride + x - bpp) & 0xff else 0
        val recon = filter match {
          case 0 => v
          case 1 => v + a
          case 2 => v + bb
          case 3 => v + ((a + bb) >> 1)
          case 4 => v + paeth(a, bb, c)
        }
        out(dst + x) = (recon & 0xff).toByte
        x += 1
      }
      y += 1
    }
    Some(RgbImage(w, h, out))
  }

  /** Paeth predictor (RFC 2083 §6.6): nearest of a/b/c to a+b-c with
    * the left-upper-upperleft tie order.
    */
  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  private def inflate(data: Array[Byte], expected: Int): Option[Array[Byte]] = {
    val inf = new Inflater()
    try {
      inf.setInput(data)
      val out = new Array[Byte](expected)
      var off = 0
      while (off < expected && !inf.finished()) {
        val n = inf.inflate(out, off, expected - off)
        if (n == 0 && inf.needsInput()) return None // truncated stream
        off += n
      }
      if (off == expected && inf.getRemaining == 0) Some(out) else None
    } catch {
      case _: java.util.zip.DataFormatException => None
    } finally inf.end()
  }

  /** The n-byte big-endian unsigned integer at `off` (n <= 4). */
  private[multimodal] def be(b: Array[Byte], off: Int, n: Int): Int = {
    var v = 0; var i = 0
    while (i < n) { v = (v << 8) | (b(off + i) & 0xff); i += 1 }
    v
  }

  // ---------------------------------------------------------------- encode

  /** Encode 8-bit RGB pixels as a complete PNG, cycling the scanline
    * filter type (y mod 5) so a decode exercises every unfilter path,
    * not just the trivial one. Deflate level is fixed for stable sizes;
    * decode correctness never depends on the compressor's byte choices.
    */
  def encode(w: Int, h: Int, pixels: Array[Byte]): Array[Byte] = {
    require(pixels.length == w * h * 3, s"need ${w * h * 3} bytes, got ${pixels.length}")
    val bpp = 3
    val stride = w * bpp
    val raw = new Array[Byte](h * (1 + stride))
    var y = 0
    while (y < h) {
      val filter = y % 5
      raw(y * (1 + stride)) = filter.toByte
      var x = 0
      while (x < stride) {
        val v = pixels(y * stride + x) & 0xff
        val a = if (x >= bpp) pixels(y * stride + x - bpp) & 0xff else 0
        val bb = if (y > 0) pixels((y - 1) * stride + x) & 0xff else 0
        val c = if (x >= bpp && y > 0) pixels((y - 1) * stride + x - bpp) & 0xff else 0
        val filt = filter match {
          case 0 => v
          case 1 => v - a
          case 2 => v - bb
          case 3 => v - ((a + bb) >> 1)
          case 4 => v - paeth(a, bb, c)
        }
        raw(y * (1 + stride) + 1 + x) = (filt & 0xff).toByte
        x += 1
      }
      y += 1
    }
    val ihdr = new Array[Byte](13)
    putBe(ihdr, 0, w, 4); putBe(ihdr, 4, h, 4)
    ihdr(8) = 8; ihdr(9) = 2; ihdr(10) = 0; ihdr(11) = 0; ihdr(12) = 0
    val out = new java.io.ByteArrayOutputStream()
    out.write(Signature, 0, Signature.length)
    writeChunk(out, "IHDR", ihdr)
    writeChunk(out, "IDAT", deflate(raw))
    writeChunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  private def putBe(b: Array[Byte], off: Int, v: Int, n: Int): Unit = {
    var i = 0
    while (i < n) { b(off + i) = ((v >>> (8 * (n - 1 - i))) & 0xff).toByte; i += 1 }
  }

  private def writeChunk(out: java.io.ByteArrayOutputStream, tag: String, body: Array[Byte]): Unit = {
    val lenB = new Array[Byte](4); putBe(lenB, 0, body.length, 4)
    out.write(lenB, 0, 4)
    val tagB = tag.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    out.write(tagB, 0, 4)
    out.write(body, 0, body.length)
    val crc = new CRC32()
    crc.update(tagB); crc.update(body)
    val crcB = new Array[Byte](4); putBe(crcB, 0, crc.getValue.toInt, 4)
    out.write(crcB, 0, 4)
  }

  private def deflate(raw: Array[Byte]): Array[Byte] = {
    val d = new Deflater(Deflater.BEST_SPEED)
    try {
      d.setInput(raw); d.finish()
      val out = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
      val buf = new Array[Byte](8192)
      while (!d.finished()) {
        val n = d.deflate(buf)
        out.write(buf, 0, n)
      }
      out.toByteArray
    } finally d.end()
  }
}
