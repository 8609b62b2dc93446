package graft.multimodal

import graft.{Query, Tables}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Extracted per-asset features. Images carry pixel dimensions, audio
  * carries sample rate/channels, video carries track dimensions and
  * movie duration from the ISO-BMFF box tree; anything unrecognized
  * falls back to `format = "raw"` with zeroed media fields.
  */
case class MediaFeatures(
    media_id: Long,
    kind: String,
    format: String,
    n_bytes: Long,
    width: Int,
    height: Int,
    sample_rate: Int,
    channels: Int,
    duration_ms: Long,
    checksum: Long
)

/** Multimodal column pipeline: media as opaque binary columns + typed
  * metadata, with feature extraction as a batched per-partition decode.
  *
  * The decode step is REAL for containers a pure JVM can parse — PNG
  * IHDR, JPEG SOF marker scan, WAV fmt chunk, MP4/ISO-BMFF box walk
  * (moov/trak/tkhd dims, mvhd duration) — and the media table
  * synthesizes header-valid payloads (true PNG/JPEG/WAV/MP4 headers
  * with dimensions/rates/durations derived from the id) so the
  * end-to-end pipeline exercises genuine byte-level decoding.
  * Full-FRAME video decode (pixels out of an avc1/hevc sample) needs a
  * native codec this environment lacks; container metadata is parsed
  * for real, frame decode would slot into the same batch contract.
  *
  * Layout principles for 100 TB of media:
  * - the payload is ONE binary column next to scalar metadata — never
  *   exploded into rows, never parsed by Catalyst; scans that don't
  *   touch `payload` prune it at the parquet reader.
  * - decode runs in mapPartitions over fixed-size batches (the same
  *   shape as mapInPandas/Arrow batches): one library context per
  *   batch, bounded memory, no per-row JNI churn.
  * - partition count governs decode parallelism independently of
  *   upstream layout (repartition by id before the decode stage).
  */
object BinaryPipeline {

  val DecodeBatchSize = 64

  // --- payload synthesis (column expressions, codegen'd, no UDF) ---

  /** n-byte big-endian hex of a non-negative integral column. */
  private def beHex(c: Column, n: Int): Column = lpad(hex(c), n * 2, "0")

  /** n-byte little-endian hex of a non-negative integral column. */
  private def leHex(c: Column, n: Int): Column =
    concat((0 until n).map(i => lpad(hex(shiftright(c, 8 * i).bitwiseAND(lit(255L))), 2, "0")): _*)

  private[graft] def imgWidth(id: Column): Column  = (lit(16) + pmod(id, lit(1024))).cast("long")
  private[graft] def imgHeight(id: Column): Column = (lit(16) + pmod(id, lit(768))).cast("long")
  private[graft] def wavRate(id: Column): Column   = (lit(8000) + pmod(id, lit(8)) * 4000).cast("long")
  private[graft] def wavChannels(id: Column): Column = (lit(1) + pmod(id, lit(2))).cast("long")
  private[graft] def vidWidth(id: Column): Column  = (lit(160) + pmod(id, lit(1280))).cast("long")
  private[graft] def vidHeight(id: Column): Column = (lit(120) + pmod(id, lit(720))).cast("long")
  private[graft] def vidDurationMs(id: Column): Column = ((lit(1) + pmod(id, lit(59))) * 1000).cast("long")

  /** 3x3 fixed-point identity transform matrix of mvhd/tkhd (36 bytes). */
  private val Mp4MatrixHex =
    "00010000" + "00000000" + "00000000" +
    "00000000" + "00010000" + "00000000" +
    "00000000" + "00000000" + "40000000"

  // --- shared generator/oracle header fragments (r17) ---
  // The full-row DuckDB oracle (pipelineSql) re-synthesizes the payload
  // header bytes from these SAME constants and rolls the identical
  // checksum polynomial over them — one source of truth, so the
  // generator and the replay cannot drift. Each constant is the static
  // hex between two id-derived fields (width/height/rate/duration).

  /** PNG: signature + IHDR length/tag; then 4B BE width, 4B BE height. */
  private[graft] val PngPreHex = "89504E470D0A1A0A0000000D49484452"
  /** PNG IHDR tail: 8-bit depth, RGB color, deflate/adaptive/no-interlace. */
  private[graft] val PngPostHex = "0802000000"
  /** JPEG: SOI + SOF0 (len 0x11, 8-bit precision); then 2B BE height, 2B BE width. */
  private[graft] val JpegPreHex = "FFD8FFC0001108"
  /** JPEG SOF0 tail: 3 components with sampling/table ids. */
  private[graft] val JpegPostHex = "03011100021101031101"
  /** WAV: RIFF/WAVE + fmt chunk header + PCM tag LE; then channels LE 2B. */
  private[graft] val WavPreHex = "524946462400000057415645666D7420100000000100"
  /** WAV fmt tail (block align 2, 16-bit) + empty data chunk header. */
  private[graft] val WavPostHex = "02001000" + "6461746100000000"
  /** MP4: ftyp + moov header + mvhd head (timescale 1000); then 4B BE duration. */
  private[graft] val Mp4PreHex =
    "00000010" + "66747970" + "69736F6D" + "00000000" + // ftyp isom
      "000000D8" + "6D6F6F76" +                         // moov (216B)
      "0000006C" + "6D766864" + "00000000" + "00000000" + "00000000" + "000003E8"
  /** mvhd tail + trak header + tkhd head; then 4B BE duration again. */
  private[graft] val Mp4MidHex =
    "00010000" + "0100" + "00000000000000000000" + Mp4MatrixHex +
      "0" * 48 + "00000002" +
      "00000064" + "7472616B" +                         // trak (100B)
      "0000005C" + "746B6864" + "00000007" + "00000000" + "00000000" + "00000001" + "00000000"
  /** tkhd middle; then 16.16 width (2B BE + 0000), 16.16 height (same). */
  private[graft] val Mp4Mid2Hex =
    "0000000000000000" + "0000" + "0000" + "0000" + "0000" + Mp4MatrixHex

  /** Builds the media table from the documents corpus: payload bytes
    * with a REAL container header (PNG/JPEG for images, WAV for audio)
    * followed by the utf-8 text as body bytes; video stays raw.
    */
  def mediaTable(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val w = imgWidth(id)
    val h = imgHeight(id)
    // PNG: signature + IHDR length/tag, 4B BE width/height, 8-bit RGB.
    val pngHex = concat(lit(PngPreHex), beHex(w, 4), beHex(h, 4), lit(PngPostHex))
    // JPEG: SOI + SOF0 (len 0x11, 8-bit precision, 2B BE height then
    // width, 3 components).
    val jpegHex = concat(lit(JpegPreHex), beHex(h, 2), beHex(w, 2), lit(JpegPostHex))
    // WAV: RIFF/WAVE + fmt chunk (PCM, LE channels @22, LE rate @24) +
    // empty data chunk header.
    val sr = wavRate(id)
    val ch = wavChannels(id)
    val wavHex2 = concat(
      lit(WavPreHex), leHex(ch, 1), lit("00"), // channels 2B LE
      leHex(sr, 4), leHex(sr * 2, 4), lit(WavPostHex))
    // MP4/ISO-BMFF: ftyp, then moov { mvhd (timescale 1000, duration),
    // trak { tkhd (16.16 fixed-point width/height) } }. Box sizes are
    // fixed (v0 mvhd 108, tkhd 92) so every size field is a literal.
    val dur = vidDurationMs(id) // timescale 1000 -> duration field IS ms
    val mp4Hex = concat(
      lit(Mp4PreHex), beHex(dur, 4),
      lit(Mp4MidHex), beHex(dur, 4),
      lit(Mp4Mid2Hex),
      beHex(vidWidth(id), 2), lit("0000"),
      beHex(vidHeight(id), 2), lit("0000"))
    val kind = when(pmod(id, lit(3)) === 0, "image")
      .when(pmod(id, lit(3)) === 1, "audio")
      .otherwise("video")
    val header = when(kind === "image" && pmod(id, lit(6)) === 0, unhex(pngHex))
      .when(kind === "image", unhex(jpegHex))
      .when(kind === "audio", unhex(wavHex2))
      .otherwise(unhex(mp4Hex))
    Tables
      .documents(spark, dir)
      .select(
        id.as("media_id"),
        concat(header, encode(col("text"), "UTF-8")).as("payload"),
        struct(
          kind.as("kind"),
          col("source").as("origin"),
          col("n_chars").as("content_hint")
        ).as("meta")
      )
  }

  // --- byte-level parsers (pure JVM, no native libs) ---

  private def be(b: Array[Byte], off: Int, n: Int): Int = {
    var v = 0; var i = 0
    while (i < n) { v = (v << 8) | (b(off + i) & 0xff); i += 1 }
    v
  }
  private def be8(b: Array[Byte], off: Int): Long = {
    var v = 0L; var i = 0
    while (i < 8) { v = (v << 8) | (b(off + i) & 0xff); i += 1 }
    v
  }
  private def le(b: Array[Byte], off: Int, n: Int): Int = {
    var v = 0; var i = n - 1
    while (i >= 0) { v = (v << 8) | (b(off + i) & 0xff); i -= 1 }
    v
  }

  /** PNG: 8-byte signature, IHDR width/height at offsets 16/20 (4B BE). */
  private[graft] def pngDims(b: Array[Byte]): Option[(Int, Int)] =
    if (b.length >= 24 && (b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G')
      Some((be(b, 16, 4), be(b, 20, 4)))
    else None

  /** JPEG: walk marker segments from SOI until a SOF (C0-CF minus the
    * non-frame C4/C8/CC); height at +5, width at +7 (2B BE). 0xFF fill
    * bytes before a marker are legal padding and advance by one.
    */
  private[graft] def jpegDims(b: Array[Byte]): Option[(Int, Int)] = {
    if (b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) return None
    var i = 2
    while (i + 9 < b.length && (b(i) & 0xff) == 0xff) {
      val m = b(i + 1) & 0xff
      if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc)
        return Some((be(b, i + 7, 2), be(b, i + 5, 2)))
      else if (m == 0xff) i += 1 // fill byte
      else if (m == 0x01 || (m >= 0xd0 && m <= 0xd9)) i += 2 // standalone markers
      else i += 2 + be(b, i + 2, 2)
    }
    None
  }

  /** WAV: RIFF/WAVE container; WALK the chunk list to the "fmt " chunk
    * (other chunks — LIST, JUNK — may precede it), then channels LE at
    * +2 and sample rate LE at +4 of the chunk body. Chunks pad to even.
    */
  private[graft] def wavInfo(b: Array[Byte]): Option[(Int, Int)] = {
    if (b.length < 20 || b(0) != 'R' || b(1) != 'I' || b(2) != 'F' || b(3) != 'F' ||
        b(8) != 'W' || b(9) != 'A' || b(10) != 'V' || b(11) != 'E') return None
    // Long cursor: a fuzzed 4-byte chunk size near 2^31 must step past
    // the buffer end, not wrap an Int into a negative array index.
    var i = 12L
    while (i + 8 <= b.length) {
      val at = i.toInt
      val size = le(b, at + 4, 4).toLong & 0xffffffffL
      if (b(at) == 'f' && b(at + 1) == 'm' && b(at + 2) == 't' && b(at + 3) == ' ')
        return if (i + 16 <= b.length) Some((le(b, at + 12, 4), le(b, at + 10, 2))) else None
      i += 8 + size + (size & 1)
    }
    None
  }

  /** MP4/ISO-BMFF: walk the top-level box list to `moov`, read movie
    * duration from `mvhd` (duration/timescale; both the version-0
    * 32-bit and version-1 64-bit time layouts — v1 shifts timescale to
    * +28 and widens duration to 8 bytes at +32) and track pixel
    * dimensions from `trak`/`tkhd` (16.16 fixed point — the integer
    * part is the pixel count; v1's two 64-bit times + 64-bit duration
    * shift width/height by 12 bytes). Trailing non-box bytes
    * (this pipeline appends a content body after the last box, and
    * real files append `mdat` sample data the walk skips by size) end
    * the walk without invalidating what was already parsed. Long
    * cursors guard against fuzzed 32-bit sizes, as in wavInfo.
    *
    * @return (width, height, duration_ms)
    */
  private[graft] def mp4Info(b: Array[Byte]): Option[(Int, Int, Long)] = {
    def typ(off: Int): String = new String(b, off + 4, 4, java.nio.charset.StandardCharsets.ISO_8859_1)
    def boxSize(off: Int): Long = be(b, off, 4).toLong & 0xffffffffL
    if (b.length < 16 || (typ(0) != "ftyp" && typ(0) != "moov")) return None
    var w = -1; var h = -1; var durMs = -1L
    var i = 0L
    var walking = true
    while (walking && i + 8 <= b.length) {
      val at = i.toInt
      val sz = boxSize(at)
      if (sz < 8) walking = false // not a box: trailing body bytes
      else {
        if (typ(at) == "moov") {
          val end = math.min(i + sz, b.length.toLong)
          var j = i + 8
          var inMoov = true
          while (inMoov && j + 8 <= end) {
            val ja = j.toInt
            val jsz = boxSize(ja)
            if (jsz < 8) inMoov = false
            else {
              typ(ja) match {
                case "mvhd" if j + 28 <= end && b(ja + 8) == 0 =>
                  val ts = be(b, ja + 20, 4).toLong & 0xffffffffL
                  val dur = be(b, ja + 24, 4).toLong & 0xffffffffL
                  if (ts > 0) durMs = dur * 1000L / ts
                case "mvhd" if j + 40 <= end && b(ja + 8) == 1 =>
                  // v1: creation/modification are 64-bit, so timescale
                  // moves to +28 and duration is 8 bytes at +32
                  val ts = be(b, ja + 28, 4).toLong & 0xffffffffL
                  val dur = be8(b, ja + 32)
                  if (ts > 0 && dur >= 0) durMs = dur * 1000L / ts
                case "trak" =>
                  val tend = math.min(j + jsz, end)
                  var k = j + 8
                  var inTrak = true
                  while (inTrak && k + 8 <= tend) {
                    val ka = k.toInt
                    val ksz = boxSize(ka)
                    if (ksz < 8) inTrak = false
                    else {
                      if (typ(ka) == "tkhd" && k + 92 <= tend && b(ka + 8) == 0) {
                        w = be(b, ka + 84, 2)
                        h = be(b, ka + 88, 2)
                      } else if (typ(ka) == "tkhd" && k + 104 <= tend && b(ka + 8) == 1) {
                        // v1: +12 bytes (two 64-bit times, 64-bit duration)
                        w = be(b, ka + 96, 2)
                        h = be(b, ka + 100, 2)
                      }
                      k += ksz
                    }
                  }
                case _ => ()
              }
              j += jsz
            }
          }
        }
        i += sz
      }
    }
    if (w >= 0 && h >= 0 && durMs >= 0) Some((w, h, durMs)) else None
  }

  /** Batched decode: real header parse per container, deterministic
    * content checksum either way. Signature and batching are the
    * production contract: Array[Byte] in, fixed-size batches, typed
    * features out.
    */
  private[graft] def decodeBatch(batch: Seq[(Long, String, Array[Byte])]): Seq[MediaFeatures] =
    batch.map { case (id, kind, bytes) =>
      var h = 0L
      var i = 0
      while (i < bytes.length) { h = h * 1315423911L + (bytes(i) & 0xff); i += 1 }
      pngDims(bytes) match {
        case Some((w, ht)) => MediaFeatures(id, kind, "png", bytes.length.toLong, w, ht, 0, 0, 0L, h)
        case None => jpegDims(bytes) match {
          case Some((w, ht)) => MediaFeatures(id, kind, "jpeg", bytes.length.toLong, w, ht, 0, 0, 0L, h)
          case None => wavInfo(bytes) match {
            case Some((sr, ch)) => MediaFeatures(id, kind, "wav", bytes.length.toLong, 0, 0, sr, ch, 0L, h)
            case None => mp4Info(bytes) match {
              case Some((w, ht, d)) => MediaFeatures(id, kind, "mp4", bytes.length.toLong, w, ht, 0, 0, d, h)
              case None => MediaFeatures(id, kind, "raw", bytes.length.toLong, 0, 0, 0, 0, 0L, h)
            }
          }
        }
      }
    }

  /** Feature extraction over the media table: batched mapPartitions
    * decode, output is a typed Dataset with a stable schema.
    */
  def extractFeatures(media: DataFrame): Dataset[MediaFeatures] = {
    implicit val enc = Encoders.product[MediaFeatures]
    implicit val rowEnc = Encoders.tuple(Encoders.scalaLong, Encoders.STRING, Encoders.BINARY)
    media
      .select(col("media_id"), col("meta.kind").as("kind"), col("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(DecodeBatchSize).flatMap(decodeBatch)
      }
  }

  /** End-to-end: build media table, spread decode across partitions,
    * extract features. Returned sorted for the rows-check.
    */
  def pipeline(spark: SparkSession, dir: String): DataFrame = {
    // Measured and left alone (r19): pinning this repartition to session
    // parallelism and staging the output under the sort both LOST time
    // (0.38 → 0.61 s isolated) — extractFeatures is cheap per row, so
    // the double-run the staging would save costs less than the pinned
    // tasks + persist overhead. The decode stages below are the
    // CPU-dense ones and carry the pin instead.
    val media = mediaTable(spark, dir).repartition(col("media_id"))
    extractFeatures(media).toDF().orderBy("media_id")
  }

  /** The driver-gated `q_multimodal_pipeline` frame (r17): `pipeline`
    * with the int32 header fields widened to int64 so the cross-engine
    * compare is type-exact. Rows are identical — this exists because
    * the row GRADUATED from rows-only to a full oracle: every column,
    * including `n_bytes` (per-format constant header length + utf-8
    * body length) and `checksum` (the polynomial rolling hash replayed
    * byte-for-byte over the re-synthesized header + text — see
    * [[pipelineSql]]), is now a deterministic function of (doc_id,
    * text) that DuckDB recomputes independently.
    */
  def pipelineGated(spark: SparkSession, dir: String): DataFrame =
    pipeline(spark, dir).select(
      col("media_id"), col("kind"), col("format"), col("n_bytes"),
      col("width").cast("long").as("width"),
      col("height").cast("long").as("height"),
      col("sample_rate").cast("long").as("sample_rate"),
      col("channels").cast("long").as("channels"),
      col("duration_ms"), col("checksum"))

  /** Full DuckDB replay of `q_multimodal_pipeline` (r17 — the last
    * rows-only row graduates). The oracle re-synthesizes each payload's
    * HEADER BYTES from the same shared hex constants the generator
    * uses (PngPreHex.. above — one source of truth), appends the utf-8
    * text bytes (`ord` per char — guarded by Verify's ASCII domain
    * probe, the same downgrade contract as the XXH64 replays), and
    * rolls the identical checksum polynomial h = h·1315423911 + byte in
    * HUGEINT mod-2⁶⁴ arithmetic via one `list_reduce` — so a defect in
    * the header SYNTHESIS or the decode's byte walk breaks the hash
    * gate, not just the dims columns.
    */
  lazy val pipelineSql: String = {
    def hexList(s: String): String =
      s.grouped(2).map(p => Integer.parseInt(p, 16)).mkString("[", ", ", "]")
    def be2(v: String) = s"[($v) // 256 % 256, ($v) % 256]"
    def be4(v: String) =
      s"[($v) // 16777216 % 256, ($v) // 65536 % 256, ($v) // 256 % 256, ($v) % 256]"
    def le4(v: String) =
      s"[($v) % 256, ($v) // 256 % 256, ($v) // 65536 % 256, ($v) // 16777216 % 256]"
    s"""WITH m AS (
       |  SELECT doc_id AS media_id, text,
       |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       |    CASE WHEN doc_id % 6 = 0 THEN 'png' WHEN doc_id % 3 = 0 THEN 'jpeg'
       |         WHEN doc_id % 3 = 1 THEN 'wav' ELSE 'mp4' END AS format,
       |    16 + doc_id % 1024 AS iw, 16 + doc_id % 768 AS ih,
       |    8000 + (doc_id % 8) * 4000 AS sr, 1 + doc_id % 2 AS ch,
       |    160 + doc_id % 1280 AS vw, 120 + doc_id % 720 AS vh,
       |    (1 + doc_id % 59) * 1000 AS dur
       |  FROM documents
       |), hb AS (
       |  SELECT *, CASE format
       |    WHEN 'png' THEN ${hexList(PngPreHex)} || ${be4("iw")} || ${be4("ih")} || ${hexList(PngPostHex)}
       |    WHEN 'jpeg' THEN ${hexList(JpegPreHex)} || ${be2("ih")} || ${be2("iw")} || ${hexList(JpegPostHex)}
       |    WHEN 'wav' THEN ${hexList(WavPreHex)} || [ch, 0] || ${le4("sr")} || ${le4("sr * 2")} || ${hexList(WavPostHex)}
       |    ELSE ${hexList(Mp4PreHex)} || ${be4("dur")} || ${hexList(Mp4MidHex)} || ${be4("dur")} || ${hexList(Mp4Mid2Hex)} || ${be2("vw")} || [0, 0] || ${be2("vh")} || [0, 0]
       |  END AS hdr FROM m
       |), rolled AS (
       |  SELECT media_id, kind, format, iw, ih, sr, ch, vw, vh, dur,
       |    len(hdr) + octet_length(encode(text)) AS n_bytes,
       |    list_reduce(
       |      list_prepend(0::HUGEINT,
       |        list_transform(hdr, b -> b::HUGEINT) ||
       |        list_transform(range(1, length(text) + 1), i -> ord(substr(text, i, 1))::HUGEINT)),
       |      (h, b) -> (h * 1315423911::HUGEINT + b) % 18446744073709551616::HUGEINT) AS hraw
       |  FROM hb
       |)
       |SELECT media_id, kind, format, CAST(n_bytes AS BIGINT) AS n_bytes,
       |  CAST(CASE kind WHEN 'image' THEN iw WHEN 'video' THEN vw ELSE 0 END AS BIGINT) AS width,
       |  CAST(CASE kind WHEN 'image' THEN ih WHEN 'video' THEN vh ELSE 0 END AS BIGINT) AS height,
       |  CAST(CASE kind WHEN 'audio' THEN sr ELSE 0 END AS BIGINT) AS sample_rate,
       |  CAST(CASE kind WHEN 'audio' THEN ch ELSE 0 END AS BIGINT) AS channels,
       |  CAST(CASE kind WHEN 'video' THEN dur ELSE 0 END AS BIGINT) AS duration_ms,
       |  (CASE WHEN hraw >= 9223372036854775808::HUGEINT
       |        THEN hraw - 18446744073709551616::HUGEINT ELSE hraw END)::BIGINT AS checksum
       |FROM rolled ORDER BY media_id""".stripMargin
  }

  /** Preprocessing plan for a vision-language training run, computed
    * DOWNSTREAM of the real byte decode: aspect-fit resize to 224 px
    * (integer math — max dimension pinned, the other floor-scaled, min
    * 1), 1-fps frame sampling for video, and the resulting ViT-style
    * 16 px patch-token budget per asset (frames × patches — the number
    * sequence packing consumes). Audio carries no duration in its
    * header (the synthesized WAV data chunk is empty), so its budget
    * is 0 by disclosure, not by stub.
    *
    * The oracle recomputes every value from the id-derived generator
    * formulas in SQL, so the gate breaks if the DECODE breaks: this
    * query is the end-to-end witness that real bytes → real dims →
    * real plan. Pixel resampling itself would slot into the
    * decodeBatch contract (native codec territory, disclosed at
    * `extractFeatures`); planning is engine work and stays columnar.
    */
  def mediaPrep(spark: SparkSession, dir: String): DataFrame =
    pipeline(spark, dir)
      .withColumn("dst_w",
        when(col("width") <= 0 || col("height") <= 0, 0L)
          .when(col("width") >= col("height"), 224L)
          .otherwise(greatest(lit(1L), expr("(width * 224) div height"))))
      .withColumn("dst_h",
        when(col("width") <= 0 || col("height") <= 0, 0L)
          .when(col("height") >= col("width"), 224L)
          .otherwise(greatest(lit(1L), expr("(height * 224) div width"))))
      .withColumn("n_frames",
        when(col("kind") === "image", 1L)
          .when(col("kind") === "video", expr("duration_ms div 1000") + 1L)
          .otherwise(0L))
      .withColumn("n_tokens",
        expr("((dst_w + 15) div 16) * ((dst_h + 15) div 16)") * col("n_frames"))
      .select(
        col("media_id"), col("kind"),
        col("width").cast("long").as("width"), col("height").cast("long").as("height"),
        col("dst_w"), col("dst_h"), col("n_frames"), col("n_tokens"))
      .orderBy("media_id")

  /** Per-frame expansion of the 1-fps sampling plan: one row per
    * sampled frame timestamp. sequence+explode — the fan-out happens
    * executor-side on the already-small feature frame, and a frame's
    * row count is bounded by its own duration, never corpus size.
    */
  def frameSamples(features: DataFrame): DataFrame =
    features
      .filter(col("kind") === "video")
      .select(
        col("media_id"),
        col("duration_ms"),
        explode(expr("sequence(0L, duration_ms div 1000)")).as("frame_idx"))
      .select(col("media_id"), col("frame_idx"), (col("frame_idx") * 1000).as("ts_ms"))

  val queries: Seq[Query] = Seq(
    // The oracle recomputes the media-prep plan from the id-derived
    // generator formulas, so a Spark-side DECODE regression (the dims
    // feeding the plan come from real byte parsing) breaks this gate.
    // r17: the last rows-only row graduates — header bytes re-synthesized
    // from the generator's own hex constants, checksum polynomial rolled
    // in HUGEINT mod-2^64 over header + text bytes (see
    // BinaryPipeline.pipelineSql; ASCII-guarded by Verify's domain probe).
    Query("q_multimodal_pipeline", (s, d) => pipelineGated(s, d), pipelineSql),
    Query("q_media_prep", (s, d) => mediaPrep(s, d),
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |    CASE doc_id % 3 WHEN 0 THEN 16 + doc_id % 1024 WHEN 2 THEN 160 + doc_id % 1280 ELSE 0 END AS width,
        |    CASE doc_id % 3 WHEN 0 THEN 16 + doc_id % 768 WHEN 2 THEN 120 + doc_id % 720 ELSE 0 END AS height,
        |    CASE WHEN doc_id % 3 = 2 THEN (1 + doc_id % 59) * 1000 ELSE 0 END AS duration_ms
        |  FROM documents
        |), d AS (
        |  SELECT media_id, kind, width, height, duration_ms,
        |    CASE WHEN width <= 0 OR height <= 0 THEN 0
        |         WHEN width >= height THEN 224
        |         ELSE greatest(1, (width * 224) // height) END AS dst_w,
        |    CASE WHEN width <= 0 OR height <= 0 THEN 0
        |         WHEN height >= width THEN 224
        |         ELSE greatest(1, (height * 224) // width) END AS dst_h,
        |    CASE kind WHEN 'image' THEN 1 WHEN 'video' THEN duration_ms // 1000 + 1 ELSE 0 END AS n_frames
        |  FROM m
        |)
        |SELECT media_id, kind, width, height, dst_w, dst_h, n_frames,
        |  ((dst_w + 15) // 16) * ((dst_h + 15) // 16) * n_frames AS n_tokens
        |FROM d ORDER BY media_id""".stripMargin)
  )
}

/** Full-frame PNG pixel pipeline (r16): the generator synthesizes
  * COMPLETE pixel-bearing PNGs (real zlib IDAT, all five scanline
  * filters cycled, chunk CRCs) for the corpus's PNG asset subset, and
  * the decode stage inflates + unfilters them back to pixels and emits
  * per-asset channel statistics. Because pixel values derive from the
  * id by a fixed formula and the codec roundtrip is lossless, the
  * DuckDB oracle recomputes every statistic from the formula alone —
  * the gate breaks if ANY byte of the inflate/unfilter path breaks.
  *
  * Scale shape: encode and decode both run inside `mapPartitions` over
  * fixed-size batches (the `DecodeBatchSize` contract shared with
  * [[BinaryPipeline.extractFeatures]]); per-task memory is bounded by
  * batch × frame size, the payload column is never parsed by Catalyst,
  * and stats leave the executor as scalar columns (integer channel
  * sums), so the post-decode plan is ordinary columnar work. Asset
  * dims here are generator-bounded (≤ 32×24); a real corpus brings its
  * own sizes and the same batch contract holds.
  */
object PixelPipeline {

  /** Decoded per-asset stats: exact int64 channel sums; n_px = -1
    * marks a failed decode (surfaced, never silently dropped).
    */
  case class PixelStats(
      media_id: Long, width: Int, height: Int, n_px: Long,
      sr: Long, sg: Long, sb: Long)

  /** Generator formulas (mirrored literally in the oracle SQL). */
  private[graft] def pxW(id: Long): Int = 8 + (id % 25).toInt
  private[graft] def pxH(id: Long): Int = 8 + (id % 17).toInt
  private[graft] def pxVal(id: Long, x: Int, y: Int, c: Int): Int =
    ((id * 31 + 7L * x + 13L * y + 5L * c) % 256).toInt

  private def renderPixels(id: Long, w: Int, h: Int): Array[Byte] = {
    val out = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var c = 0
        while (c < 3) {
          out((y * w + x) * 3 + c) = pxVal(id, x, y, c).toByte
          c += 1
        }
        x += 1
      }
      y += 1
    }
    out
  }

  /** The PNG asset subset of the corpus (the `mediaTable` ids that get
    * a PNG header there get full pixels here), one complete encoded
    * PNG per row.
    */
  def pixelMediaTable(spark: SparkSession, dir: String): DataFrame = {
    implicit val idEnc = Encoders.scalaLong
    implicit val outEnc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
    Tables
      .documents(spark, dir)
      .filter(pmod(col("doc_id"), lit(6)) === 0)
      .select(col("doc_id"))
      // Explicit numPartitions (r19): a bare repartition(col) is AQE-
      // coalescible and the bytes upstream of the synth/decode are tiny,
      // so the CPU-dense decode stage collapsed to ~1 task; pin to
      // session parallelism (same rationale as Dedup.dfOrderedIndex).
      .repartition(
        spark.conf.get("spark.sql.shuffle.partitions").toInt, col("doc_id"))
      .as[Long]
      .mapPartitions { it =>
        it.grouped(BinaryPipeline.DecodeBatchSize).flatMap(_.map { id =>
          val w = pxW(id); val h = pxH(id)
          (id, PngCodec.encode(w, h, renderPixels(id, w, h)))
        })
      }
      .toDF("media_id", "payload")
  }

  // --- JPEG arm (r17) ----------------------------------------------------

  /** JPEG asset dims: block-multiples by construction (the exactness
    * argument in [[JpegCodec]] is per-8×8-block; edge replication would
    * otherwise blur the oracle contract).
    */
  private[graft] def jpgBw(id: Long): Int = 1 + (id % 4).toInt
  private[graft] def jpgBh(id: Long): Int = 1 + (id % 3).toInt

  /** Per-BLOCK constant color formula (mirrored in the oracle SQL). */
  private[graft] def jpgRgb(id: Long, bx: Int, by: Int): (Int, Int, Int) = {
    val base = ((id * 31 + 7L * bx + 13L * by) % 256).toInt
    (base, (base + 5) % 256, (base + 10) % 256)
  }

  private def renderJpegPixels(id: Long, bw: Int, bh: Int): Array[Byte] = {
    val w = bw * 8
    val out = new Array[Byte](w * bh * 8 * 3)
    var by = 0
    while (by < bh) {
      var bx = 0
      while (bx < bw) {
        val (r, g, b) = jpgRgb(id, bx, by)
        var j = 0
        while (j < 64) {
          val o = ((by * 8 + j / 8) * w + bx * 8 + j % 8) * 3
          out(o) = r.toByte; out(o + 1) = g.toByte; out(o + 2) = b.toByte
          j += 1
        }
        bx += 1
      }
      by += 1
    }
    out
  }

  /** The JPEG asset subset (the `mediaTable` image ids that get a JPEG
    * header there get full baseline bitstreams here), one complete
    * encoded JFIF per row — real Annex-K Huffman scan data, block-
    * constant content so the decode roundtrip is exact (see JpegCodec).
    */
  def jpegMediaTable(spark: SparkSession, dir: String): DataFrame = {
    implicit val idEnc = Encoders.scalaLong
    implicit val outEnc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
    Tables
      .documents(spark, dir)
      .filter(pmod(col("doc_id"), lit(6)) === 3)
      .select(col("doc_id"))
      // Explicit numPartitions (r19): a bare repartition(col) is AQE-
      // coalescible and the bytes upstream of the synth/decode are tiny,
      // so the CPU-dense decode stage collapsed to ~1 task; pin to
      // session parallelism (same rationale as Dedup.dfOrderedIndex).
      .repartition(
        spark.conf.get("spark.sql.shuffle.partitions").toInt, col("doc_id"))
      .as[Long]
      .mapPartitions { it =>
        it.grouped(BinaryPipeline.DecodeBatchSize).flatMap(_.map { id =>
          val bw = jpgBw(id); val bh = jpgBh(id)
          (id, JpegCodec.encode(bw * 8, bh * 8, renderJpegPixels(id, bw, bh)))
        })
      }
      .toDF("media_id", "payload")
  }

  /** q_media_pixels_jpeg: the JPEG twin of `mediaPixels` — full entropy
    * decode (Huffman + dequant + IDCT + YCbCr→RGB) per asset, exact
    * int64 channel sums, means as one int/int division + round4. The
    * oracle replays the expected pixels from the id formula plus the
    * codec's own fixed-point color roundtrip (constants interpolated
    * from JpegCodec — one source of truth), so ANY defect in the
    * marker walk, Huffman tables, dequant, IDCT, or color math breaks
    * the hash gate.
    */
  def mediaPixelsJpeg(spark: SparkSession, dir: String): DataFrame = {
    implicit val inEnc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
    implicit val statEnc = Encoders.product[PixelStats]
    jpegMediaTable(spark, dir)
      .select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(BinaryPipeline.DecodeBatchSize).flatMap(_.map { case (id, bytes) =>
          JpegCodec.decode(bytes) match {
            case Some(img) =>
              val (sr, sg, sb) = img.channelSums
              PixelStats(id, img.width, img.height, img.width.toLong * img.height, sr, sg, sb)
            case None => PixelStats(id, 0, 0, -1L, 0L, 0L, 0L)
          }
        })
      }
      .toDF("media_id", "width", "height", "n_px", "sr", "sg", "sb")
      .select(
        col("media_id"), col("width"), col("height"), col("n_px"),
        graft.Num.round4(col("sr").cast("double") / col("n_px")).as("mean_r"),
        graft.Num.round4(col("sg").cast("double") / col("n_px")).as("mean_g"),
        graft.Num.round4(col("sb").cast("double") / col("n_px")).as("mean_b"))
      // The bare orderBy's sampling pass re-decoded every image a
      // second time.
      .transform(df => graft.Staging.sorted(df, "media_pixels_out", "media_id")())
  }

  /** DuckDB replay of q_media_pixels_jpeg: blocks from the id formula,
    * the codec's fixed-point YCbCr roundtrip per block (floor division
    * by 2¹⁶ — exact as double floor since 65536 is a power of two),
    * channel sums as 64·Σ blocks. Constants come from JpegCodec's own
    * derived vals.
    */
  lazy val mediaPixelsJpegSql: String = {
    import JpegCodec._
    def fd(x: String): String = s"CAST(floor(($x) / 65536.0) AS BIGINT)"
    def clamp(x: String): String = s"greatest(0, least(255, $x))"
    s"""WITH img AS (
       |  SELECT doc_id AS media_id, 1 + doc_id % 4 AS bw, 1 + doc_id % 3 AS bh
       |  FROM documents WHERE doc_id % 6 = 3
       |), blk AS (
       |  SELECT media_id, bw, bh, unnest(range(0, bw * bh)) AS bi FROM img
       |), c AS (
       |  SELECT media_id, bw, bh,
       |    (media_id * 31 + 7 * (bi % bw) + 13 * (bi // bw)) % 256 AS r0,
       |    (media_id * 31 + 7 * (bi % bw) + 13 * (bi // bw) + 5) % 256 AS g0,
       |    (media_id * 31 + 7 * (bi % bw) + 13 * (bi // bw) + 10) % 256 AS b0
       |  FROM blk
       |), ycc AS (
       |  SELECT media_id, bw, bh,
       |    ${fd(s"$FYR * r0 + $FYG * g0 + $FYB * b0 + $Half")} AS y,
       |    ${fd(s"$FCbR * r0 + $FCbG * g0 + $FCbB * b0 + $Half")} + 128 AS cb,
       |    ${fd(s"$FCrR * r0 + $FCrG * g0 + $FCrB * b0 + $Half")} + 128 AS cr
       |  FROM c
       |), rgb AS (
       |  SELECT media_id, bw, bh,
       |    ${clamp(s"y + ${fd(s"$FRCr * (cr - 128) + $Half")}")} AS r,
       |    ${clamp(s"y - ${fd(s"$FGCb * (cb - 128) + $FGCr * (cr - 128) + $Half")}")} AS g,
       |    ${clamp(s"y + ${fd(s"$FBCb * (cb - 128) + $Half")}")} AS b
       |  FROM ycc
       |), sums AS (
       |  SELECT media_id, bw, bh,
       |    64 * sum(r) AS sr, 64 * sum(g) AS sg, 64 * sum(b) AS sb
       |  FROM rgb GROUP BY 1, 2, 3
       |)
       |SELECT media_id, CAST(bw * 8 AS INTEGER) AS width, CAST(bh * 8 AS INTEGER) AS height,
       |  CAST(bw * bh * 64 AS BIGINT) AS n_px,
       |  floor((CAST(sr AS DOUBLE) / (bw * bh * 64)) * 10000 + 0.5) / 10000 AS mean_r,
       |  floor((CAST(sg AS DOUBLE) / (bw * bh * 64)) * 10000 + 0.5) / 10000 AS mean_g,
       |  floor((CAST(sb AS DOUBLE) / (bw * bh * 64)) * 10000 + 0.5) / 10000 AS mean_b
       |FROM sums ORDER BY media_id""".stripMargin
  }

  /** Decode + per-channel stats: batched full-frame decode, exact
    * int64 channel sums (order-defined within a frame, one row out per
    * asset — no cross-row float accumulation anywhere), means as one
    * int/int double division + round4. A PNG that fails to decode
    * surfaces as n_px = -1 rather than vanishing.
    */
  def mediaPixels(spark: SparkSession, dir: String): DataFrame = {
    implicit val inEnc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
    implicit val statEnc = Encoders.product[PixelStats]
    pixelMediaTable(spark, dir)
      .select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(BinaryPipeline.DecodeBatchSize).flatMap(_.map { case (id, bytes) =>
          PngCodec.decode(bytes) match {
            case Some(img) =>
              val (sr, sg, sb) = img.channelSums
              PixelStats(id, img.width, img.height, img.width.toLong * img.height, sr, sg, sb)
            case None => PixelStats(id, 0, 0, -1L, 0L, 0L, 0L)
          }
        })
      }
      .toDF("media_id", "width", "height", "n_px", "sr", "sg", "sb")
      .select(
        col("media_id"), col("width"), col("height"), col("n_px"),
        graft.Num.round4(col("sr").cast("double") / col("n_px")).as("mean_r"),
        graft.Num.round4(col("sg").cast("double") / col("n_px")).as("mean_g"),
        graft.Num.round4(col("sb").cast("double") / col("n_px")).as("mean_b"))
      // The bare orderBy's sampling pass re-decoded every image a
      // second time.
      .transform(df => graft.Staging.sorted(df, "media_pixels_out", "media_id")())
  }

  val queries: Seq[Query] = Seq(
    // r17: the JPEG twin — real baseline JFIF (Annex-K Huffman scan
    // data) decoded end-to-end; block-constant content makes the
    // roundtrip exact, and the oracle replays the codec's fixed-point
    // YCbCr roundtrip per block (constants from JpegCodec itself).
    Query("q_media_pixels_jpeg", (s, d) => mediaPixelsJpeg(s, d), mediaPixelsJpegSql),
    // r16: full-frame PNG pixel decode. The engine inflates + unfilters
    // REAL zlib IDAT bytes (PngCodec: all five RFC 2083 filters, chunk
    // CRCs) and aggregates exact int64 channel sums; the oracle
    // recomputes the same statistics from the id-derived pixel formula
    // p(id,x,y,c) = (31·id + 7x + 13y + 5c) mod 256 — lossless codec
    // roundtrip makes them equal bit-for-bit, so ANY defect in the
    // inflate/unfilter path breaks this gate. Means are one int/int
    // double division + round4 (identical IEEE ops both engines).
    Query("q_media_pixels", (s, d) => mediaPixels(s, d),
      """WITH img AS (
        |  SELECT doc_id AS media_id, 8 + doc_id % 25 AS w, 8 + doc_id % 17 AS h
        |  FROM documents WHERE doc_id % 6 = 0
        |), px AS (
        |  SELECT media_id, w, h, unnest(range(0, w * h)) AS i FROM img
        |), sums AS (
        |  SELECT media_id, w, h,
        |    sum((media_id * 31 + 7 * (i % w) + 13 * (i // w)) % 256) AS sr,
        |    sum((media_id * 31 + 7 * (i % w) + 13 * (i // w) + 5) % 256) AS sg,
        |    sum((media_id * 31 + 7 * (i % w) + 13 * (i // w) + 10) % 256) AS sb
        |  FROM px GROUP BY 1, 2, 3
        |)
        |SELECT media_id, w AS width, h AS height, w * h AS n_px,
        |  floor((CAST(sr AS DOUBLE) / (w * h)) * 10000 + 0.5) / 10000 AS mean_r,
        |  floor((CAST(sg AS DOUBLE) / (w * h)) * 10000 + 0.5) / 10000 AS mean_g,
        |  floor((CAST(sb AS DOUBLE) / (w * h)) * 10000 + 0.5) / 10000 AS mean_b
        |FROM sums ORDER BY media_id""".stripMargin)
  )
}
