package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Multimodal-column plumbing: treat image/audio/video payloads as opaque
  * `binary` columns with typed metadata, and run decode / feature-extract /
  * frame-sample stages as per-row transformations.
  *
  * Decode tiers, all REAL except the one that genuinely needs a native
  * codec. HEADER decode: [[decodeHeader]] parses PNG/GIF/JPEG container
  * bytes (magic, IHDR, screen descriptor, SOF marker walk) into
  * (format, width, height, channels) — pure JVM, the cheap first filter
  * a media pipeline runs on every blob. AUDIO SAMPLE decode: 16-bit PCM
  * needs no codec — [[pcmStats]] walks to the `data` chunk and folds the
  * raw little-endian frames into amplitude stats ([[graft.plans.WavPcm]],
  * gated `q_multimodal_pcm`). PNG PIXEL decode: zlib is in the JDK —
  * [[pixelStats]] inflates and unfilters real ImageIO-encoded rasters
  * into per-channel brightness stats ([[graft.plans.PngPixels]], gated
  * `q_multimodal_pixels`). What remains a DETERMINISTIC STUB is the
  * step that truly requires native libraries absent here — JPEG entropy
  * decode and video codecs — where `fakeFeatures` derives
  * pseudo-features from the payload's md5 while everything Spark-level
  * stays real and tested: the binary column schema, metadata struct,
  * batch shape, partitioning behavior, and the feature pipeline a
  * swapped-in codec would feed.
  *
  * Scale notes: payload bytes traverse the plan exactly once (scan →
  * per-row features), no shuffle touches the binary column; only the small
  * derived features move. That is the property that matters at 100 TB of
  * media — never shuffle the blobs.
  */
object Multimodal {

  /** REAL decode of the container header: magic bytes → (format, width,
    * height, channels) via the codegen'd [[graft.plans.ImageHeader]]
    * expression — PNG IHDR, GIF screen descriptor, and the JPEG marker
    * walk to SOF are genuine byte-level parsing, no codec libraries
    * needed. Pixel-level decode (the part that DOES need libjpeg et al.)
    * remains stubbed by [[fakeFeatures]]; a cluster with codecs swaps
    * that, keeping this header pass as the cheap first filter.
    */
  def decodeHeader(content: Column): Column =
    org.apache.spark.sql.GraftColumnShim.column(
      graft.plans.ImageHeader(
        org.apache.spark.sql.GraftColumnShim.expression(content)))

  /** Deterministic stub "decode": 4 pseudo-features from the payload md5
    * (ascii codes of hex chars 1,9,17,25) plus the byte length. Identical
    * in DuckDB, so the plumbing is oracle-checkable end-to-end.
    */
  def fakeFeatures(content: Column): Column = {
    val hex = md5(content)
    array((1 to 4).map(i => ascii(substring(hex, 1 + (i - 1) * 8, 1)).cast("long")): _*)
  }

  /** "Frame sampling" over an opaque payload: fixed-offset byte windows —
    * the access pattern (strided slices of a binary column) matches real
    * keyframe extraction; `substring` on binary is codegen'd.
    */
  def sampleFrames(content: Column, frameSize: Int, nFrames: Int): Column =
    transform(sequence(lit(0), lit(nFrames - 1)),
      i => content.substr(i * frameSize + 1, lit(frameSize)))

  /** Batched decode over partitions — the Scala analog of `mapInPandas`:
    * the decoder handle is constructed ONCE PER PARTITION and reused for
    * every row in the batch (real codecs/models pay heavy init; per-row
    * construction is the classic mistake). The fake decoder is
    * deterministic (payload length + first-byte features); swap
    * `FakeDecoder` for a real codec on a cluster with media libraries —
    * the iterator plumbing, schema, and batch shape stay identical.
    *
    * Returns (media_id, n_bytes, f_head) rows; `decoderInits` counts
    * constructor calls so tests can prove per-partition (not per-row)
    * initialization.
    */
  def decodeBatched(media: DataFrame,
                    initCounter: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        initCounter.foreach(_.add(1L))
        val decoder = new FakeDecoder // once per batch
        rows.map { case (id, bytes) => (id, bytes.length.toLong, decoder.decode(bytes)) }
      }
      .toDF("media_id", "n_bytes", "f_head")
  }

  /** Stand-in for an expensive-to-construct codec (JPEG decoder, audio
    * resampler...). Deterministic: "feature" = first byte or -1.
    */
  final class FakeDecoder {
    def decode(bytes: Array[Byte]): Long =
      if (bytes.isEmpty) -1L else java.lang.Byte.toUnsignedLong(bytes(0))
  }

  /** documents → media table: text payloads as binary stand-ins for image
    * bytes, with the typed metadata struct. The binary column is genuine
    * (`cast(text AS BINARY)` = UTF-8 bytes, same as DuckDB `encode`).
    */
  def mediaTable(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id").as("media_id"),
      lit("text/plain").as("media_type"),
      col("text").cast("binary").as("content"),
      struct(col("source"), octet_length(col("text").cast("binary")).cast("long").as("n_bytes")).as("meta"))

  /** The decode/feature pipeline over the media table. */
  def mediaFeatures(spark: SparkSession, dir: String): DataFrame =
    mediaTable(spark, dir).select(
      col("media_id"),
      col("media_type"),
      col("meta").getField("n_bytes").as("n_bytes"),
      fakeFeatures(col("content")).as("features"))

  /** Deterministic image-header planting (the [[graft.text.Html.plantHtml]]
    * pattern, but emitting REAL container bytes): each doc_id constructs a
    * syntactically valid PNG, GIF, or JPEG header whose dimensions and
    * channel layout derive from doc_id — byte strings assembled hex-wise
    * with `unhex`, so the gate feeds [[decodeHeader]] genuine binaries and
    * the oracle can state the planted parameters arithmetically. The JPEG
    * plant includes APP0 and COM segments BEFORE the SOF so the marker
    * walk (skip-by-length) is exercised, not just the happy first-segment
    * path.
    */
  def plantImage: Column = {
    val w = (lit(16) + col("doc_id") % 317).cast("int")
    val h = (lit(16) + col("doc_id") % 211).cast("int")
    def be32(c: Column) = lpad(hex(c), 8, "0")
    def be16(c: Column) = lpad(hex(c), 4, "0")
    def le16(c: Column) = concat(substring(be16(c), 3, 2), substring(be16(c), 1, 2))
    // PNG color type cycles gray / rgb / gray+alpha / rgba
    val colorType = element_at(array(lit("00"), lit("02"), lit("04"), lit("06")),
      (col("doc_id") % 4 + 1).cast("int"))
    val png = concat(
      lit("89504E470D0A1A0A"),           // signature
      lit("0000000D49484452"),           // IHDR length=13 + type
      be32(w), be32(h),
      lit("08"), colorType,              // bit depth 8, planted color type
      lit("000000"),                     // compression, filter, interlace
      lit("DEADBEEF"))                   // CRC (not validated by header parse)
    val gif = concat(
      lit("474946383961"),               // "GIF89a"
      le16(w), le16(h),                  // little-endian screen descriptor
      lit("F7000000"))                   // packed fields, bg color, aspect, pad
    val jpeg = concat(
      lit("FFD8"),                       // SOI
      lit("FFE000104A46494600010100000100010000"), // APP0/JFIF, len 16
      lit("FFFE0004ABCD"),               // COM segment, len 4
      lit("FFC00011"),                   // SOF0, len 17 (3 components)
      lit("08"), be16(h), be16(w),       // precision, height, width
      lit("03011100021101031101"),       // ncomp=3 + component specs
      lit("FFD9"))                       // EOI
    unhex(when(col("doc_id") % 3 === 0, png)
      .when(col("doc_id") % 3 === 1, gif)
      .otherwise(jpeg))
  }

  /** (media_id, format, width, height, channels) — plant real header
    * bytes, parse them back with the codegen'd expression. The oracle
    * states the planted parameters directly, so any parsing error
    * (endianness, offset, marker-walk slip) breaks the gate.
    */
  def headerDecode(spark: SparkSession, dir: String): DataFrame =
    graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id").as("media_id"), plantImage.as("content"))
      .select(col("media_id"), decodeHeader(col("content")).as("hdr"))
      .select(col("media_id"),
        col("hdr").getField("format").as("format"),
        col("hdr").getField("width").as("width"),
        col("hdr").getField("height").as("height"),
        col("hdr").getField("channels").as("channels"))

  def headerOracle: String =
    s"""SELECT doc_id AS media_id,
       |  CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'gif' ELSE 'jpeg' END AS format,
       |  CAST(16 + doc_id % 317 AS INTEGER) AS width,
       |  CAST(16 + doc_id % 211 AS INTEGER) AS height,
       |  CAST(CASE WHEN doc_id % 3 = 0 THEN
       |         CASE doc_id % 4 WHEN 0 THEN 1 WHEN 1 THEN 3 WHEN 2 THEN 2 ELSE 4 END
       |       ELSE 3 END AS INTEGER) AS channels
       |FROM documents""".stripMargin

  /** Audio twin of [[decodeHeader]]: RIFF/WAVE `fmt `/`data` chunk walk
    * via the codegen'd [[graft.plans.WavHeader]].
    */
  def decodeWavHeader(content: Column): Column =
    org.apache.spark.sql.GraftColumnShim.column(
      graft.plans.WavHeader(
        org.apache.spark.sql.GraftColumnShim.expression(content)))

  /** Deterministic RIFF/WAVE header planting (the [[plantImage]] pattern
    * for audio): sample rate / channels / bit depth / frame count derive
    * from doc_id; a LIST chunk sits before `fmt ` so the chunk walk is
    * exercised, and the `data` chunk declares its size with no payload
    * (header-only blob — the parser reads frame count from the
    * declaration). All multi-byte fields little-endian per the spec.
    */
  /** Little-endian hex renderings of 16/32-bit values — the byte-level
    * building blocks every RIFF plant shares.
    */
  private def le16(c: Column): Column = {
    val h = lpad(hex(c), 4, "0")
    concat(substring(h, 3, 2), substring(h, 1, 2))
  }
  private def le32(c: Column): Column = {
    val h = lpad(hex(c), 8, "0")
    concat(substring(h, 7, 2), substring(h, 5, 2), substring(h, 3, 2), substring(h, 1, 2))
  }

  def plantWav: Column = {
    val rate = (lit(8000) + (col("doc_id") % 4) * 8000).cast("long")
    val ch = (lit(1) + col("doc_id") % 2).cast("long")
    val bits = (lit(8) * (lit(1) + col("doc_id") % 3)).cast("long")
    val blockAlign = ch * bits / 8
    val frames = (lit(100) + col("doc_id") % 900).cast("long")
    val dataSize = frames * blockAlign
    // RIFF size counts everything after the 8-byte RIFF header:
    // "WAVE"(4) + LIST chunk(12) + fmt chunk(24) + data header(8) = 48
    unhex(concat(
      lit("52494646"), le32(lit(48L) + dataSize), lit("57415645"), // RIFF size WAVE
      lit("4C495354"), le32(lit(4L)), lit("494E464F"),             // LIST(4) "INFO"
      lit("666D7420"), le32(lit(16L)),                             // fmt (16)
      le16(lit(1L)), le16(ch), le32(rate), le32(rate * blockAlign),
      le16(blockAlign), le16(bits),
      lit("64617461"), le32(dataSize)))                            // data(size), no payload
  }

  /** (media_id, sample_rate, channels, bits_per_sample, n_frames) —
    * plant real RIFF bytes, parse them back. Oracle states the planted
    * parameters arithmetically, so endianness/offset/chunk-walk slips
    * break the gate.
    */
  def audioHeaderDecode(spark: SparkSession, dir: String): DataFrame =
    graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id").as("media_id"), plantWav.as("content"))
      .select(col("media_id"), decodeWavHeader(col("content")).as("hdr"))
      .select(col("media_id"),
        col("hdr").getField("sample_rate").as("sample_rate"),
        col("hdr").getField("channels").as("channels"),
        col("hdr").getField("bits_per_sample").as("bits_per_sample"),
        col("hdr").getField("n_frames").as("n_frames"))

  def audioHeaderOracle: String =
    s"""SELECT doc_id AS media_id,
       |  CAST(8000 + (doc_id % 4) * 8000 AS INTEGER) AS sample_rate,
       |  CAST(1 + doc_id % 2 AS INTEGER) AS channels,
       |  CAST(8 * (1 + doc_id % 3) AS INTEGER) AS bits_per_sample,
       |  CAST(100 + doc_id % 900 AS BIGINT) AS n_frames
       |FROM documents""".stripMargin

  /** (media_id, width, height, n_pixels, sum_gray, peak) — plant
    * DC-exact baseline JPEGs ([[graft.plans.JpegPlant]]: solid 8×8
    * blocks, Q(0,0)=8, so the lossy round-trip is integer-exact and
    * closed-form in doc_id), decode them back through the FULL
    * entropy/Huffman/IDCT pipeline ([[graft.plans.JpegPixels]]). The
    * oracle restates the planted block arithmetic, so a slip in the
    * canonical Huffman tables, DC prediction, byte unstuffing, restart
    * handling, dequantization, or the IDCT DC path breaks the gate.
    * Arbitrary-photo coverage (AC, chroma, edge blocks) is golden-tested
    * against ImageIO in JpegPixelsSpec.
    */
  def jpegStats(spark: SparkSession, dir: String): DataFrame =
    graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id").as("media_id"),
        org.apache.spark.sql.GraftColumnShim.column(
          graft.plans.JpegPlant(
            org.apache.spark.sql.GraftColumnShim.expression(col("doc_id")))).as("content"))
      .select(col("media_id"),
        org.apache.spark.sql.GraftColumnShim.column(
          graft.plans.JpegPixels(
            org.apache.spark.sql.GraftColumnShim.expression(col("content")))).as("s"))
      .select(col("media_id"),
        col("s").getField("width").as("width"),
        col("s").getField("height").as("height"),
        col("s").getField("n_pixels").as("n_pixels"),
        col("s").getField("sum_r").as("sum_gray"),
        col("s").getField("peak").as("peak"))

  def jpegStatsOracle: String =
    s"""SELECT doc_id AS media_id,
       |  CAST(8 * (1 + doc_id % 4) AS INTEGER) AS width,
       |  CAST(8 * (1 + doc_id % 3) AS INTEGER) AS height,
       |  CAST(64 * (1 + doc_id % 4) * (1 + doc_id % 3) AS BIGINT) AS n_pixels,
       |  CAST(64 * list_sum(list_transform(range((1 + doc_id % 4) * (1 + doc_id % 3)),
       |         k -> (doc_id * 37 + k * 59) % 256)) AS BIGINT) AS sum_gray,
       |  CAST(list_max(list_transform(range((1 + doc_id % 4) * (1 + doc_id % 3)),
       |         k -> (doc_id * 37 + k * 59) % 256)) AS INTEGER) AS peak
       |FROM documents""".stripMargin

  /** (media_id, n_frames, n_bad, width, height, n_pixels, sum_gray,
    * peak) — REAL video frame decode for MJPEG-in-AVI: the RIFF walk
    * finds `movi`, every `00dc` frame runs the full JPEG pipeline
    * ([[graft.plans.AviFrames]]), and the per-stream fold is what a
    * video quality filter reads. DC-exact salted frames keep the lossy
    * stream closed-form in doc_id; the oracle restates all frames'
    * pixel arithmetic (nested list_transform + flatten).
    */
  def videoFrameStats(spark: SparkSession, dir: String): DataFrame =
    graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id").as("media_id"),
        org.apache.spark.sql.GraftColumnShim.column(
          graft.plans.AviPlant(
            org.apache.spark.sql.GraftColumnShim.expression(col("doc_id")))).as("content"))
      .select(col("media_id"),
        org.apache.spark.sql.GraftColumnShim.column(
          graft.plans.AviFrames(
            org.apache.spark.sql.GraftColumnShim.expression(col("content")))).as("s"))
      .select(col("media_id"),
        col("s").getField("n_frames").as("n_frames"),
        col("s").getField("n_bad").as("n_bad"),
        col("s").getField("width").as("width"),
        col("s").getField("height").as("height"),
        col("s").getField("n_pixels").as("n_pixels"),
        col("s").getField("sum_gray").as("sum_gray"),
        col("s").getField("peak").as("peak"))

  def videoFrameOracle: String =
    s"""SELECT doc_id AS media_id,
       |  CAST(2 + doc_id % 3 AS INTEGER) AS n_frames,
       |  CAST(0 AS INTEGER) AS n_bad,
       |  CAST(8 * (1 + doc_id % 4) AS INTEGER) AS width,
       |  CAST(8 * (1 + doc_id % 3) AS INTEGER) AS height,
       |  CAST((2 + doc_id % 3) * 64 * (1 + doc_id % 4) * (1 + doc_id % 3) AS BIGINT) AS n_pixels,
       |  CAST(64 * list_sum(flatten(list_transform(range(2 + doc_id % 3), f ->
       |    list_transform(range((1 + doc_id % 4) * (1 + doc_id % 3)),
       |      k -> (doc_id * 37 + f * 101 + k * 59) % 256)))) AS BIGINT) AS sum_gray,
       |  CAST(list_max(flatten(list_transform(range(2 + doc_id % 3), f ->
       |    list_transform(range((1 + doc_id % 4) * (1 + doc_id % 3)),
       |      k -> (doc_id * 37 + f * 101 + k * 59) % 256)))) AS INTEGER) AS peak
       |FROM documents""".stripMargin

  /** (doc_id, format) — route 15 planted blob kinds through
    * [[graft.plans.MagicFormat]]: real plants where the repo has them
    * (gzip via the actual Deflater, WAV/MP4/WARC/zstd/WebP via their
    * planting expressions), published signature prefixes elsewhere;
    * `doc_id % 15` picks the kind and the oracle restates it, so a
    * signature offset slip (RIFF subtype at 8, ftyp at 4) breaks the
    * gate.
    */
  def magicFormats(spark: SparkSession, dir: String): DataFrame = {
    val k = col("doc_id") % 15
    def gz(c: Column) = org.apache.spark.sql.GraftColumnShim.column(
      graft.plans.GzipBytes(org.apache.spark.sql.GraftColumnShim.expression(c)))
    val blob =
      when(k === 0, unhex(lit("89504E470D0A1A0A99"))) // png signature
        .when(k === 1, lit("GIF89a junk").cast("binary"))
        .when(k === 2, unhex(lit("FFD8FFE000104A46")))  // jpeg SOI+APP0
        .when(k === 3, lit("%PDF-1.7 stub").cast("binary"))
        .when(k === 4, gz(coalesce(col("text"), lit("x")))) // real gzip bytes
        .when(k === 5, unhex(lit("504B0304140000")))    // zip local header
        .when(k === 6, plantWav)                         // real RIFF/WAVE
        .when(k === 7, concat(lit("RIFF").cast("binary"), unhex(lit("24000000")),
          lit("AVI LIST").cast("binary")))
        .when(k === 8, plantMp4)                         // real ISO-BMFF
        .when(k === 9, lit("WARC/1.0\r\n").cast("binary"))
        .when(k === 10, lit("<?xml version=\"1.0\"?>").cast("binary"))
        .when(k === 11, unhex(lit("EFBBBF68690A")))     // UTF-8 BOM + "hi"
        .when(k === 12, org.apache.spark.sql.GraftColumnShim.column(
          graft.plans.ZstdStoreBytes(org.apache.spark.sql.GraftColumnShim
            .expression(coalesce(col("text"), lit("x")))))) // real zstd frame
        .when(k === 13, org.apache.spark.sql.GraftColumnShim.column(
          graft.plans.WebpPlant(org.apache.spark.sql.GraftColumnShim
            .expression(col("doc_id"))))) // real VP8-L container
        .otherwise(lit("plain old text").cast("binary"))
    graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"), blob.as("content"))
      .select(col("doc_id"),
        org.apache.spark.sql.GraftColumnShim.column(
          graft.plans.MagicFormat(
            org.apache.spark.sql.GraftColumnShim.expression(col("content")))).as("format"))
  }

  def magicOracle: String =
    s"""SELECT doc_id,
       |  CASE doc_id % 15
       |    WHEN 0 THEN 'png' WHEN 1 THEN 'gif' WHEN 2 THEN 'jpeg'
       |    WHEN 3 THEN 'pdf' WHEN 4 THEN 'gzip' WHEN 5 THEN 'zip'
       |    WHEN 6 THEN 'wav' WHEN 7 THEN 'avi' WHEN 8 THEN 'mp4'
       |    WHEN 9 THEN 'warc' WHEN 10 THEN 'xml' WHEN 11 THEN 'text-bom'
       |    WHEN 12 THEN 'zstd' WHEN 13 THEN 'webp'
       |    ELSE 'unknown' END AS format
       |FROM documents""".stripMargin

  /** Big-endian hex renderings for ISO-BMFF plants (MP4 is big-endian,
    * unlike RIFF).
    */
  private def be16h(c: Column): Column = lpad(hex(c), 4, "0")
  private def be32h(c: Column): Column = lpad(hex(c), 8, "0")
  private def be64h(c: Column): Column = lpad(hex(c), 16, "0")

  /** Deterministic ISO-BMFF (MP4) plant: ftyp + free + moov(mvhd, udta,
    * trak(tkhd, mdia(hdlr)) [, empty trak]) with every header field
    * derived from doc_id. Exercises the parts a real parser must get
    * right: nested container recursion (moov→trak→mdia), full-box
    * version 0 AND version 1 layouts (mvhd/tkhd widen their time fields
    * to u64 at v1 — doc_id parity picks the version), 16.16 fixed-point
    * track dimensions, a non-container box (`udta` junk payload) the
    * walk must skip without recursing, and a second bare `trak` (when
    * doc_id % 3 == 0) that must bump the track count without stealing
    * the first track's reported fields.
    */
  def plantMp4: Column = {
    val v1 = col("doc_id") % 2 === 1
    val timescale = (lit(600) + (col("doc_id") % 3) * 400).cast("long")
    val duration = (lit(500) + col("doc_id") % 9999).cast("long")
    val trackId = (lit(1) + col("doc_id") % 7).cast("long")
    val w = (lit(320) + (col("doc_id") % 8) * 16).cast("long")
    val h = (lit(240) + (col("doc_id") % 5) * 16).cast("long")
    val handlerHex = when(col("doc_id") % 4 === 3, lit("736F756E")) // "soun"
      .otherwise(lit("76696465"))                                   // "vide"
    val matrix = lit("000100000000000000000000" +
      "000000000001000000000000" +
      "000000000000000040000000")        // unity 3×3, 16.16 / 2.30
    val mvhdSize = when(v1, lit(120L)).otherwise(lit(108L))
    val mvhd = concat(
      be32h(mvhdSize), lit("6D766864"),                    // 'mvhd'
      when(v1, concat(lit("01000000"), be64h(lit(0L)), be64h(lit(0L)),
          be32h(timescale), be64h(duration)))
        .otherwise(concat(lit("00000000"), be32h(lit(0L)), be32h(lit(0L)),
          be32h(timescale), be32h(duration))),
      lit("00010000"), lit("0100"), lit("00000000000000000000"), // rate, volume, reserved(10)
      matrix, lit("000000000000000000000000000000000000000000000000"), // predefined(24)
      be32h(lit(2L)))                                      // next_track_ID
    val tkhdSize = when(v1, lit(104L)).otherwise(lit(92L))
    val tkhd = concat(
      be32h(tkhdSize), lit("746B6864"),                    // 'tkhd'
      when(v1, concat(lit("01000007"), be64h(lit(0L)), be64h(lit(0L)),
          be32h(trackId), be32h(lit(0L)), be64h(duration)))
        .otherwise(concat(lit("00000007"), be32h(lit(0L)), be32h(lit(0L)),
          be32h(trackId), be32h(lit(0L)), be32h(duration))),
      be64h(lit(0L)),                                      // reserved(8)
      lit("0000"), lit("0000"), lit("0000"), lit("0000"),  // layer, alt, volume, reserved
      matrix,
      be32h(w * 65536L), be32h(h * 65536L))                // 16.16 width/height
    val hdlr = concat(
      be32h(lit(33L)), lit("68646C72"), lit("00000000"), lit("00000000"),
      handlerHex, lit("000000000000000000000000"), lit("00")) // reserved(12) + NUL name
    val mdia = concat(be32h(lit(41L)), lit("6D646961"), hdlr)
    val trakSize = tkhdSize + 49L                          // 8 + tkhd + mdia(41)
    val trak = concat(be32h(trakSize), lit("7472616B"), tkhd, mdia)
    val udta = concat(be32h(lit(12L)), lit("75647461"), lit("DEADBEEF"))
    val trak2 = when(col("doc_id") % 3 === 0,
      concat(be32h(lit(8L)), lit("7472616B"))).otherwise(lit(""))
    val trak2Size = when(col("doc_id") % 3 === 0, lit(8L)).otherwise(lit(0L))
    val moovSize = lit(8L) + mvhdSize + 12L + trakSize + trak2Size
    unhex(concat(
      be32h(lit(24L)), lit("66747970"),                    // ftyp
      lit("69736F6D"), be32h(lit(512L)), lit("69736F6D"), lit("6D703431"),
      be32h(lit(16L)), lit("66726565"), lit("0123456789ABCDEF"), // free
      be32h(moovSize), lit("6D6F6F76"), mvhd, udta, trak, trak2))
  }

  /** (media_id, timescale, duration, n_tracks, track_id, width, height,
    * handler) — plant real ISO-BMFF bytes, walk them back through the
    * codegen'd [[graft.plans.Mp4Header]]. Oracle restates the planted
    * parameters arithmetically, so a box-size slip, a missed recursion,
    * a v0/v1 layout mix-up, or a fixed-point misread breaks the gate.
    */
  def videoHeaderDecode(spark: SparkSession, dir: String): DataFrame =
    graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id").as("media_id"), plantMp4.as("content"))
      .select(col("media_id"),
        org.apache.spark.sql.GraftColumnShim.column(
          graft.plans.Mp4Header(
            org.apache.spark.sql.GraftColumnShim.expression(col("content")))).as("hdr"))
      .select(col("media_id"),
        col("hdr").getField("timescale").as("timescale"),
        col("hdr").getField("duration").as("duration"),
        col("hdr").getField("n_tracks").as("n_tracks"),
        col("hdr").getField("track_id").as("track_id"),
        col("hdr").getField("width").as("width"),
        col("hdr").getField("height").as("height"),
        col("hdr").getField("handler").as("handler"))

  def videoHeaderOracle: String =
    s"""SELECT doc_id AS media_id,
       |  CAST(600 + (doc_id % 3) * 400 AS BIGINT) AS timescale,
       |  CAST(500 + doc_id % 9999 AS BIGINT) AS duration,
       |  CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS INTEGER) AS n_tracks,
       |  CAST(1 + doc_id % 7 AS BIGINT) AS track_id,
       |  CAST(320 + (doc_id % 8) * 16 AS INTEGER) AS width,
       |  CAST(240 + (doc_id % 5) * 16 AS INTEGER) AS height,
       |  CASE WHEN doc_id % 4 = 3 THEN 'soun' ELSE 'vide' END AS handler
       |FROM documents""".stripMargin

  /** Deterministic 16-bit mono PCM plant: a RIFF/WAVE blob whose `data`
    * chunk carries a REAL payload — `16 + doc_id % 17` frames, sample i
    * drawn from integer arithmetic on (doc_id, i), with every
    * `(doc_id + i) % 50 == 0` slot pinned to full-scale +32767 so clip
    * detection has planted positives. The LIST chunk before `fmt `
    * keeps the chunk walk honest, as in [[plantWav]].
    */
  def plantWavPcm: Column = {
    val f = (lit(16) + col("doc_id") % 17).cast("long")
    val dataSize = f * 2
    // u in [0, 65535]; the decoded sample is v = u - 32768. The BYTES
    // are v's two's complement: (u - 32768) mod 2^16 = u with the top
    // bit flipped = (u + 32768) % 65536 — NOT u itself (an offset is
    // not a sign reinterpretation)
    def u(i: Column) = when((col("doc_id") + i) % 50 === 0, lit(65535L))
      .otherwise((col("doc_id") * 7919 + i * 104729) % 65536)
    val samples = array_join(
      transform(sequence(lit(0L), f - 1), i => le16((u(i) + 32768) % 65536)), "")
    unhex(concat(
      lit("52494646"), le32(lit(48L) + dataSize), lit("57415645"), // RIFF size WAVE
      lit("4C495354"), le32(lit(4L)), lit("494E464F"),             // LIST(4) "INFO"
      lit("666D7420"), le32(lit(16L)),                             // fmt (16)
      le16(lit(1L)), le16(lit(1L)), le32(lit(16000L)),             // PCM, mono, 16 kHz
      le32(lit(32000L)), le16(lit(2L)), le16(lit(16L)),            // byte rate, align, bits
      lit("64617461"), le32(dataSize),                             // data(size)
      samples))
  }

  /** (media_id, n_samples, sum_abs, peak, clip_count) — plant real PCM
    * frames, decode them back through the chunk walk + sample loop. The
    * oracle restates the planted samples arithmetically and aggregates,
    * so byte order, sign extension, truncation handling and the clip
    * rule are all load-bearing. Exact integers end to end.
    */
  def pcmStats(spark: SparkSession, dir: String): DataFrame =
    graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id").as("media_id"), plantWavPcm.as("content"))
      .select(col("media_id"),
        org.apache.spark.sql.GraftColumnShim.column(
          graft.plans.WavPcm(
            org.apache.spark.sql.GraftColumnShim.expression(col("content")))).as("s"))
      .select(col("media_id"),
        col("s").getField("n_samples").as("n_samples"),
        col("s").getField("sum_abs").as("sum_abs"),
        col("s").getField("peak").as("peak"),
        col("s").getField("clip_count").as("clip_count"))

  /** (media_id, n_samples, sum_abs, peak, clip_count) over REAL FLAC
    * streams (X233): [[graft.plans.FlacPlantWide]] encodes full-range
    * planted samples — negative values, forced full-scale clips,
    * multi-frame streams with a short tail block — through the real
    * [[graft.plans.FlacEncode]] (CONSTANT / FIXED-Rice / VERBATIM per
    * block), and [[graft.plans.FlacPcm]] must decode them back through
    * frame headers, CRC-8/16, subframe dispatch, and Rice residual
    * reconstruction. FLAC is lossless, so the oracle restates the
    * sample formulas directly — any slip anywhere in the bitstream walk
    * breaks the gate. Same schema as [[pcmStats]]: one stats contract
    * across codecs.
    */
  def flacStats(spark: SparkSession, dir: String): DataFrame =
    graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id").as("media_id"),
        org.apache.spark.sql.GraftColumnShim.column(
          graft.plans.FlacPlantWide(
            org.apache.spark.sql.GraftColumnShim.expression(col("doc_id")))).as("content"))
      .select(col("media_id"),
        org.apache.spark.sql.GraftColumnShim.column(
          graft.plans.FlacPcmStats(
            org.apache.spark.sql.GraftColumnShim.expression(col("content")))).as("s"))
      .select(col("media_id"),
        col("s").getField("n_samples").as("n_samples"),
        col("s").getField("sum_abs").as("sum_abs"),
        col("s").getField("peak").as("peak"),
        col("s").getField("clip_count").as("clip_count"))

  def flacStatsOracle: String =
    s"""WITH s AS (
       |  SELECT doc_id, i,
       |    CASE WHEN i % 50 = 7 THEN 32767
       |         WHEN i % 50 = 29 THEN -32768
       |         ELSE (doc_id * 7919 + i * 104729) % 65536 - 32768 END AS v
       |  FROM documents, unnest(range(0, 100 + doc_id % 64)) AS u(i)
       |)
       |SELECT doc_id AS media_id,
       |  CAST(count(*) AS BIGINT) AS n_samples,
       |  CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
       |  CAST(max(abs(v)) AS BIGINT) AS peak,
       |  CAST(sum(CASE WHEN v = 32767 OR v = -32768 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS clip_count
       |FROM s GROUP BY doc_id""".stripMargin

  /** (media_id, width, height, channels, n_pixels, sum_r, sum_g, sum_b,
    * peak) — plant a COMPLETE deterministic PNG through the JDK's own
    * ImageIO encoder (independent filter choices + Deflater), decode it
    * back through [[graft.plans.PngPixels]] (signature → IHDR → IDAT
    * concatenation → JDK Inflater → all five PNG filter
    * reconstructions). The oracle restates the planted pixel arithmetic
    * directly, so any slip in the inflate, unfilter, or channel walk
    * breaks the gate. sum_a is dropped from the gated projection (RGB
    * plants carry no alpha; the alpha path is golden-tested in
    * PngPixelsSpec against ARGB/gray ImageIO round-trips).
    */
  def pixelStats(spark: SparkSession, dir: String): DataFrame =
    graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id").as("media_id"),
        org.apache.spark.sql.GraftColumnShim.column(
          graft.plans.PngPlant(
            org.apache.spark.sql.GraftColumnShim.expression(col("doc_id")))).as("content"))
      .select(col("media_id"),
        org.apache.spark.sql.GraftColumnShim.column(
          graft.plans.PngPixels(
            org.apache.spark.sql.GraftColumnShim.expression(col("content")))).as("s"))
      .select(col("media_id"),
        col("s").getField("width").as("width"),
        col("s").getField("height").as("height"),
        col("s").getField("channels").as("channels"),
        col("s").getField("n_pixels").as("n_pixels"),
        col("s").getField("sum_r").as("sum_r"),
        col("s").getField("sum_g").as("sum_g"),
        col("s").getField("sum_b").as("sum_b"),
        col("s").getField("peak").as("peak"))

  /** (media_id, width, height, palette_size, n_pixels, sum_r, sum_g,
    * sum_b, peak) — plant a COMPLETE deterministic GIF through the JDK's
    * own ImageIO encoder (its own LZW compressor and framing), decode it
    * back through [[graft.plans.GifPixels]] (header → color tables →
    * extension skip → variable-width LZW across sub-blocks → palette
    * map). The oracle restates the planted palette/pixel arithmetic, so
    * any slip in the LZW walk breaks the gate.
    */
  def gifStats(spark: SparkSession, dir: String): DataFrame =
    graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id").as("media_id"),
        org.apache.spark.sql.GraftColumnShim.column(
          graft.plans.GifPlant(
            org.apache.spark.sql.GraftColumnShim.expression(col("doc_id")))).as("content"))
      .select(col("media_id"),
        org.apache.spark.sql.GraftColumnShim.column(
          graft.plans.GifPixels(
            org.apache.spark.sql.GraftColumnShim.expression(col("content")))).as("s"))
      .select(col("media_id"),
        col("s").getField("width").as("width"),
        col("s").getField("height").as("height"),
        col("s").getField("palette_size").as("palette_size"),
        col("s").getField("n_pixels").as("n_pixels"),
        col("s").getField("sum_r").as("sum_r"),
        col("s").getField("sum_g").as("sum_g"),
        col("s").getField("sum_b").as("sum_b"),
        col("s").getField("peak").as("peak"))

  def gifStatsOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id, 4 + doc_id % 9 AS w, 4 + doc_id % 7 AS h,
       |    CASE doc_id % 3 WHEN 0 THEN 4 WHEN 1 THEN 8 ELSE 16 END AS p
       |  FROM documents
       |), px AS (
       |  SELECT doc_id, w, h, p, (doc_id + i) % p AS j
       |  FROM d, unnest(range(0, w * h)) AS u(i)
       |), rgb AS (
       |  SELECT doc_id, w, h, p,
       |    (doc_id * 3 + 5 * j) % 256 AS r,
       |    (doc_id * 11 + 7 * j) % 256 AS g,
       |    (doc_id * 17 + 13 * j) % 256 AS b
       |  FROM px
       |)
       |SELECT doc_id AS media_id,
       |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       |  CAST(p AS INTEGER) AS palette_size,
       |  CAST(count(*) AS BIGINT) AS n_pixels,
       |  CAST(sum(r) AS BIGINT) AS sum_r,
       |  CAST(sum(g) AS BIGINT) AS sum_g,
       |  CAST(sum(b) AS BIGINT) AS sum_b,
       |  CAST(max(greatest(r, g, b)) AS INTEGER) AS peak
       |FROM rgb GROUP BY doc_id, w, h, p""".stripMargin

  def pixelStatsOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id, 4 + doc_id % 13 AS w, 4 + doc_id % 11 AS h FROM documents
       |), px AS (
       |  -- three planted layouts: %4==1 palette (16-entry PLTE lookup),
       |  -- %4==3 16-bit gray (high-byte projection), else 8-bit RGB
       |  SELECT doc_id, w, h,
       |    CASE doc_id % 4
       |      WHEN 1 THEN (doc_id + 17 * ((doc_id + i) % 16)) % 256
       |      WHEN 3 THEN ((doc_id * 31 + 257 * i) % 65536) // 256
       |      ELSE (doc_id + 3 * i) % 256 END AS r,
       |    CASE doc_id % 4
       |      WHEN 1 THEN (doc_id * 7 + 23 * ((doc_id + i) % 16)) % 256
       |      WHEN 3 THEN ((doc_id * 31 + 257 * i) % 65536) // 256
       |      ELSE (doc_id * 7 + 5 * i) % 256 END AS g,
       |    CASE doc_id % 4
       |      WHEN 1 THEN (doc_id * 13 + 29 * ((doc_id + i) % 16)) % 256
       |      WHEN 3 THEN ((doc_id * 31 + 257 * i) % 65536) // 256
       |      ELSE (doc_id * 13 + 11 * i) % 256 END AS b
       |  FROM d, unnest(range(0, w * h)) AS u(i)
       |)
       |SELECT doc_id AS media_id,
       |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       |  CAST(CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 3 END AS INTEGER) AS channels,
       |  CAST(count(*) AS BIGINT) AS n_pixels,
       |  CAST(sum(r) AS BIGINT) AS sum_r,
       |  CAST(sum(g) AS BIGINT) AS sum_g,
       |  CAST(sum(b) AS BIGINT) AS sum_b,
       |  CAST(max(greatest(r, g, b)) AS INTEGER) AS peak
       |FROM px GROUP BY doc_id, w, h""".stripMargin

  def pcmStatsOracle: String =
    s"""WITH s AS (
       |  SELECT doc_id, i,
       |    (CASE WHEN (doc_id + i) % 50 = 0 THEN 65535
       |          ELSE (doc_id * 7919 + i * 104729) % 65536 END) - 32768 AS v
       |  FROM documents, unnest(range(0, 16 + doc_id % 17)) AS u(i)
       |)
       |SELECT doc_id AS media_id,
       |  CAST(count(*) AS BIGINT) AS n_samples,
       |  CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
       |  CAST(max(abs(v)) AS BIGINT) AS peak,
       |  CAST(sum(CASE WHEN v = 32767 OR v = -32768 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS clip_count
       |FROM s GROUP BY doc_id""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_multimodal_pixels" -> Query((s, dir) => pixelStats(s, dir), pixelStatsOracle),
    "q_multimodal_gif" -> Query((s, dir) => gifStats(s, dir), gifStatsOracle),
    "q_multimodal_pcm" -> Query((s, dir) => pcmStats(s, dir), pcmStatsOracle),
    "q_multimodal_flac" -> Query((s, dir) => flacStats(s, dir), flacStatsOracle),
    "q_multimodal_audio" -> Query((s, dir) => audioHeaderDecode(s, dir), audioHeaderOracle),
    "q_multimodal_video" -> Query((s, dir) => videoHeaderDecode(s, dir), videoHeaderOracle),
    "q_multimodal_jpeg" -> Query((s, dir) => jpegStats(s, dir), jpegStatsOracle),
    "q_magic_format" -> Query((s, dir) => magicFormats(s, dir), magicOracle),
    "q_video_frames" -> Query((s, dir) => videoFrameStats(s, dir), videoFrameOracle),
    "q_multimodal_decode" -> Query((s, dir) => headerDecode(s, dir), headerOracle),
    "q_multimodal_features" -> Query((s, dir) =>
      mediaFeatures(s, dir).select(
        col("media_id"), col("media_type"), col("n_bytes"),
        // arrays → positional columns for a column-typed oracle compare
        element_at(col("features"), 1).as("f1"),
        element_at(col("features"), 2).as("f2"),
        element_at(col("features"), 3).as("f3"),
        element_at(col("features"), 4).as("f4")),
      s"""SELECT doc_id AS media_id,
         |  'text/plain' AS media_type,
         |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         |  CAST(ascii(substring(md5(text), 1, 1)) AS BIGINT) AS f1,
         |  CAST(ascii(substring(md5(text), 9, 1)) AS BIGINT) AS f2,
         |  CAST(ascii(substring(md5(text), 17, 1)) AS BIGINT) AS f3,
         |  CAST(ascii(substring(md5(text), 25, 1)) AS BIGINT) AS f4
         |FROM documents""".stripMargin)
  )
}
