package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Audio voice-activity segmentation (X196) — silence trimming and
  * utterance splitting, the first pass of every speech-data pipeline:
  * [[graft.plans.WavSegments]] walks REAL planted WAV bytes (the
  * q_multimodal_pcm chunk-walk + sample-loop, refactored behind a
  * shared sample sink) and emits each maximal |v| ≥ threshold run as
  * (start, end, n_samples, peak) in ONE pass — per-blob output is the
  * handful of segments, never a per-sample row, so a 100 TB audio
  * sweep stays map-only (the explode-then-window alternative shuffles
  * every sample of every file).
  *
  * The plant alternates 8-sample near-silence blocks (|v| ≤ 3) with
  * loud blocks (v ∈ [8192, 24575]) so segments land on closed-form
  * boundaries, including a truncated trailing run; the oracle
  * recomputes the samples from the formulas and runs a generic SQL
  * gaps-and-islands segmentation — it pins the OPERATOR's semantics,
  * not just the plant's block layout.
  */
object AudioSegments {

  val Threshold = 1000

  private def le16h(c: Column): Column = {
    val be = lpad(hex(c), 4, "0")
    concat(substring(be, 3, 2), substring(be, 1, 2))
  }
  private def le32h(c: Column): Column = {
    val be = lpad(hex(c), 8, "0")
    concat(substring(be, 7, 2), substring(be, 5, 2),
      substring(be, 3, 2), substring(be, 1, 2))
  }

  /** Real WAV bytes: RIFF/fmt/data framing with alternating 8-sample
    * silence/loud blocks. Bytes are the sample's two's complement:
    * (u − 32768) mod 2¹⁶ = (u + 32768) % 65536.
    */
  def plantWavSeg: Column = plantWavSegFor(col("doc_id"))

  def plantWavSegFor(seed: Column): Column = {
    val f = (lit(16) + seed % 17).cast("long")
    val dataSize = f * 2
    def u(i: Column) =
      when((i.cast("long") / 8).cast("long") % 2 === 0,
        lit(32768L) + (seed + i) % 7 - 3)
        .otherwise(lit(40960L) + (seed * 7919 + i * 104729) % 16384)
    val samples = array_join(
      transform(sequence(lit(0L), f - 1), i => le16h((u(i) + 32768) % 65536)), "")
    unhex(concat(
      lit("52494646"), le32h(lit(36L) + dataSize), lit("57415645"),
      lit("666D7420"), le32h(lit(16L)),
      le16h(lit(1L)), le16h(lit(1L)), le32h(lit(16000L)),
      le32h(lit(32000L)), le16h(lit(2L)), le16h(lit(16L)),
      lit("64617461"), le32h(dataSize),
      samples))
  }

  /** (media_id, seg_idx, start, end, n_samples, peak). */
  def segments(spark: SparkSession, dir: String): DataFrame =
    graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id").as("media_id"), plantWavSeg.as("content"))
      .select(col("media_id"), posexplode_outer(
        org.apache.spark.sql.GraftColumnShim.column(graft.plans.WavSegments(
          org.apache.spark.sql.GraftColumnShim.expression(col("content")),
          Threshold))).as(Seq("seg_idx", "s")))
      .filter(col("s").isNotNull)
      .select(col("media_id"), col("seg_idx").cast("int").as("seg_idx"),
        col("s").getField("start").as("start"),
        col("s").getField("end").as("end"),
        col("s").getField("n_samples").as("n_samples"),
        col("s").getField("peak").as("peak"))

  def segmentsOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id, 16 + doc_id % 17 AS f FROM documents),
       |s AS (
       |  SELECT doc_id, i,
       |    (CASE WHEN (i // 8) % 2 = 0 THEN 32768 + (doc_id + i) % 7 - 3
       |          ELSE 40960 + (doc_id * 7919 + i * 104729) % 16384 END)
       |      - 32768 AS v
       |  FROM d, unnest(range(0, f)) AS u(i)),
       |act AS (SELECT doc_id, i, abs(v) AS a FROM s WHERE abs(v) >= $Threshold),
       |isl AS (
       |  SELECT doc_id, i, a,
       |    i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS g
       |  FROM act),
       |seg AS (
       |  SELECT doc_id AS media_id, min(i) AS st, max(i) + 1 AS en,
       |    count(*) AS n_samples, max(a) AS peak
       |  FROM isl GROUP BY doc_id, g)
       |SELECT media_id,
       |  CAST(row_number() OVER (PARTITION BY media_id ORDER BY st) - 1
       |    AS INTEGER) AS seg_idx,
       |  CAST(st AS BIGINT) AS start, CAST(en AS BIGINT) AS "end",
       |  CAST(n_samples AS BIGINT) AS n_samples, CAST(peak AS BIGINT) AS peak
       |FROM seg""".stripMargin

  // ---- energy-envelope fingerprint + near-dup join (X212) -----------

  /** Envelope cells (8-bit fingerprint) and the Hamming budget; bands =
    * maxHam + 1 of ceil(8/2) = 4 bits — pigeonhole recall 1, the image
    * join's construction.
    */
  val FpCells = 8
  val FpMaxHam = 1

  /** (media_id, n_samples, afp) over the planted WAVs — the audio
    * member of the near-dup family (text MinHash, image dHash).
    */
  def fingerprints(spark: SparkSession, dir: String, seed: Column): DataFrame =
    graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id").as("media_id"), seed.as("s0"))
      .select(col("media_id"),
        org.apache.spark.sql.GraftColumnShim.column(graft.plans.WavFingerprint(
          org.apache.spark.sql.GraftColumnShim.expression(plantWavSegFor(col("s0"))),
          FpCells)).as("s"))
      .filter(col("s").isNotNull)
      .select(col("media_id"), col("s").getField("n_samples").as("n_samples"),
        col("s").getField("afp").as("afp"))

  /** Banded Hamming-≤ maxHam join. The PRODUCTION form is KEYLESS
    * (`keyCols = Seq.empty`): the envelope is computed over index-
    * proportional ranges, so it is resample-invariant by construction —
    * a re-encoded copy at a different sample rate carries (almost) the
    * same fingerprint but a different duration, and any duration key
    * would hide it (the round-13 verdict's audio finding, the exact
    * analogue of the image dimension-class hole). Keyless banding is
    * sound at 32 fingerprint bits (8-bit band values; coincidences
    * ~2⁻²⁴ per pair); the LEGACY 8-bit demo gate passes
    * `Seq("n_samples")` explicitly because a 2-band/4-bit hash without
    * a pre-bucket drowns in coincidences.
    */
  def fpPairs(fp: DataFrame, bits: Int = FpCells, maxHam: Int = FpMaxHam,
              keyCols: Seq[String] = Seq.empty): DataFrame = {
    val nBands = maxHam + 1
    val bw = (bits + nBands - 1) / nBands
    val mask = (1L << bw) - 1
    val bandArr = array((0 until nBands).map(j =>
      shiftright(col("afp"), bw * j).bitwiseAND(lit(mask))): _*)
    // the fingerprint table feeds both self-join sides: the C1 fan-out
    // discipline, registered for release like ImageHash's seam
    val hashed = graft.ops.Caches.persist(fp)
    val banded = hashed.select(col("media_id") +: keyCols.map(col) :+
      col("afp") :+ posexplode(bandArr).as(Seq("band", "bv")): _*)
    val cond = (keyCols.map(k => col(s"x.$k") === col(s"y.$k")) ++ Seq(
      col("x.band") === col("y.band"), col("x.bv") === col("y.bv"),
      col("x.media_id") < col("y.media_id"))).reduce(_ && _)
    banded.as("x").join(banded.as("y"), cond)
      .select(col("x.media_id").as("a"), col("x.afp").as("fa"),
        col("y.media_id").as("b"), col("y.afp").as("fb"))
      .distinct()
      .withColumn("hamming", expr("bit_count(fa ^ fb)").cast("long"))
      .filter(col("hamming") <= maxHam)
      .select(col("a"), col("b"), col("hamming"))
  }

  // ---- resample-invariant fingerprints (X234): 32 cells, keyless ----

  /** Production fingerprint: 32 gradient bits over 33 envelope cells;
    * Hamming budget 3 → 4 bands of 8 bits.
    */
  val Fp32Cells = 32
  val Fp32MaxHam = 3

  /** (media_id, n_samples, afp) over the CELL-content plant
    * ([[graft.plans.AudioCellPlant]]) at upsample factor m — the m = 2
    * table holds every sample twice, i.e. a true 2× resample of m = 1.
    */
  def fingerprintsCell(spark: SparkSession, dir: String, m: Int,
                       idOf: Column): DataFrame =
    graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(idOf.as("media_id"),
        org.apache.spark.sql.GraftColumnShim.column(graft.plans.WavFingerprint(
          org.apache.spark.sql.GraftColumnShim.expression(
            org.apache.spark.sql.GraftColumnShim.column(graft.plans.WavPlantCell(
              org.apache.spark.sql.GraftColumnShim.expression(col("doc_id")), m))),
          Fp32Cells)).as("s"))
      .filter(col("s").isNotNull)
      .select(col("media_id"), col("s").getField("n_samples").as("n_samples"),
        col("s").getField("afp").as("afp"))

  /** Resample near-dup gate: media 2·doc_id at 1× and 2·doc_id + 1 at
    * 2× — different durations, identical envelopes; the KEYLESS banded
    * join must find every twin at Hamming 0 (under the old duration
    * key they were never candidates).
    */
  def resamplePairs(spark: SparkSession, dir: String): DataFrame =
    fpPairs(
      fingerprintsCell(spark, dir, 1, col("doc_id") * 2)
        .unionByName(fingerprintsCell(spark, dir, 2, col("doc_id") * 2 + 1)),
      bits = Fp32Cells, maxHam = Fp32MaxHam)

  /** MIXED-codec near-dup (X233/X234, the q_image_neardup_mixed
    * discipline for audio): media 2·doc_id is the cell stream as WAV,
    * media 2·doc_id + 1 the SAME samples as a real FLAC encoding —
    * one envelope definition across codecs ([[graft.plans
    * .WavFingerprint.envelopeOver]] under both walks), so every twin
    * must collide at Hamming 0 in the keyless join.
    */
  def mixedCodecPairs(spark: SparkSession, dir: String): DataFrame = {
    val flacFp = graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select((col("doc_id") * 2 + 1).as("media_id"),
        org.apache.spark.sql.GraftColumnShim.column(graft.plans.FlacFingerprint(
          org.apache.spark.sql.GraftColumnShim.expression(
            org.apache.spark.sql.GraftColumnShim.column(graft.plans.FlacPlantCell(
              org.apache.spark.sql.GraftColumnShim.expression(col("doc_id")), 1))),
          Fp32Cells)).as("s"))
      .filter(col("s").isNotNull)
      .select(col("media_id"), col("s").getField("n_samples").as("n_samples"),
        col("s").getField("afp").as("afp"))
    fpPairs(
      fingerprintsCell(spark, dir, 1, col("doc_id") * 2).unionByName(flacFp),
      bits = Fp32Cells, maxHam = Fp32MaxHam)
  }

  def resamplePairsOracle: String =
    s"""WITH env AS (
       |  SELECT doc_id, c,
       |    ${graft.text.TextOps.md5ByteSql("'a' || doc_id || ':' || c")} AS ev
       |  FROM documents, unnest(range(0, ${Fp32Cells + 1})) AS u(c)),
       |afp AS (
       |  SELECT l.doc_id,
       |    CAST(coalesce(sum(CASE WHEN l.ev > r2.ev
       |        THEN 1::BIGINT << CAST(l.c AS INTEGER) ELSE 0 END), 0) AS BIGINT)
       |      AS afp
       |  FROM env l JOIN env r2 ON l.doc_id = r2.doc_id AND r2.c = l.c + 1
       |  GROUP BY l.doc_id),
       |amedia AS (
       |  SELECT 2 * doc_id AS media_id, afp FROM afp
       |  UNION ALL
       |  SELECT 2 * doc_id + 1, afp FROM afp)
       |SELECT x.media_id AS a, y.media_id AS b,
       |  CAST(bit_count(xor(x.afp, y.afp)) AS BIGINT) AS hamming
       |FROM amedia x JOIN amedia y ON x.media_id < y.media_id
       |WHERE bit_count(xor(x.afp, y.afp)) <= $Fp32MaxHam""".stripMargin

  /** The planted-sample CTE chain ending in fp(media_id, n, afp). */
  private def fpSql(seedSql: String): String =
    s"""d AS (
       |  SELECT doc_id, $seedSql AS s0, 16 + ($seedSql) % 17 AS f
       |  FROM documents),
       |sm AS (
       |  SELECT doc_id, f, i,
       |    abs((CASE WHEN (i // 8) % 2 = 0 THEN 32768 + (s0 + i) % 7 - 3
       |              ELSE 40960 + (s0 * 7919 + i * 104729) % 16384 END)
       |      - 32768) AS a
       |  FROM d, unnest(range(0, f)) AS u(i)),
       |env AS (
       |  SELECT doc_id, f, (i * ${FpCells + 1}) // f AS c,
       |    sum(a) // count(*) AS ev
       |  FROM sm GROUP BY doc_id, f, (i * ${FpCells + 1}) // f),
       |fp AS (
       |  SELECT l.doc_id AS media_id, CAST(l.f AS BIGINT) AS n_samples,
       |    CAST(coalesce(sum(CASE WHEN l.ev > r2.ev
       |        THEN 1::BIGINT << l.c ELSE 0 END), 0) AS BIGINT) AS afp
       |  FROM env l JOIN env r2
       |    ON l.doc_id = r2.doc_id AND r2.c = l.c + 1
       |  GROUP BY l.doc_id, l.f)""".stripMargin

  def fpOracle: String =
    s"""WITH ${fpSql("doc_id")}
       |SELECT media_id, n_samples, afp FROM fp""".stripMargin

  def fpPairsOracle: String =
    s"""WITH ${fpSql("doc_id // 2")}
       |SELECT x.media_id AS a, y.media_id AS b,
       |  CAST(bit_count(xor(x.afp, y.afp)) AS BIGINT) AS hamming
       |FROM fp x JOIN fp y
       |  ON x.n_samples = y.n_samples AND x.media_id < y.media_id
       |WHERE bit_count(xor(x.afp, y.afp)) <= $FpMaxHam""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_audio_segments" -> Query((s, dir) => segments(s, dir), segmentsOracle),
    "q_audio_afp" -> Query((s, dir) => fingerprints(s, dir, col("doc_id")), fpOracle),
    "q_audio_neardup" -> Query((s, dir) => fpPairs(
      fingerprints(s, dir, expr("doc_id DIV 2")), keyCols = Seq("n_samples")),
      fpPairsOracle),
    "q_audio_neardup_resample" -> Query((s, dir) => resamplePairs(s, dir), resamplePairsOracle),
    // same closed form: WAV and FLAC carry identical samples, so the
    // oracle is the identical-afp twin table either way
    "q_audio_neardup_mixed" -> Query((s, dir) => mixedCodecPairs(s, dir), resamplePairsOracle)
  )
}
