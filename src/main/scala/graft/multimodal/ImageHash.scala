package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Perceptual image DEDUP (X191): the dHash difference fingerprint over
  * REAL decoded PNGs plus the banded Hamming join that finds near-dup
  * images without an all-pairs pass — what an image-dataset curation
  * pipeline runs before training (near-identical images inflate memor-
  * ization exactly like near-identical text; the operator is the image
  * twin of the MinHash/SimHash family).
  *
  * The hash is [[graft.plans.PngDhash]] — exact integer arithmetic end
  * to end (ITU-601 gray, floor box-reduce, per-cell integer means), so
  * the DuckDB oracle recomputes every bit from the planted pixel
  * formulas: the gate pins the full decode → gray → grid → gradient
  * chain across all three planted layouts (8-bit RGB, 4-bit palette,
  * 16-bit gray). The gate grid is 4×4 (16 bits) because the planted
  * rasters are 4–16 px wide; the expression supports up to 8×8, the
  * production grid.
  *
  * Near-dup join: candidates must share the ASPECT-RATIO CLASS
  * (`(w·64) DIV h`) — NOT exact dimensions: [[graft.plans.DhashCore]]'s
  * grid fold is resolution-independent by construction, and the single
  * most common duplicate transformation on the web is the rescale
  * (thumbnails, responsive variants), which PRESERVES the aspect class
  * while changing (w, h). An exact-dimension key would make every such
  * duplicate invisible (the round-13 verdict's top finding); the
  * aspect class keeps the grouping power a 16-bit gate hash needs
  * against cross-shape coincidences while letting a 1024×768 original
  * meet its 512×384 thumbnail in one bucket. Candidates must further
  * share at least one of maxHam+1 disjoint hash bands (a pair within
  * Hamming ≤ maxHam differs in ≤ maxHam bands, so by pigeonhole it
  * matches one: recall 1, the LSH-for-Hamming construction the
  * SimHash48 join uses). Verify is one exact `bit_count(a XOR b)` per
  * candidate. Images never shuffle — only (id, w, h, hash) rows. The
  * cross-resolution recall is GATED: q_image_neardup_rescale plants
  * the same per-cell content at 1× and 2× resolution and the pair
  * must be found at Hamming 0 (see [[plantedDhashScaled]]).
  */
object ImageHash {

  /** Gate grid: 4×4 → 16-bit hash, 4 bands of 4 bits, maxHam 3. */
  val GW = 4
  val GH = 4
  val MaxHam = 3

  def dhashOf(content: Column, gw: Int = GW, gh: Int = GH): Column =
    org.apache.spark.sql.GraftColumnShim.column(graft.plans.PngDhash(
      org.apache.spark.sql.GraftColumnShim.expression(content), gw, gh))

  /** (media_id, width, height, dhash) over PngPlant(seed) images;
    * sub-grid images (w < gw+1) are ABSENT — no gradient signature,
    * no verdict.
    */
  def plantedDhash(spark: SparkSession, dir: String, seed: Column): DataFrame =
    graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id").as("media_id"),
        org.apache.spark.sql.GraftColumnShim.column(graft.plans.PngPlant(
          org.apache.spark.sql.GraftColumnShim.expression(seed))).as("content"))
      .select(col("media_id"), dhashOf(col("content")).as("s"))
      .filter(col("s").isNotNull)
      .select(col("media_id"), col("s").getField("width").as("width"),
        col("s").getField("height").as("height"),
        col("s").getField("dhash").as("dhash"))

  /** The rescale-invariant pre-bucket: aspect-ratio classes at 1/64
    * granularity — a k× rescale maps to the SAME class exactly (both
    * dims scale together), while shape-different images stay apart.
    * Granularity matters at scale: the GATE hashes are 16-bit (the
    * planted rasters are tiny), so coincidence pairs inside one class
    * grow quadratically with class population — the 10× probe measured
    * the mixed gate super-linear (15.1×) at 1/16 granularity and back
    * under the bound at 1/64. Production 56-bit grids don't depend on
    * this (their band values alone bound candidates); the finer class
    * only assumes thumbnails preserve the ratio to ~1.5%, which exact
    * rescales do by construction. The Spark and DuckDB spellings of
    * one formula.
    */
  def aspectClass: Column = expr("CAST((width * 64) DIV height AS INT)")
  def aspectClassSql(w: String, h: String): String = s"($w * 64) // $h"

  /** Banded Hamming-≤ maxHam join over a (media_id, keyCols…, dhash)
    * table: nBands = maxHam + 1 bands of ceil(bits / nBands) bits each,
    * bucketed by (keyCols…, band, band_value). The default key is the
    * ASPECT class (derived from width/height when absent) — the
    * rescale-invariant pre-bucket; the packed video signature passes
    * its own exact (dims, frame-count) key because its matching is
    * declared frame-aligned. Unused high bits above `bits` are zero on
    * both sides, so the pigeonhole argument is unaffected by padding.
    */
  def hammingPairs(dh: DataFrame, bits: Int = GW * GH, maxHam: Int = MaxHam,
                   keyCols: Seq[String] = Seq("aspect")): DataFrame = {
    val nBands = maxHam + 1
    val bw = (bits + nBands - 1) / nBands
    val mask = if (bw >= 64) -1L else (1L << bw) - 1
    val bandArr = array((0 until nBands).map(j =>
      shiftright(col("dhash"), bw * j).bitwiseAND(lit(mask))): _*)
    val keyed =
      if (keyCols.contains("aspect") && !dh.columns.contains("aspect"))
        dh.withColumn("aspect", aspectClass)
      else dh
    // the fingerprint table feeds BOTH sides of the self-join: persist
    // it or the whole upstream (decode passes for the planted gates)
    // runs twice — the C1 multi-branch fan-out discipline, same seam
    // as nearDupPairsOn's band table
    val hashed = graft.ops.Caches.persist(keyed)
    val banded = hashed.select(col("media_id") +: keyCols.map(col) :+
      col("dhash") :+ posexplode(bandArr).as(Seq("band", "bv")): _*)
    val keyEq = keyCols.map(k => col(s"x.$k") === col(s"y.$k"))
      .reduce(_ && _)
    val cand = banded.as("x").join(banded.as("y"),
        keyEq && col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id").as("a"), col("x.dhash").as("ha"),
        col("y.media_id").as("b"), col("y.dhash").as("hb"))
      .distinct()
    cand
      .withColumn("hamming", expr("bit_count(ha ^ hb)").cast("long"))
      .filter(col("hamming") <= maxHam)
      .select(col("a"), col("b"), col("hamming"))
  }

  // ---- oracle: recompute every hash bit from the planted formulas ----

  /** The planted-pixel CTE chain ending in hash(media_id, w, h, dhash)
    * — `seedSql` is the image seed as SQL over documents (e.g.
    * `doc_id` or `doc_id // 2`). Mirrors PngPlant's three layouts
    * verbatim.
    */
  /** The PngPlant pixel formulas as SQL r/g/b select items over seed
    * `s` and pixel index `i` — the one copy both this module's oracles
    * and the tar-composition gate restate (drift between them would be
    * a silent oracle fork).
    */
  private[graft] def rgbCaseSql(s: String = "s", i: String = "i"): String =
    s"""CASE $s % 4
       |      WHEN 1 THEN ($s + 17 * (($s + $i) % 16)) % 256
       |      WHEN 3 THEN (($s * 31 + 257 * $i) % 65536) // 256
       |      ELSE ($s + 3 * $i) % 256 END AS r,
       |    CASE $s % 4
       |      WHEN 1 THEN ($s * 7 + 23 * (($s + $i) % 16)) % 256
       |      WHEN 3 THEN (($s * 31 + 257 * $i) % 65536) // 256
       |      ELSE ($s * 7 + 5 * $i) % 256 END AS g,
       |    CASE $s % 4
       |      WHEN 1 THEN ($s * 13 + 29 * (($s + $i) % 16)) % 256
       |      WHEN 3 THEN (($s * 31 + 257 * $i) % 65536) // 256
       |      ELSE ($s * 13 + 11 * $i) % 256 END AS b""".stripMargin

  private def hashSql(seedSql: String): String =
    s"""dims AS (
       |  SELECT doc_id, $seedSql AS s, 4 + ($seedSql) % 13 AS w,
       |    4 + ($seedSql) % 11 AS h
       |  FROM documents),
       |px AS (
       |  SELECT doc_id, w, h, i % w AS x, i // w AS y,
       |    ${rgbCaseSql()}
       |  FROM dims, unnest(range(0, w * h)) AS u(i)
       |  WHERE w >= $GW + 1),
       |cells AS (
       |  SELECT doc_id, w, h, rr, c, sum(gray) // count(*) AS av FROM (
       |    SELECT doc_id, w, h, (y * $GH) // h AS rr, (x * ($GW + 1)) // w AS c,
       |      (299 * r + 587 * g + 114 * b) // 1000 AS gray
       |    FROM px) GROUP BY doc_id, w, h, rr, c),
       |hash AS (
       |  SELECT l.doc_id AS media_id, l.w, l.h,
       |    CAST(coalesce(sum(CASE WHEN l.av > r2.av
       |        THEN 1::BIGINT << (l.rr * $GW + l.c) ELSE 0 END), 0) AS BIGINT)
       |      AS dhash
       |  FROM cells l JOIN cells r2
       |    ON l.doc_id = r2.doc_id AND l.rr = r2.rr AND r2.c = l.c + 1
       |  GROUP BY l.doc_id, l.w, l.h)""".stripMargin

  def dhashOracle: String =
    s"""WITH ${hashSql("doc_id")}
       |SELECT media_id, CAST(w AS INTEGER) AS width,
       |  CAST(h AS INTEGER) AS height, dhash
       |FROM hash""".stripMargin

  def neardupOracle: String =
    s"""WITH ${hashSql("doc_id // 2")}
       |SELECT x.media_id AS a, y.media_id AS b,
       |  CAST(bit_count(xor(x.dhash, y.dhash)) AS BIGINT) AS hamming
       |FROM hash x JOIN hash y
       |  ON ${aspectClassSql("x.w", "x.h")} = ${aspectClassSql("y.w", "y.h")}
       |    AND x.media_id < y.media_id
       |WHERE bit_count(xor(x.dhash, y.dhash)) <= $MaxHam""".stripMargin

  /** Image near-dup CLUSTERS (X205): connected components over the
    * banded Hamming pairs — the same closure the text dedup apply
    * rides (a chain A~B~C must collapse together even when A and C
    * never share a band); label propagation runs over the PAIR table
    * only, never the image table.
    */
  def clusters(spark: SparkSession, dir: String): DataFrame =
    // label propagation is iterative: without an eager checkpoint
    // every round would re-run the plant + decode + banded join
    // (wordClusters feeds Components a MATERIALIZED pair table; a
    // live pipeline must checkpoint at the same seam)
    graft.dedup.Dedup.Components.of(graft.sources.Checkpoints.truncateLineage(
      hammingPairs(plantedDhash(spark, dir, expr("doc_id DIV 2")))
        .select(col("a").as("doc_a"), col("b").as("doc_b"))))

  def clustersOracle: String =
    graft.dedup.Dedup.Components.oracleOn(
      s"""SELECT a AS doc_a, b AS doc_b FROM (
         |${neardupOracle.linesIterator.map("  " + _).mkString("\n")}
         |) t""".stripMargin)

  // ---- JPEG / GIF fingerprints (X216): the SAME dHash over the other
  // two decoders, riding their shared-visitor walks — crawls are
  // JPEG-dominated, so a PNG-only fingerprint would skip most of a
  // real image corpus. One [[graft.plans.DhashCore]] definition means
  // identical pixels hash identically whatever container they arrived
  // in, which is what makes the mixed-format join below meaningful. ----

  def jpegDhashOf(content: Column, gw: Int = GW, gh: Int = GH): Column =
    org.apache.spark.sql.GraftColumnShim.column(graft.plans.JpegDhash(
      org.apache.spark.sql.GraftColumnShim.expression(content), gw, gh))

  def gifDhashOf(content: Column, gw: Int = GW, gh: Int = GH): Column =
    org.apache.spark.sql.GraftColumnShim.column(graft.plans.GifDhash(
      org.apache.spark.sql.GraftColumnShim.expression(content), gw, gh))

  def webpDhashOf(content: Column, gw: Int = GW, gh: Int = GH): Column =
    org.apache.spark.sql.GraftColumnShim.column(graft.plans.WebpDhash(
      org.apache.spark.sql.GraftColumnShim.expression(content), gw, gh))

  private def unpackHash(df: DataFrame): DataFrame =
    df.filter(col("s").isNotNull)
      .select(col("media_id"), col("s").getField("width").as("width"),
        col("s").getField("height").as("height"),
        col("s").getField("dhash").as("dhash"))

  /** (media_id, width, height, dhash) over DC-exact JpegPlant(seed)
    * images — planted dims are always ≥ 8×8, so no sub-grid rejects.
    */
  def plantedDhashJpeg(spark: SparkSession, dir: String, seed: Column): DataFrame =
    unpackHash(graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id").as("media_id"),
        org.apache.spark.sql.GraftColumnShim.column(graft.plans.JpegPlant(
          org.apache.spark.sql.GraftColumnShim.expression(seed))).as("content"))
      .select(col("media_id"), jpegDhashOf(col("content")).as("s")))

  /** (media_id, width, height, dhash) over GifPlant(seed) images —
    * width 4 (seed % 9 == 0) is sub-grid for the 4×4 gate and ABSENT,
    * exercising the reject path in-gate.
    */
  def plantedDhashGif(spark: SparkSession, dir: String, seed: Column): DataFrame =
    unpackHash(graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id").as("media_id"),
        org.apache.spark.sql.GraftColumnShim.column(graft.plans.GifPlant(
          org.apache.spark.sql.GraftColumnShim.expression(seed))).as("content"))
      .select(col("media_id"), gifDhashOf(col("content")).as("s")))

  /** (media_id, width, height, dhash) over [[graft.plans.WebpPlant]]
    * VP8-L images (X237) — planted dims are 5..12 × 4..9, always
    * grid-sufficient; the three plant variants (plain / subtract-green
    * / color-indexing) rotate by doc_id and must hash identically to
    * the same pixels (lossless transforms are invisible in output).
    */
  def plantedDhashWebp(spark: SparkSession, dir: String, seed: Column): DataFrame =
    unpackHash(graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id").as("media_id"),
        org.apache.spark.sql.GraftColumnShim.column(graft.plans.WebpPlant(
          org.apache.spark.sql.GraftColumnShim.expression(seed))).as("content"))
      .select(col("media_id"), webpDhashOf(col("content")).as("s")))

  /** MIXED-format near-dup pairs: one fingerprint table across all
    * four codecs, bucketed by aspect class alone — a production
    * media table mixes containers freely, and a near-dup pipeline must
    * find the JPEG re-encode of a PNG (or the WebP re-encode of
    * either) in the same bucket. Identity is `4·doc_id + fmt` (png 0,
    * jpeg 1, gif 2, webp 3): collision-free for any doc_id range,
    * closed-form for the oracle, and `media_id % 4` recovers the
    * format. The Hamming join is format-blind by construction — only
    * (id, w, h, hash) rows ever shuffle.
    */
  def mixedDhash(spark: SparkSession, dir: String): DataFrame = {
    def tag(df: DataFrame, fmt: Int): DataFrame =
      df.select((col("media_id") * 4 + fmt).as("media_id"),
        col("width"), col("height"), col("dhash"))
    // four decode passes produce this union — hammingPairs persists
    // its input, so downstream fan-out never re-decodes
    tag(plantedDhash(spark, dir, col("doc_id")), 0)
      .unionByName(tag(plantedDhashJpeg(spark, dir, col("doc_id")), 1))
      .unionByName(tag(plantedDhashGif(spark, dir, col("doc_id")), 2))
      .unionByName(tag(plantedDhashWebp(spark, dir, col("doc_id")), 3))
  }

  /** Ubiquitous-fingerprint cap for the mixed join — the X43/X36
    * discipline at the image tier: an EXACT (aspect, dhash) class with
    * more members than this is boilerplate-grade content (test cards,
    * template imagery, the planted mod-256 JPEG classes at 10× scale)
    * whose enumerated pair list is quadratic noise — the hamming-0
    * GROUP is the answer there, and a production pipeline routes such
    * classes to a cluster report instead of a pair join. Measured: the
    * 10× probe had the mixed gate at 12.3× (from structured-plant
    * collision groups of ~16) without the cap, answer-size-bound, and
    * scale-flat with it.
    */
  val UbiCap = 8

  def mixedPairs(spark: SparkSession, dir: String): DataFrame = {
    val dh = mixedDhash(spark, dir).withColumn("aspect", aspectClass)
    val capped = dh
      .withColumn("gsz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("aspect", "dhash")))
      .filter(col("gsz") <= UbiCap)
      .drop("gsz")
    hammingPairs(capped)
  }

  /** INCREMENTAL batch×index image dedup (X217): the X42/X198
    * every-cycle discipline applied to the image fingerprint — a new
    * crawl batch (doc_id % 10 = 0) hashes and bands against the stored
    * index (the rest); a batch image is dropped when it shares the
    * aspect class and ≥1 hash band with an index image AND verifies
    * at Hamming ≤ maxHam. Candidate work is batch-proportional (never
    * index×index); the index side's (id, w, h, hash) rows are exactly
    * what a fingerprint table checkpoint would serve precomputed.
    * Within-batch near-dups are [[mixedPairs]]/[[hammingPairs]]' job,
    * not this filter's. The seed plants an exact index twin for every
    * OTHER batch doc (doc_id % 20 = 0 borrows doc_id+1's seed; the
    * % 20 = 10 half keeps its own), so both verdicts are exercised —
    * a seed of doc_id DIV 2 would twin EVERY batch doc and the keep
    * side would be vacuously empty.
    */
  def incrementalKeep(spark: SparkSession, dir: String): DataFrame = {
    val dh = graft.ops.Caches.persist(plantedDhash(spark, dir,
      expr("CASE WHEN doc_id % 20 = 0 THEN doc_id + 1 ELSE doc_id END"))
      .withColumn("aspect", aspectClass))
    val isBatch = col("media_id") % 10 === 0
    val batch = dh.filter(isBatch)
    val index = dh.filter(!isBatch)
    val nBands = MaxHam + 1
    val bw = (GW * GH + nBands - 1) / nBands
    val mask = (1L << bw) - 1
    val bandArr = array((0 until nBands).map(j =>
      shiftright(col("dhash"), bw * j).bitwiseAND(lit(mask))): _*)
    def banded(df: DataFrame) = df.select(col("media_id"), col("aspect"),
      col("dhash"), posexplode(bandArr).as(Seq("band", "bv")))
    val dropped = banded(batch).as("x").join(banded(index).as("y"),
        col("x.aspect") === col("y.aspect") &&
          col("x.band") === col("y.band") && col("x.bv") === col("y.bv"))
      .filter(expr("bit_count(x.dhash ^ y.dhash)") <= MaxHam)
      .select(col("x.media_id").as("media_id")).distinct()
    batch.select(col("media_id")).join(dropped, Seq("media_id"), "left_anti")
  }

  // ---- cross-RESOLUTION near-dup (the rescale gate, X230) ----------

  /** Production grid for the rescale gate: 8×7 → 56-bit hash (bit 55
    * max — BIGINT-safe in the oracle without the HUGEINT re-bias), 4
    * bands of 14 bits, maxHam 3. At 56 bits, cross-doc coincidence
    * pairs are ~2⁻⁴² per pair — the output is exactly the planted
    * cross-resolution twins.
    */
  val RGW = 8
  val RGH = 7

  /** (media_id, width, height, dhash) over [[graft.plans.PngPlantCell]]
    * plants: media 2·doc_id at 1× ((RGW+1)×RGH = 9×7) and media
    * 2·doc_id + 1 at 2× (18×14) — the SAME per-cell content, so the 1×
    * plant IS the exact 2× box-downscale of its twin and both fold to
    * one hash. This is the operator-level proof that the aspect-class
    * key (not exact dims) is the right pre-bucket: under the old
    * (width, height) key these twins would never be candidates.
    */
  def plantedDhashScaled(spark: SparkSession, dir: String): DataFrame = {
    def side(scale: Int, off: Int): DataFrame =
      graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
        .select((col("doc_id") * 2 + off).as("media_id"),
          org.apache.spark.sql.GraftColumnShim.column(graft.plans.PngPlantCell(
            org.apache.spark.sql.GraftColumnShim.expression(col("doc_id")),
            scale, RGW, RGH)).as("content"))
        .select(col("media_id"), dhashOf(col("content"), RGW, RGH).as("s"))
    unpackHash(side(1, 0).unionByName(side(2, 1)))
  }

  def rescalePairs(spark: SparkSession, dir: String): DataFrame =
    hammingPairs(plantedDhashScaled(spark, dir), bits = RGW * RGH)

  /** Closed-form oracle: the hash straight from the 63 cell formulas —
    * no pixel unnest, and scale drops out entirely (both twins carry
    * the same per-cell values), which is the gate's point.
    */
  def rescalePairsOracle: String =
    s"""WITH cells AS (
       |  SELECT doc_id, i // ${RGW + 1} AS rr, i % ${RGW + 1} AS c,
       |    ${graft.text.TextOps.md5ByteSql("doc_id || ':' || i")} AS v
       |  FROM documents, unnest(range(0, ${(RGW + 1) * RGH})) AS u(i)),
       |rhash AS (
       |  SELECT l.doc_id,
       |    CAST(coalesce(sum(CASE WHEN l.v > r2.v
       |        THEN 1::BIGINT << CAST(l.rr * $RGW + l.c AS INTEGER)
       |        ELSE 0 END), 0) AS BIGINT) AS dhash
       |  FROM cells l JOIN cells r2
       |    ON l.doc_id = r2.doc_id AND l.rr = r2.rr AND r2.c = l.c + 1
       |  WHERE l.c < $RGW
       |  GROUP BY l.doc_id),
       |media AS (
       |  SELECT 2 * doc_id AS media_id, dhash FROM rhash
       |  UNION ALL
       |  SELECT 2 * doc_id + 1, dhash FROM rhash)
       |SELECT x.media_id AS a, y.media_id AS b,
       |  CAST(bit_count(xor(x.dhash, y.dhash)) AS BIGINT) AS hamming
       |FROM media x JOIN media y ON x.media_id < y.media_id
       |WHERE bit_count(xor(x.dhash, y.dhash)) <= $MaxHam""".stripMargin

  // ---- oracles for the JPEG/GIF/mixed/incremental surfaces ----

  /** JPEG planted-hash CTE chain ending in jhash(media_id, w, h,
    * dhash): decoded pixel (x, y) of doc s is the DC-exact solid block
    * value (s·37 + k·59) mod 256 for block k = (y/8)·wb + (x/8) —
    * the [[graft.plans.JpegPlant]] formula the stats oracle restates.
    * Gray of a grayscale pixel v is (299v+587v+114v)//1000 = v, spelled
    * in full so the oracle mirrors the Spark arithmetic verbatim.
    */
  private def jpegHashSql(seedSql: String): String =
    s"""jdims AS (
       |  SELECT doc_id, $seedSql AS s, 8 * (1 + ($seedSql) % 4) AS w,
       |    8 * (1 + ($seedSql) % 3) AS h
       |  FROM documents),
       |jpx AS (
       |  SELECT doc_id, w, h, i % w AS x, i // w AS y,
       |    (s * 37 + (((i // w) // 8) * (w // 8) + (i % w) // 8) * 59) % 256 AS v
       |  FROM jdims, unnest(range(0, w * h)) AS u(i)),
       |jcells AS (
       |  SELECT doc_id, w, h, rr, c, sum(gray) // count(*) AS av FROM (
       |    SELECT doc_id, w, h, (y * $GH) // h AS rr, (x * ($GW + 1)) // w AS c,
       |      (299 * v + 587 * v + 114 * v) // 1000 AS gray
       |    FROM jpx) GROUP BY doc_id, w, h, rr, c),
       |jhash AS (
       |  SELECT l.doc_id AS media_id, l.w, l.h,
       |    CAST(coalesce(sum(CASE WHEN l.av > r2.av
       |        THEN 1::BIGINT << (l.rr * $GW + l.c) ELSE 0 END), 0) AS BIGINT)
       |      AS dhash
       |  FROM jcells l JOIN jcells r2
       |    ON l.doc_id = r2.doc_id AND l.rr = r2.rr AND r2.c = l.c + 1
       |  GROUP BY l.doc_id, l.w, l.h)""".stripMargin

  /** GIF planted-hash CTE chain ending in ghash(media_id, w, h,
    * dhash): pixel i of doc s maps palette index j = (s+i) mod P to
    * ((3s+5j) mod 256, (11s+7j) mod 256, (17s+13j) mod 256) — the
    * [[graft.plans.GifPlant]] formulas. Width-4 docs (s % 9 = 0) are
    * sub-grid and filtered, matching the expression's null.
    */
  private def gifHashSql(seedSql: String): String =
    s"""gdims AS (
       |  SELECT doc_id, $seedSql AS s, 4 + ($seedSql) % 9 AS w,
       |    4 + ($seedSql) % 7 AS h,
       |    1 << CAST(2 + ($seedSql) % 3 AS INTEGER) AS psize
       |  FROM documents),
       |gpx AS (
       |  SELECT doc_id, w, h, i % w AS x, i // w AS y,
       |    (3 * s + 5 * ((s + i) % psize)) % 256 AS r,
       |    (11 * s + 7 * ((s + i) % psize)) % 256 AS g,
       |    (17 * s + 13 * ((s + i) % psize)) % 256 AS b
       |  FROM gdims, unnest(range(0, w * h)) AS u(i)
       |  WHERE w >= $GW + 1),
       |gcells AS (
       |  SELECT doc_id, w, h, rr, c, sum(gray) // count(*) AS av FROM (
       |    SELECT doc_id, w, h, (y * $GH) // h AS rr, (x * ($GW + 1)) // w AS c,
       |      (299 * r + 587 * g + 114 * b) // 1000 AS gray
       |    FROM gpx) GROUP BY doc_id, w, h, rr, c),
       |ghash AS (
       |  SELECT l.doc_id AS media_id, l.w, l.h,
       |    CAST(coalesce(sum(CASE WHEN l.av > r2.av
       |        THEN 1::BIGINT << (l.rr * $GW + l.c) ELSE 0 END), 0) AS BIGINT)
       |      AS dhash
       |  FROM gcells l JOIN gcells r2
       |    ON l.doc_id = r2.doc_id AND l.rr = r2.rr AND r2.c = l.c + 1
       |  GROUP BY l.doc_id, l.w, l.h)""".stripMargin

  /** WebP planted-hash CTE chain ending in whash(media_id, w, h,
    * dhash): pixel i of doc s maps palette index j = (s+i) mod 20 to
    * ((3s+5j) mod 256, (11s+7j) mod 256, (17s+13j) mod 256) — the
    * [[graft.plans.WebpPlant]] formulas, identical across all three
    * encode variants (the lossless-transform contract). Planted
    * widths are ≥ 5, so no sub-grid filter.
    */
  private def webpHashSql(seedSql: String): String =
    s"""wdims AS (
       |  SELECT doc_id, $seedSql AS s, 5 + ($seedSql) % 8 AS w,
       |    4 + ($seedSql) % 6 AS h
       |  FROM documents),
       |wpx AS (
       |  SELECT doc_id, w, h, i % w AS x, i // w AS y,
       |    (3 * s + 5 * ((s + i) % ${graft.plans.WebpPlant.PaletteSize})) % 256 AS r,
       |    (11 * s + 7 * ((s + i) % ${graft.plans.WebpPlant.PaletteSize})) % 256 AS g,
       |    (17 * s + 13 * ((s + i) % ${graft.plans.WebpPlant.PaletteSize})) % 256 AS b
       |  FROM wdims, unnest(range(0, w * h)) AS u(i)),
       |wcells AS (
       |  SELECT doc_id, w, h, rr, c, sum(gray) // count(*) AS av FROM (
       |    SELECT doc_id, w, h, (y * $GH) // h AS rr, (x * ($GW + 1)) // w AS c,
       |      (299 * r + 587 * g + 114 * b) // 1000 AS gray
       |    FROM wpx) GROUP BY doc_id, w, h, rr, c),
       |whash AS (
       |  SELECT l.doc_id AS media_id, l.w, l.h,
       |    CAST(coalesce(sum(CASE WHEN l.av > r2.av
       |        THEN 1::BIGINT << (l.rr * $GW + l.c) ELSE 0 END), 0) AS BIGINT)
       |      AS dhash
       |  FROM wcells l JOIN wcells r2
       |    ON l.doc_id = r2.doc_id AND l.rr = r2.rr AND r2.c = l.c + 1
       |  GROUP BY l.doc_id, l.w, l.h)""".stripMargin

  def jpegDhashOracle: String =
    s"""WITH ${jpegHashSql("doc_id")}
       |SELECT media_id, CAST(w AS INTEGER) AS width,
       |  CAST(h AS INTEGER) AS height, dhash
       |FROM jhash""".stripMargin

  def webpDhashOracle: String =
    s"""WITH ${webpHashSql("doc_id")}
       |SELECT media_id, CAST(w AS INTEGER) AS width,
       |  CAST(h AS INTEGER) AS height, dhash
       |FROM whash""".stripMargin

  def gifDhashOracle: String =
    s"""WITH ${gifHashSql("doc_id")}
       |SELECT media_id, CAST(w AS INTEGER) AS width,
       |  CAST(h AS INTEGER) AS height, dhash
       |FROM ghash""".stripMargin

  def mixedPairsOracle: String =
    s"""WITH ${hashSql("doc_id")},
       |${jpegHashSql("doc_id")},
       |${gifHashSql("doc_id")},
       |${webpHashSql("doc_id")},
       |allhash0 AS (
       |  SELECT media_id * 4 AS media_id, w, h, dhash FROM hash
       |  UNION ALL
       |  SELECT media_id * 4 + 1, w, h, dhash FROM jhash
       |  UNION ALL
       |  SELECT media_id * 4 + 2, w, h, dhash FROM ghash
       |  UNION ALL
       |  SELECT media_id * 4 + 3, w, h, dhash FROM whash),
       |allhash AS (
       |  SELECT media_id, w, h, dhash FROM (
       |    SELECT media_id, w, h, dhash, count(*) OVER (
       |      PARTITION BY ${aspectClassSql("w", "h")}, dhash) AS gsz
       |    FROM allhash0) t
       |  WHERE gsz <= $UbiCap)
       |SELECT x.media_id AS a, y.media_id AS b,
       |  CAST(bit_count(xor(x.dhash, y.dhash)) AS BIGINT) AS hamming
       |FROM allhash x JOIN allhash y
       |  ON ${aspectClassSql("x.w", "x.h")} = ${aspectClassSql("y.w", "y.h")}
       |    AND x.media_id < y.media_id
       |WHERE bit_count(xor(x.dhash, y.dhash)) <= $MaxHam""".stripMargin

  def incrementalOracle: String =
    s"""WITH ${hashSql("CASE WHEN doc_id % 20 = 0 THEN doc_id + 1 ELSE doc_id END")},
       |dropped AS (
       |  SELECT DISTINCT x.media_id
       |  FROM hash x JOIN hash y
       |    ON ${aspectClassSql("x.w", "x.h")} = ${aspectClassSql("y.w", "y.h")}
       |   AND x.media_id % 10 = 0 AND y.media_id % 10 <> 0
       |  WHERE bit_count(xor(x.dhash, y.dhash)) <= $MaxHam)
       |SELECT media_id FROM hash
       |WHERE media_id % 10 = 0
       |  AND media_id NOT IN (SELECT media_id FROM dropped)""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_image_dhash" -> Query((s, dir) => plantedDhash(s, dir, col("doc_id")), dhashOracle),
    "q_image_dhash_jpeg" -> Query((s, dir) => plantedDhashJpeg(s, dir, col("doc_id")),
      jpegDhashOracle),
    "q_image_dhash_gif" -> Query((s, dir) => plantedDhashGif(s, dir, col("doc_id")),
      gifDhashOracle),
    "q_image_dhash_webp" -> Query((s, dir) => plantedDhashWebp(s, dir, col("doc_id")),
      webpDhashOracle),
    "q_image_neardup" -> Query((s, dir) => hammingPairs(
      plantedDhash(s, dir, expr("doc_id DIV 2"))),
      neardupOracle),
    "q_image_neardup_mixed" -> Query((s, dir) => mixedPairs(s, dir), mixedPairsOracle),
    "q_image_neardup_rescale" -> Query((s, dir) => rescalePairs(s, dir), rescalePairsOracle),
    "q_image_incremental" -> Query((s, dir) => incrementalKeep(s, dir), incrementalOracle),
    "q_image_clusters" -> Query((s, dir) => clusters(s, dir), clustersOracle)
  )
}
