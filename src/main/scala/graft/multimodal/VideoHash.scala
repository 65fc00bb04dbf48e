package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** VIDEO perceptual dedup (X220) — the member that completes the
  * near-dup family across modalities (text MinHash X2, image dHash
  * X191, audio envelope X212, now moving pictures): per-frame dHash
  * signatures over REAL decoded MJPEG/AVI streams plus the banded
  * joint-Hamming join that finds re-encodes and container rewraps
  * without an all-pairs pass. Duplicate videos dominate crawled media
  * the same way duplicate text dominates crawled pages; a curation
  * pipeline runs exactly this before sampling training frames.
  *
  * The fingerprint is [[graft.plans.AviDhash]]: every frame through
  * the ONE [[graft.plans.DhashCore]] grid (the same integer arithmetic
  * as the still-image and cross-format gates, so a video's first frame
  * hashes identically to the same raster shipped as a bare JPEG).
  * Matching is FRAME-ALIGNED: distance(a, b) = Σ_f bit_count(sig_a(f)
  * XOR sig_b(f)) — a re-encode flips a few bits in a few frames; a
  * different video differs everywhere.
  *
  * The gate signature packs per-frame 16-bit hashes into ONE BIGINT
  * (`Σ sig(f) << 16f` — the planted streams carry ≤ 4 frames, and
  * 4 × 16 = 64 bits exactly), so the joint distance is one
  * `bit_count(a XOR b)` and the banded join is the X191 machinery with
  * 64-bit bands and the frame count joined into the bucket key —
  * candidates must share (width, height, n_frames) and ≥ 1 of
  * maxHam+1 disjoint band values (pigeonhole: recall 1). Videos LONGER
  * than the packed cap band the signature ARRAY by frame ranges
  * ([[nearDupPairsLong]]): md5 of each of maxHam+1 disjoint frame-range
  * slices is the bucket value (a pair within joint Hamming ≤ maxHam has
  * ≥ 1 flip-free range — identical slice, identical md5: the same
  * pigeonhole, just on strings), and verify is one exact
  * `aggregate(zip_with(XOR popcount))` per candidate. TRIM tolerance
  * ([[nearDupPairsTrim]]): a ±1-frame head/tail cut — the most common
  * benign video edit after re-encoding — is matched by banding each
  * video's three alignment VARIANTS (full, front-trimmed, back-trimmed)
  * and joining trimmed variants against full signatures one frame
  * shorter; recall-per-offset is the same pigeonhole, and the verify
  * takes the minimum aligned distance over the valid offsets.
  * Videos never shuffle; only (id, w, h, n, per-frame-hash) rows do.
  */
object VideoHash {

  /** Gate grid per frame: 4×4 → 16 bits; packed cap 4 frames; joint
    * Hamming threshold 3 — one re-encode-grade bit flip per frame.
    */
  val GW = ImageHash.GW
  val GH = ImageHash.GH
  val MaxHam = ImageHash.MaxHam
  val PackFrames = 4

  def aviDhashOf(content: Column, gw: Int = GW, gh: Int = GH): Column =
    org.apache.spark.sql.GraftColumnShim.column(graft.plans.AviDhash(
      org.apache.spark.sql.GraftColumnShim.expression(content), gw, gh))

  /** (media_id, width, height, n_frames, f, dhash) — one row per
    * frame over AviPlant(seed) streams: the per-frame table a frame
    * sampler or per-frame quality filter reads.
    */
  def plantedFrameDhash(spark: SparkSession, dir: String, seed: Column): DataFrame =
    graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id").as("media_id"),
        org.apache.spark.sql.GraftColumnShim.column(graft.plans.AviPlant(
          org.apache.spark.sql.GraftColumnShim.expression(seed))).as("content"))
      .select(col("media_id"), aviDhashOf(col("content")).as("s"))
      .filter(col("s").isNotNull)
      .select(col("media_id"), col("s").getField("width").as("width"),
        col("s").getField("height").as("height"),
        col("s").getField("n_frames").as("n_frames"),
        posexplode(col("s").getField("sig")).as(Seq("f", "dhash")))

  /** (media_id, width, height, n_frames, dhash): the PACKED signature
    * table — per-frame hashes folded into one BIGINT; streams longer
    * than [[PackFrames]] are ABSENT from the packed table (they ride
    * the array form).
    */
  def packedSignatures(spark: SparkSession, dir: String, seed: Column): DataFrame =
    plantedFrameDhash(spark, dir, seed)
      .groupBy(col("media_id"), col("width"), col("height"), col("n_frames"))
      .agg(sum(expr("shiftleft(dhash, 16 * f)")).as("dhash"))
      .filter(col("n_frames") <= PackFrames)

  /** Video near-dup pairs: the X191 banded join with 64-bit bands and
    * the frame count in the bucket key. (a, b, hamming) with hamming
    * the joint frame-aligned distance.
    *
    * FEATURELESS media (all-zero signature — every frame gradient-flat:
    * solid-color test cards, black leaders) are excluded BEFORE the
    * join: a featureless video matches every other featureless video
    * in its dimension class, so the pair list grows quadratically in
    * content that carries no near-dup evidence — the video twin of the
    * ubiquitous-fingerprint cap the X43 winnowing join applies, and of
    * stopword removal before token joins. A production pipeline routes
    * featureless media to its own (linear) bucket report instead.
    */
  def nearDupPairs(spark: SparkSession, dir: String): DataFrame =
    ImageHash.hammingPairs(
      packedSignatures(spark, dir, expr("doc_id DIV 2"))
        .filter(col("dhash") =!= 0L),
      bits = 16 * PackFrames, maxHam = MaxHam,
      keyCols = Seq("width", "height", "n_frames"))

  // ---- LONG videos (X231): array signatures banded by frame range ----

  /** Long-plant frame range: 8–16 frames — past the packed cap, the
    * class real crawled clips start in.
    */
  val LFBase = 8
  val LFMod = 9

  /** (media_id, width, height, n_frames, sig) with the UN-exploded
    * per-frame hash array, over [[graft.plans.AviPlantSeq]] streams of
    * fBase + seed % fMod − drop frames whose slot f carries salt
    * (salt0 + f) content.
    */
  def plantedSignatures(spark: SparkSession, dir: String, seed: Column,
                        fBase: Int, fMod: Int, salt0: Int, drop: Int,
                        idOf: Column): DataFrame =
    graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(idOf.as("media_id"),
        org.apache.spark.sql.GraftColumnShim.column(graft.plans.AviPlantSeq(
          org.apache.spark.sql.GraftColumnShim.expression(seed),
          fBase, fMod, salt0, drop)).as("content"))
      .select(col("media_id"), aviDhashOf(col("content")).as("s"))
      .filter(col("s").isNotNull)
      .select(col("media_id"), col("s").getField("width").as("width"),
        col("s").getField("height").as("height"),
        col("s").getField("n_frames").as("n_frames"),
        col("s").getField("sig").as("sig"))

  /** maxHam+1 md5 band values over disjoint frame-range slices of the
    * hash array `va` — DIV arithmetic so band boundaries are exact
    * integers on any length.
    */
  private def bandArrSql(va: String, nBands: Int): String = {
    def bound(j: Int) = s"CAST((size($va) * $j) DIV $nBands AS INT)"
    val terms = (0 until nBands).map { j =>
      s"md5(concat_ws(',', transform(slice($va, ${bound(j)} + 1, " +
        s"${bound(j + 1)} - ${bound(j)}), x -> CAST(x AS STRING))))"
    }
    s"array(${terms.mkString(", ")})"
  }

  /** Exact joint frame-aligned distance of two equal-length arrays. */
  private def distSql(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> CAST(bit_count(x ^ y) AS BIGINT)), " +
      s"CAST(0 AS BIGINT), (acc, v) -> acc + v)"

  /** Video near-dup pairs for streams past the packed cap: candidates
    * share (width, height, n_frames) and ≥ 1 frame-range band md5;
    * verify is the exact array distance. Featureless (all-zero
    * signature) media excluded before the join — the X36 discipline
    * the packed path applies.
    */
  def nearDupPairsLong(spark: SparkSession, dir: String): DataFrame = {
    val sigs = graft.ops.Caches.persist(
      plantedSignatures(spark, dir, expr("doc_id DIV 2"), LFBase, LFMod, 0, 0,
        col("doc_id"))
        .filter(expr("exists(sig, x -> x != 0)")))
    val banded = sigs.select(col("media_id"), col("width"), col("height"),
      col("n_frames"), col("sig"),
      posexplode(expr(bandArrSql("sig", MaxHam + 1))).as(Seq("band", "bv")))
    banded.as("x").join(banded.as("y"),
        col("x.width") === col("y.width") && col("x.height") === col("y.height") &&
          col("x.n_frames") === col("y.n_frames") &&
          col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id").as("a"), col("x.sig").as("sa"),
        col("y.media_id").as("b"), col("y.sig").as("sb"))
      .distinct()
      .withColumn("hamming", expr(distSql("sa", "sb")))
      .filter(col("hamming") <= MaxHam)
      .select(col("a"), col("b"), col("hamming"))
  }

  // ---- TRIM tolerance (X232): ±1-frame head/tail cuts ---------------

  /** Bounded-offset matching: every video emits three alignment
    * variants — full ("eq"), front-trimmed ("ft": frames 1…n−1), and
    * back-trimmed ("bt": frames 0…n−2) — banded by frame range; a
    * trimmed variant of the LONGER video joins the full signature of a
    * video one frame shorter (same pigeonhole recall per offset), and
    * equal lengths join full-to-full. The verify recomputes the exact
    * minimum aligned distance from both FULL signatures, so a pair
    * reached through either variant gets one verdict. The planted twin
    * (media 2·doc_id + 1) is the true front-trim of media 2·doc_id —
    * salt-shifted content, one frame shorter — and must land at
    * Hamming 0.
    */
  def nearDupPairsTrim(spark: SparkSession, dir: String): DataFrame = {
    def side(off: Int, salt0: Int, drop: Int): DataFrame =
      plantedSignatures(spark, dir, col("doc_id"), LFBase, LFMod, salt0, drop,
        col("doc_id") * 2 + off)
    val sigs = graft.ops.Caches.persist(
      side(0, 0, 0).unionByName(side(1, 1, 1))
        .filter(expr("exists(sig, x -> x != 0)")))
    val variants = sigs.select(col("media_id"), col("width"), col("height"),
        col("n_frames"), col("sig"),
        explode(expr(
          "array(named_struct('role', 'eq', 'va', sig), " +
            "named_struct('role', 'ft', 'va', slice(sig, 2, size(sig) - 1)), " +
            "named_struct('role', 'bt', 'va', slice(sig, 1, size(sig) - 1)))"))
          .as("v"))
      .select(col("media_id"), col("width"), col("height"), col("n_frames"),
        col("sig"), col("v.role").as("role"), size(col("v.va")).as("vlen"),
        posexplode(expr(bandArrSql("v.va", MaxHam + 1))).as(Seq("band", "bv")))
    val cand = variants.as("x").join(
        variants.filter(col("role") === "eq").as("y"),
        col("x.width") === col("y.width") && col("x.height") === col("y.height") &&
          col("x.vlen") === col("y.vlen") &&
          col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.media_id") =!= col("y.media_id"))
      .select(
        least(col("x.media_id"), col("y.media_id")).as("a"),
        greatest(col("x.media_id"), col("y.media_id")).as("b"),
        when(col("x.media_id") < col("y.media_id"), col("x.sig"))
          .otherwise(col("y.sig")).as("sa"),
        when(col("x.media_id") < col("y.media_id"), col("y.sig"))
          .otherwise(col("x.sig")).as("sb"))
      .distinct()
    cand
      .withColumn("hamming", expr(
        s"""CASE
           |  WHEN size(sa) = size(sb) THEN ${distSql("sa", "sb")}
           |  WHEN size(sa) = size(sb) + 1 THEN least(
           |    ${distSql("slice(sa, 2, size(sb))", "sb")},
           |    ${distSql("slice(sa, 1, size(sb))", "sb")})
           |  ELSE least(
           |    ${distSql("slice(sb, 2, size(sa))", "sa")},
           |    ${distSql("slice(sb, 1, size(sa))", "sa")})
           |END""".stripMargin))
      .filter(col("hamming") <= MaxHam)
      .select(col("a"), col("b"), col("hamming"))
  }

  // ---- oracles: every frame-hash bit recomputed from the planted
  // block formulas (pixel (x,y) of frame f of doc s is the DC-exact
  // value (s·37 + f·101 + k·59) mod 256 for block k — JpegPlant
  // .encodeFrame's salt arithmetic, already pinned by q_video_frames).

  private def videoSigSql(seedSql: String): String =
    s"""vdims AS (
       |  SELECT doc_id, $seedSql AS s,
       |    8 * (1 + ($seedSql) % 4) AS w, 8 * (1 + ($seedSql) % 3) AS h,
       |    2 + ($seedSql) % 3 AS nf
       |  FROM documents),
       |vpx AS (
       |  SELECT doc_id, w, h, nf, f, i % w AS x, i // w AS y,
       |    (s * 37 + f * 101 + (((i // w) // 8) * (w // 8) + (i % w) // 8) * 59) % 256 AS v
       |  FROM vdims, unnest(range(0, nf)) AS uf(f), unnest(range(0, w * h)) AS u(i)),
       |vcells AS (
       |  SELECT doc_id, w, h, nf, f, rr, c, sum(gray) // count(*) AS av FROM (
       |    SELECT doc_id, w, h, nf, f, (y * $GH) // h AS rr, (x * ($GW + 1)) // w AS c,
       |      (299 * v + 587 * v + 114 * v) // 1000 AS gray
       |    FROM vpx) GROUP BY doc_id, w, h, nf, f, rr, c),
       |vfh AS (
       |  SELECT l.doc_id AS media_id, l.w, l.h, l.nf, l.f,
       |    CAST(coalesce(sum(CASE WHEN l.av > r2.av
       |        THEN 1::BIGINT << (l.rr * $GW + l.c) ELSE 0 END), 0) AS BIGINT)
       |      AS dhash
       |  FROM vcells l JOIN vcells r2
       |    ON l.doc_id = r2.doc_id AND l.f = r2.f AND l.rr = r2.rr AND r2.c = l.c + 1
       |  GROUP BY l.doc_id, l.w, l.h, l.nf, l.f)""".stripMargin

  def frameDhashOracle: String =
    s"""WITH ${videoSigSql("doc_id")}
       |SELECT media_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       |  CAST(nf AS INTEGER) AS n_frames, CAST(f AS INTEGER) AS f, dhash
       |FROM vfh""".stripMargin

  def nearDupOracle: String =
    s"""WITH ${videoSigSql("doc_id // 2")},
       |vsig AS (
       |  -- frame 3's hash lands on bits 48-63 incl. the sign bit: Spark's
       |  -- shiftleft wraps silently, DuckDB errors on BIGINT overflow, so
       |  -- the pack runs in HUGEINT and re-biases into signed 64-bit —
       |  -- bit-identical to the Spark wrap (probe-verified)
       |  SELECT media_id, w, h, nf,
       |    CAST((sum(CAST(dhash AS HUGEINT) * (1::HUGEINT << CAST(16 * f AS INTEGER)))
       |      + 9223372036854775808::HUGEINT) % 18446744073709551616::HUGEINT
       |      - 9223372036854775808::HUGEINT AS BIGINT) AS vhash
       |  FROM vfh GROUP BY media_id, w, h, nf)
       |SELECT x.media_id AS a, y.media_id AS b,
       |  CAST(bit_count(xor(x.vhash, y.vhash)) AS BIGINT) AS hamming
       |FROM vsig x JOIN vsig y
       |  ON x.w = y.w AND x.h = y.h AND x.nf = y.nf AND x.media_id < y.media_id
       |WHERE x.vhash <> 0 AND y.vhash <> 0
       |  AND bit_count(xor(x.vhash, y.vhash)) <= $MaxHam""".stripMargin

  /** Per-frame planted-hash CTE chain over an arbitrary media table
    * `<mname>(media_id, s, salt0, nf)` — geometry from seed s, frame
    * slot f carrying salt (salt0 + f) content. Ends in
    * `<pfx>fh(media_id, w, h, nf, f, dhash)`.
    */
  private def seqSigSql(mname: String, pfx: String): String =
    s"""${pfx}px AS (
       |  SELECT media_id, 8 * (1 + s % 4) AS w, 8 * (1 + s % 3) AS h, nf, f,
       |    i % (8 * (1 + s % 4)) AS x, i // (8 * (1 + s % 4)) AS y,
       |    (s * 37 + (salt0 + f) * 101 +
       |      (((i // (8 * (1 + s % 4))) // 8) * ((8 * (1 + s % 4)) // 8)
       |        + (i % (8 * (1 + s % 4))) // 8) * 59) % 256 AS v
       |  FROM $mname, unnest(range(0, nf)) AS uf(f),
       |    unnest(range(0, (8 * (1 + s % 4)) * (8 * (1 + s % 3)))) AS u(i)),
       |${pfx}cells AS (
       |  SELECT media_id, w, h, nf, f, rr, c, sum(gray) // count(*) AS av FROM (
       |    SELECT media_id, w, h, nf, f, (y * $GH) // h AS rr,
       |      (x * ($GW + 1)) // w AS c,
       |      (299 * v + 587 * v + 114 * v) // 1000 AS gray
       |    FROM ${pfx}px) GROUP BY media_id, w, h, nf, f, rr, c),
       |${pfx}fh AS (
       |  SELECT l.media_id, l.w, l.h, l.nf, l.f,
       |    CAST(coalesce(sum(CASE WHEN l.av > r2.av
       |        THEN 1::BIGINT << (l.rr * $GW + l.c) ELSE 0 END), 0) AS BIGINT)
       |      AS dhash
       |  FROM ${pfx}cells l JOIN ${pfx}cells r2
       |    ON l.media_id = r2.media_id AND l.f = r2.f AND l.rr = r2.rr
       |      AND r2.c = l.c + 1
       |  GROUP BY l.media_id, l.w, l.h, l.nf, l.f)""".stripMargin

  def nearDupLongOracle: String =
    s"""WITH lmedia AS (
       |  SELECT doc_id AS media_id, doc_id // 2 AS s, 0 AS salt0,
       |    $LFBase + (doc_id // 2) % $LFMod AS nf
       |  FROM documents),
       |${seqSigSql("lmedia", "l")},
       |lnz AS (SELECT media_id FROM lfh GROUP BY media_id HAVING max(dhash) > 0)
       |SELECT x.media_id AS a, y.media_id AS b,
       |  CAST(sum(bit_count(xor(x.dhash, y.dhash))) AS BIGINT) AS hamming
       |FROM lfh x JOIN lfh y
       |  ON x.w = y.w AND x.h = y.h AND x.nf = y.nf AND x.f = y.f
       |    AND x.media_id < y.media_id
       |WHERE x.media_id IN (SELECT media_id FROM lnz)
       |  AND y.media_id IN (SELECT media_id FROM lnz)
       |GROUP BY x.media_id, y.media_id
       |HAVING sum(bit_count(xor(x.dhash, y.dhash))) <= $MaxHam""".stripMargin

  def nearDupTrimOracle: String =
    s"""WITH tmedia AS (
       |  SELECT 2 * doc_id AS media_id, doc_id AS s, 0 AS salt0,
       |    $LFBase + doc_id % $LFMod AS nf
       |  FROM documents
       |  UNION ALL
       |  SELECT 2 * doc_id + 1, doc_id, 1, $LFBase + doc_id % $LFMod - 1
       |  FROM documents),
       |${seqSigSql("tmedia", "t")},
       |tnz AS (SELECT media_id FROM tfh GROUP BY media_id HAVING max(dhash) > 0),
       |tok AS (SELECT * FROM tfh WHERE media_id IN (SELECT media_id FROM tnz)),
       |aligned AS (
       |  SELECT least(x.media_id, y.media_id) AS a,
       |    greatest(x.media_id, y.media_id) AS b,
       |    sum(bit_count(xor(x.dhash, y.dhash))) AS d
       |  FROM tok x JOIN tok y
       |    ON x.w = y.w AND x.h = y.h AND x.nf = y.nf AND x.f = y.f
       |      AND x.media_id < y.media_id
       |  GROUP BY 1, 2
       |  UNION ALL
       |  SELECT least(x.media_id, y.media_id), greatest(x.media_id, y.media_id),
       |    sum(bit_count(xor(x.dhash, y.dhash)))
       |  FROM tok x JOIN tok y
       |    ON x.w = y.w AND x.h = y.h AND x.nf = y.nf + 1 AND x.f = y.f + 1
       |      AND x.media_id <> y.media_id
       |  GROUP BY 1, 2
       |  UNION ALL
       |  SELECT least(x.media_id, y.media_id), greatest(x.media_id, y.media_id),
       |    sum(bit_count(xor(x.dhash, y.dhash)))
       |  FROM tok x JOIN tok y
       |    ON x.w = y.w AND x.h = y.h AND x.nf = y.nf + 1 AND x.f = y.f
       |      AND y.f < y.nf AND x.media_id <> y.media_id
       |  GROUP BY 1, 2)
       |SELECT a, b, CAST(min(d) AS BIGINT) AS hamming
       |FROM aligned GROUP BY a, b
       |HAVING min(d) <= $MaxHam""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_video_dhash" -> Query((s, dir) =>
      plantedFrameDhash(s, dir, col("doc_id"))
        .select(col("media_id"), col("width"), col("height"),
          col("n_frames"), col("f").cast("int").as("f"), col("dhash")),
      frameDhashOracle),
    "q_video_neardup" -> Query((s, dir) => nearDupPairs(s, dir), nearDupOracle),
    "q_video_neardup_long" -> Query((s, dir) => nearDupPairsLong(s, dir), nearDupLongOracle),
    "q_video_neardup_trim" -> Query((s, dir) => nearDupPairsTrim(s, dir), nearDupTrimOracle)
  )
}
