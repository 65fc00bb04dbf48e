package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** WebDataset-style TAR shard reading (X192) — the container layout
  * image/audio training corpora actually ship in: a shard is a `.tar`
  * whose members group by basename key into SAMPLES
  * (`key.jpg` + `key.cls` + `key.json`); a loader streams shards,
  * walks members, and reassembles the per-sample triple. The member
  * walk is [[graft.plans.TarMembers]] (512-byte ustar framing, octal
  * fields, checksum verification); shards are planted per document by
  * [[graft.plans.TarPlant]] — an independent writer — so the DuckDB
  * oracle states names, sizes, and payloads in closed form.
  *
  * Scale shape: both queries are per-shard map work (plant → parse →
  * explode) with no corpus shuffle until the final sample regroup,
  * which keys on (shard, sample) — exactly how a 100 TB WebDataset
  * run behaves: shards partition across executors, samples never
  * cross shards. A directory entry (typeflag '5') rides along to pin
  * non-file handling.
  */
object Tar {

  private def shards(spark: SparkSession, dir: String): DataFrame =
    graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"),
        org.apache.spark.sql.GraftColumnShim.column(graft.plans.TarPlant(
          org.apache.spark.sql.GraftColumnShim.expression(col("doc_id"))))
          .as("shard"))

  /** (doc_id, m_idx, name, typeflag, size, payload) — payload as text
    * (the planted members are ASCII; binary members flow through the
    * same struct untouched).
    */
  def members(spark: SparkSession, dir: String): DataFrame =
    shards(spark, dir)
      .select(col("doc_id"),
        org.apache.spark.sql.GraftColumnShim.column(graft.plans.TarMembers(
          org.apache.spark.sql.GraftColumnShim.expression(col("shard"))))
          .as("ms"))
      // posexplode_outer + null guard: the Warc discipline — a plain
      // explode infers a pushable size()>0 below the widen exchange
      .select(col("doc_id"), posexplode_outer(col("ms")).as(Seq("m_idx", "m")))
      .filter(col("m").isNotNull)
      .select(col("doc_id"), col("m_idx").cast("int").as("m_idx"),
        col("m").getField("name").as("name"),
        col("m").getField("typeflag").as("typeflag"),
        col("m").getField("size").as("size"),
        col("m").getField("payload").cast("string").as("payload"))

  /** Sample regroup: file members keyed by basename-before-first-dot —
    * (doc_id, key, n_parts, cls, txt_len). The WebDataset consumer
    * contract: every sample carries its class label and its text/image
    * part; a missing part would surface as a null here.
    */
  def samples(spark: SparkSession, dir: String): DataFrame =
    members(spark, dir)
      .filter(col("typeflag") === "0")
      .select(col("doc_id"),
        substring_index(col("name"), ".", 1).as("key"),
        substring_index(col("name"), ".", -1).as("ext"),
        col("payload"))
      .groupBy(col("doc_id"), col("key"))
      .agg(count(lit(1)).as("n_parts"),
        max(when(col("ext") === "cls", col("payload").cast("long"))).as("cls"),
        max(when(col("ext") === "txt", length(col("payload")).cast("long")))
          .as("txt_len"))

  /** Closed-form member table: the plant's layout restated. */
  private def membersSql: String =
    s"""jj AS (SELECT doc_id, unnest([0, 1]) AS j FROM documents),
       |m AS (
       |  SELECT doc_id, 0 AS m_idx, 'd' || doc_id || '/' AS name,
       |    '5' AS typeflag, '' AS payload
       |  FROM documents
       |  UNION ALL
       |  SELECT doc_id, 1 + j * 3, 's' || doc_id || '_' || j || '.txt', '0',
       |    'sample s' || doc_id || '_' || j || ' text ' || ((doc_id + j) % 13)
       |  FROM jj
       |  UNION ALL
       |  SELECT doc_id, 2 + j * 3, 's' || doc_id || '_' || j || '.cls', '0',
       |    CAST((doc_id + 3 * j) % 10 AS VARCHAR)
       |  FROM jj
       |  UNION ALL
       |  SELECT doc_id, 3 + j * 3, 's' || doc_id || '_' || j || '.json', '0',
       |    '{"k":' || ((doc_id * 7 + j) % 100) || '}'
       |  FROM jj)""".stripMargin

  def membersOracle: String =
    s"""WITH ${membersSql}
       |SELECT doc_id, CAST(m_idx AS INTEGER) AS m_idx, name, typeflag,
       |  CAST(length(payload) AS BIGINT) AS size, payload
       |FROM m""".stripMargin

  def samplesOracle: String =
    s"""WITH ${membersSql}
       |SELECT doc_id, string_split(name, '.')[1] AS key,
       |  CAST(count(*) AS BIGINT) AS n_parts,
       |  CAST(max(CASE WHEN name LIKE '%.cls' THEN payload END) AS BIGINT) AS cls,
       |  CAST(max(CASE WHEN name LIKE '%.txt' THEN length(payload) END) AS BIGINT)
       |    AS txt_len
       |FROM m WHERE typeflag = '0'
       |GROUP BY doc_id, string_split(name, '.')[1]""".stripMargin

  // ---- image-shard composition (X214) --------------------------------

  /** The END-TO-END WebDataset image pipeline: tar shards whose `.png`
    * members are REAL PngPlant images → ustar walk (checksums) → PNG
    * decode → perceptual dHash, labels joined from the `.cls` sibling
    * in one sample regroup — container, codec, and fingerprint in a
    * single plan, every stage exercised on genuine bytes. Payload
    * bytes stay BINARY through the walk (the text gate casts; this one
    * must not); member sizes are a real encoder's output and so not
    * SQL-derivable — the gate asserts the DECODED facts (dims, hash,
    * cls), which are closed-form. Sub-grid images (w < 5) are absent,
    * the dHash contract.
    */
  def imageSamples(spark: SparkSession, dir: String): DataFrame = {
    val ms = graft.ops.Caches.persist(
      graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"),
        org.apache.spark.sql.GraftColumnShim.column(graft.plans.TarPlantMedia(
          org.apache.spark.sql.GraftColumnShim.expression(col("doc_id"))))
          .as("shard"))
      .select(col("doc_id"),
        org.apache.spark.sql.GraftColumnShim.column(graft.plans.TarMembers(
          org.apache.spark.sql.GraftColumnShim.expression(col("shard"))))
          .as("ms"))
      .select(col("doc_id"), posexplode_outer(col("ms")).as(Seq("m_idx", "m")))
      .filter(col("m").isNotNull)
      .select(col("doc_id"),
        substring_index(col("m").getField("name"), ".", 1).as("key"),
        substring_index(col("m").getField("name"), ".", -1).as("ext"),
        col("m").getField("payload").as("payload"))
      // the member table feeds BOTH regroup sides (.png decode, .cls
      // label): persist it or the shard plant + ustar walk runs twice —
      // the C1 fan-out discipline (measured: the 10× probe ran this
      // gate at 2× its true cost before the cache); registered in
      // Caches so long-lived sessions can release it
    )
    val png = ms.filter(col("ext") === "png")
      .select(col("doc_id"), col("key"),
        graft.multimodal.ImageHash.dhashOf(col("payload")).as("s"))
      .filter(col("s").isNotNull)
    val cls = ms.filter(col("ext") === "cls")
      .select(col("doc_id"), col("key"),
        col("payload").cast("string").cast("long").as("cls"))
    png.join(cls, Seq("doc_id", "key"))
      .select(col("doc_id"), col("key"),
        col("s").getField("width").as("width"),
        col("s").getField("height").as("height"),
        col("s").getField("dhash").as("dhash"), col("cls"))
  }

  def imageSamplesOracle: String =
    s"""WITH smp AS (
       |  SELECT doc_id, j, 2 * doc_id + j AS s, (doc_id + 3 * j) % 10 AS cls,
       |    4 + (2 * doc_id + j) % 13 AS w, 4 + (2 * doc_id + j) % 11 AS h
       |  FROM documents, unnest([0, 1]) AS t(j)),
       |px AS (
       |  SELECT doc_id, j, w, h, i % w AS x, i // w AS y,
       |    ${graft.multimodal.ImageHash.rgbCaseSql()}
       |  FROM smp, unnest(range(0, w * h)) AS u(i)
       |  WHERE w >= 5),
       |cells AS (
       |  SELECT doc_id, j, w, h, rr, c, sum(gray) // count(*) AS av FROM (
       |    SELECT doc_id, j, w, h, (y * 4) // h AS rr, (x * 5) // w AS c,
       |      (299 * r + 587 * g + 114 * b) // 1000 AS gray
       |    FROM px) GROUP BY doc_id, j, w, h, rr, c),
       |hash AS (
       |  SELECT l.doc_id, l.j, l.w, l.h,
       |    CAST(coalesce(sum(CASE WHEN l.av > r2.av
       |        THEN 1::BIGINT << (l.rr * 4 + l.c) ELSE 0 END), 0) AS BIGINT)
       |      AS dhash
       |  FROM cells l JOIN cells r2
       |    ON l.doc_id = r2.doc_id AND l.j = r2.j AND l.rr = r2.rr
       |      AND r2.c = l.c + 1
       |  GROUP BY l.doc_id, l.j, l.w, l.h)
       |SELECT h.doc_id, 's' || h.doc_id || '_' || h.j AS key,
       |  CAST(h.w AS INTEGER) AS width, CAST(h.h AS INTEGER) AS height,
       |  h.dhash, CAST((h.doc_id + 3 * h.j) % 10 AS BIGINT) AS cls
       |FROM hash h""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_tar_members" -> Query((s, dir) => members(s, dir), membersOracle),
    "q_wds_samples" -> Query((s, dir) => samples(s, dir), samplesOracle),
    "q_wds_image_dhash" -> Query((s, dir) => imageSamples(s, dir), imageSamplesOracle)
  )
}
