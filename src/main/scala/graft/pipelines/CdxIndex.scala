package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Query, Tables}
import graft.sources.WarcWriter
import graft.text.Canonical

/** CDX index generation — the lookup artifact every web archive ships
  * next to its WARC shards (CommonCrawl's cc-index): one line per
  * capture, keyed by the SURT form of the canonical URL (host labels
  * reversed and comma-joined, `)` separator, then path and sorted
  * query), globally SORTED so a binary search / range scan finds any
  * URL's captures, carrying the capture's shard assignment, byte
  * offset within the shard, record length and payload digest.
  *
  * Pipeline: messy target URIs → canonicalization (X109) → WARC
  * records serialized by the X131 writer (their true byte lengths ARE
  * the offsets) → SURT key → global ordering → fixed-size shards →
  * running byte offsets per shard.
  *
  * Scale shape — the part that matters at 100 TB:
  *  - the global order comes from [[Preprocess.withGlobalRowNum]]:
  *    [[graft.ops.Prefix]] over range partitions of the sort key — ONE
  *    range exchange, per-partition counts (the only single-partition
  *    window, over ≤ #partitions rows), partition-local ranks. No
  *    single-task window funnel (the faithful `row_number() OVER ()`
  *    shape would serialize the corpus through one task) and no job at
  *    build time.
  *  - shard assignment is rank-arithmetic (`(rn-1) DIV rowsPerShard`)
  *    — deterministic, unlike sampling-based range partition ids, so
  *    the oracle can recompute it.
  *  - byte offsets need a cumulative sum WITHIN each shard only —
  *    one hash exchange on shard_id whose window never sees more
  *    than `rowsPerShard` rows per partition key. The range exchange
  *    and the totals-only single-partition exchange are plan-pinned in
  *    `CdxIndexSpec`.
  *
  * The oracle recomputes everything — SURT (string ops), record
  * length (the [[WarcWriter.recordSql]] restatement through DuckDB's
  * own sha256), rank, shard, offsets — rather than restating
  * constants.
  */
object CdxIndex {

  /** Captures per index shard. Small so the sf0.01 gate exercises
    * many shards; at scale this is the `blocks per cdx-*.gz` knob.
    */
  val RowsPerShard = 64L

  /** SURT key + deterministic tiebreak sort key (`ck`) over the
    * canonicalized frame — host labels reversed, then `)path?query`,
    * then U+0001 and the zero-padded doc_id so the total order is
    * unique and byte-lexicographic in BOTH engines (DuckDB's default
    * collation and UTF8String compare are both binary).
    */
  private def surtCols(keyed: DataFrame): DataFrame = keyed
    .withColumn("surt", concat(
      array_join(reverse(split(col("host"), "\\.")), ","), lit(")"), col("path"),
      when(col("q") === "", lit("")).otherwise(concat(lit("?"), col("q")))))
    .withColumn("ck", concat(col("surt"), lit("\u0001"),
      lpad(col("doc_id").cast("string"), 12, "0")))

  /** (surt, doc_id, rn, shard_id, byte_offset, rec_bytes, digest). */
  def index(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
    val keyed = Canonical.canonicalize(
      docs.select(col("doc_id"), CrawlPipeline.plantUri.as("url"),
        coalesce(col("text"), lit("")).as("t")))
    val rec = surtCols(keyed)
      .withColumn("rec_bytes", octet_length(
        WarcWriter.record(lit("response"), col("canon"), col("t"))).cast("long"))
      .withColumn("digest", sha2(col("t").cast("binary"), 256))
      .select("doc_id", "surt", "ck", "rec_bytes", "digest")
    val numbered = Preprocess.withGlobalRowNum(rec, "ck")
      .withColumn("shard_id", expr(s"(row_num - 1) DIV $RowsPerShard"))
    // running offset: strictly-prior record bytes within the shard —
    // the window key caps every partition at RowsPerShard rows
    val w = Window.partitionBy(col("shard_id")).orderBy(col("ck"))
      .rowsBetween(Window.unboundedPreceding, -1)
    numbered.select(col("surt"), col("doc_id"),
      col("row_num").as("rn"), col("shard_id"),
      coalesce(sum(col("rec_bytes")).over(w), lit(0L)).as("byte_offset"),
      col("rec_bytes"), col("digest"))
  }

  def indexOracle: String =
    s"""WITH src AS (
       |  SELECT doc_id,
       |    ${CrawlPipeline.plantUriSqlPublic} AS url,
       |    coalesce(text, '') AS t
       |  FROM documents),
       |${Canonical.canonicalCtesFrom("src")},
       |keyed AS (
       |  SELECT n.doc_id, ${Canonical.canonSelectSql} AS canon,
       |    array_to_string(list_reverse(string_split(n.host, '.')), ',') || ')' ||
       |      n.path || CASE WHEN n.q = '' THEN '' ELSE '?' || n.q END AS surt,
       |    s.t
       |  FROM normed n JOIN src s USING (doc_id)),
       |rec AS (
       |  SELECT doc_id, surt,
       |    surt || chr(1) || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS ck,
       |    CAST(strlen(${WarcWriter.recordSql("'response'", "canon", "t")}
       |    ) AS BIGINT) AS rec_bytes,
       |    sha256(t) AS digest
       |  FROM keyed),
       |numbered AS (
       |  SELECT *, CAST(row_number() OVER (ORDER BY ck) AS BIGINT) AS rn
       |  FROM rec)
       |SELECT surt, doc_id, rn,
       |  CAST((rn - 1) // $RowsPerShard AS BIGINT) AS shard_id,
       |  CAST(COALESCE(SUM(rec_bytes) OVER (
       |    PARTITION BY (rn - 1) // $RowsPerShard ORDER BY ck
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS byte_offset,
       |  rec_bytes, digest
       |FROM numbered""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_cdx_index" -> Query((s, dir) => index(s, dir), indexOracle)
  )
}
