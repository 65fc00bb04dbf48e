package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** HTTP 206 partial-content reassembly — how a crawler lands files too
  * large (or too flaky) for one round trip: each resumed fetch returns
  * `206 Partial Content` with a `Content-Range: bytes start-end/total`
  * header, and the corpus keeps the RESULT of stitching the parts back
  * in order plus an honest completeness verdict (a gap means the fetch
  * chain died mid-file; storing the stitch as if whole poisons
  * downstream digests). Chain: parse each part with the REAL
  * [[graft.plans.HttpMessage]] (Content-Range comes off the parsed
  * header list), extract (start, end, total), then ONE url-keyed
  * aggregate: parts sorted by start via sort_array-of-structs,
  * coverage summed exactly, `complete` iff the sorted parts tile
  * [0, total) — a left fold over the sorted array that fails on gap
  * AND on overlap.
  *
  * Scale shape: part parsing is per-row; the one exchange is the
  * url-keyed regroup a reassembly genuinely needs; per-URL state is
  * part-count-sized.
  *
  * Reference scope: no crawl surface in the reference; north-star
  * LLM-pipeline machinery.
  */
object RangeFetch {

  private val Crlf = "\r\n"

  private def httpMessage(c: Column): Column =
    org.apache.spark.sql.GraftColumnShim.column(
      graft.plans.HttpMessage(
        org.apache.spark.sql.GraftColumnShim.expression(c)))

  /** Three parts per URL (u = doc_id div 3, j = doc_id % 3), split at
    * integer thirds of the payload; URLs with u % 5 == 0 LOSE their
    * middle part (the fetch chain died) and the corpus tail loses high
    * parts — both must reassemble incomplete. Each planted response is
    * a real 206 with Content-Range.
    */
  def plantParts(spark: SparkSession, dir: String): DataFrame =
    graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .withColumn("u", expr("doc_id div 3"))
      .withColumn("j", col("doc_id") % 3)
      .withColumn("full", concat(lit("payload "), col("u").cast("string"),
        lit(" abcdefghijklmnopqrstuvwxyz0123456789")))
      .withColumn("len", octet_length(col("full")).cast("long"))
      .withColumn("s", expr("(len * j) div 3"))
      .withColumn("e", expr("(len * (j + 1)) div 3 - 1"))
      .withColumn("partBody",
        expr("substring(full, CAST(s + 1 AS INT), CAST(e - s + 1 AS INT))"))
      .withColumn("raw",
        when(col("u") % 5 === 0 && col("j") === 1, lit(null: String))
          .otherwise(concat(
            lit("HTTP/1.1 206 Partial Content" + Crlf),
            lit("Content-Type: application/octet-stream" + Crlf),
            lit("Content-Range: bytes "), col("s").cast("string"), lit("-"),
            col("e").cast("string"), lit("/"), col("len").cast("string"), lit(Crlf),
            lit("Content-Length: "), (col("e") - col("s") + 1).cast("string"), lit(Crlf),
            lit(Crlf), col("partBody"))))
      .filter(col("raw").isNotNull)
      .select(concat(lit("http://files.example.com/f/"),
        col("u").cast("string")).as("url"), col("raw"))

  /** (url, n_parts, total_bytes, covered_bytes, complete, body) over a
    * (url, raw) frame of 206 responses.
    */
  def reassemble(df: DataFrame): DataFrame = {
    val cr = "bytes (\\d+)-(\\d+)/(\\d+)"
    val parts = df
      .select(col("url"), httpMessage(col("raw")).as("h"))
      .filter(col("h").getField("status") === 206)
      .select(col("url"),
        try_element_at(filter(col("h").getField("headers"),
          x => x.startsWith("content-range: ")), lit(1)).as("cr"),
        col("h").getField("body").as("part"))
      .select(col("url"),
        regexp_extract(col("cr"), cr, 1).cast("long").as("s"),
        regexp_extract(col("cr"), cr, 2).cast("long").as("e"),
        regexp_extract(col("cr"), cr, 3).cast("long").as("total"),
        col("part"))
    parts.groupBy(col("url"))
      .agg(count(lit(1)).as("n_parts"),
        max(col("total")).as("total_bytes"),
        sum(col("e") - col("s") + 1).as("covered_bytes"),
        sort_array(collect_list(struct(col("s"), col("e"), col("part")))).as("ps"))
      .select(col("url"), col("n_parts"), col("total_bytes"), col("covered_bytes"),
        // tiling fold: acc = next expected start; any gap or overlap
        // poisons the fold to -1, completeness = fold lands on total
        (aggregate(col("ps"), lit(0L),
          (acc, p) => when(acc === p.getField("s"), p.getField("e") + 1)
            .otherwise(lit(-1L))) === col("total_bytes"))
          .cast("int").as("complete"),
        array_join(transform(col("ps"), p => p.getField("part")), "").as("body"))
  }

  def reassembled(spark: SparkSession, dir: String): DataFrame =
    reassemble(plantParts(spark, dir))

  /** Oracle: closed-form restatement — integer-thirds arithmetic per
    * URL and the loss rules; `complete` reduces to "all 3 parts
    * present" (the thirds always tile, the middle-loss and tail-loss
    * rules are the only gap sources).
    */
  def reassembledOracle: String =
    s"""WITH parts AS (
       |  SELECT doc_id // 3 AS u, doc_id % 3 AS j,
       |    'payload ' || CAST(doc_id // 3 AS VARCHAR) ||
       |      ' abcdefghijklmnopqrstuvwxyz0123456789' AS whole
       |  FROM documents
       |  WHERE NOT (doc_id // 3 % 5 = 0 AND doc_id % 3 = 1)),
       |ranged AS (
       |  SELECT u, j, strlen(whole) AS len, whole,
       |    strlen(whole) * j // 3 AS s,
       |    strlen(whole) * (j + 1) // 3 - 1 AS e
       |  FROM parts)
       |SELECT 'http://files.example.com/f/' || CAST(u AS VARCHAR) AS url,
       |  CAST(count(*) AS BIGINT) AS n_parts,
       |  CAST(max(len) AS BIGINT) AS total_bytes,
       |  CAST(sum(e - s + 1) AS BIGINT) AS covered_bytes,
       |  CAST(count(*) = 3 AS INTEGER) AS complete,
       |  string_agg(substring(whole, CAST(s + 1 AS INTEGER), CAST(e - s + 1 AS INTEGER)),
       |    '' ORDER BY s) AS body
       |FROM ranged GROUP BY u""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_range_reassembly" -> Query((s, dir) => reassembled(s, dir), reassembledOracle)
  )
}
