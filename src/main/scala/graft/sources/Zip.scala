package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** ZIP archive ingestion (X243) — the other container data drops ship
  * in, next to the X192 tar shards. The plant is the JDK's own
  * `ZipOutputStream` (an independent writer — its deflated members
  * carry streaming data descriptors with zeroed local sizes, so the
  * reader's central-directory-as-source-of-truth discipline is
  * exercised by every row); [[graft.plans.ZipMembers]] walks EOCD →
  * central directory → local headers and decodes stored + deflated
  * members with CRC verification, restated closed-form by the DuckDB
  * oracle.
  *
  * Scale: per-row, shuffle-free, whole-stage codegen; one member's
  * bytes in memory at a time, bomb-capped.
  */
object Zip {

  private def shim(e: org.apache.spark.sql.catalyst.expressions.Expression) =
    org.apache.spark.sql.GraftColumnShim.column(e)
  private def ex(c: org.apache.spark.sql.Column) =
    org.apache.spark.sql.GraftColumnShim.expression(c)

  /** (doc_id, m_idx, name, method, size, crc_ok, payload). */
  def members(spark: SparkSession, dir: String): DataFrame =
    graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"),
        shim(graft.plans.ZipMembers(ex(
          shim(graft.plans.ZipPlant(ex(col("doc_id"))))))).as("ms"))
      // posexplode_outer + null guard: the Warc discipline — a plain
      // explode infers a pushable size()>0 below the widen exchange
      .select(col("doc_id"), posexplode_outer(col("ms")).as(Seq("m_idx", "m")))
      .filter(col("m").isNotNull)
      .select(col("doc_id"), col("m_idx").cast("int").as("m_idx"),
        col("m").getField("name").as("name"),
        col("m").getField("method").as("method"),
        col("m").getField("size").as("size"),
        col("m").getField("crc_ok").as("crc_ok"),
        col("m").getField("payload").cast("string").as("payload"))

  def membersOracle: String =
    s"""WITH m AS (
       |  SELECT doc_id,
       |    'alpha ' || CAST(doc_id AS VARCHAR) || ': ' ||
       |      repeat('x', CAST(doc_id % 7 AS INTEGER)) AS alpha,
       |    'beta ' || CAST(doc_id AS VARCHAR) AS beta,
       |    unnest(range(3)) AS k
       |  FROM documents)
       |SELECT doc_id, CAST(k AS INTEGER) AS m_idx,
       |  'd' || CAST(doc_id AS VARCHAR) ||
       |    CASE k WHEN 0 THEN '/' WHEN 1 THEN '/a.txt' ELSE '/b.bin' END AS name,
       |  CAST(CASE k WHEN 1 THEN 8 ELSE 0 END AS INTEGER) AS method,
       |  CAST(CASE k WHEN 0 THEN 0 WHEN 1 THEN strlen(alpha)
       |       ELSE strlen(beta) END AS BIGINT) AS size,
       |  TRUE AS crc_ok,
       |  CASE k WHEN 0 THEN '' WHEN 1 THEN alpha ELSE beta END AS payload
       |FROM m""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_zip_members" -> Query((s, dir) => members(s, dir), membersOracle)
  )
}
