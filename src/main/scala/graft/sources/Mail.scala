package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** MIME/EML ingestion over the corpus (X242) — mail archives, list
  * dumps and MHTML snapshots as a text source. The gate plants a
  * complete RFC-compliant message per document ([[graft.plans.MimePlant]]:
  * four rotating variants — 7bit, base64 + RFC 2047 `B` subject,
  * quoted-printable + adjacent `Q` encoded words, multipart/mixed with
  * a base64 attachment the extraction must skip) and
  * [[graft.plans.MimeMessage]] must parse headers, decode the
  * encoded-word subjects, undo the transfer encodings, walk the
  * multipart tree and return exactly the planted text and header
  * fields, restated closed-form by the DuckDB oracle.
  *
  * Scale: per-row, shuffle-free, whole-stage codegen.
  */
object Mail {

  private def shim(e: org.apache.spark.sql.catalyst.expressions.Expression) =
    org.apache.spark.sql.GraftColumnShim.column(e)
  private def ex(c: org.apache.spark.sql.Column) =
    org.apache.spark.sql.GraftColumnShim.expression(c)

  /** (doc_id, from_addr, to_addr, subject, n_parts, extracted). */
  def mimeTexts(spark: SparkSession, dir: String): DataFrame =
    graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"),
        shim(graft.plans.MimeMessage(ex(
          shim(graft.plans.MimePlant(
            ex(coalesce(col("text"), lit(""))), ex(col("doc_id"))))))).as("s"))
      .select(col("doc_id"),
        col("s").getField("from").as("from_addr"),
        col("s").getField("to").as("to_addr"),
        col("s").getField("subject").as("subject"),
        col("s").getField("n_parts").as("n_parts"),
        col("s").getField("text").as("extracted"))

  def mimeTextsOracle: String =
    s"""SELECT doc_id,
       |  'sender' || CAST(doc_id AS VARCHAR) || '@example.org' AS from_addr,
       |  'list' || CAST(doc_id AS VARCHAR) || '@example.org' AS to_addr,
       |  'doc ' || CAST(doc_id AS VARCHAR) AS subject,
       |  CAST(CASE WHEN doc_id % 4 = 3 THEN 2 ELSE 1 END AS INTEGER) AS n_parts,
       |  coalesce(text, '') AS extracted
       |FROM documents""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_mime_text" -> Query((s, dir) => mimeTexts(s, dir), mimeTextsOracle)
  )
}
