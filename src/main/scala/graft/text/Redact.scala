package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** PII redaction — the scrubbing pass a training-data pipeline runs
  * before text ships: replace e-mail addresses, phone-like digit runs
  * and IPv4 literals with typed placeholder tokens, and count what was
  * redacted (the per-type counts feed the pipeline's compliance
  * reporting). Pure per-row `regexp_replace`/`regexp_extract_all` —
  * shuffle-free, codegen'd, linear in the scan.
  *
  * Regex discipline: patterns use only syntax with identical semantics
  * in Java regex (Spark) and RE2 (DuckDB) — character classes, bounded
  * repetition, no backrefs, no lookaround — so the oracle replicates
  * the exact same matches. Replacement order is fixed (e-mail first:
  * its local part could otherwise feed the phone pattern's digit runs);
  * counts are all taken on the ORIGINAL text, also order-independent by
  * pattern disjointness on the fixture shapes.
  *
  * The fixture corpus is synthetic word soup with no PII, so the gate
  * plants deterministic PII spans derived from `doc_id` (same
  * construction on both engines — the `q_multiformat_date` pattern):
  * the gate then proves the redaction itself, non-degenerately.
  */
object Redact {

  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+?[0-9][0-9 ()-]{5,}[0-9]"
  val Ipv4Re = "([0-9]{1,3}\\.){3}[0-9]{1,3}"

  def redact(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>"),
      Ipv4Re, "<IP>")

  def redactSql(c: String): String =
    s"""regexp_replace(regexp_replace(regexp_replace($c,
       |  '$EmailRe', '<EMAIL>', 'g'),
       |  '$PhoneRe', '<PHONE>', 'g'),
       |  '$Ipv4Re', '<IP>', 'g')""".stripMargin.replace("\n", " ")

  private def countOf(c: Column, re: String): Column =
    size(regexp_extract_all(c, lit(re), lit(0))).cast("long")

  /** Deterministic PII planting: every 3rd doc gains an e-mail, every
    * 5th a phone number, every 7th an IPv4 — all derived from doc_id so
    * both engines construct byte-identical text.
    */
  def plantPii(docs: DataFrame): DataFrame = {
    val id = col("doc_id").cast("string")
    val planted = concat(col("text"),
      when(col("doc_id") % 3 === 0,
        concat(lit(" contact user"), id, lit("@example.com now"))).otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        concat(lit(" call +1 555-00"), id, lit(" ok"))).otherwise(lit("")),
      when(col("doc_id") % 7 === 0,
        concat(lit(" host 10.0."), (col("doc_id") % 256).cast("string"), lit(".25 up")))
        .otherwise(lit("")))
    docs.select(col("doc_id"), planted.as("text"))
  }

  // no line may START with '||': this string is interpolated into the
  // enclosing oracle template, whose own stripMargin would eat the first
  // pipe of a line-leading '||'
  def plantPiiSql: String =
    s"""SELECT doc_id, text ||
       |  CASE WHEN doc_id % 3 = 0
       |       THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END ||
       |  CASE WHEN doc_id % 5 = 0
       |       THEN ' call +1 555-00' || CAST(doc_id AS VARCHAR) || ' ok' ELSE '' END ||
       |  CASE WHEN doc_id % 7 = 0
       |       THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.25 up' ELSE '' END
       |  AS text
       |FROM documents""".stripMargin

  def redactionReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
    plantPii(docs)
      .select(col("doc_id"),
        redact(col("text")).as("red_text"),
        countOf(col("text"), EmailRe).as("n_emails"),
        countOf(col("text"), PhoneRe).as("n_phones"),
        countOf(col("text"), Ipv4Re).as("n_ips"))
  }

  def oracle: String =
    s"""SELECT doc_id,
       |  ${redactSql("text")} AS red_text,
       |  CAST(len(regexp_extract_all(text, '$EmailRe')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(text, '$PhoneRe')) AS BIGINT) AS n_phones,
       |  CAST(len(regexp_extract_all(text, '$Ipv4Re')) AS BIGINT) AS n_ips
       |FROM ($plantPiiSql)""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_redact_pii" -> Query((s, dir) => redactionReport(s, dir), oracle)
  )
}
