package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Multi-format date coercion — the ES `Date(format="a||b||…")` semantics
  * (`sql_to_es_etl.py:106-109`: `yyyy-MM-dd HH:mm:ss.S||.SS||.SSS||
  * yyyy-MM-dd||epoch_millis||strict_date_optional_time`): a string value
  * is accepted by the FIRST declared format that parses it.
  *
  * Native form: a `coalesce` chain of `try_to_timestamp(c, fmt)` — every
  * branch is a codegen'd expression, nulls flow on (a value no format
  * accepts coerces to NULL exactly as an ES bulk write would reject it to
  * the error channel). `epoch_millis` is digit-gated so numeric strings
  * never mis-parse through a date pattern.
  *
  * The fixture timestamps are already typed (the reason this operator was
  * missing until round 3), so the gate RENDERS each row's timestamp into
  * one of the declared formats (picked by key mod 12 — deterministic, all
  * formats exercised) and parses it back; both engines render and parse
  * with identical rules, making the coercion itself the thing compared.
  */
object DateParse {

  /** The declared format chain, ES-ordered. Fractional-second patterns in
    * Spark's parser match exact digit counts, so `.S`/`.SS`/`.SSS` are
    * three branches just as ES declares them.
    */
  val TimestampFormats: Seq[String] = Seq(
    "yyyy-MM-dd HH:mm:ss.S",
    "yyyy-MM-dd HH:mm:ss.SS",
    "yyyy-MM-dd HH:mm:ss.SSS",
    "yyyy-MM-dd",
    // strict_date_optional_time's concrete shapes: date 'T' time with
    // optional fraction, optional offset ('Z' or ±HH:MM — XXX parses
    // both), and the reduced-precision time forms (minute / hour only).
    // Shapes are mutually exclusive, so chain order carries no semantics.
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ss.SSS",
    "yyyy-MM-dd'T'HH:mm:ssXXX",
    "yyyy-MM-dd'T'HH:mm:ss.SSSXXX",
    "yyyy-MM-dd'T'HH:mm",
    "yyyy-MM-dd'T'HH")

  def multiFormatTimestamp(c: Column): Column = {
    val branches = TimestampFormats.map(f => try_to_timestamp(c, lit(f))) :+
      when(c.rlike("^\\d{10,}$"), timestamp_millis(c.cast("long"))) // epoch_millis
    coalesce(branches: _*)
  }

  /** DuckDB twin. `try_strptime`'s `%f` accepts 1–6 fractional digits
    * where Spark's `.S/.SS/.SSS` chain accepts exactly 1–3 (measured:
    * pattern count is the MAX digits, shorter runs parse), so the
    * fraction branches are regex-gated to 1–3 digits — a microsecond
    * string like `…30.123456` coerces to NULL on BOTH engines, as the
    * ES declaration (which stops at `.SSS`) implies.
    *
    * Offset shapes: `%z` accepts `±HH:MM` but not the bare `Z` Spark's
    * `XXX` takes, so `Z` is regex-gated and rewritten to `+00:00` first;
    * `%z` also yields TIMESTAMPTZ, cast back to TIMESTAMP (session is
    * UTC) so the coalesce keeps the TIMESTAMP type Spark writes.
    */
  def multiFormatTimestampSql(c: String): String = {
    val off = "(Z|[+-]\\d{2}:\\d{2})"
    s"""coalesce(
       |  CASE WHEN regexp_matches($c, '^\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}\\.\\d{1,3}$$')
       |       THEN try_strptime($c, '%Y-%m-%d %H:%M:%S.%f') END,
       |  try_strptime($c, '%Y-%m-%d'),
       |  try_strptime($c, '%Y-%m-%dT%H:%M:%S'),
       |  CASE WHEN regexp_matches($c, '^\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}\\.\\d{1,3}$$')
       |       THEN try_strptime($c, '%Y-%m-%dT%H:%M:%S.%f') END,
       |  CASE WHEN regexp_matches($c, '^\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}$off$$')
       |       THEN CAST(try_strptime(replace($c, 'Z', '+00:00'), '%Y-%m-%dT%H:%M:%S%z') AS TIMESTAMP) END,
       |  CASE WHEN regexp_matches($c, '^\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}\\.\\d{1,3}$off$$')
       |       THEN CAST(try_strptime(replace($c, 'Z', '+00:00'), '%Y-%m-%dT%H:%M:%S.%f%z') AS TIMESTAMP) END,
       |  CASE WHEN regexp_matches($c, '^\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}$$')
       |       THEN try_strptime($c, '%Y-%m-%dT%H:%M') END,
       |  CASE WHEN regexp_matches($c, '^\\d{4}-\\d{2}-\\d{2}T\\d{2}$$')
       |       THEN try_strptime($c, '%Y-%m-%dT%H') END,
       |  CASE WHEN regexp_matches($c, '^[0-9]{10,}$$')
       |       THEN make_timestamp(CAST($c AS BIGINT) * 1000) END)""".stripMargin
  }

  /** Gate: render o_orderdate into the declared formats (by key mod 12),
    * parse back through the chain. `rendered` stays in the output so a
    * parse asymmetry is visible as a value, not just a null count.
    */
  def parseMultiFormat(spark: SparkSession, dir: String): DataFrame = {
    // 10 try_to_timestamp branches + the epoch gate per row, all in the
    // scan stage — widen
    // under-split files (identity on real tables)
    val o = ScaleOps.widen(
      Tables.orders(spark, dir).select("o_orderkey", "o_orderdate"))
    val d = col("o_orderdate")
    // key mod 12 → every declared shape is exercised: .S/.SS/.SSS,
    // date-only, ISO ± fraction, epoch_millis, offset forms ('Z' and
    // +01:00, with and without fraction), minute- and hour-precision
    val fmtId = col("o_orderkey") % 12
    val base = date_format(d, "yyyy-MM-dd HH:mm:ss")
    val iso = date_format(d, "yyyy-MM-dd'T'HH:mm:ss")
    // wall clock shifted +1h so the +01:00 offset round-trips to the
    // same instant — exercises a NONZERO offset, not just notation
    val isoPlus1 = date_format(d + expr("INTERVAL 1 HOUR"), "yyyy-MM-dd'T'HH:mm:ss")
    val rendered =
      when(fmtId === 0, concat(base, lit(".0")))
        .when(fmtId === 1, concat(base, lit(".00")))
        .when(fmtId === 2, concat(base, lit(".000")))
        .when(fmtId === 3, date_format(d, "yyyy-MM-dd"))
        .when(fmtId === 4, iso)
        .when(fmtId === 5, concat(iso, lit(".000")))
        .when(fmtId === 6, concat(iso, lit("Z")))
        .when(fmtId === 7, concat(isoPlus1, lit("+01:00")))
        .when(fmtId === 8, concat(isoPlus1, lit(".000+01:00")))
        // reduced precision is lossless here (order timestamps are
        // midnight); the gate compares ENGINES, not round-trip fidelity
        .when(fmtId === 9, date_format(d, "yyyy-MM-dd'T'HH:mm"))
        .when(fmtId === 10, date_format(d, "yyyy-MM-dd'T'HH"))
        // fixture timestamps are NTZ; the session is pinned UTC, so the
        // cast to an instant is the identity embedding
        .otherwise(unix_millis(d.cast("timestamp")).cast("string"))
    o.select(col("o_orderkey"), rendered.as("rendered"))
      .withColumn("parsed", multiFormatTimestamp(col("rendered")))
  }

  def parseMultiFormatOracle: String =
    s"""SELECT o_orderkey, rendered,
       |  ${multiFormatTimestampSql("rendered")} AS parsed
       |FROM (
       |  SELECT o_orderkey,
       |    CASE o_orderkey % 12
       |      WHEN 0 THEN strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') || '.0'
       |      WHEN 1 THEN strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') || '.00'
       |      WHEN 2 THEN strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') || '.000'
       |      WHEN 3 THEN strftime(o_orderdate, '%Y-%m-%d')
       |      WHEN 4 THEN strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S')
       |      WHEN 5 THEN strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') || '.000'
       |      WHEN 6 THEN strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') || 'Z'
       |      WHEN 7 THEN strftime(o_orderdate + INTERVAL 1 HOUR, '%Y-%m-%dT%H:%M:%S') || '+01:00'
       |      WHEN 8 THEN strftime(o_orderdate + INTERVAL 1 HOUR, '%Y-%m-%dT%H:%M:%S') || '.000+01:00'
       |      WHEN 9 THEN strftime(o_orderdate, '%Y-%m-%dT%H:%M')
       |      WHEN 10 THEN strftime(o_orderdate, '%Y-%m-%dT%H')
       |      ELSE CAST(epoch_ms(o_orderdate) AS VARCHAR)
       |    END AS rendered
       |  FROM orders
       |)""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_multiformat_date" -> Query((s, dir) => parseMultiFormat(s, dir), parseMultiFormatOracle)
  )
}
