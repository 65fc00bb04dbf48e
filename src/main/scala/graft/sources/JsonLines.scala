package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** JSONL ingestion with malformed-line quarantine — what actually
  * arrives when a corpus is delivered as JSON lines: truncated writes,
  * wrong-typed fields, missing keys, nested payloads. The discipline a
  * robust loader needs, pinned as a gate:
  *
  *   - a malformed line is QUARANTINED (flagged, fields null), never
  *     dropped silently and never an exception — the count of invalid
  *     lines is the load report's first number;
  *   - a wrong-TYPED field nulls THAT field only (`try_cast`
  *     semantics), the rest of the line still loads;
  *   - missing paths are null, not '' — absence is not emptiness;
  *   - nested scalars and array elements extract by JSONPath
  *     (`$.o.x`, `$.a[1]`) without materializing the whole tree.
  *
  * All extraction is codegen'd `get_json_object` (scalar paths only —
  * extracting OBJECTS as text would pin an engine's re-serialization
  * whitespace; scalars are canonical). The DuckDB oracle mirrors with
  * `json_valid` + `json_extract_string`, guarded so malformed lines
  * never error. Per-row, map-only.
  */
object JsonLines {

  /** The six plant classes (doc_id % 6): well-formed, truncated,
    * wrong-typed k, missing s, nested object, array payload.
    */
  def plantLine: Column = {
    val id = col("doc_id").cast("string")
    val k = col("doc_id") % 6
    when(k === 0, concat(lit("{\"k\": "), id, lit(", \"s\": \"v"), id, lit("\"}")))
      .when(k === 1, concat(lit("{\"k\": "), id, lit(", \"s\""))) // truncated write
      .when(k === 2, concat(lit("{\"k\": \"notanint\", \"s\": \"v"), id, lit("\"}")))
      .when(k === 3, concat(lit("{\"k\": "), id, lit("}"))) // s missing
      .when(k === 4, concat(lit("{\"k\": "), id, lit(", \"o\": {\"x\": "), id,
        lit("}, \"s\": \"v"), id, lit("\"}")))
      .otherwise(concat(lit("{\"k\": "), id, lit(", \"a\": [10, "), id, lit(", 30]}")))
  }

  /** (doc_id, is_valid, k, s, ox, a1) over a (doc_id, line) frame. */
  def parse(df: DataFrame): DataFrame =
    df.select(col("doc_id"),
      get_json_object(col("line"), "$").isNotNull.as("is_valid"),
      expr("try_cast(get_json_object(line, '$.k') AS BIGINT)").as("k"),
      get_json_object(col("line"), "$.s").as("s"),
      expr("try_cast(get_json_object(line, '$.o.x') AS BIGINT)").as("ox"),
      expr("try_cast(get_json_object(line, '$.a[1]') AS BIGINT)").as("a1"))

  def parsed(spark: SparkSession, dir: String): DataFrame =
    parse(graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"), plantLine.as("line")))

  /** The load report: one row — lines, valid, quarantined, and the
    * per-field null tallies a loader alerts on.
    */
  def loadReport(spark: SparkSession, dir: String): DataFrame =
    parsed(spark, dir).agg(
      count(lit(1)).as("lines"),
      sum(col("is_valid").cast("long")).as("valid"),
      sum((!col("is_valid")).cast("long")).as("quarantined"),
      sum((col("is_valid") && col("k").isNull).cast("long")).as("k_nulls"),
      sum((col("is_valid") && col("s").isNull).cast("long")).as("s_nulls"))

  private def ctes: String =
    s"""lines AS (
       |  SELECT doc_id, CASE CAST(doc_id % 6 AS INTEGER)
       |    WHEN 0 THEN '{"k": ' || doc_id || ', "s": "v' || doc_id || '"}'
       |    WHEN 1 THEN '{"k": ' || doc_id || ', "s"'
       |    WHEN 2 THEN '{"k": "notanint", "s": "v' || doc_id || '"}'
       |    WHEN 3 THEN '{"k": ' || doc_id || '}'
       |    WHEN 4 THEN '{"k": ' || doc_id || ', "o": {"x": ' || doc_id ||
       |      '}, "s": "v' || doc_id || '"}'
       |    ELSE '{"k": ' || doc_id || ', "a": [10, ' || doc_id || ', 30]}'
       |  END AS line
       |  FROM documents),
       |p AS (
       |  SELECT doc_id, json_valid(line) AS is_valid,
       |    CASE WHEN json_valid(line)
       |      THEN TRY_CAST(json_extract_string(line, '$$.k') AS BIGINT) END AS k,
       |    CASE WHEN json_valid(line)
       |      THEN json_extract_string(line, '$$.s') END AS s,
       |    CASE WHEN json_valid(line)
       |      THEN TRY_CAST(json_extract_string(line, '$$.o.x') AS BIGINT) END AS ox,
       |    CASE WHEN json_valid(line)
       |      THEN TRY_CAST(json_extract_string(line, '$$.a[1]') AS BIGINT) END AS a1
       |  FROM lines)""".stripMargin

  def parsedOracle: String =
    s"""WITH $ctes
       |SELECT doc_id, is_valid, k, s, ox, a1 FROM p""".stripMargin

  def reportOracle: String =
    s"""WITH $ctes
       |SELECT CAST(COUNT(*) AS BIGINT) AS lines,
       |  CAST(SUM(is_valid::INTEGER) AS BIGINT) AS valid,
       |  CAST(SUM((NOT is_valid)::INTEGER) AS BIGINT) AS quarantined,
       |  CAST(SUM((is_valid AND k IS NULL)::INTEGER) AS BIGINT) AS k_nulls,
       |  CAST(SUM((is_valid AND s IS NULL)::INTEGER) AS BIGINT) AS s_nulls
       |FROM p""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_jsonl_quarantine" -> Query((s, dir) => parsed(s, dir), parsedOracle),
    "q_jsonl_report" -> Query((s, dir) => loadReport(s, dir), reportOracle)
  )
}
