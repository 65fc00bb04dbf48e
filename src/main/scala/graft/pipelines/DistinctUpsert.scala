package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Query, Tables}
import graft.ops.SrData

/** The reference's Snowflake→ES flow (`snowflake_to_es_etl.py`, SURVEY §3.2)
  * recomposed natively:
  *
  *   SELECT DISTINCT single-table query with NULL-literal columns, a string
  *   literal, a CASE TAT chain and NOT LIKE / NOT IN predicates (↔ `:64-86`)
  *   → drop a column (↔ `:227-228`) → cast EVERY column to string (↔ `:230`)
  *   → upsert-by-key sink (↔ `:234-241`).
  *
  * The ES upsert (`es.write.operation=upsert`, id=`INCIDENT_NUMBER`) is
  * modeled as last-writer-wins merge-by-key: `row_number()` over
  * (partition by key, order by last_modified DESC) = 1 — the A4 operator.
  * The window partitions by the real key, so it scales: keys hash across
  * tasks, no global funnel, and AQE's skew handling covers hot keys.
  *
  * Determinism note: ES resolves concurrent writers by arrival order; a
  * hash-comparable operator can't. The window therefore orders by
  * last_modified DESC plus every remaining output column as tie-break; rows
  * still tied are bit-identical, so the survivor is unique either way.
  *
  * Fixture mapping: `orders` plays `REMEDY_SR_DATA`; `o_custkey` (shared by
  * a customer's orders) plays `INCIDENT_NUMBER`, so the upsert genuinely
  * collapses multi-row keys to the most recent order.
  */
object DistinctUpsert {

  /** ↔ the reference's NOT LIKE exclusions (`snowflake_to_es_etl.py:79-81`). */
  val PriorityExcludedPattern = "%URGENT"

  /** ↔ the NOT IN value list (`snowflake_to_es_etl.py:81-85`). */
  val StatusExcluded: Seq[String] = Seq("P")

  /** Final column order (post cast-all-to-string). */
  val OutCols: Seq[String] = Seq(
    "incident_number", "status", "priority", "last_modified", "tat",
    "row_id", "src_system", "data_source")

  /** TAT fallback ↔ `snowflake_to_es_etl.py:73-75` (T-SQL DATEDIFF arg
    * order flipped for Spark).
    */
  private def tat =
    when(col("o_orderstatus") === "F", datediff(lit(SrData.Now).cast("date"), col("o_orderdate")))
      .when(col("o_orderstatus") === "O", lit(0))
      .otherwise(lit(-1))

  /** The DISTINCT source query ↔ `snowflake_to_es_etl.py:64-86`: projection
    * + NULL/string literals + CASE + NOT LIKE / NOT IN, then full-row dedup
    * (F4/A2). `o_totalprice` rides along only to be dropped (P5), like the
    * reference's doomed date columns.
    */
  def distinctSource(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(!col("o_orderpriority").like(PriorityExcludedPattern)) // ↔ :79-81
      .filter(!col("o_orderstatus").isin(StatusExcluded: _*))        // ↔ :81-85
      .select(
        col("o_custkey").as("incident_number"),
        col("o_orderstatus").as("status"),
        col("o_orderpriority").as("priority"),
        col("o_orderdate").cast("date").as("last_modified"),
        col("o_totalprice").as("total_price"),
        tat.as("tat"),
        lit(null).cast("string").as("row_id"),      // F6 ↔ :69-72
        lit(null).cast("string").as("src_system"),  // F6
        lit("Remedy").as("data_source"))            // F7 ↔ :72
      .distinct()                                   // F4/A2 ↔ :64

  /** drop (P5 ↔ :227-228) + cast-all-to-string (P6 ↔ :230). */
  def shaped(spark: SparkSession, dir: String): DataFrame = {
    val dropped = distinctSource(spark, dir).drop("total_price")
    dropped.select(dropped.columns.toIndexedSeq.map(c => col(c).cast("string").as(c)): _*)
  }

  /** A4 upsert-by-key: keep exactly one row per incident_number —
    * greatest last_modified, remaining columns as deterministic tie-break.
    */
  def upsertByKey(df: DataFrame): DataFrame = {
    val order = desc("last_modified") +:
      OutCols.filterNot(c => c == "incident_number" || c == "last_modified").map(asc)
    val w = Window.partitionBy(col("incident_number")).orderBy(order: _*)
    df.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  def distinctUpsert(spark: SparkSession, dir: String): DataFrame =
    upsertByKey(shaped(spark, dir)).select(OutCols.map(col): _*)

  // ---- DuckDB oracle (same constants) ----

  def distinctUpsertOracle: String = {
    val statuses = StatusExcluded.map(s => s"'$s'").mkString(", ")
    val tieBreak = OutCols.filterNot(c => c == "incident_number" || c == "last_modified")
      .mkString(", ")
    s"""WITH distinct_src AS (
       |  SELECT DISTINCT
       |    o_custkey AS key_int,
       |    o_orderstatus AS status,
       |    o_orderpriority AS priority,
       |    CAST(o_orderdate AS DATE) AS last_modified_d,
       |    o_totalprice AS total_price,
       |    CASE WHEN o_orderstatus = 'F' THEN date_diff('day', CAST(o_orderdate AS DATE), DATE '${SrData.Now}')
       |         WHEN o_orderstatus = 'O' THEN 0
       |         ELSE -1
       |    END AS tat_i
       |  FROM orders
       |  WHERE o_orderpriority NOT LIKE '$PriorityExcludedPattern'
       |    AND o_orderstatus NOT IN ($statuses)
       |),
       |shaped AS (
       |  SELECT
       |    CAST(key_int AS VARCHAR) AS incident_number,
       |    CAST(status AS VARCHAR) AS status,
       |    CAST(priority AS VARCHAR) AS priority,
       |    CAST(last_modified_d AS VARCHAR) AS last_modified,
       |    CAST(tat_i AS VARCHAR) AS tat,
       |    CAST(NULL AS VARCHAR) AS row_id,
       |    CAST(NULL AS VARCHAR) AS src_system,
       |    'Remedy' AS data_source
       |  FROM (SELECT * EXCLUDE (total_price) FROM distinct_src)
       |)
       |SELECT * FROM shaped
       |QUALIFY row_number() OVER (
       |  PARTITION BY incident_number
       |  ORDER BY last_modified DESC, $tieBreak) = 1""".stripMargin
  }

  // ---- query registry ----

  def queries: Seq[(String, Query)] = Seq(
    "q_distinct_upsert" -> Query((s, dir) => distinctUpsert(s, dir), distinctUpsertOracle)
  )
}
