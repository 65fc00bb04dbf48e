package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** JSON SCHEMA PROFILING over a string column (X195) — the report an
  * ETL team reads before writing any `get_json_object` path: every
  * (path, jtype) the column actually contains, with occurrence counts
  * — mixed-type keys, optional branches, array shapes, and malformed
  * rows all surface as their own rows. Runs the real recursive walker
  * [[graft.plans.JsonPaths]] (paths inside string values never leak;
  * malformed docs group under ($, malformed)).
  *
  * The fixture `props` column is uniformly `{"k": int}`, so the gate
  * plants five rotating shapes (including a nested object, a mixed
  * string/number `k`, and a malformed row) derived from event_id —
  * both engines see byte-identical text, and the oracle states the
  * profile in CLOSED FORM from the class counts while Spark runs the
  * real parser over every document.
  *
  * Scale shape: per-row walk + one (path, jtype)-keyed aggregate whose
  * cardinality is the SCHEMA size, not the corpus size.
  */
object JsonProfile {

  /** Five rotating planted shapes; n = event_id % 100 varies values
    * without changing the schema profile.
    */
  def plantJson(events: DataFrame): DataFrame = {
    val n = (col("event_id") % 100).cast("string")
    val k = col("event_id") % 5
    events.select(col("event_id"),
      when(k === 0, concat(lit("{\"k\": "), n, lit(", \"name\": \"e"), n, lit("\"}")))
        .when(k === 1, concat(lit("{\"k\": \"s"), n, lit("\", \"tags\": [\"a\", \"b\"]}")))
        .when(k === 2, concat(lit("{\"k\": "), n,
          lit(", \"nested\": {\"d\": "), n, lit(", \"ok\": true}}")))
        .when(k === 3, lit("{\"k\": null}"))
        .otherwise(concat(lit("{\"k\": "), lit("}"))) // malformed
        .as("js"))
  }

  /** (path, jtype, n) — the schema profile. */
  def profile(spark: SparkSession, dir: String): DataFrame =
    plantJson(graft.ops.ScaleOps.widen(Tables.events(spark, dir)))
      .select(posexplode(
        org.apache.spark.sql.GraftColumnShim.column(graft.plans.JsonPaths(
          org.apache.spark.sql.GraftColumnShim.expression(col("js")))))
        .as(Seq("p", "pair")))
      .groupBy(col("pair").getField("path").as("path"),
        col("pair").getField("jtype").as("jtype"))
      .agg(count(lit(1)).as("n"))

  def profileOracle: String =
    s"""WITH cls AS (
       |  SELECT count(*) FILTER (WHERE event_id % 5 = 0) AS c0,
       |         count(*) FILTER (WHERE event_id % 5 = 1) AS c1,
       |         count(*) FILTER (WHERE event_id % 5 = 2) AS c2,
       |         count(*) FILTER (WHERE event_id % 5 = 3) AS c3,
       |         count(*) FILTER (WHERE event_id % 5 = 4) AS c4
       |  FROM events)
       |SELECT path, jtype, CAST(n AS BIGINT) AS n FROM (
       |  SELECT '$$' AS path, 'object' AS jtype, c0 + c1 + c2 + c3 AS n FROM cls
       |  UNION ALL SELECT '$$.k', 'number', c0 + c2 FROM cls
       |  UNION ALL SELECT '$$.name', 'string', c0 FROM cls
       |  UNION ALL SELECT '$$.k', 'string', c1 FROM cls
       |  UNION ALL SELECT '$$.tags', 'array', c1 FROM cls
       |  UNION ALL SELECT '$$.tags[*]', 'string', 2 * c1 FROM cls
       |  UNION ALL SELECT '$$.nested', 'object', c2 FROM cls
       |  UNION ALL SELECT '$$.nested.d', 'number', c2 FROM cls
       |  UNION ALL SELECT '$$.nested.ok', 'boolean', c2 FROM cls
       |  UNION ALL SELECT '$$.k', 'null', c3 FROM cls
       |  UNION ALL SELECT '$$', 'malformed', c4 FROM cls)
       |WHERE n > 0""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_json_profile" -> Query((s, dir) => profile(s, dir), profileOracle)
  )
}
