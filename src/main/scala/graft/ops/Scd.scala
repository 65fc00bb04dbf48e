package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** SCD TYPE-2 dimension build (X193) — the warehouse operator that
  * turns an event/snapshot stream into versioned validity intervals:
  * per entity, consecutive runs of the same attribute value collapse
  * into one row with [valid_from, valid_to) bounds (valid_to null on
  * the current version). Every feature-store and dimension-table
  * pipeline runs exactly this before any point-in-time-correct join
  * (the as-of join family X70/X101 consumes what this produces).
  *
  * Semantics are exact: events order per entity by (epoch_us,
  * event_id) — a total order, so ties at the same microsecond are
  * deterministic in both engines — change points are rows whose
  * attribute differs from the previous row's, valid_to is the NEXT
  * change's timestamp, version numbers count changes from 1.
  *
  * Scale shape: two entity-keyed windows (lag to find change points,
  * lead/row_number over the collapsed change rows) — never global;
  * the as-of lookup is one broadcast scalar probe + a filter, no join.
  */
object Scd {

  /** (user_id, attr, valid_from, valid_to, version) — epoch micros. */
  def scd2(events: DataFrame): DataFrame = {
    val e = events.select(col("user_id"), col("event_type").as("attr"),
      unix_micros(col("ts")).as("us"), col("event_id"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    e.withColumn("prev", lag(col("attr"), 1).over(w))
      .filter(col("prev").isNull || col("attr") =!= col("prev"))
      .withColumn("valid_to", lead(col("us"), 1).over(w))
      .withColumn("version", row_number().over(w).cast("long"))
      .select(col("user_id"), col("attr"), col("us").as("valid_from"),
        col("valid_to"), col("version"))
  }

  /** Dimension state AS OF the stream's midpoint instant (min + span/2,
    * exact integer micros — a broadcast scalar, the house pattern):
    * the one row per entity whose interval covers the probe.
    */
  def asOfMidpoint(events: DataFrame): DataFrame = {
    val dim = scd2(events)
    val probe = events.select(unix_micros(col("ts")).as("us"))
      .agg(expr("min(us) + (max(us) - min(us)) DIV 2").as("t"))
    dim.crossJoin(broadcast(probe))
      .filter(col("valid_from") <= col("t") &&
        (col("valid_to").isNull || col("t") < col("valid_to")))
      .select(col("user_id"), col("attr"), col("valid_from"), col("version"))
  }

  private def chSql: String =
    s"""e AS (
       |  SELECT user_id, event_type AS attr, epoch_us(ts) AS us, event_id
       |  FROM events),
       |ch AS (
       |  SELECT user_id, attr, us, event_id,
       |    lag(attr) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev
       |  FROM e
       |  QUALIFY prev IS NULL OR attr <> prev),
       |dim AS (
       |  SELECT user_id, attr, us AS valid_from,
       |    lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS valid_to,
       |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY us, event_id)
       |      AS BIGINT) AS version
       |  FROM ch)""".stripMargin

  def scd2Oracle: String =
    s"""WITH ${chSql}
       |SELECT user_id, attr, valid_from, valid_to, version FROM dim""".stripMargin

  def asOfOracle: String =
    s"""WITH ${chSql},
       |probe AS (
       |  SELECT CAST(min(us) + (max(us) - min(us)) // 2 AS BIGINT) AS t FROM e)
       |SELECT user_id, attr, valid_from, version
       |FROM dim, probe
       |WHERE valid_from <= t AND (valid_to IS NULL OR t < valid_to)""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_scd2_dim" -> Query((s, dir) => scd2(Tables.events(s, dir)), scd2Oracle),
    "q_scd2_asof" -> Query((s, dir) => asOfMidpoint(Tables.events(s, dir)), asOfOracle)
  )
}
