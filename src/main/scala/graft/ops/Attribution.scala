package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** LAST-TOUCH attribution (X229) — the ad/analytics
  * workload behind every "which impression drove this purchase"
  * report: each purchase attributes to the MOST RECENT view by the
  * same user within the [[HorizonUs]] lookback, ties broken by the
  * higher event_id (a total order — simultaneous views exist in real
  * event streams); purchases with no qualifying view are ABSENT ("no
  * evidence, no verdict"). All comparisons in exact epoch MICROS
  * (unix_micros ≡ DuckDB epoch_us on the nanos-floored fixture — the
  * X172 discipline).
  *
  * Shape: the view↔purchase join is user-keyed with the time window
  * riding post-join (the X20 range-join discipline); last-touch is a
  * max(struct) partial aggregate — no second shuffle, no window over
  * the join output. Candidate fan-out is bounded by views-per-user
  * within one horizon.
  */
object Attribution {

  val HorizonUs: Long = 3600L * 1000000L // 1 hour

  def views(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        unix_micros(col("ts")).as("vus"))

  def purchases(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        unix_micros(col("ts")).as("pus"))

  /** Attribution candidates: every (purchase, view) of one user with
    * the view inside the lookback.
    */
  def candidates(spark: SparkSession, dir: String): DataFrame =
    purchases(spark, dir).join(views(spark, dir), Seq("user_id"))
      .filter(col("pus") >= col("vus") && col("pus") - col("vus") <= HorizonUs)

  /** (purchase_id, user_id, view_id, gap_us): the last-touch winner. */
  def lastTouch(spark: SparkSession, dir: String): DataFrame =
    candidates(spark, dir)
      .groupBy(col("purchase_id"), col("user_id"), col("pus"))
      .agg(max(struct(col("vus"), col("view_id"))).as("best"))
      .select(col("purchase_id"), col("user_id"),
        col("best.view_id").as("view_id"),
        (col("pus") - col("best.vus")).as("gap_us"))

  def oracle: String =
    s"""WITH v AS (
       |  SELECT event_id AS view_id, user_id, epoch_us(ts) AS vus
       |  FROM events WHERE event_type = 'view'),
       |p AS (
       |  SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS pus
       |  FROM events WHERE event_type = 'purchase'),
       |j AS (
       |  SELECT p.purchase_id, p.user_id, p.pus, v.view_id, v.vus
       |  FROM p JOIN v ON p.user_id = v.user_id
       |   AND p.pus >= v.vus AND p.pus - v.vus <= $HorizonUs),
       |r AS (
       |  SELECT *, row_number() OVER (PARTITION BY purchase_id
       |    ORDER BY vus DESC, view_id DESC) AS rn
       |  FROM j)
       |SELECT purchase_id, user_id, view_id,
       |  CAST(pus - vus AS BIGINT) AS gap_us
       |FROM r WHERE rn = 1""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_attribution" -> Query((s, dir) => lastTouch(s, dir), oracle)
  )
}
