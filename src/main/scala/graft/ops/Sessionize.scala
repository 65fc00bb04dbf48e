package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Gap-based sessionization of the events table: events for a user
  * belong to one session while consecutive events are at most
  * [[GapMs]] apart; a quiet period longer than the gap starts a new
  * session. Two forms, each gated against DuckDB:
  *
  *   - [[sessionizeBatch]] — classic lag + cumulative session ids (one
  *     window per user), and [[assignEventsToSessions]], the range
  *     join of every event back to its containing session
  *     (`q_range_join`);
  *   - [[sessionWindowSummaries]] — Spark's native `session_window`
  *     aggregate (`q_session_window`), whose boundary rule differs by
  *     design (see there).
  *
  * Both shuffle once by `user_id`; session boundaries depend only on
  * one user's sorted events, so the work is parallel across users with
  * no global state.
  */
object Sessionize {

  case class Session(user_id: Long, session_start: java.sql.Timestamp,
                     session_end: java.sql.Timestamp, n_events: Long, sum_value: Double)

  val GapMs: Long = 30 * 60 * 1000L // 30-minute inactivity gap

  /** Range join: assign every event to its containing session interval —
    * `user_id` equality carries the join (hash shuffle, no range
    * explosion), the `BETWEEN` rides as a post-join predicate. The classic
    * interval-assignment shape: at scale the equi key bounds each range
    * probe to one user's sessions.
    */
  def assignEventsToSessions(spark: SparkSession, dir: String): DataFrame = {
    val sessions = sessionizeBatch(spark, dir)
      .select(col("user_id"), col("session_start"), col("session_end"), col("n_events"))
    Tables.events(spark, dir).select(col("event_id"), col("user_id"), col("ts"))
      .join(sessions, Seq("user_id"))
      .filter(col("ts") >= col("session_start") && col("ts") <= col("session_end"))
      .select(col("event_id"), col("user_id"), col("session_start"),
        col("session_end"), col("n_events"))
  }

  /** DuckDB oracle: the same lag/cumsum sessionization and interval join. */
  def assignOracle: String =
    s"""WITH base AS (
       |  SELECT user_id, ts,
       |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
       |  FROM events
       |), flagged AS (
       |  SELECT user_id, ts,
       |    CASE WHEN prev_ts IS NULL
       |              OR epoch_ms(ts) - epoch_ms(prev_ts) > $GapMs THEN 1 ELSE 0 END AS new_session
       |  FROM base
       |), numbered AS (
       |  SELECT user_id, ts,
       |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
       |  FROM flagged
       |), sessions AS (
       |  SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
       |    count(*) AS n_events
       |  FROM numbered GROUP BY user_id, session_id
       |)
       |SELECT e.event_id, e.user_id, s.session_start, s.session_end, s.n_events
       |FROM events e JOIN sessions s
       |  ON e.user_id = s.user_id
       | AND e.ts >= s.session_start AND e.ts <= s.session_end""".stripMargin

  /** Batch sessionization via Spark's NATIVE `session_window` — the
    * idiomatic form of what [[sessionizeBatch]] hand-rolls. One hash
    * shuffle by `user_id`; merging runs inside each user's sorted group,
    * parallel across users — no global state.
    *
    * Boundary semantics differ from [[sessionizeBatch]]'s rule BY DESIGN:
    * session windows are half-open `[start, last_ts + gap)` and merge on
    * OVERLAP, so an event exactly `gap` after the previous one starts a
    * NEW session ([[sessionizeBatch]]'s `<= GapMs` keeps it). The oracle
    * mirrors the native rule (`>=` break) — fixture timestamps are
    * microsecond-random so the two rules agree there, but the gate pins
    * the native semantic exactly.
    */
  def sessionWindowSummaries(spark: SparkSession, dir: String): DataFrame =
    ScaleOps.widen(Tables.events(spark, dir))
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * 100).cast("long")).as("sum_value_cents"))
      .select(col("user_id"),
        col("sw").getField("start").as("session_start"),
        col("sw").getField("end").as("session_end"),
        col("n_events"), col("sum_value_cents"))

  /** DuckDB twin: gaps-and-islands with the native break rule (`>=` gap)
    * and `end = max(ts) + gap`.
    */
  def sessionWindowOracle: String =
    s"""WITH base AS (
       |  SELECT user_id, ts, value,
       |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
       |  FROM events
       |), flagged AS (
       |  SELECT user_id, ts, value,
       |    CASE WHEN prev_ts IS NULL
       |              OR epoch_ms(ts) - epoch_ms(prev_ts) >= $GapMs THEN 1 ELSE 0 END AS brk
       |  FROM base
       |), numbered AS (
       |  SELECT user_id, ts, value,
       |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       |  FROM flagged
       |)
       |SELECT user_id, min(ts) AS session_start,
       |  max(ts) + INTERVAL '$GapMs' MILLISECOND AS session_end,
       |  count(*) AS n_events,
       |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
       |FROM numbered GROUP BY user_id, sid""".stripMargin

  /** Classic gap sessionization over the fixture via lag + cumulative
    * session ids: a gap longer than [[GapMs]] starts a new session.
    */
  def sessionizeBatch(spark: SparkSession, dir: String): Dataset[Session] = {
    import spark.implicits._
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("value"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          (unix_millis(col("ts")) - unix_millis(col("prev_ts"))) > GapMs, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        (sum(floor(col("value") * 100).cast("long")).cast("double") / 100).as("sum_value"))
      .drop("session_id")
      .as[Session]
  }

  def queries: Seq[(String, Query)] = Seq(
    "q_range_join" -> Query((s, dir) => assignEventsToSessions(s, dir), assignOracle),
    "q_session_window" -> Query((s, dir) => sessionWindowSummaries(s, dir), sessionWindowOracle)
  )
}
