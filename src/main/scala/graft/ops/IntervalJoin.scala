package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Bucketed interval-containment join — "which maintenance / crawl /
  * quiet window does each event fall into", the join shape engines
  * without a native range join either cartesian (corpus × intervals)
  * or funnel through a broadcast that stops fitting the moment the
  * interval side is per-entity. The relational rewrite that scales:
  *
  *   1. pick a chunk width C ≥ the longest interval;
  *   2. replicate each interval into every C-chunk it overlaps —
  *      at most ⌈len/C⌉+1 ≤ 2 copies by construction;
  *   3. events join on the EQUI key (entity, chunk) — an ordinary
  *      hash join, co-partitioned, no broadcast of anything
  *      entity-sized — then filter exact containment.
  *
  * An event meets a given interval in exactly ONE chunk (its own), so
  * the rewrite needs no post-join dedup — `IntervalJoinSpec` pins
  * that, the ≤2 replication bound, and the no-cartesian plan. The
  * oracle is the direct theta join (the SPEC); the gate proves the
  * bucketed plan equals it.
  *
  * Fixture: six deterministic per-user windows (1–2 h each, stride 5
  * days, user-salted phase) against the events table; matches are the
  * sparse realistic case (~9 h of coverage per 30-day user).
  */
object IntervalJoin {

  /** Chunk width, seconds — ≥ the longest planted interval (2 h). */
  val ChunkSec = 21600L

  /** Planted windows per user. */
  val WindowsPerUser = 6

  /** (user_id, ivl, s, e) in epoch seconds, [s, e). */
  def intervals(spark: SparkSession, dir: String): DataFrame = {
    val base = lit(1704067200L) // 2024-01-01T00:00:00Z, the fixture epoch
    Tables.events(spark, dir).select(col("user_id")).distinct()
      .select(col("user_id"),
        explode(sequence(lit(0), lit(WindowsPerUser - 1))).as("ivl"))
      .select(col("user_id"), col("ivl"),
        (base + col("user_id") * 137L + col("ivl") * 432000L).as("s"))
      .withColumn("e",
        col("s") + lit(3600L) + ((col("user_id") + col("ivl")) % 3) * 1800L)
  }

  /** (event_id, user_id, ivl, t_sec) — every event inside one of its
    * user's windows.
    */
  def joined(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.ops.ScaleOps.widen(Tables.events(spark, dir))
      .select(col("event_id"), col("user_id"),
        expr("unix_timestamp(ts)").as("t"))
      .withColumn("chunk", expr(s"t DIV $ChunkSec"))
    val ivl = intervals(spark, dir)
      .withColumn("chunk",
        explode(sequence(expr(s"s DIV $ChunkSec"), expr(s"(e - 1) DIV $ChunkSec"))))
    ev.join(ivl, Seq("user_id", "chunk"))
      .filter(col("t") >= col("s") && col("t") < col("e"))
      .select(col("event_id"), col("user_id"), col("ivl").cast("long").as("ivl"),
        col("t").as("t_sec"))
  }

  def joinedOracle: String =
    s"""WITH u AS (SELECT DISTINCT user_id FROM events),
       |ivl AS (
       |  SELECT user_id, j.i AS ivl,
       |    1704067200 + user_id * 137 + j.i * 432000 AS s,
       |    1704067200 + user_id * 137 + j.i * 432000
       |      + 3600 + ((user_id + j.i) % 3) * 1800 AS e
       |  FROM u, unnest(range(0, $WindowsPerUser)) AS j(i)),
       |ev AS (
       |  SELECT event_id, user_id, epoch_ms(ts) // 1000 AS t FROM events)
       |SELECT e.event_id, e.user_id, CAST(i.ivl AS BIGINT) AS ivl,
       |  CAST(e.t AS BIGINT) AS t_sec
       |FROM ev e JOIN ivl i
       |  ON e.user_id = i.user_id AND e.t >= i.s AND e.t < i.e""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_interval_join" -> Query((s, dir) => joined(s, dir), joinedOracle)
  )
}
