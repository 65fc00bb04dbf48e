package graft

import org.apache.spark.sql.functions._
import graft.ops.Events

class EventsSpec extends SparkSuite {

  test("batch hourly JSON aggregate: windows align to whole hours, k parsed as long") {
    val out = Events.hourlyJsonAgg(spark, Sf).cache()
    assert(out.count() > 0)
    val minuteParts = out.select(minute(col("hour_start"))).distinct().collect().map(_.getInt(0))
    assert(minuteParts.toSeq == Seq(0), "tumbling 1h windows start on the hour")
    assert(out.filter(col("sum_k").isNull).count() === 0)
  }

  test("gap fill: contiguous per-user hour series, forward-carried values") {
    val rows = graft.ops.Events.hourlyGapFill(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    val byUser = rows.groupBy(_._1)
    assert(byUser.nonEmpty)
    // recompute hourly sums driver-side
    val hourly = Tables.events(spark, Sf)
      .select(org.apache.spark.sql.functions.col("user_id"),
        org.apache.spark.sql.functions.expr("unix_timestamp(ts) div 3600").as("h"),
        org.apache.spark.sql.functions.expr("CAST(floor(value * 100) AS BIGINT)").as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    byUser.foreach { case (u, rs) =>
      val hs = rs.map(_._2).sorted
      assert(hs.sameElements(hs.min to hs.max), s"user $u series not contiguous")
      var carry = Long.MinValue
      rs.sortBy(_._2).foreach { case (_, h, present, filled) =>
        hourly.get((u, h)) match {
          case Some(c) =>
            assert(present == 1 && filled == c, s"user $u hour $h observed")
            carry = c
          case None =>
            assert(present == 0 && filled == carry, s"user $u hour $h gap must carry forward")
        }
      }
    }
    // the fill is doing real work: gaps exist in the fixture
    assert(rows.exists(_._3 == 0), "fixture has no gaps — the op is untested")
  }

  test("event paths: truncation at PathLen, full path for short users, tie order") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val us = 1000000L
    def t(ms: Long) = new java.sql.Timestamp(ms)
    val df = Seq(
      (1L, t(1), 10L, "a", 0.0, "{}"),
      (2L, t(2), 10L, "b", 0.0, "{}"),
      (3L, t(3), 10L, "c", 0.0, "{}"),
      (4L, t(4), 10L, "d", 0.0, "{}"),
      (5L, t(5), 10L, "e", 0.0, "{}"),
      (6L, t(6), 10L, "f", 0.0, "{}"), // 6th event: truncated away
      (8L, t(1), 20L, "y", 0.0, "{}"), // same-ms tie: event_id 7 first
      (7L, t(1), 20L, "x", 0.0, "{}"),
      (9L, t(9), 30L, "solo", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val tmp = java.nio.file.Files.createTempDirectory("paths").toString
    df.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = graft.ops.Events.eventPaths(spark, tmp).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a>b>c>d>e" -> 1L, "x>y" -> 1L, "solo" -> 1L))
  }
}
