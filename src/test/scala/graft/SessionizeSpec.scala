package graft

import org.apache.spark.sql.functions._
import graft.ops.Sessionize
import graft.ops.Sessionize.Session

class SessionizeSpec extends SparkSuite {

  test("batch twin sessionizes the fixture with positive session lengths") {
    val s = Sessionize.sessionizeBatch(spark, Sf).cache()
    assert(s.count() > 0)
    import spark.implicits._
    assert(s.filter(col("session_end") < col("session_start")).count() === 0)
    assert(s.filter(col("n_events") <= 0).count() === 0)
    // sessions per user never overlap: starts sorted == merged intervals
    val bad = s.as[Session].groupByKey(_.user_id).flatMapGroups { (_, it) =>
      val xs = it.toSeq.sortBy(_.session_start.getTime)
      xs.sliding(2).collect {
        case Seq(a, b) if b.session_start.getTime - a.session_end.getTime <= Sessionize.GapMs => 1
      }
    }.count()
    assert(bad === 0, "consecutive sessions of a user must be separated by more than the gap")
  }
}
