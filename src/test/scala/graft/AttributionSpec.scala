package graft

import org.apache.spark.sql.functions._
import graft.ops.Attribution

class AttributionSpec extends SparkSuite {

  test("every attributed purchase picks the true most-recent view") {
    val cand = Attribution.candidates(spark, Sf)
      .select("purchase_id", "view_id", "vus", "pus").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val want = cand.groupBy(_._1).map { case (pid, rows) =>
      val best = rows.maxBy(r => (r._3, r._2))
      pid -> (best._2, best._4 - best._3)
    }
    val got = Attribution.lastTouch(spark, Sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got == want)
    assert(got.nonEmpty, "fixture must attribute something")
  }

  test("purchases without a qualifying view are absent, not null-filled") {
    val attributed = Attribution.lastTouch(spark, Sf)
      .select("purchase_id").collect().map(_.getLong(0)).toSet
    val all = Attribution.purchases(spark, Sf)
      .select("purchase_id").collect().map(_.getLong(0)).toSet
    assert(attributed.subsetOf(all))
    assert(attributed.size < all.size,
      "some purchase must fall outside every view's horizon")
  }

  test("plan: user-keyed join + one partial-agg argmax, no window over the join") {
    val plan = Attribution.lastTouch(spark, Sf).queryExecution.executedPlan.toString
    assert(!plan.contains("WindowExec") && !plan.contains("Window "),
      s"last-touch must be a max(struct) aggregate, not a ranking window:\n$plan")
  }
}
