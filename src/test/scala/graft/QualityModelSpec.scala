package graft

import org.apache.spark.sql.functions._
import graft.text.QualityModel

class QualityModelSpec extends SparkSuite {

  test("classifier scores every tokenized document exactly once") {
    val out = QualityModel.score(spark, Sf).cache()
    val docs = Tables.documents(spark, Sf).count()
    assert(out.count() === docs, "fixture docs all tokenize non-empty")
    assert(out.groupBy("doc_id").count().filter(col("count") > 1).count() === 0)
  }

  test("the gate exercises both verdicts (threshold sits mid-range)") {
    val out = QualityModel.score(spark, Sf)
    val kept = out.filter(col("keep")).count()
    val dropped = out.filter(!col("keep")).count()
    assert(kept > 0, "no document kept — threshold too high for the fixture weights")
    assert(dropped > 0, "no document dropped — threshold too low for the fixture weights")
  }

  test("score is the exact integer mean: sum_w and n_toks reproduce score_q") {
    val bad = QualityModel.score(spark, Sf)
      .filter(col("score_q") =!=
        expr("(1000 * sum_w - pmod(1000 * sum_w, n_toks)) DIV n_toks"))
    assert(bad.count() === 0)
  }

  test("weight table broadcasts; token stream never shuffles to meet it") {
    val plan = QualityModel.score(spark, Sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"weights must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"token stream must not shuffle to the join:\n$plan")
  }

  test("weights are deterministic across evaluations") {
    val a = QualityModel.weights(spark, Sf).orderBy("slot").collect().toSeq
    val b = QualityModel.weights(spark, Sf).orderBy("slot").collect().toSeq
    assert(a === b)
  }
}
