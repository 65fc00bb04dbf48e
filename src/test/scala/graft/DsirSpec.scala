package graft

import org.apache.spark.sql.functions._

import graft.text.Dsir

/** DSIR importance weighting: the selection property it exists for
  * (target-looking text up-weighted), deterministic scoring, one-pass
  * feature reuse, and per-language selection behavior.
  */
class DsirSpec extends SparkSuite {
  import spark.implicits._

  test("target-language docs average a higher weight than the rest") {
    val w = Dsir.importanceWeights(spark, Sf).persist()
    val avg = w.groupBy(col("lang") === Dsir.TargetLang)
      .agg((sum("weight_bits") / count(lit(1))).as("mean"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(avg(true) > avg(false),
      s"English docs must up-weight under the English target: $avg")
    w.unpersist()
  }

  test("a raw doc written in the target vocabulary outranks one that is not") {
    // target = 'en' docs; doc 10 (lang xx) copies the target vocabulary,
    // doc 11 (lang xx) shares nothing with it
    val docs = Seq(
      (1L, "alpha beta gamma delta", "en"),
      (2L, "alpha beta epsilon zeta", "en"),
      (3L, "beta gamma alpha zeta", "en"),
      (10L, "alpha beta gamma zeta", "xx"),
      (11L, "uno dos tres cuatro", "xx")
    ).toDF("doc_id", "text", "lang")
    val w = Dsir.importanceWeightsOf(docs).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("weight_bits")).toMap
    assert(w(10L) > w(11L), s"target-vocab doc must score higher: $w")
  }

  test("scoring is deterministic and covers every non-empty doc") {
    val a = Dsir.importanceWeights(spark, Sf).orderBy("doc_id").collect().toSeq
    val b = Dsir.importanceWeights(spark, Sf).orderBy("doc_id").collect().toSeq
    assert(a == b)
    val nonEmpty = Tables.documents(spark, Sf)
      .filter(size(graft.text.TextOps.tokenize(col("text"))) > 0).count()
    assert(a.size.toLong == nonEmpty)
  }

  test("feature subtree is computed once across model/total/scoring branches") {
    // r15: the feature pass is map-only (no Exchange for AQE to reuse);
    // sharing now rides the Caches-registered persist — every branch
    // must read the feature stream through the cache, and the window
    // shuffle the old form paid must stay gone
    val df = Dsir.importanceWeights(spark, Sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("InMemoryTableScan"),
      s"feature pass recomputed per branch (no cache scan):\n$p")
    assert(!p.contains("Window"),
      s"bigram build must be map-only (zip_with), not a lag window:\n$p")
    graft.ops.Caches.release()
  }

  test("per-language p75 selection keeps each language's own top slice") {
    val sel = Dsir.selectTop(spark, Sf).persist()
    val w = Dsir.importanceWeights(spark, Sf).persist()
    val perLangAll = w.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val perLangSel = sel.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    perLangAll.foreach { case (lang, n) =>
      val kept = perLangSel.getOrElse(lang, 0L)
      assert(kept > 0, s"$lang lost every doc")
      // p75 threshold keeps at least a quarter (ties can push higher,
      // never lower), and must actually select, not pass everything
      assert(kept * 4 >= n, s"$lang kept $kept of $n — below the p75 floor")
      assert(kept < n, s"$lang kept everything — threshold did not bite")
    }
    assert(sel.filter(col("weight_bits") < col("threshold")).count() == 0)
    sel.unpersist(); w.unpersist()
  }
}
