package graft

import org.apache.spark.sql.functions._

import graft.text.LangProfile

/** Profile-based language ID: planted-corpus exactness, evidence
  * semantics on mixed and unseen scripts, and the broadcast plan shape.
  */
class LangProfileSpec extends SparkSuite {

  import spark.implicits._

  private lazy val profile = LangProfile.plantedProfiles(spark, Sf)

  test("planted profiles: five languages, charsets (hence grams) disjoint") {
    val byLang = profile.collect().groupBy(_.getString(0))
    assert(byLang.keySet == Set("ara", "cjk", "cyr", "grk", "lat"))
    val gramSets = byLang.view.mapValues(_.map(_.getString(1)).toSet).toMap
    for ((a, ga) <- gramSets; (b, gb) <- gramSets if a < b)
      assert(ga.intersect(gb).isEmpty, s"$a and $b share grams")
  }

  test("held-out classification: odd docs never trained, all predicted correctly") {
    val out = LangProfile.plantedClassify(spark, Sf)
      .filter(col("doc_id") % 2 === 1)
    assert(out.count() > 0)
    assert(out.filter(col("lang_true") =!= col("lang_pred")).count() == 0)
  }

  test("mixed-script doc goes to the majority script; ties break by language name") {
    val docs = Seq(
      // 2 latin tokens vs 1 cyrillic token -> lat
      (1L, "abc abd абв"),
      // exactly balanced evidence: same token shape both scripts;
      // equal scores require equal profile frequencies, which the
      // symmetric plant provides gram-for-gram -> tie -> 'cyr' < 'lat'
      (2L, "abc абв")).toDF("doc_id", "text")
    val got = LangProfile.classify(docs, profile)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "lat")
    assert(got(2L) == "cyr" || got(2L) == "lat") // scores may differ; pin below
    // the tie-break contract itself, pinned with a hand-built profile
    val p2 = Seq(("aa", "xx", 10L, 100L), ("bb", "yy", 10L, 100L))
      .toDF("lang", "gram", "cnt", "f")
    val tied = LangProfile.classify(Seq((9L, "xx yy")).toDF("doc_id", "text"), p2)
      .collect()(0)
    assert(tied.getString(1) == "aa", "equal scores must break by lang ascending")
  }

  test("a doc with no profiled gram carries no evidence and is absent") {
    val docs = Seq((7L, "χψω ΩΨΧ"), (8L, "abc")).toDF("doc_id", "text")
    val got = LangProfile.classify(docs, profile)
      .collect().map(r => r.getLong(0)).toSet
    assert(got == Set(8L), s"unseen-script doc must be absent, got $got")
  }

  test("plan shape: classification joins the profile by BROADCAST, no sort-merge") {
    val plan = LangProfile.plantedClassify(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
  }
}
