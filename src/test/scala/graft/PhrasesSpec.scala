package graft

import org.apache.spark.sql.functions._
import graft.text.Phrases

class PhrasesSpec extends SparkSuite {

  test("mergeTokens is greedy, left-to-right, non-overlapping") {
    import spark.implicits._
    val phrases = Seq("new york", "york times", "a b")
    val cases = Seq(
      (Seq("new", "york", "times"), Seq("new_york", "times")), // greedy eats the left pair
      (Seq("x", "new", "york", "y"), Seq("x", "new_york", "y")),
      (Seq("a", "b", "a", "b"), Seq("a_b", "a_b")),            // non-overlap: pairs chain
      (Seq("a", "a", "b"), Seq("a", "a_b")),
      (Seq("york", "times"), Seq("york_times")),               // no left competitor
      (Seq("plain", "words"), Seq("plain", "words")),
      (Seq.empty[String], Seq.empty[String]))
    val got = cases.map(_._1).toDF("toks")
      .select(Phrases.mergeTokens(col("toks"), phrases).as("m"))
      .collect().map(_.getSeq[String](0).toSeq)
    assert(got === cases.map(_._2))
  }

  test("planted collocations qualify; random co-occurrence does not") {
    val m = Phrases.model(Phrases.tokenArrays(spark, Sf))
      .select(concat_ws(" ", col("a"), col("b"))).collect().map(_.getString(0)).toSet
    // every planted bigram (and the trigram's two halves) is in the model
    val expected = Phrases.ProbePhrases.flatMap { p =>
      val w = p.split(' '); w.sliding(2).map(_.mkString(" "))
    }.toSet
    assert(expected.subsetOf(m), s"planted phrases missing from model: ${expected -- m}")
    // random fixture pairs (uniform word salad, lift ≈ 1) never qualify:
    // no model pair has BOTH sides from the fixture vocabulary
    val probeWords = Phrases.ProbePhrases.flatMap(_.split(' ')).toSet
    val fixtureOnly = m.filter(_.split(' ').forall(w => !probeWords(w)))
    assert(fixtureOnly.isEmpty, s"chance pairs qualified: $fixtureOnly")
  }

  test("two passes finish the planted trigram") {
    val terms = Phrases.applyTrigrams(spark, Sf)
      .filter(col("term") === "new_york_times")
    assert(terms.count() > 0)
    // and pass 1 alone cannot
    val bi = Phrases.applyBigrams(spark, Sf)
      .filter(col("term") === "new_york_times")
    assert(bi.count() === 0)
    // pass 1 merges the left pair of the trigram greedily
    assert(Phrases.applyBigrams(spark, Sf)
      .filter(col("term") === "new_york").count() > 0)
  }

  test("merge positions are dense per document") {
    val rows = Phrases.applyBigrams(spark, Sf)
      .filter(col("doc_id") === 4) // residue 4: new york times planted
      .orderBy("pos").collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(1)).toSeq === (0L until rows.length).toSeq)
  }

  test("codegen'd merge equals the HOF-fold twin on the fixture and edge cases") {
    import spark.implicits._
    val phrases = Seq("machine learning", "new york", "york times", "a b")
    // fixture arrays (probed corpus) + adversarial hand cases
    val fixture = Phrases.tokenArrays(spark, Sf).select(col("toks"))
    val edges = Seq(
      Seq.empty[String], Seq("a"), Seq("a", "b"), Seq("a", "b", "a", "b"),
      Seq("new", "york", "times"), Seq("_", "a b", "a_b"), Seq("a", "a", "b", "b"))
      .toDF("toks")
    for (df <- Seq(fixture, edges)) {
      val both = df.select(
        Phrases.mergeTokens(col("toks"), phrases).as("fast"),
        Phrases.mergeTokensFold(col("toks"), phrases).as("slow"))
      assert(both.filter(!(col("fast") <=> col("slow"))).count() === 0,
        "codegen'd phrase_merge diverged from the fold twin")
    }
  }

  test("phrase_merge participates in whole-stage codegen (no silent fallback)") {
    val code = try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      org.apache.spark.sql.execution.debug.codegenString(
        Phrases.tokenArrays(spark, Sf)
          .select(Phrases.mergeTokens(col("toks"), Seq("machine learning")))
          .queryExecution.executedPlan)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(code.contains("graft.plans.PhraseMerge.computeWithSet"),
      "a literal phrase side must codegen the HOISTED-set call — " +
        "compute(toks, phrases, sep) here means the per-row rebuild came back")
    assert(!code.contains("Found 0 WholeStageCodegen subtrees"), code.linesIterator.take(3).mkString("\n"))
  }

  test("foldable phrase side builds the probe set O(1) times per scan, flat in m") {
    // a planted 1k-phrase model: the scale shape a real phrase table has;
    // per-row rebuild would be m inserts × rows and dominate the scan
    val model1k = (1 to 1024).map(i => s"left$i right$i")
    val n = Phrases.tokenArrays(spark, Sf).count()
    val before = graft.plans.PhraseMerge.setBuilds.get()
    val out = Phrases.tokenArrays(spark, Sf)
      .select(Phrases.mergeTokens(col("toks"), model1k).as("toks"))
    assert(out.count() === n)
    val builds = graft.plans.PhraseMerge.setBuilds.get() - before
    assert(builds < 32 && builds < n,
      s"$builds set builds for $n rows — the foldable-side hoist is not engaging")
  }

  test("the merge itself adds no shuffle: model-sized collect, per-row fold") {
    // the apply plan's exchanges all come from the model build (counts) —
    // the merged-stream side is the widen round-robin + per-row fold only
    val tokDf = Phrases.tokenArrays(spark, Sf)
    val merged = tokDf.select(col("doc_id"),
      Phrases.mergeTokens(col("toks"), Seq("machine learning")).as("toks"))
    val plan = merged.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), s"merge grew a shuffle:\n$plan")
  }
}
