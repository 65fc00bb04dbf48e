package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.text.{Normalize, TextOps}

/** Property-based coverage (SURVEY §5.3): the normalize chain and UD2
  * tokenizer hold their postconditions over generated inputs, not just
  * fixtures. Properties run through the SAME Scala function the Spark UDF
  * twin wraps, so they exercise the published spec directly (fast, no
  * Spark job per case); one bridge test pins the UDF registration surface
  * and expression-vs-UDF equality on a sample.
  *
  * (Raw scalacheck `Gen` driven by a sample loop — the scalatest bridge
  * artifact is not in the offline dependency cache.)
  */
class TextPropertySpec extends SparkSuite {

  private val seed = org.scalacheck.rng.Seed(42L)

  /** Deterministic 200-case sweep of `gen` through `check`. */
  private def forAll[T](gen: Gen[T])(check: T => Unit): Unit = {
    var s = seed
    var produced = 0
    while (produced < 200) {
      gen.apply(Gen.Parameters.default, s).foreach { v => check(v); produced += 1 }
      s = s.next
    }
  }

  private val wordGen = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)
  private val textGen: Gen[String] = for {
    words <- Gen.listOfN(12, Gen.oneOf(
      wordGen,
      Gen.oneOf(TextOps.Stopwords),                     // force stopword hits
      Gen.const("user@example.com"),                    // email strip target
      Gen.numStr.suchThat(_.nonEmpty),                  // digit strip target
      Gen.const("Encounter ID"), Gen.const("area AFFECTED")))
  } yield words.mkString(" ")

  test("normalize: second application only collapses residual whitespace (reference order)") {
    // The chain is deliberately NOT idempotent: the reference collapses
    // whitespace BEFORE stripping emails/paths/digits
    // (preprocess_and_store_parquets.py:126 before :128-132, mirrored in
    // Normalize.Replacements), so strips leave spaces a second pass would
    // collapse. The faithful invariant is: re-normalizing equals one
    // whitespace collapse + trim of the first output — nothing else changes.
    forAll(textGen) { t =>
      val once = Normalize.normalizeTextScala(t)
      val twice = Normalize.normalizeTextScala(once)
      assert(twice == once.replaceAll("\\s+", " ").trim)
    }
  }

  test("normalize: output never contains digits, emails, or domain keywords") {
    forAll(textGen) { t =>
      val out = Normalize.normalizeTextScala(t)
      assert(!out.exists(_.isDigit))
      assert(!out.contains("@"))
      assert(!out.contains("encounter id") && !out.contains("area affected"))
      assert(out == out.trim)
    }
  }

  test("normalize: null-safe and empty-safe") {
    assert(Normalize.normalizeTextScala(null) == null)
    assert(Normalize.normalizeTextScala("") == "")
    assert(Normalize.normalizeTextScala("   ") == "")
  }

  private def preprocessScala(t: String): Seq[String] = {
    // mirror of the Catalyst composition (tokenize → stopword filter → lemma)
    val toks = t.trim.split("\\s+").toSeq.filter(_.nonEmpty)
    val stopped = toks.filterNot(TextOps.Stopwords.contains)
    stopped.map { w =>
      if (w.endsWith("ies") && w.length > 4) w.dropRight(3) + "y"
      else if (w.endsWith("sses")) w.dropRight(2)
      else if (w.endsWith("ss")) w
      else if (w.endsWith("s") && w.length > 3) w.dropRight(1)
      else if (w.endsWith("ing") && w.length > 5) w.dropRight(3)
      else if (w.endsWith("ed") && w.length > 4) w.dropRight(2)
      else w
    }
  }

  test("preprocess: no stopword ever survives") {
    forAll(textGen) { t =>
      assert(preprocessScala(t).intersect(TextOps.Stopwords).isEmpty)
    }
  }

  test("preprocess: output token count never exceeds input token count") {
    forAll(textGen) { t =>
      val in = t.trim.split("\\s+").count(_.nonEmpty)
      assert(preprocessScala(t).length <= in)
    }
  }

  test("the Scala mirror matches the Catalyst composition on generated texts") {
    import spark.implicits._
    val samples = Gen.listOfN(50, textGen).sample.get
    val fromSpark = samples.toDF("text")
      .select(TextOps.preprocess(col("text")).as("p"))
      .collect().map(_.getSeq[String](0).toSeq)
    assert(fromSpark.toSeq == samples.map(preprocessScala))
  }

  test("rolling hash: codegen expression equals the builtin-only HOF twin") {
    import spark.implicits._
    val samples = Gen.listOfN(60, textGen).sample.get ++
      Seq("", "a", "exact ascii words 123", "tabs\tand\nnewlines  doubled")
    val rows = samples.toDF("text")
      .select(graft.text.Analysis.rollingHash(col("text")).as("cg"),
        graft.text.Analysis.rollingHashHof(col("text")).as("hof"))
      .collect()
    rows.foreach(r => assert(r.getLong(0) === r.getLong(1), r.toString))
  }

  test("keyword normalizer: every fold-table char maps to lowercase ASCII") {
    import spark.implicits._
    import graft.text.Keyword
    val folded = Seq(Keyword.FoldFrom + Keyword.FoldFrom.toUpperCase)
      .toDF("s").select(Keyword.keywordNormalize(col("s"))).collect()(0).getString(0)
    // (no length assertion: "ß".toUpperCase is the two-char "SS", which
    // lowercases to plain ASCII "ss" rather than passing through the fold)
    assert(folded.forall(c => c < 128 && !c.isUpper), s"unfolded output: $folded")
  }

  test("UDF registration surface: registered normalize UDF equals the expression form") {
    import spark.implicits._
    spark.udf.register("normalize_text", Normalize.normalizeTextScala)
    // Spark's trim strips spaces only: control characters at either end,
    // NBSP, U+2003 and tabs must survive or collapse exactly as there
    val samples = Gen.listOfN(50, textGen).sample.get ++ Seq(
      "\u0001abc", "abc\u0002", "\u0001 Encounter ID 42 \u0002", "\u00a0nbsp\u00a0",
      "em\u2003space\u2003", "\ttab\tseparated\t", " \t mixed \u00a0\u2003 ")
    val df = samples.toDF("text")
    df.createOrReplaceTempView("prop_texts")
    val viaUdf = spark.sql("SELECT normalize_text(text) AS n FROM prop_texts")
      .collect().map(_.getString(0))
    val viaExpr = df.select(Normalize.normalizeText(col("text")).as("n"))
      .collect().map(_.getString(0))
    assert(viaUdf.toSeq == viaExpr.toSeq)
  }
}
