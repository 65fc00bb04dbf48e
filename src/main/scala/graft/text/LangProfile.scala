package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Profile-based language identification — the CLD/Cavnar-Trenkle
  * family done relationally, replacing guesswork with COUNTING: X9's
  * lang-ID is a Latin-centric function-word heuristic (useless on
  * Cyrillic/Greek/CJK/Arabic text, which X155 script routing only
  * coarsely buckets); real pipelines classify with per-language
  * character-n-gram profile tables built from labeled text.
  *
  *   - TRAIN ([[profiles]]): count char bigrams (within-token,
  *     multiplicity kept) over a labeled corpus, one profile row per
  *     (lang, gram) with the per-million frequency
  *     `f = (1e6·cnt) DIV total(lang)` — integer-exact in both
  *     engines, the [[QualityTrain]] counting discipline;
  *   - CLASSIFY ([[classify]]): a document's score for a language is
  *     the SUM of profile frequencies of its bigrams (multiplicity
  *     kept; grams absent from a profile contribute 0) — the
  *     integer-exact profile distance; argmax wins, ties break by
  *     language name ascending, documents with no profiled gram at
  *     all carry no evidence and are ABSENT (the [[QualityModel]]
  *     no-verdict contract, spec-pinned on an unseen-script doc).
  *
  * The fixture corpus's `lang` column carries NO character-level
  * signal (every language draws the same ASCII vocabulary — by
  * design), so the gates PLANT a five-script corpus with disjoint
  * charsets (Latin/Cyrillic/Greek/CJK/Arabic, deterministic from
  * doc_id): profiles train on EVEN doc_ids only, every doc (odd =
  * held out) classifies back to its planted language.
  * `q_lang_profile_model` mirrors the trained table exactly in DuckDB;
  * `q_lang_profile` answers with the closed-form predictions.
  *
  * Scale shape: training is one explode + one vocab-sized count
  * exchange; classification explodes bigrams, joins the BROADCAST
  * profile table (lang-count × gram-count rows — model-sized), and
  * aggregates per document. No corpus-sized shuffle carries text.
  */
object LangProfile {

  /** Disjoint per-language charsets — disjointness makes the planted
    * classification's closed form provable (no cross-language gram).
    */
  val Charsets: Seq[(String, String)] = Seq(
    "ara" -> "ابتثج",
    "cjk" -> "一二三四五",
    "cyr" -> "абвгд",
    "grk" -> "αβγδε",
    "lat" -> "abcde")

  val TokensPerDoc = 30

  /** The planted five-script corpus: (doc_id, lang_true, text) —
    * lang by doc_id mod 5, token j = three chars of the language's
    * charset at indices (j, 2j+1, doc_id+j) mod 5.
    */
  def planted(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"))
    val li = (col("doc_id") % 5).cast("int")
    val names = array(Charsets.map(c => lit(c._1)): _*)
    val sets = array(Charsets.map(c => lit(c._2)): _*)
    val cs = element_at(sets, li + 1)
    def ch(i: Column): Column = cs.substr((i + 1).cast("int"), lit(1))
    val text = array_join(transform(sequence(lit(0), lit(TokensPerDoc - 1)),
      j => concat(
        ch(j % 5),
        ch((j * 2 + 1) % 5),
        ch((col("doc_id") + j) % 5))), " ")
    docs.select(col("doc_id"),
      element_at(names, li + 1).as("lang_true"), text.as("text"))
  }

  /** Within-token char bigrams, multiplicity kept: (…, gram).
    * Single-char tokens carry no bigram and are filtered BEFORE the
    * sequence call (Spark's `sequence(1, 0)` runs DESCENDING — it
    * would fabricate positions 1 and 0, not an empty list).
    */
  private def grams(df: DataFrame, keep: Column*): DataFrame =
    df.select(keep :+ explode(split(col("text"), " ")).as("tok"): _*)
      .filter(length(col("tok")) >= 2)
      .select(keep :+ explode(expr(
        "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))")).as("gram"): _*)

  /** Train profile rows (lang, gram, cnt, f) from a labeled corpus
    * (lang_true, text): per-million frequency within the language.
    */
  def profilesFrom(labeled: DataFrame): DataFrame = {
    val g = grams(labeled, col("lang_true"))
    val counts = g.groupBy(col("lang_true").as("lang"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("lang"))
    counts
      .withColumn("tot", sum(col("cnt")).over(w))
      .select(col("lang"), col("gram"), col("cnt"),
        expr("(1000000 * cnt) DIV tot").as("f"))
  }

  /** Classify (doc_id, text) against a profile table: the argmax
    * language by summed gram frequency; no-evidence docs absent.
    */
  def classify(docs: DataFrame, profile: DataFrame): DataFrame = {
    val scored = grams(docs, col("doc_id"))
      .join(broadcast(profile.select(col("lang"), col("gram"), col("f"))), Seq("gram"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("f")).as("score"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("lang").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang").as("lang_pred"), col("score"))
  }

  /** q_lang_profile_model: profiles trained on the EVEN planted docs. */
  def plantedProfiles(spark: SparkSession, dir: String): DataFrame =
    profilesFrom(planted(spark, dir).filter(col("doc_id") % 2 === 0))

  /** q_lang_profile: every planted doc (odd = held out from training)
    * classified; disjoint charsets make the answer closed-form.
    */
  def plantedClassify(spark: SparkSession, dir: String): DataFrame = {
    val p = planted(spark, dir)
    classify(p.select(col("doc_id"), col("text")), plantedProfiles(spark, dir))
      .join(p.select(col("doc_id"), col("lang_true")), Seq("doc_id"))
      .select(col("doc_id"), col("lang_true"), col("lang_pred"))
  }

  /** The planted corpus in DuckDB — same text, char for char. */
  private def plantedSql: String = {
    val names = Charsets.map(c => s"'${c._1}'").mkString(", ")
    val sets = Charsets.map(c => s"'${c._2}'").mkString(", ")
    s"""plant AS (
       |  SELECT doc_id,
       |    ([$names])[CAST(doc_id % 5 AS INTEGER) + 1] AS lang_true,
       |    ([$sets])[CAST(doc_id % 5 AS INTEGER) + 1] AS cs
       |  FROM documents),
       |built AS (
       |  SELECT doc_id, lang_true,
       |    array_to_string(list_transform(range(0, $TokensPerDoc), j ->
       |      substr(cs, CAST(j % 5 AS INTEGER) + 1, 1) ||
       |      substr(cs, CAST((j * 2 + 1) % 5 AS INTEGER) + 1, 1) ||
       |      substr(cs, CAST((doc_id + j) % 5 AS INTEGER) + 1, 1)), ' ') AS text
       |  FROM plant)""".stripMargin
  }

  def profilesOracle: String =
    s"""WITH $plantedSql,
       |toks AS (
       |  SELECT lang_true AS lang, unnest(string_split(text, ' ')) AS tok
       |  FROM built WHERE doc_id % 2 = 0),
       |g AS (
       |  SELECT lang, unnest(list_transform(range(1, length(tok)), i ->
       |    substr(tok, CAST(i AS INTEGER), 2))) AS gram
       |  FROM toks),
       |counts AS (
       |  SELECT lang, gram, CAST(count(*) AS BIGINT) AS cnt
       |  FROM g GROUP BY lang, gram),
       |tots AS (
       |  SELECT lang, CAST(sum(cnt) AS BIGINT) AS tot FROM counts GROUP BY lang)
       |SELECT c.lang, c.gram, c.cnt, (1000000 * c.cnt) // t.tot AS f
       |FROM counts c JOIN tots t USING (lang)""".stripMargin

  /** Closed form: disjoint charsets mean every doc's grams score ONLY
    * in its own language's profile — prediction = truth, for held-out
    * odd docs too.
    */
  def classifyOracle: String = {
    val names = Charsets.map(c => s"'${c._1}'").mkString(", ")
    s"""SELECT doc_id,
       |  ([$names])[CAST(doc_id % 5 AS INTEGER) + 1] AS lang_true,
       |  ([$names])[CAST(doc_id % 5 AS INTEGER) + 1] AS lang_pred
       |FROM documents""".stripMargin
  }

  def queries: Seq[(String, Query)] = Seq(
    "q_lang_profile_model" -> Query((s, dir) => plantedProfiles(s, dir), profilesOracle),
    "q_lang_profile" -> Query((s, dir) => plantedClassify(s, dir), classifyOracle)
  )
}
