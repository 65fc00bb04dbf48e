package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Unicode script detection — the stage BEFORE language ID in a
  * multilingual corpus (X9's n-gram heuristic assumes Latin text; a
  * Cyrillic or Han document must route to a different model, and the
  * script histogram is also the standard mojibake tripwire): count
  * letters per Unicode script property (Latin, Cyrillic, Greek, Han,
  * Kana, Arabic) with codegen'd regex counts, then pick the dominant
  * script by a FIXED priority order on ties — a total order, so both
  * engines agree exactly. Counts are script-property classes (the same
  * Unicode data tables under Java regex `\p{IsX}` and RE2 `\p{X}`),
  * never code-point ranges by hand.
  *
  * Per-row, map-only. Reference scope: extends X9's text analysis to
  * the multilingual north star.
  */
object Scripts {

  /** (name, Java regex class, RE2/DuckDB regex class) — priority order. */
  val Classes: Seq[(String, String, String)] = Seq(
    ("latin", "\\p{IsLatin}", "\\p{Latin}"),
    ("cyrillic", "\\p{IsCyrillic}", "\\p{Cyrillic}"),
    ("greek", "\\p{IsGreek}", "\\p{Greek}"),
    ("han", "\\p{IsHan}", "\\p{Han}"),
    ("kana", "\\p{IsHiragana}\\p{IsKatakana}", "\\p{Hiragana}\\p{Katakana}"),
    ("arabic", "\\p{IsArabic}", "\\p{Arabic}"))

  private def countClass(c: Column, javaClass: String): Column =
    (length(c) - length(regexp_replace(c, s"[$javaClass]", ""))).cast("long")

  /** Multilingual plant (doc_id % 7): one phrase per script plus a
    * deliberately TIED latin/cyrillic mix (14 letters each — the
    * priority tie-break is on the hot path); the doc_id suffix keeps
    * rows distinct without touching any letter count.
    */
  def plantText: Column = {
    val k = col("doc_id") % 7
    val phrase = when(k === 0, lit("the quick brown fox"))
      .when(k === 1, lit("привет мир как дела"))
      .when(k === 2, lit("γνωθι σεαυτον"))
      .when(k === 3, lit("学而时习之 不亦说乎"))
      .when(k === 4, lit("すもももももも モモノウチ"))
      .when(k === 5, lit("اقرأ في سبيل العلم"))
      .otherwise(lit("mixed текст with кириллица words"))
    concat(phrase, lit(" "), col("doc_id").cast("string"))
  }

  /** (doc_id, latin, cyrillic, greek, han, kana, arabic, n_letters,
    * script) over a (doc_id, text) frame.
    */
  def detect(df: DataFrame): DataFrame = {
    val counted = df.select(
      col("doc_id") +: Classes.map { case (n, j, _) => countClass(col("text"), j).as(n) }: _*)
    val total = Classes.map(c => col(c._1)).reduce(_ + _)
    // dominant = first class in priority order whose count equals the max
    val maxCount = greatest(Classes.map(c => col(c._1)): _*)
    val script = Classes.foldRight(lit("none")) { case ((n, _, _), rest) =>
      when(col(n) > 0 && col(n) === maxCount, n).otherwise(rest)
    }
    counted.select(
      (col("doc_id") +: Classes.map(c => col(c._1))) ++
        Seq(total.as("n_letters"), script.as("script")): _*)
  }

  def detected(spark: SparkSession, dir: String): DataFrame =
    detect(graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"), plantText.as("text")))

  def detectedOracle: String = {
    // NB: no line may START with `||` — the outer stripMargin would eat
    // one pipe and leave invalid SQL
    val phrase = """CASE doc_id % 7
      |      WHEN 0 THEN 'the quick brown fox'
      |      WHEN 1 THEN 'привет мир как дела'
      |      WHEN 2 THEN 'γνωθι σεαυτον'
      |      WHEN 3 THEN '学而时习之 不亦说乎'
      |      WHEN 4 THEN 'すもももももも モモノウチ'
      |      WHEN 5 THEN 'اقرأ في سبيل العلم'
      |      ELSE 'mixed текст with кириллица words' END || ' ' || CAST(doc_id AS VARCHAR)""".stripMargin
    val counts = Classes.map { case (n, _, re2) =>
      s"length(text) - length(regexp_replace(text, '[$re2]', '', 'g')) AS $n"
    }.mkString(",\n       |    ")
    val total = Classes.map(_._1).mkString(" + ")
    val maxOf = s"greatest(${Classes.map(_._1).mkString(", ")})"
    val caseChain = Classes.map { case (n, _, _) =>
      s"WHEN $n > 0 AND $n = $maxOf THEN '$n'"
    }.mkString("\n       |    ")
    s"""WITH t AS (
       |  SELECT doc_id, $phrase AS text FROM documents),
       |c AS (
       |  SELECT doc_id,
       |    $counts
       |  FROM t)
       |SELECT doc_id, ${Classes.map(_._1).mkString(", ")},
       |  CAST($total AS BIGINT) AS n_letters,
       |  CASE
       |    $caseChain
       |    ELSE 'none' END AS script
       |FROM c""".stripMargin
  }

  def queries: Seq[(String, Query)] = Seq(
    "q_script_detect" -> Query((s, dir) => detected(s, dir), detectedOracle)
  )
}
