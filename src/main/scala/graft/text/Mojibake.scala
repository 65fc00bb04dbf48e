package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Mojibake repair gate (X221) — the fixture/oracle wrapper around
  * [[graft.plans.FixMojibake]]. Six vectors, one corruption class
  * each; raw and repaired forms are shared Scala constants so the
  * plant and the oracle literally cannot drift:
  *
  *   0: clean ASCII (identity)
  *   1: single-hop Latin-1 mojibake (cafÃ© → café)
  *   2: DOUBLE mojibake through a cp1252 hop (cafÃƒÂ© → café)
  *   3: genuine extended-Latin text that must NOT change — "Grüße"
  *      reverses to invalid UTF-8, the guard that protects real text
  *   4: cp1252 smart-quote mojibake (donâ€™t → don’t)
  *   5: CJK through Latin-1 (æ—¥æœ¬ → 日本)
  */
object Mojibake {

  // (raw, fixed) vectors — \u escapes so no editor can mangle the
  // corruption under test
  private[graft] val Vectors: Seq[(String, String)] = Seq(
    ("caf\u00C3\u00A9 menu", "caf\u00E9 menu"),
    ("caf\u00C3\u0192\u00C2\u00A9 bar", "caf\u00E9 bar"),
    ("Gr\u00FC\u00DFe aus Wien", "Gr\u00FC\u00DFe aus Wien"),
    ("don\u00E2\u20AC\u2122t stop", "don\u2019t stop"),
    ("\u00E6\u2014\u00A5\u00E6\u0153\u00AC corpus", "\u65E5\u672C corpus"))

  def fixOf(c: Column): Column =
    org.apache.spark.sql.GraftColumnShim.column(
      graft.plans.FixMojibake(org.apache.spark.sql.GraftColumnShim.expression(c)))

  def plantRaw: Column = {
    val id = col("doc_id")
    Vectors.zipWithIndex.foldLeft(
      when(id % 6 === 0, concat(lit("plain ascii "), (id % 97).cast("string")))) {
      case (acc, ((raw, _), i)) => acc.when(id % 6 === (i + 1), lit(raw))
    }.otherwise(lit("unreachable"))
  }

  def repaired(spark: SparkSession, dir: String): DataFrame =
    graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"), plantRaw.as("raw"))
      .select(col("doc_id"), col("raw"), fixOf(col("raw")).as("fixed"))

  private def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  def oracle: String = {
    val rawCases = Vectors.zipWithIndex
      .map { case ((raw, _), i) => s"WHEN ${i + 1} THEN ${sqlLit(raw)}" }
      .mkString("\n       |    ", "\n       |    ", "")
    val fixCases = Vectors.zipWithIndex
      .map { case ((_, fix), i) => s"WHEN ${i + 1} THEN ${sqlLit(fix)}" }
      .mkString("\n       |    ", "\n       |    ", "")
    s"""SELECT doc_id,
       |  CASE doc_id % 6
       |    WHEN 0 THEN 'plain ascii ' || CAST(doc_id % 97 AS VARCHAR)$rawCases
       |  END AS raw,
       |  CASE doc_id % 6
       |    WHEN 0 THEN 'plain ascii ' || CAST(doc_id % 97 AS VARCHAR)$fixCases
       |  END AS fixed
       |FROM documents""".stripMargin
  }

  def queries: Seq[(String, Query)] = Seq(
    "q_fix_mojibake" -> Query((s, dir) => repaired(s, dir), oracle)
  )
}
