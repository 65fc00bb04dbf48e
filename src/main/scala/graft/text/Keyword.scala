package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** E14 — the ES keyword normalizer (`lowercase` + `asciifolding`,
  * `sql_to_es_etl.py:102,111-120`) re-expressed as a native expression so
  * sink-side comparisons behave like the reference's index would.
  *
  * The ES `asciifolding` filter folds the full Unicode Latin repertoire;
  * this normalizer folds the explicit tables below — a deterministic
  * published spec (like the lemmatizer, SURVEY §7 "UD2 fidelity"),
  * applied AFTER `lower` so only lowercase forms are needed. Ligatures
  * and sharp-s EXPAND to multi-char ASCII exactly as ES does (æ→ae,
  * œ→oe, ß→ss, þ→th) via a short `replace` chain; the remaining 1:1
  * accents fold via `translate`. Every step is a per-row codegen'd
  * expression: no UDF, no shuffle.
  */
object Keyword {

  /** Multi-char expansions — ES asciifolding's one-to-many cases. Applied
    * before [[FoldFrom]] so the 1:1 table never sees them.
    */
  val Expansions: Seq[(String, String)] =
    Seq("æ" -> "ae", "œ" -> "oe", "ß" -> "ss", "þ" -> "th")

  val FoldFrom = "àáâãäåçèéêëìíîïðñòóôõöøùúûüýÿšž"
  val FoldTo   = "aaaaaaceeeeiiiidnoooooouuuuyysz"

  require(FoldFrom.length == FoldTo.length, "fold tables must align 1:1")

  def keywordNormalize(c: Column): Column = {
    val expanded = Expansions.foldLeft(lower(c)) { case (acc, (f, t)) =>
      replace(acc, lit(f), lit(t))
    }
    translate(expanded, FoldFrom, FoldTo)
  }

  def keywordNormalizeSql(c: String): String = {
    val expanded = Expansions.foldLeft(s"lower($c)") { case (acc, (f, t)) =>
      s"replace($acc, '$f', '$t')"
    }
    s"translate($expanded, '$FoldFrom', '$FoldTo')"
  }

  /** The sink path the reference applies the normalizer to: keyword-typed
    * identity columns of the index document (`sql_to_es_etl.py:102-103`).
    */
  def keywordColumns(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(
        col("c_custkey"),
        keywordNormalize(col("c_name")).as("name_kw"),
        keywordNormalize(col("c_mktsegment")).as("segment_kw"))

  def queries: Seq[(String, Query)] = Seq(
    "q_keyword_normalize" -> Query((s, dir) => keywordColumns(s, dir), s"""SELECT c_custkey,
         |  ${keywordNormalizeSql("c_name")} AS name_kw,
         |  ${keywordNormalizeSql("c_mktsegment")} AS segment_kw
         |FROM customer""".stripMargin)
  )
}
