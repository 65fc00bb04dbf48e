package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Gopher-style repetition quality signals — the "repetitious document"
  * filters (Rae et al. 2021, §A1.1) a training-data pipeline applies
  * alongside [[Analysis]]'s length/stopword heuristics: documents whose
  * content is dominated by a repeated token, bigram or trigram are
  * boilerplate/spam and poison for language-model training.
  *
  * Per-document metrics (all per-row Catalyst expressions — shuffle-free,
  * codegen'd, linear in the scan; the in-row multiplicity counts are
  * O(len·distinct) per document, bounded by document length, never by
  * corpus size):
  *
  *   - `dup_token_frac`: fraction of token positions occupied by a repeat
  *     of an earlier token, `(n − distinct) / n`.
  *   - `top_bigram_frac`: occurrences of the most frequent word bigram
  *     over all bigram positions (Gopher drops docs > 0.2).
  *   - `dup_trigram_frac`: fraction of trigram positions whose trigram
  *     occurs more than once (Gopher's duplicate n-gram family).
  *
  * Lambda discipline: the gram arrays are materialized as columns in a
  * prior select — the multiplicity counts reference them up to
  * `distinct`× each, and Catalyst substitutes lambda-captured subtrees
  * wholesale (the [[graft.dedup.Dedup.shingles]] trap), so inlining the
  * tokenization here would re-run it per referenced element.
  */
object Repetition {

  /** Positional (NOT distinct) word 2-grams of a token-array column. */
  def bigramsOf(tk: Column): Column = {
    val m = greatest(size(tk) - 1, lit(0))
    zip_with(slice(tk, lit(1), m), slice(tk, lit(2), m), (a, b) => concat(a, lit(" "), b))
  }

  /** Positional word 3-grams. */
  def trigramsOf(tk: Column): Column = {
    val m = greatest(size(tk) - 2, lit(0))
    val ab = zip_with(slice(tk, lit(1), m), slice(tk, lit(2), m), (a, b) => concat(a, lit(" "), b))
    zip_with(ab, slice(tk, lit(3), m), (p, c) => concat(p, lit(" "), c))
  }

  /** Metric columns over pre-materialized token/bigram/trigram arrays.
    * Ratios are `round(·, 4)` of exact-integer divisions with `n > 0`
    * guards — the same cross-engine discipline as
    * [[Analysis.qualityColumnsFromTokens]].
    */
  def metricCols(tk: Column, bg: Column, tg: Column): Seq[(String, Column)] = {
    val n = size(tk)
    val maxBg = array_max(transform(array_distinct(bg),
      x => size(filter(bg, y => y === x))))
    val dupTg = size(filter(tg, x => size(filter(tg, y => y === x)) >= 2))
    Seq(
      "n_tokens" -> n.cast("long"),
      "dup_token_frac" -> when(n > 0,
        round((n - size(array_distinct(tk))).cast("double") / n.cast("double"), 4)),
      "top_bigram_frac" -> when(size(bg) > 0,
        round(maxBg.cast("double") / size(bg).cast("double"), 4)),
      "dup_trigram_frac" -> when(size(tg) > 0,
        round(dupTg.cast("double") / size(tg).cast("double"), 4))
    )
  }

  def repetition(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
    val cols = metricCols(col("tk"), col("bg"), col("tg"))
      .map { case (name, c) => c.as(name) }
    docs
      .select(col("doc_id"), TextOps.tokenize(col("text")).as("tk"))
      .select(col("doc_id"), col("tk"),
        bigramsOf(col("tk")).as("bg"), trigramsOf(col("tk")).as("tg"))
      .select(col("doc_id") +: cols: _*)
  }

  def oracle: String = {
    val tk = TextOps.tokenizeSql("text")
    s"""WITH toks AS (
       |  SELECT doc_id, $tk AS tk FROM documents
       |), grams AS (
       |  SELECT doc_id, tk,
       |    list_transform(range(1, greatest(len(tk), 1)),
       |      i -> tk[i] || ' ' || tk[i+1]) AS bg,
       |    list_transform(range(1, greatest(len(tk) - 1, 1)),
       |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) AS tg
       |  FROM toks
       |)
       |SELECT doc_id,
       |  CAST(len(tk) AS BIGINT) AS n_tokens,
       |  CASE WHEN len(tk) > 0 THEN
       |    round(CAST(len(tk) - len(list_distinct(tk)) AS DOUBLE) / CAST(len(tk) AS DOUBLE), 4)
       |  END AS dup_token_frac,
       |  CASE WHEN len(bg) > 0 THEN
       |    round(CAST(list_max(list_transform(list_distinct(bg),
       |      x -> len(list_filter(bg, y -> y = x)))) AS DOUBLE) / CAST(len(bg) AS DOUBLE), 4)
       |  END AS top_bigram_frac,
       |  CASE WHEN len(tg) > 0 THEN
       |    round(CAST(len(list_filter(tg,
       |      x -> len(list_filter(tg, y -> y = x)) >= 2)) AS DOUBLE) / CAST(len(tg) AS DOUBLE), 4)
       |  END AS dup_trigram_frac
       |FROM grams""".stripMargin
  }

  def queries: Seq[(String, Query)] = Seq(
    "q_repetition" -> Query((s, dir) => repetition(s, dir), oracle)
  )
}
