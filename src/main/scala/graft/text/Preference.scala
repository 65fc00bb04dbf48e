package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Preference-pair assembly (X225) — the prep step between "rated
  * completions" and a DPO/RLHF trainer: per prompt, the
  * highest-rated candidate becomes `chosen`, the lowest `rejected`,
  * ties broken by candidate_id so the choice is total; a prompt whose
  * best and worst RATINGS TIE yields NO pair (a preference the data
  * does not express must not be fabricated — the "no evidence, no
  * verdict" rule), and single-candidate prompts have nothing to
  * compare. `margin` (rating gap) rides along because trainers weight
  * or filter by it.
  *
  * Shape: ONE prompt-keyed shuffle; both extremes come from the same
  * two windows over that one partitioning (no self-join, no second
  * exchange), and response TEXT never moves — the pair table carries
  * candidate ids; the trainer joins text back by id at read time.
  *
  * Fixture: candidates are documents grouped 4-to-a-prompt
  * (prompt_id = doc_id DIV 4), rating = a salted md5-fold of the
  * doc_id on a 3-level thumbs scale (down/neutral/up — the coarse
  * feedback real rating UIs collect), deterministic and
  * engine-identical; with four candidates on three levels, all-tied
  * prompts genuinely occur at every scale factor, so the no-pair
  * path stays exercised.
  */
object Preference {

  val RatingSalt = "pref-r13"
  val RatingMod = 3L

  /** (prompt_id, cand_id, rating) — the rated-completion table. */
  def rated(spark: SparkSession, dir: String): DataFrame =
    graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(expr("doc_id DIV 4").as("prompt_id"), col("doc_id").as("cand_id"),
        (expr(s"conv(substring(md5(concat(cast(doc_id as string), '$RatingSalt')), 1, 12), 16, 10)")
          .cast("long") % RatingMod).as("rating"))

  /** (prompt_id, chosen_id, chosen_rating, rejected_id,
    * rejected_rating, margin) over ANY (prompt_id, cand_id, rating)
    * frame.
    */
  def pairsOf(cands: DataFrame): DataFrame = {
    val byPrompt = Window.partitionBy(col("prompt_id"))
    val best = byPrompt.orderBy(col("rating").desc, col("cand_id"))
    val worst = byPrompt.orderBy(col("rating").asc, col("cand_id"))
    cands
      .withColumn("rn_best", row_number().over(best))
      .withColumn("rn_worst", row_number().over(worst))
      .withColumn("chosen_id", first(when(col("rn_best") === 1, col("cand_id")),
        ignoreNulls = true).over(byPrompt))
      .withColumn("chosen_rating", first(when(col("rn_best") === 1, col("rating")),
        ignoreNulls = true).over(byPrompt))
      .filter(col("rn_worst") === 1)
      .select(col("prompt_id"), col("chosen_id"), col("chosen_rating"),
        col("cand_id").as("rejected_id"), col("rating").as("rejected_rating"),
        (col("chosen_rating") - col("rating")).as("margin"))
      .filter(col("margin") > 0)
  }

  def pairs(spark: SparkSession, dir: String): DataFrame =
    pairsOf(rated(spark, dir))

  def oracle: String = {
    val fold = TextOps.md5HexFold12Sql("h")
    s"""WITH rated AS (
       |  SELECT doc_id // 4 AS prompt_id, doc_id AS cand_id,
       |    ($fold) % $RatingMod AS rating
       |  FROM (SELECT doc_id,
       |          md5(CAST(doc_id AS VARCHAR) || '$RatingSalt') AS h
       |        FROM documents)),
       |ranked AS (
       |  SELECT prompt_id, cand_id, rating,
       |    row_number() OVER (PARTITION BY prompt_id
       |      ORDER BY rating DESC, cand_id) AS rn_best,
       |    row_number() OVER (PARTITION BY prompt_id
       |      ORDER BY rating ASC, cand_id) AS rn_worst
       |  FROM rated),
       |best AS (
       |  SELECT prompt_id, cand_id AS chosen_id, rating AS chosen_rating
       |  FROM ranked WHERE rn_best = 1),
       |worst AS (
       |  SELECT prompt_id, cand_id AS rejected_id, rating AS rejected_rating
       |  FROM ranked WHERE rn_worst = 1)
       |SELECT b.prompt_id, b.chosen_id, CAST(b.chosen_rating AS BIGINT) AS chosen_rating,
       |  w.rejected_id, CAST(w.rejected_rating AS BIGINT) AS rejected_rating,
       |  CAST(b.chosen_rating - w.rejected_rating AS BIGINT) AS margin
       |FROM best b JOIN worst w USING (prompt_id)
       |WHERE b.chosen_rating > w.rejected_rating""".stripMargin
  }

  def queries: Seq[(String, Query)] = Seq(
    "q_preference_pairs" -> Query((s, dir) => pairs(s, dir), oracle)
  )
}
