package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}
import graft.sim.DocEmbedding

/** Model-based quality filtering — the linear-classifier scoring step the
  * big training-data pipelines run after heuristic hygiene (GPT-3's
  * LR-against-WebText filter, Llama's fasttext quality classifier; the
  * companion to [[Analysis]]'s heuristic quality score, which stays the
  * features-only baseline). Inference only: training such a classifier is
  * offline, model-sized work; what must scale is scoring 100 TB of
  * documents against a fixed weight table.
  *
  * Model shape = a fasttext-style linear bag-of-words scorer:
  * hashed-token features (the [[DocEmbedding.slotOf]] feature-hash trick,
  * same 48-bit md5 fold — every token in- or out-of-vocabulary lands on a
  * deterministic weight slot) → per-slot integer weights → document score
  * is the mean slot weight (sum/count over BIGINTs, one IEEE division).
  * Weights derive deterministically from the embeddings fixture (first
  * dimension, house floor(x·1000) quantization) — a deploy swaps the
  * table for real trained weights; the plumbing does not change.
  *
  * Scale shape (identical to [[DocEmbedding]], the point of reusing its
  * hash): the weight table is VOCAB-sized and BROADCASTS; the token
  * stream never shuffles to meet it; the one exchange is the per-doc
  * aggregate, collapsed map-side by scan-order doc locality. The keep
  * verdict is a pure per-row comparison against [[KeepThreshold]].
  */
object QualityModel {

  /** Integer keep threshold on the x1000-scaled mean weight: documents
    * whose mean slot weight clears it are kept. Chosen mid-range for the
    * fixture-derived weights so the gate exercises BOTH verdicts at
    * every scale factor (asserted in `QualityModelSpec`).
    */
  val KeepThreshold = 0L

  /** Exact-integer FLOOR division for oracle SQL. DuckDB's `//`
    * truncates toward zero exactly like Spark's DIV (measured:
    * `-7 // 2 = -3`), so on a negative non-divisible numerator the
    * truncated quotient sits one above the floor — subtract the
    * correction instead of round-tripping through DOUBLE. Requires
    * a positive divisor (all divisors here are counts ≥ 1).
    */
  def floorDivSql(x: String, n: String): String =
    s"(($x) // ($n) - CASE WHEN ($x) % ($n) <> 0 AND ($x) < 0 THEN 1 ELSE 0 END)"

  /** (slot, w) — one quantized weight per vocabulary slot: dimension 0 of
    * the embeddings fixture vector, floor(x·1000).
    */
  def weights(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .filter(col("vec_id") < DocEmbedding.VocabSlots)
      .select(col("vec_id").as("slot"),
        floor(element_at(col("embedding"), 1).cast("double") * graft.sim.Similarity.Scale)
          .cast("long").as("w"))

  /** (doc_id, n_toks, sum_w, score_q, keep): the classifier verdict per
    * document. `score_q` = floor(1000·sum_w/n_toks) — BIGINT on both
    * engines, so `keep` is an exact integer comparison, never a float
    * boundary. Docs with no tokens are absent (no features, no verdict)
    * — same contract as [[DocEmbedding.docEmbedding]].
    */
  def score(spark: SparkSession, dir: String): DataFrame =
    scoreWith(spark, dir, weights(spark, dir))

  /** [[score]] against ANY (slot, w) weight table — the seam the
    * [[QualityTrain]] trained model plugs into (same hash, same slots,
    * so a trained table and the fixture table are interchangeable).
    */
  def scoreWith(spark: SparkSession, dir: String, wtable: DataFrame): DataFrame =
    scoreDocs(graft.ops.ScaleOps.widen(Tables.documents(spark, dir)), wtable)

  /** The scorer core over ANY (doc_id, text) corpus and (slot, w)
    * table — the train→score composition seam.
    */
  def scoreDocs(docs: DataFrame, wtable: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(TextOps.preprocess(col("text"))).as("token"))
      .select(col("doc_id"), DocEmbedding.slotOf(col("token")).as("slot"))
    toks.join(broadcast(wtable), "slot")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"), sum(col("w")).as("sum_w"))
      // FLOOR division in exact integers, not Spark's truncate-toward-zero
      // DIV: `sum_w` is a signed log-odds sum, and on a negative
      // non-divisible numerator DIV and DuckDB's `//` differ by 1 — enough
      // to flip a calibration bucket or an eval verdict. Subtracting
      // pmod(x, n) (non-negative for n > 0) makes the numerator exactly
      // divisible, so DIV then returns floor(x/n) for any sign.
      .select(col("doc_id"), col("n_toks"), col("sum_w"),
        expr("(1000 * sum_w - pmod(1000 * sum_w, n_toks)) DIV n_toks").as("score_q"),
        (expr("(1000 * sum_w - pmod(1000 * sum_w, n_toks)) DIV n_toks")
          > KeepThreshold).as("keep"))
  }

  def scoreOracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(${TextOps.preprocessSql("text")}) AS token FROM documents
       |), hashed AS (
       |  SELECT doc_id, md5(token) AS h FROM toks
       |), slots AS (
       |  SELECT doc_id, (${TextOps.md5HexFold12Sql("h")}) % ${DocEmbedding.VocabSlots} AS slot FROM hashed
       |), wt AS (
       |  SELECT vec_id AS slot,
       |    CAST(floor(CAST(embedding[1] AS DOUBLE) * ${graft.sim.Similarity.Scale}) AS BIGINT) AS w
       |  FROM embeddings WHERE vec_id < ${DocEmbedding.VocabSlots}
       |), agg AS (
       |  SELECT doc_id, count(*) AS n_toks, CAST(sum(w) AS BIGINT) AS sum_w
       |  FROM slots JOIN wt USING (slot) GROUP BY doc_id
       |)
       |SELECT doc_id, n_toks, sum_w,
       |  ${floorDivSql("1000 * sum_w", "n_toks")} AS score_q,
       |  ${floorDivSql("1000 * sum_w", "n_toks")} > $KeepThreshold AS keep
       |FROM agg""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_quality_model" -> Query((s, dir) => score(s, dir), scoreOracle)
  )
}
