package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** DSIR-style importance weighting for data selection (Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling"): score
  * every document by how much more likely its hashed n-gram bag is under
  * a TARGET distribution (here: the English sub-corpus) than under the
  * RAW corpus, then keep the top slice per language. The weight is the
  * standard bag-of-features log-likelihood ratio
  *
  *   w(x) = Σ_f  [ log p_target(bucket(f)) − log p_raw(bucket(f)) ]
  *
  * over unigram + bigram features hashed into [[Buckets]] buckets with
  * add-1 smoothing — exactly DSIR's hashed n-gram generative model.
  *
  * Exactness: each log₂ is msb-quantized SEPARATELY
  * (`msb(cnt+1) − msb(total+B)` per corpus — never a cross-product of
  * counts, so nothing overflows at any corpus size) with
  * `msb(x) = length(bin(x))`, the X86 discipline; the bucket hash is the
  * repo-wide md5-fold idiom stated identically in both engines. Scores
  * are BIGINT "bits", bit-equal across engines.
  *
  * Scale: features explode per token (shuffle-free), the bucket model is
  * [[Buckets]] rows + a one-row total — both BROADCAST back onto the
  * feature stream; raw and target counts come from ONE pass (conditional
  * aggregation, not two corpus scans), and the feature subtree is shared
  * between the model build and the scoring join so AQE computes it once
  * (spec-pinned ReusedExchange). Selection reuses the X95 histogram
  * quantile per language — no global sort anywhere.
  */
object Dsir {

  /** Hashed feature space size — DSIR uses 10⁴; 256 keeps the fixture's
    * buckets densely populated so smoothing paths are exercised.
    */
  val Buckets = 256L

  val TargetLang = "en"

  val Salt = "#dsir"

  /** Features of one doc: every token (unigram) plus every adjacent pair
    * (bigram, space-joined) — (doc_id, lang, f) rows.
    *
    * MAP-ONLY (optimization r15, guide §2.4): bigrams are built from the
    * token ARRAY with slice/zip_with — the lag-window form shuffled and
    * sorted every token row by doc_id before a single feature existed
    * (one corpus-sized Exchange + Sort that explain showed THREE times
    * in q_dsir_weights: scoring, model, totals). The emitted (doc_id,
    * lang, f) multiset is identical — unigrams are all tokens, bigrams
    * all adjacent pairs — and every consumer aggregates, so row order is
    * immaterial. The token array is bound once as a lambda variable
    * (the CollapseProject HOF-inlining trap — Phrases.mergeTokens
    * documents the failure mode).
    */
  private def features(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"),
      explode(element_at(transform(array(TextOps.tokenize(col("text"))), a =>
        concat(a, zip_with(
          slice(a, lit(1), greatest(size(a) - 1, lit(0))),
          slice(a, lit(2), greatest(size(a) - 1, lit(0))),
          (x, y) => concat(x, lit(" "), y)))), 1)).as("f"))

  private def bucketOf(f: org.apache.spark.sql.Column) =
    conv(substring(md5(concat(f, lit(Salt))), 1, 12), 16, 10).cast("long") % Buckets

  private def msb(c: org.apache.spark.sql.Column) = length(bin(c)).cast("long")

  /** (doc_id, lang, n_feats, weight_bits) for every doc with ≥1 token. */
  def importanceWeights(spark: SparkSession, dir: String): DataFrame =
    importanceWeightsOf(Tables.documents(spark, dir))

  def importanceWeightsOf(docs: DataFrame): DataFrame = {
    // the feature stream feeds the model build and the scoring join;
    // now that it is map-only there is no Exchange for AQE to reuse, so
    // the C1 fan-out discipline applies: persist via the Caches registry.
    // TOTALS are the model's column sums — a [[Buckets]]-row aggregate
    // over the persisted model, never a third corpus pass (the old
    // window form paid one full scan each for model, totals, scoring).
    val feats = graft.ops.Caches.persist(
      features(docs).withColumn("bucket", bucketOf(col("f"))))
    val isTarget = (col("lang") === TargetLang).cast("long")
    val model = graft.ops.Caches.persist(feats.groupBy(col("bucket"))
      .agg(count(lit(1)).as("cnt_r"), sum(isTarget).as("cnt_t")))
    val totals = model.agg(sum(col("cnt_r")).as("tot_r"),
      sum(col("cnt_t")).as("tot_t"))
    feats
      .join(broadcast(model), "bucket")
      .crossJoin(broadcast(totals))
      .withColumn("bits",
        msb(col("cnt_t") + 1L) - msb(col("tot_t") + Buckets)
          - msb(col("cnt_r") + 1L) + msb(col("tot_r") + Buckets))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_feats"),
        sum(col("bits")).cast("long").as("weight_bits"))
  }

  /** The features CTE + scoring, shared by both oracle queries. Yields
    * columns (doc_id, lang, n_feats, weight_bits).
    */
  private def weightsSql: String = {
    val fold = TextOps.md5HexFold12Sql("d")
    s"""WITH arrs AS (
       |  SELECT doc_id, lang, ${TextOps.tokenizeSql("text")} AS tks FROM documents
       |), toks AS (
       |  SELECT doc_id, lang, i - 1 AS pos, tks[i] AS t
       |  FROM arrs, unnest(range(1, len(tks) + 1)) AS u(i)
       |), ctx AS (
       |  SELECT doc_id, lang, t,
       |    lag(t) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
       |  FROM toks
       |), feats AS (
       |  SELECT doc_id, lang, t AS f FROM ctx
       |  UNION ALL
       |  SELECT doc_id, lang, prev || ' ' || t AS f FROM ctx WHERE prev IS NOT NULL
       |), bf AS (
       |  SELECT doc_id, lang, ($fold) % $Buckets AS bucket
       |  FROM (SELECT doc_id, lang, md5(f || '$Salt') AS d FROM feats)
       |), model AS (
       |  SELECT bucket, CAST(count(*) AS BIGINT) AS cnt_r,
       |    CAST(sum(CASE WHEN lang = '$TargetLang' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_t
       |  FROM bf GROUP BY bucket
       |), tot AS (
       |  SELECT CAST(count(*) AS BIGINT) AS tot_r,
       |    CAST(sum(CASE WHEN lang = '$TargetLang' THEN 1 ELSE 0 END) AS BIGINT) AS tot_t
       |  FROM bf
       |), scored AS (
       |  SELECT doc_id, lang,
       |    length(bin(cnt_t + 1)) - length(bin(tot_t + $Buckets))
       |      - length(bin(cnt_r + 1)) + length(bin(tot_r + $Buckets)) AS bits
       |  FROM bf JOIN model USING (bucket) CROSS JOIN tot
       |)
       |SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_feats,
       |  CAST(sum(bits) AS BIGINT) AS weight_bits
       |FROM scored GROUP BY doc_id, lang""".stripMargin
  }

  def importanceWeightsOracle: String = weightsSql

  /** DSIR's deterministic selection twin: keep documents at or above
    * their LANGUAGE's 75th weight percentile (the [[graft.ops.Quantiles]]
    * histogram selection — no global sort), so every language retains its
    * own top slice instead of the target language crowding out the rest.
    */
  def selectTop(spark: SparkSession, dir: String): DataFrame =
    selectTopOf(Tables.documents(spark, dir))

  def selectTopOf(docs: DataFrame): DataFrame = {
    // weights feed both the threshold build and the filter join — one
    // doc-sized frame; persisted so the whole scoring pipeline (feature
    // explode + model join + doc aggregate) runs once, not twice
    val weights = graft.ops.Caches.persist(importanceWeightsOf(docs))
    val thresholds = graft.ops.Quantiles
      .grouped(weights, col("lang"), col("weight_bits"))
      .select(col("k").as("lang"), col("p75").as("threshold"))
    weights.join(broadcast(thresholds), "lang")
      .filter(col("weight_bits") >= col("threshold"))
      .select(col("doc_id"), col("lang"), col("weight_bits"), col("threshold"))
  }

  def selectTopOracle: String = {
    val quant = graft.ops.Quantiles.groupedSql(
      s"SELECT lang AS k, weight_bits AS v FROM w")
    s"""WITH w AS ($weightsSql),
       |thr AS (
       |  SELECT k AS lang, p75 AS threshold FROM ($quant)
       |)
       |SELECT doc_id, w.lang, weight_bits, threshold
       |FROM w JOIN thr ON thr.lang = w.lang
       |WHERE weight_bits >= threshold""".stripMargin
  }

  def queries: Seq[(String, Query)] = Seq(
    "q_dsir_weights" -> Query((s, dir) => importanceWeights(s, dir), importanceWeightsOracle),
    "q_dsir_select" -> Query((s, dir) => selectTop(s, dir), selectTopOracle)
  )
}
