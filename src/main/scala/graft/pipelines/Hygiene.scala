package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Query, Tables}
import graft.text.{Analysis, Normalize, Repetition, TextOps}

/** End-to-end corpus-hygiene funnel — the RefinedWeb/Gopher preprocessing
  * recipe as ONE lazy plan: every document is assigned the FIRST pipeline
  * stage that rejects it (or `kept`), and the output is the per-stage
  * funnel report (n_in / n_dropped / n_out) an operator of a production
  * corpus run reads to tune thresholds. Composes the individually-gated
  * operators ([[graft.text.Analysis]] quality + lang-ID,
  * [[graft.text.Repetition]] Gopher §A1.1 repetition metrics,
  * [[graft.text.Analysis.fingerprint]] exact dedup) without re-deriving
  * any of their semantics. (Beyond the reference's own surface; the
  * LLM-data-pipeline addendum's capstone over the north-star NLP
  * preprocess, `preprocess_and_store_parquets.py:12`.)
  *
  * 100 TB shape:
  *   - stages 1-5 are per-row expressions over ONE scan of the corpus —
  *     shuffle-free, codegen'd, all feature arrays (tokens/bigrams/
  *     trigrams) materialized once and shared by every gate (the
  *     lambda-substitution discipline of [[Repetition]]);
  *   - stage 6 (exact dedup, production order: dedup AFTER cheap filters
  *     so the shuffle only carries filter survivors) is one hash exchange
  *     keyed by the md5 fingerprint — group-local keep-first, never
  *     all-pairs, and the shuffle rows are (fingerprint, doc_id) pairs,
  *     never document text;
  *   - the funnel arithmetic (reverse-cumulative n_in) runs on the
  *     7-row stage dimension — the only GLOBALLY-ordered window in the
  *     plan, so its single task is bounded by the stage count, never the
  *     corpus (the corpus-sized keep-first window is partitioned by the
  *     fingerprint).
  *
  * Thresholds are fixture-calibrated so most stages reject a nonzero
  * share at sf0.01 (the `exact_dup` stage rejects 0 on the copy-free
  * fixture but is the load-bearing stage on the 10×-copies scale probe);
  * each comparison reads the SAME `round(·,4)` / integer-quantized
  * columns the underlying operators hash-verify cross-engine, so the
  * boundary cases agree bit-for-bit with the DuckDB twin.
  */
object Hygiene {

  /** Minimum whitespace tokens (Gopher drops <50 words at web scale; the
    * fixture's 10-99-token docs calibrate to 16).
    */
  val MinTokens = 16

  /** Gopher-family repetition rejections (dup-token share is the
    * discriminating signal on the small-vocabulary fixture; the bigram/
    * trigram bounds are the published 0.2 / 0.3 values).
    */
  val MaxDupTokenFrac = 0.65
  val MaxTopBigramFrac = 0.2
  val MaxDupTrigramFrac = 0.3

  /** Composite-quality floor ([[Analysis.qualityColumnsFromTokens]]
    * score; fixture p5 ≈ 0.593, p10 ≈ 0.608).
    */
  val MinQuality = 0.61

  /** Funnel stages in application order; `kept` is the terminal bucket. */
  val Stages: Seq[(Int, String)] = Seq(
    1 -> "empty", 2 -> "too_short", 3 -> "lang_unknown",
    4 -> "repetitious", 5 -> "low_quality", 6 -> "exact_dup", 7 -> "kept")

  /** Per-document stage assignment (doc_id, stage_id) — every document
    * lands in exactly one bucket: its first rejecting stage, or 7 (kept).
    * This is the funnel's load-bearing computation; [[funnel]] is its
    * 7-row aggregate and [[assignments]] its per-doc gate.
    */
  def staged(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
    stagedOn(docs)
  }

  /** Input columns + `fp` + `pre_stage` over any documents frame —
    * stages 1-5 as pure per-row expressions (the stateless part of the
    * recipe). `pre_stage` NULL = survived filters. The token/gram arrays
    * are bound in intermediate projections (the [[Repetition]] lambda
    * discipline) and dropped before return.
    */
  def withVerdict(docs: DataFrame): DataFrame = {
    // one scan: tokens + gram arrays bound once, every gate reads them
    val rep = Repetition.metricCols(col("tk"), col("bg"), col("tg")).toMap
    val feats = docs
      .withColumn("tk", TextOps.tokenize(col("text")))
      .withColumn("bg", Repetition.bigramsOf(col("tk")))
      .withColumn("tg", Repetition.trigramsOf(col("tk")))
      .withColumn("n", size(col("tk")))
      .withColumn("lang_pred", Analysis.langIdFromTokens(col("text"), col("tk")))
      .withColumn("dup_tok", rep("dup_token_frac"))
      .withColumn("top_bg", rep("top_bigram_frac"))
      .withColumn("dup_tg", rep("dup_trigram_frac"))
      .withColumn("score", Analysis.qualityColumnsFromTokens(col("text"), col("tk"))
        .toMap.apply("quality_score"))
      .withColumn("fp", Analysis.fingerprint(col("text")))

    val preStage = when(col("n") === 0, 1)
      .when(col("n") < MinTokens, 2)
      .when(col("lang_pred") === "und", 3)
      .when(col("dup_tok") > MaxDupTokenFrac ||
            col("top_bg") > MaxTopBigramFrac ||
            col("dup_tg") > MaxDupTrigramFrac, 4)
      .when(col("score") < MinQuality, 5)
    feats.withColumn("pre_stage", preStage)
      .drop("tk", "bg", "tg", "n", "lang_pred", "dup_tok", "top_bg", "dup_tg", "score")
  }

  /** Narrow batch verdict table: (doc_id, fp, pre_stage). */
  def preVerdicts(docs: DataFrame): DataFrame =
    withVerdict(docs).select(col("doc_id"), col("fp"), col("pre_stage"))

  private def stagedOn(docs: DataFrame): DataFrame = {
    // persist the NARROW verdict table (doc_id, fp, pre_stage — no text,
    // no arrays): both downstream branches read it, so the text-feature
    // pipeline — the expensive part — runs exactly once per corpus scan
    // instead of once per branch
    val pre = graft.ops.Caches.persist(preVerdicts(docs))

    // dedup over filter survivors only (production order); the exchange
    // carries (fp, doc_id), group-local keep-first
    val surv = pre.filter(col("pre_stage").isNull)
      .withColumn("rep_id", min(col("doc_id")).over(Window.partitionBy(col("fp"))))
      .select(col("doc_id"),
        when(col("doc_id") === col("rep_id"), 7).otherwise(6).as("stage"))
    pre.filter(col("pre_stage").isNotNull)
      .select(col("doc_id"), col("pre_stage").as("stage"))
      .unionByName(surv)
  }

  /** Per-document gate twin: (doc_id, stage_id, stage). */
  def assignments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dim = Stages.toDF("stage_id", "stage")
    staged(spark, dir).withColumnRenamed("stage", "stage_id")
      .join(broadcast(dim), Seq("stage_id"))
      .select(col("doc_id"), col("stage_id"), col("stage"))
  }

  /** (stage_id, stage, n_in, n_dropped, n_out) — 7 rows. */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val counts = staged(spark, dir).groupBy(col("stage")).agg(count(lit(1)).as("cnt"))
    // constant 7-row dimension keeps zero-drop stages in the report
    val dim = Stages.toDF("stage_id", "stage")
    val joined = dim.join(counts.withColumnRenamed("stage", "stage_id"),
        Seq("stage_id"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      .withColumn("dropped", when(col("stage_id") <= 6, col("cnt")).otherwise(lit(0L)))
    // reverse-cumulative n_in over the 7-row table (bounded by stage count)
    val wRev = Window.orderBy(col("stage_id"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    joined
      .withColumn("n_in", sum(col("cnt")).over(wRev))
      .select(col("stage_id"), col("stage"),
        col("n_in").cast("long").as("n_in"),
        col("dropped").cast("long").as("n_dropped"),
        (col("n_in") - col("dropped")).cast("long").as("n_out"))
  }

  /** Shared DuckDB CTE chain ending in `staged(doc_id, stage)` — the
    * feature formulas are verbatim from the gated operators' oracle
    * builders, so the funnel inherits their cross-engine exactness.
    */
  private def stagedCtes: String = stagedCtesFrom("documents", "")

  /** The staged-verdict CTE chain over any relation providing
    * (doc_id, text); `prelude` CTEs (if any, comma-terminated) are
    * spliced right after WITH so composed oracles (crawl pipeline) can
    * define the input relation inline.
    */
  private[graft] def stagedCtesFrom(rel: String, prelude: String): String = {
    val tk = TextOps.tokenizeSql("text")
    val quality = Analysis.qualitySqlColumns("text").toMap
    s"""WITH $prelude toks AS (
       |  SELECT doc_id, text, $tk AS tk FROM $rel
       |), grams AS (
       |  SELECT doc_id, text, tk,
       |    list_transform(range(1, greatest(len(tk), 1)),
       |      i -> tk[i] || ' ' || tk[i+1]) AS bg,
       |    list_transform(range(1, greatest(len(tk) - 1, 1)),
       |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) AS tg
       |  FROM toks
       |), feats AS (
       |  SELECT doc_id, len(tk) AS n,
       |    ${Analysis.langIdSql("text")} AS lang_pred,
       |    CASE WHEN len(tk) > 0 THEN
       |      round(CAST(len(tk) - len(list_distinct(tk)) AS DOUBLE) / CAST(len(tk) AS DOUBLE), 4)
       |    END AS dup_tok,
       |    CASE WHEN len(bg) > 0 THEN
       |      round(CAST(list_max(list_transform(list_distinct(bg),
       |        x -> len(list_filter(bg, y -> y = x)))) AS DOUBLE) / CAST(len(bg) AS DOUBLE), 4)
       |    END AS top_bg,
       |    CASE WHEN len(tg) > 0 THEN
       |      round(CAST(len(list_filter(tg,
       |        x -> len(list_filter(tg, y -> y = x)) >= 2)) AS DOUBLE) / CAST(len(tg) AS DOUBLE), 4)
       |    END AS dup_tg,
       |    ${quality("quality_score")} AS score,
       |    md5(${Normalize.normalizeSql("text")}) AS fp
       |  FROM grams
       |), pre AS (
       |  SELECT doc_id, fp,
       |    CASE WHEN n = 0 THEN 1
       |         WHEN n < $MinTokens THEN 2
       |         WHEN lang_pred = 'und' THEN 3
       |         WHEN dup_tok > $MaxDupTokenFrac OR top_bg > $MaxTopBigramFrac
       |              OR dup_tg > $MaxDupTrigramFrac THEN 4
       |         WHEN score < $MinQuality THEN 5 END AS pre_stage
       |  FROM feats
       |), surv AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY fp) THEN 7 ELSE 6 END AS stage
       |  FROM pre WHERE pre_stage IS NULL
       |), staged AS (
       |  SELECT doc_id, pre_stage AS stage FROM pre WHERE pre_stage IS NOT NULL
       |  UNION ALL SELECT doc_id, stage FROM surv
       |)""".stripMargin
  }

  private def stageDimSql: String =
    Stages.map { case (i, s) => s"($i, '$s')" }.mkString(", ")

  /** DuckDB twin of [[funnel]] — same stage order, same reverse-cum
    * funnel arithmetic.
    */
  def funnelOracle: String = {
    s"""$stagedCtes, counts AS (
       |  SELECT stage, count(*) AS cnt FROM staged GROUP BY stage
       |), dim AS (
       |  SELECT * FROM (VALUES $stageDimSql) AS t(stage_id, stage)
       |), filled AS (
       |  SELECT d.stage_id, d.stage, coalesce(c.cnt, 0) AS cnt,
       |    CASE WHEN d.stage_id <= 6 THEN coalesce(c.cnt, 0) ELSE 0 END AS dropped
       |  FROM dim d LEFT JOIN counts c ON c.stage = d.stage_id
       |)
       |SELECT stage_id, stage,
       |  CAST(sum(cnt) OVER (ORDER BY stage_id
       |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_in,
       |  CAST(dropped AS BIGINT) AS n_dropped,
       |  CAST(sum(cnt) OVER (ORDER BY stage_id
       |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) - dropped AS BIGINT) AS n_out
       |FROM filled""".stripMargin
  }

  /** DuckDB twin of [[assignments]] — the per-document gate. */
  def assignmentsOracle: String =
    s"""$stagedCtes, dim AS (
       |  SELECT * FROM (VALUES $stageDimSql) AS t(stage_id, stage_name)
       |)
       |SELECT s.doc_id, s.stage AS stage_id, d.stage_name AS stage
       |FROM staged s JOIN dim d ON d.stage_id = s.stage""".stripMargin

  /** Per-stage HLL term sketches — ONE pass over (text ⋈ stage); the
    * funnel's vocabulary analytics then run on this ≤7-row table.
    */
  def stageTermSketches(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
    docs.join(staged(spark, dir), "doc_id")
      .select(col("stage"), explode(TextOps.tokenize(col("text"))).as("term"))
      .groupBy(col("stage"))
      .agg(hll_sketch_agg(col("term")).as("sketch"))
  }

  /** [[funnel]] extended with the X53 mergeable-vocab column:
    * `distinct_terms_in` ≈ distinct terms in the population ENTERING each
    * stage. Stage buckets partition the corpus (each doc lands in its
    * first rejecting stage), so the entering population of stage i is
    * exactly the union of buckets ≥ i — and its vocabulary is the HLL
    * UNION of the per-stage sketches ([[stageTermSketches]]): the merge
    * reads only the ≤7-row sketch table, never the corpus, the same
    * union-not-rescan shape as
    * [[graft.ops.CorpusOps.vocabSketchMerged]]. Sketch estimates are
    * approximate and DataSketches-specific, so this surface is
    * spec-asserted against exact distinct counts rather than
    * DuckDB-gated; the gated [[funnel]] stays exact.
    */
  def funnelWithVocab(spark: SparkSession, dir: String): DataFrame = {
    val sk = stageTermSketches(spark, dir)
    val dim = { import spark.implicits._; Stages.toDF("stage_id", "stage") }
    val vocabIn = dim.select(col("stage_id"))
      .join(sk, sk("stage") >= col("stage_id"))
      .groupBy(col("stage_id"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch"))).as("distinct_terms_in"))
    funnel(spark, dir).join(vocabIn, Seq("stage_id"), "left")
  }

  def queries: Seq[(String, Query)] = Seq(
    "q_hygiene_funnel" -> Query((s, dir) => funnel(s, dir), funnelOracle),
    "q_hygiene_assign" -> Query((s, dir) => assignments(s, dir), assignmentsOracle)
  )
}
