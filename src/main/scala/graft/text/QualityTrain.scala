package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}
import graft.sim.DocEmbedding

/** NATIVE training for the model-based quality filter — closes the loop
  * [[QualityModel]] (X75) left open: X75 scores against a fixture
  * weight table; real pipelines label a seed set, TRAIN, then filter
  * the corpus with the trained model. Multinomial Naive Bayes over
  * hashed-token features is that trainer done as pure counting, so the
  * whole fit is relational and oracle-able end to end:
  *
  *   - seed labels come from the heuristic teacher — the X9 quality
  *     score's exact-integer core ([[Analysis.qualityQFromTokens]])
  *     thresholded at [[LabelThreshold]] (the classic distillation
  *     shape: heuristic labeler → model student; token-less docs carry
  *     no label and sit out);
  *   - features are the SAME hashed slots X75 scores with
  *     ([[DocEmbedding.slotOf]], 48-bit md5 fold mod
  *     [[DocEmbedding.VocabSlots]]) over the SAME preprocessed token
  *     stream, so the trained table drops into [[QualityModel]]'s
  *     scorer unchanged;
  *   - the per-slot weight is the add-one-smoothed class log-odds in
  *     the X86/X100 msb discipline EXTENDED to fixed point: whole-bit
  *     `msb(x) = length(bin(x))` collapses every slot whose class
  *     ratio sits inside one octave of the global ratio to w = 0 (on
  *     the fixture's ≈2:1 seed that is EVERY slot — an all-zero
  *     model), so the quantizer here is `log2fp(x)` = ⌊log₂x⌋ in
  *     sixteenths, the within-octave remainder linearly interpolated:
  *     `(msb(x)−1)·16 + (16x DIV 2^(msb(x)−1)) − 16`. Pure integer
  *     arithmetic in both engines (bin/length, one integral divide,
  *     one variable shift), exactly monotone in x, and
  *     `w = log2fp(cnt_pos+1) − log2fp(tot_pos+V) −
  *     log2fp(cnt_neg+1) + log2fp(tot_neg+V)` is the add-one-smoothed
  *     log-odds in 1/16-bit units.
  *
  * Scale shape: one token-explode map stage (labels are computed
  * per-row on the same pass, no join back to the corpus), ONE
  * partial-agg count exchange on slot (vocab-sized output), and the
  * class totals re-aggregate from the vocab-sized counts — a broadcast
  * single-row scalar, never a second corpus pass. Training work at
  * 100 TB is one pass plus vocab-sized reductions.
  */
object QualityTrain {

  /** Seed-label threshold on the scaled-integer heuristic quality
    * (observed fixture range ≈ 55k–74k, median ≈ 64.5k — mid-range so
    * both classes stay populated at every scale factor, spec-pinned).
    */
  val LabelThreshold = 64000L

  /** ⌊log₂x⌋ in sixteenths (x ≥ 1), within-octave remainder linearly
    * interpolated — Spark SQL form (the DuckDB twin is
    * [[log2fpDuckSql]]; `QualityTrainSpec` pins exact agreement and
    * monotonicity over a dense range).
    */
  def log2fpSparkSql(x: String): String =
    s"((length(bin($x)) - 1) * 16 + ($x * 16) DIV " +
      s"shiftleft(CAST(1 AS BIGINT), CAST(length(bin($x)) - 1 AS INT)) - 16)"

  def log2fpDuckSql(x: String): String =
    s"((length(bin($x)) - 1) * 16 + ($x * 16) // " +
      s"(CAST(1 AS BIGINT) << CAST(length(bin($x)) - 1 AS INTEGER)) - 16)"

  /** The labeled seed: (doc_id, text, label) — heuristic-teacher
    * verdict per document; token-less docs (no label evidence) absent.
    */
  def seed(spark: SparkSession, dir: String): DataFrame =
    graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"), col("text"),
        (Analysis.qualityQFromTokens(TextOps.tokenize(col("text")))
          >= LabelThreshold).as("label"))
      .filter(col("label").isNotNull)

  /** Fit the classifier: (slot, cnt_pos, cnt_neg, w) — one row per
    * vocabulary slot SEEN in the seed (absent slots carry no evidence;
    * [[QualityModel]]'s inner scoring join skips them, matching the
    * fixture-table contract).
    */
  def train(spark: SparkSession, dir: String): DataFrame =
    trainDocs(seed(spark, dir))

  /** [[train]]'s core over ANY labeled corpus (text, label) — the seam
    * `QualityTrainSpec` trains planted marker corpora through (the
    * fixture's vocabulary is label-uniform BY DESIGN, so its trained
    * weights are correctly near zero; discriminative behavior is
    * pinned on plants where signal exists).
    */
  def trainDocs(labeled: DataFrame): DataFrame =
    weightsOf(countsOf(labeled))

  /** The sufficient statistics alone: (slot, cnt_pos, cnt_neg). Counts
    * are ADDITIVE — the whole reason Naive Bayes trains incrementally:
    * [[mergeCounts]] of any partition of the corpus equals training on
    * the union (gate-pinned).
    */
  def countsOf(labeled: DataFrame): DataFrame =
    labeled
      .select(col("label"), explode(TextOps.preprocess(col("text"))).as("token"))
      .select(col("label"), DocEmbedding.slotOf(col("token")).as("slot"))
      .groupBy(col("slot")).agg(
        sum(when(col("label"), 1L).otherwise(0L)).as("cnt_pos"),
        sum(when(!col("label"), 1L).otherwise(0L)).as("cnt_neg"))

  /** Sum count tables from independently trained batches — the
    * incremental/federated update step (new seed data arrives, only
    * its counts are computed; weights recompute from the merged
    * sufficient statistics, never from re-reading old corpora).
    */
  def mergeCounts(tables: DataFrame*): DataFrame =
    tables.reduce(_ unionByName _)
      .groupBy(col("slot")).agg(
        sum(col("cnt_pos")).as("cnt_pos"), sum(col("cnt_neg")).as("cnt_neg"))

  /** Weights from a count table (smoothing + [[log2fpSparkSql]]). */
  def weightsOf(counts: DataFrame): DataFrame = {
    val v = DocEmbedding.VocabSlots
    val totals = counts.agg(
      sum(col("cnt_pos")).as("tot_pos"), sum(col("cnt_neg")).as("tot_neg"))
    counts.crossJoin(broadcast(totals))
      .select(col("slot"), col("cnt_pos"), col("cnt_neg"),
        expr(s"${log2fpSparkSql("cnt_pos + 1")} - ${log2fpSparkSql(s"tot_pos + $v")}"
          + s" - ${log2fpSparkSql("cnt_neg + 1")} + ${log2fpSparkSql(s"tot_neg + $v")}")
          .cast("long").as("w"))
  }

  /** q_quality_train_merged: train EVEN and ODD doc_ids independently,
    * merge the sufficient statistics, recompute weights — answered by
    * the SAME oracle as [[train]] on the whole seed, because count
    * additivity makes the two bit-identical. This is the claim an
    * incremental trainer rests on, stated as a gate.
    */
  def trainMerged(spark: SparkSession, dir: String): DataFrame = {
    // the labeled seed feeds both parity branches, and the label is the
    // expensive part (tokenize + quality score, map-only — no exchange
    // for AQE to reuse): persist via the Caches registry so it computes
    // once (optimization r15, the C1 fan-out discipline)
    val s = graft.ops.Caches.persist(seed(spark, dir))
    weightsOf(mergeCounts(
      countsOf(s.filter(col("doc_id") % 2 === 0)),
      countsOf(s.filter(col("doc_id") % 2 === 1))))
  }

  /** q_quality_train_score: the composition the pipelines actually run
    * — the trained table fed straight into the X75 scorer.
    */
  def trainedScore(spark: SparkSession, dir: String): DataFrame =
    QualityModel.scoreWith(spark, dir,
      train(spark, dir).select(col("slot"), col("w")))

  /** The shared oracle prelude: seed labels → hashed slots →
    * class-conditional counts → totals, in DuckDB.
    */
  private def trainCtes: String = trainCtesWhere("TRUE")

  /** [[trainCtes]] restricted to a doc_id predicate — the train/test
    * split seam the held-out evaluation uses.
    */
  private def trainCtesWhere(cond: String): String = {
    val v = DocEmbedding.VocabSlots
    s"""lab AS (
       |  SELECT doc_id, text,
       |    (${Analysis.qualityQSql(TextOps.tokenizeSql("text"))}) >= $LabelThreshold AS label
       |  FROM documents
       |  WHERE len(${TextOps.tokenizeSql("text")}) > 0 AND ($cond)),
       |toks AS (
       |  SELECT label, unnest(${TextOps.preprocessSql("text")}) AS token FROM lab),
       |hashed AS (
       |  SELECT label, md5(token) AS h FROM toks),
       |slots AS (
       |  SELECT label, (${TextOps.md5HexFold12Sql("h")}) % $v AS slot FROM hashed),
       |counts AS (
       |  SELECT slot,
       |    CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS cnt_pos,
       |    CAST(sum(CASE WHEN label THEN 0 ELSE 1 END) AS BIGINT) AS cnt_neg
       |  FROM slots GROUP BY slot),
       |tot AS (
       |  SELECT CAST(sum(cnt_pos) AS BIGINT) AS tot_pos,
       |    CAST(sum(cnt_neg) AS BIGINT) AS tot_neg
       |  FROM counts),
       |model AS (
       |  SELECT slot, cnt_pos, cnt_neg,
       |    CAST(${log2fpDuckSql("cnt_pos + 1")} - ${log2fpDuckSql(s"tot_pos + $v")}
       |      - ${log2fpDuckSql("cnt_neg + 1")} + ${log2fpDuckSql(s"tot_neg + $v")} AS BIGINT) AS w
       |  FROM counts, tot)""".stripMargin
  }

  def trainOracle: String =
    s"""WITH $trainCtes
       |SELECT slot, cnt_pos, cnt_neg, w FROM model""".stripMargin

  def trainedScoreOracle: String =
    s"""WITH $trainCtes,
       |dtoks AS (
       |  SELECT doc_id, unnest(${TextOps.preprocessSql("text")}) AS token FROM documents
       |), dhashed AS (
       |  SELECT doc_id, md5(token) AS h FROM dtoks
       |), dslots AS (
       |  SELECT doc_id, (${TextOps.md5HexFold12Sql("h")}) % ${DocEmbedding.VocabSlots} AS slot FROM dhashed
       |), agg AS (
       |  SELECT doc_id, count(*) AS n_toks, CAST(sum(w) AS BIGINT) AS sum_w
       |  FROM dslots JOIN model USING (slot) GROUP BY doc_id
       |)
       |SELECT doc_id, n_toks, sum_w,
       |  ${QualityModel.floorDivSql("1000 * sum_w", "n_toks")} AS score_q,
       |  ${QualityModel.floorDivSql("1000 * sum_w", "n_toks")} > ${QualityModel.KeepThreshold} AS keep
       |FROM agg""".stripMargin

  /** HELD-OUT evaluation (X202): train on doc_id % 3 ≠ 0, score the
    * % 3 = 0 held-out third, compare against the teacher labels —
    * (n, tp, fp, fn, tn, accuracy_bp, precision_bp, recall_bp, f1_bp),
    * all integer basis points with null-guarded divisions. A held-out
    * doc none of whose tokens hit a trained slot has no score and
    * predicts NEGATIVE (coalesce false — the conservative keep
    * decision). This is the number a pipeline reads before trusting
    * the classifier on the other 99.9% of the corpus; the one-row
    * shape is what a training log records per round. On the fixture
    * the vocabulary is label-uniform BY DESIGN, so the gate records
    * the degenerate all-keep prediction (tn = fn = 0, accuracy ≈ the
    * base rate) — catching exactly such a useless classifier before
    * deployment is what this report is FOR; discriminative behavior
    * is spec-pinned on a planted marker corpus where eval reaches
    * F1 = 10000.
    */
  def evalHoldout(spark: SparkSession, dir: String): DataFrame = {
    // three consumers (train split, score split, label join) over the
    // map-only labeled seed — persist it, same rationale as trainMerged
    val sd = graft.ops.Caches.persist(seed(spark, dir))
    val model = trainDocs(sd.filter(col("doc_id") % 3 =!= 0))
      .select(col("slot"), col("w"))
    val test = sd.filter(col("doc_id") % 3 === 0)
    val scored = QualityModel.scoreDocs(
      test.select(col("doc_id"), col("text")), model)
      .select(col("doc_id"), col("keep"))
    val cm = test.select(col("doc_id"), col("label"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("label"), coalesce(col("keep"), lit(false)).as("pred"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("label") && col("pred"), 1L).otherwise(0L)).as("tp"),
        sum(when(!col("label") && col("pred"), 1L).otherwise(0L)).as("fp"),
        sum(when(col("label") && !col("pred"), 1L).otherwise(0L)).as("fn"),
        sum(when(!col("label") && !col("pred"), 1L).otherwise(0L)).as("tn"))
    cm.select(col("n"), col("tp"), col("fp"), col("fn"), col("tn"),
      expr("(10000 * (tp + tn)) DIV n").as("accuracy_bp"),
      when(col("tp") + col("fp") > 0,
        expr("(10000 * tp) DIV (tp + fp)")).as("precision_bp"),
      when(col("tp") + col("fn") > 0,
        expr("(10000 * tp) DIV (tp + fn)")).as("recall_bp"),
      when(col("tp") * 2 + col("fp") + col("fn") > 0,
        expr("(20000 * tp) DIV (2 * tp + fp + fn)")).as("f1_bp"))
  }

  def evalHoldoutOracle: String =
    s"""WITH ${trainCtesWhere("doc_id % 3 <> 0")},
       |test AS (
       |  SELECT doc_id, text,
       |    (${Analysis.qualityQSql(TextOps.tokenizeSql("text"))}) >= $LabelThreshold AS label
       |  FROM documents
       |  WHERE len(${TextOps.tokenizeSql("text")}) > 0 AND doc_id % 3 = 0),
       |dtoks AS (
       |  SELECT doc_id, unnest(${TextOps.preprocessSql("text")}) AS token FROM test),
       |dslots AS (
       |  SELECT doc_id,
       |    (${TextOps.md5HexFold12Sql("md5(token)")}) % ${DocEmbedding.VocabSlots} AS slot
       |  FROM dtoks),
       |agg AS (
       |  SELECT doc_id, count(*) AS n_toks, CAST(sum(w) AS BIGINT) AS sum_w
       |  FROM dslots JOIN model USING (slot) GROUP BY doc_id),
       |pred AS (
       |  SELECT t.label,
       |    coalesce(${QualityModel.floorDivSql("1000 * a.sum_w", "a.n_toks")} > ${QualityModel.KeepThreshold},
       |      false) AS pred
       |  FROM test t LEFT JOIN agg a USING (doc_id)),
       |cm AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN label AND pred THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |    CAST(sum(CASE WHEN NOT label AND pred THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |    CAST(sum(CASE WHEN label AND NOT pred THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       |    CAST(sum(CASE WHEN NOT label AND NOT pred THEN 1 ELSE 0 END) AS BIGINT) AS tn
       |  FROM pred)
       |SELECT n, tp, fp, fn, tn,
       |  CAST((10000 * (tp + tn)) // n AS BIGINT) AS accuracy_bp,
       |  CASE WHEN tp + fp > 0 THEN CAST((10000 * tp) // (tp + fp) AS BIGINT) END
       |    AS precision_bp,
       |  CASE WHEN tp + fn > 0 THEN CAST((10000 * tp) // (tp + fn) AS BIGINT) END
       |    AS recall_bp,
       |  CASE WHEN 2 * tp + fp + fn > 0
       |       THEN CAST((20000 * tp) // (2 * tp + fp + fn) AS BIGINT) END AS f1_bp
       |FROM cm""".stripMargin

  /** Score-bucket width for the calibration table. */
  val CalibBucket = 50L

  /** CALIBRATION / reliability table (X207): held-out docs bucketed by
    * model score, with the empirical positive rate per bucket — the
    * reliability diagram a pipeline reads before picking the keep
    * threshold (a well-calibrated score's pos_rate_bp rises with the
    * bucket; a flat table means the score carries no signal — which is
    * exactly what the label-uniform fixture shows). Every division on
    * the score path is FLOOR division on both engines: `score_q` itself
    * floors via the pmod trick in [[QualityModel.scoreDocs]], and the
    * bucket floors again (Spark `floor(x/50.0)`, DuckDB `//`) — so the
    * agreement never depends on the sign of the fixture weights.
    * Unscored held-outs sit out (no score, no bucket).
    */
  def calibration(spark: SparkSession, dir: String): DataFrame = {
    val sd = graft.ops.Caches.persist(seed(spark, dir))
    val model = trainDocs(sd.filter(col("doc_id") % 3 =!= 0))
      .select(col("slot"), col("w"))
    val test = sd.filter(col("doc_id") % 3 === 0)
    QualityModel.scoreDocs(test.select(col("doc_id"), col("text")), model)
      .select(col("doc_id"), col("score_q"))
      .join(test.select(col("doc_id"), col("label")), "doc_id")
      .select(floor(col("score_q").cast("double") / CalibBucket.toDouble)
        .cast("long").as("bucket"), col("label"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("label"), 1L).otherwise(0L)).as("positives"))
      .select(col("bucket"), col("n"), col("positives"),
        expr("(10000 * positives) DIV n").as("pos_rate_bp"))
  }

  def calibrationOracle: String =
    s"""WITH ${trainCtesWhere("doc_id % 3 <> 0")},
       |test AS (
       |  SELECT doc_id, text,
       |    (${Analysis.qualityQSql(TextOps.tokenizeSql("text"))}) >= $LabelThreshold AS label
       |  FROM documents
       |  WHERE len(${TextOps.tokenizeSql("text")}) > 0 AND doc_id % 3 = 0),
       |dtoks AS (
       |  SELECT doc_id, unnest(${TextOps.preprocessSql("text")}) AS token FROM test),
       |dslots AS (
       |  SELECT doc_id,
       |    (${TextOps.md5HexFold12Sql("md5(token)")}) % ${DocEmbedding.VocabSlots} AS slot
       |  FROM dtoks),
       |agg AS (
       |  SELECT doc_id, count(*) AS n_toks, CAST(sum(w) AS BIGINT) AS sum_w
       |  FROM dslots JOIN model USING (slot) GROUP BY doc_id),
       |bk AS (
       |  SELECT ${QualityModel.floorDivSql(
                    QualityModel.floorDivSql("1000 * a.sum_w", "a.n_toks"),
                    CalibBucket.toString)} AS bucket, t.label
       |  FROM test t JOIN agg a USING (doc_id))
       |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS positives,
       |  CAST((10000 * sum(CASE WHEN label THEN 1 ELSE 0 END)) // count(*) AS BIGINT)
       |    AS pos_rate_bp
       |FROM bk GROUP BY bucket""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_quality_train" -> Query((s, dir) => train(s, dir), trainOracle),
    "q_quality_train_score" -> Query((s, dir) => trainedScore(s, dir), trainedScoreOracle),
    // count additivity makes batch-merge training bit-identical to
    // whole-seed training — the merged gate answers to the SAME oracle
    "q_quality_train_merged" -> Query((s, dir) => trainMerged(s, dir), trainOracle),
    "q_quality_eval" -> Query((s, dir) => evalHoldout(s, dir), evalHoldoutOracle),
    "q_quality_calibration" -> Query((s, dir) => calibration(s, dir), calibrationOracle)
  )
}
