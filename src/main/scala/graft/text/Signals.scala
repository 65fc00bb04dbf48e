package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Corpus-curation SIGNALS — the two report tables data teams read
  * before touching the knobs the other operators implement:
  *
  *  - [[novelty]]: per-document n-gram NOVELTY — what fraction of a
  *    document's k-token windows occur nowhere else in the corpus.
  *    Low novelty = template/boilerplate/near-copy mass the dedup
  *    family will collapse; the metric quantifies it BEFORE deciding
  *    thresholds (the X35 repetition filter is within-doc; this is
  *    the cross-doc complement).
  *  - [[vocabCoverage]]: the token-coverage CURVE — the smallest
  *    vocabulary (by corpus frequency, ties broken by word) covering
  *    50/75/90/95/99/100% of token occurrences. THE tokenizer-budget
  *    planning table (how big a vocab must be before <unk> mass is
  *    negligible), the X183 fertility table's companion.
  *
  * Scale shapes: novelty is one shingle explosion carrying md5s (the
  * X167 `shingle_md5` codegen scan), one count exchange on hashes, one
  * join back on hashes, one per-doc aggregate — text never shuffles.
  * Coverage collapses the corpus to the vocab FIRST (Heaps' law —
  * orders of magnitude smaller), then runs rank + running sum windows
  * over the VOCAB-sized table (declared dim-sized window, the X77
  * discipline) and reduces to six rows.
  */
object Signals {

  /** Novelty window width, in tokens — short enough that ordinary
    * sentences produce windows, long enough that chance collisions of
    * independent text are negligible.
    */
  val NoveltyK = 8

  /** (doc_id, windows, novel, novelty_bp): per-document k-token-window
    * novelty in integer basis points. Documents with fewer than
    * [[NoveltyK]] tokens have no windows and are ABSENT (no evidence,
    * no verdict — the house contract).
    */
  def novelty(docs: DataFrame, k: Int = NoveltyK): DataFrame = {
    val starts = graft.dedup.ExactSpans.shingleStarts(docs, k)
    val perHash = starts.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"), count(lit(1)).as("occ"))
    starts.join(perHash, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("windows"),
        // novel = this doc is the ONLY doc with the window AND the
        // window occurs exactly once (a within-doc repeat is not novel)
        sum(when(col("nd") === 1 && col("occ") === 1, 1L).otherwise(0L)).as("novel"))
      .select(col("doc_id"), col("windows"), col("novel"),
        expr("(10000 * novel) DIV windows").as("novelty_bp"))
  }

  def noveltyOracle(k: Int = NoveltyK): String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks,
       |    len(string_split(text, ' ')) AS n
       |  FROM documents),
       |w AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(0, n - $k + 1), i ->
       |      md5(array_to_string(toks[i + 1 : i + $k], ' ')))) AS h
       |  FROM d WHERE n >= $k),
       |ph AS (
       |  SELECT h, count(DISTINCT doc_id) AS nd, count(*) AS occ
       |  FROM w GROUP BY h)
       |SELECT doc_id,
       |  CAST(count(*) AS BIGINT) AS windows,
       |  CAST(sum(CASE WHEN nd = 1 AND occ = 1 THEN 1 ELSE 0 END) AS BIGINT) AS novel,
       |  CAST((10000 * sum(CASE WHEN nd = 1 AND occ = 1 THEN 1 ELSE 0 END))
       |    // count(*) AS BIGINT) AS novelty_bp
       |FROM w JOIN ph USING (h) GROUP BY doc_id""".stripMargin

  /** The coverage thresholds reported, in basis points. */
  val CoverageBp: Seq[Int] = Seq(5000, 7500, 9000, 9500, 9900, 10000)

  /** (coverage_bp, vocab_size, tokens_covered): for each threshold,
    * the smallest frequency-ranked vocabulary whose cumulative token
    * count reaches it — rank order (cnt DESC, w ASC) total, so the
    * curve is deterministic on both engines.
    */
  def vocabCoverage(docs: DataFrame): DataFrame = {
    val vocab = docs
      .select(explode(TextOps.tokenize(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val wOrd = Window.orderBy(col("cnt").desc, col("w"))
    val ranked = vocab
      .withColumn("rk", row_number().over(wOrd))
      .withColumn("cum", sum(col("cnt")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .crossJoin(broadcast(vocab.agg(sum(col("cnt")).as("total"))))
    val th = docs.sparkSession.createDataFrame(
      CoverageBp.map(Tuple1(_))).toDF("coverage_bp")
    ranked.crossJoin(broadcast(th))
      .filter(col("cum") * 10000 >= col("coverage_bp") * col("total"))
      .groupBy(col("coverage_bp"))
      .agg(min(col("rk")).as("vocab_size"),
        min_by(col("cum"), col("rk")).as("tokens_covered"))
      .select(col("coverage_bp").cast("long").as("coverage_bp"),
        col("vocab_size").cast("long").as("vocab_size"),
        col("tokens_covered").cast("long").as("tokens_covered"))
  }

  def vocabCoverageOracle: String =
    s"""WITH words AS (
       |  SELECT unnest(${TextOps.tokenizeSql("text")}) AS w FROM documents),
       |vocab AS (
       |  SELECT w, count(*) AS cnt FROM words GROUP BY w),
       |ranked AS (
       |  SELECT w, cnt,
       |    row_number() OVER (ORDER BY cnt DESC, w) AS rk,
       |    sum(cnt) OVER (ORDER BY cnt DESC, w
       |      ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM vocab),
       |tot AS (SELECT sum(cnt) AS total FROM vocab),
       |th AS (SELECT unnest([${CoverageBp.mkString(", ")}]) AS coverage_bp)
       |SELECT CAST(coverage_bp AS BIGINT) AS coverage_bp,
       |  CAST(min(rk) AS BIGINT) AS vocab_size,
       |  CAST(min_by(cum, rk) AS BIGINT) AS tokens_covered
       |FROM ranked, tot, th
       |WHERE cum * 10000 >= coverage_bp * total
       |GROUP BY coverage_bp""".stripMargin

  private def widened(s: SparkSession, dir: String): DataFrame =
    graft.ops.ScaleOps.widen(Tables.documents(s, dir))
      .select(col("doc_id"), col("text"))

  /** CROSS-corpus novelty (X211) — the data-VALUATION question "how
    * much of this new batch is content the corpus doesn't already
    * have?": for each batch document (doc_id % 10 = 0, the X42/X198
    * ingestion split), the fraction of its k-token windows whose hash
    * appears NOWHERE in the reference corpus (the other 90%). Within-
    * batch repeats don't matter here — against-the-corpus is the
    * question — so the reference side reduces to a DISTINCT hash set
    * and the probe is one left-anti-shaped join on hashes (broadcast
    * when the reference vocab allows, shuffle-hash otherwise); text
    * never shuffles. Complements X184 (within-corpus novelty) exactly
    * the way X198 complements X187.
    */
  def crossNovelty(docs: DataFrame, k: Int = NoveltyK): DataFrame = {
    val starts = graft.dedup.ExactSpans.shingleStarts(docs, k)
    val isBatch = col("doc_id") % 10 === 0
    val ref = starts.filter(!isBatch).select(col("h")).distinct()
      .withColumn("seen", lit(true))
    starts.filter(isBatch).join(ref, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("windows"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("unseen"))
      .select(col("doc_id"), col("windows"), col("unseen"),
        expr("(10000 * unseen) DIV windows").as("novelty_bp"))
  }

  def crossNoveltyOracle(k: Int = NoveltyK): String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks,
       |    len(string_split(text, ' ')) AS n
       |  FROM documents),
       |w AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(0, n - $k + 1), i ->
       |      md5(array_to_string(toks[i + 1 : i + $k], ' ')))) AS h
       |  FROM d WHERE n >= $k),
       |ref AS (SELECT DISTINCT h FROM w WHERE doc_id % 10 <> 0),
       |b AS (SELECT doc_id, h FROM w WHERE doc_id % 10 = 0)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS windows,
       |  CAST(sum(CASE WHEN ref.h IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS unseen,
       |  CAST((10000 * sum(CASE WHEN ref.h IS NULL THEN 1 ELSE 0 END))
       |    // count(*) AS BIGINT) AS novelty_bp
       |FROM b LEFT JOIN ref ON ref.h = b.h
       |GROUP BY doc_id""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_novelty" -> Query((s, dir) => novelty(widened(s, dir)), noveltyOracle()),
    "q_novelty_cross" -> Query((s, dir) => crossNovelty(widened(s, dir)), crossNoveltyOracle()),
    "q_vocab_coverage" -> Query((s, dir) => vocabCoverage(widened(s, dir)), vocabCoverageOracle)
  )
}
