package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Deterministic TOKEN-BUDGETED corpus mixing — the complement of
  * [[CorpusOps.mixCorpus]]'s rate-based epoch replication: that
  * operator answers "repeat each source at rate r" (Pile-style
  * up/downsampling); this one answers the budgeted form every
  * training-data freeze ultimately needs — "fill a budget of B tokens
  * with these source weights" (LLaMA/Dolma publish exactly such
  * token-share tables) — selecting documents so each source
  * contributes its weighted share of TOKENS exactly, bit-reproducibly.
  *
  * Semantics, all integer-exact:
  *   - per-source token quotas by the largest-remainder method
  *     (`quota_s = ⌊budget·w_s/ΣW⌋` plus +1 for the largest
  *     remainders, ties by source name) — Σ quotas == budget EXACTLY,
  *     the X137 crawl-budget discipline applied to tokens;
  *   - within a source, documents are taken in salted-md5 hash order
  *     (content-independent, append-stable — the X-cap discipline)
  *     while the RUNNING token sum stays ≤ the quota: under-fill,
  *     never overshoot; a source whose quota exceeds its availability
  *     contributes everything it has (no silent redistribution — the
  *     shortfall is visible in the report, not papered over).
  *
  * Scale shape: the naive form is one `SUM(toks) OVER (PARTITION BY
  * source ORDER BY h)` window — a 100 TB corpus's largest source
  * funnels through ONE task. Instead, as in [[CorpusOps.capPerSource]],
  * hash-prefix sub-buckets are shards for [[Prefix.shardStarts]], whose
  * per-(source, bucket) token sums give each bucket's starting offset;
  * buckets entirely inside the quota are kept with NO window, buckets
  * entirely past it are dropped, and only the ONE boundary bucket per
  * source runs a window — partitioned by (source, bucket),
  * 1/[[CorpusOps.CapBuckets]] of the source per task. The oracle states
  * the single-window SPEC; the gate proves the bucketed plan equals it.
  *
  * Reference scope: no mixing surface in the reference; north-star
  * LLM-pipeline machinery.
  */
object Mixing {

  /** Salt decorrelating the mix-order hash from the cap/split hashes. */
  val MixSalt = "#mix"

  /** The planted weight classes, keyed by source number mod 5 — spans
    * both regimes deterministically at any sf (sources hold ~5% of
    * corpus tokens each): classes 1 and 2 of 120 select a strict
    * prefix; classes 8–10 exceed availability and take the source
    * whole.
    */
  val WeightClasses = Seq(1, 2, 8, 9, 10)

  private def weighted(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("toks"),
        md5(concat(col("doc_id").cast("string"), lit(MixSalt))).as("h"))
      .withColumn("w", element_at(
        array(WeightClasses.map(lit): _*),
        (regexp_extract(col("source"), "(\\d+)$", 1).cast("int") % 5) + 1)
        .cast("long"))

  /** Largest-remainder quotas over any keyed availability table
    * `(key, w, avail_toks)` against a one-row `(budget)` frame —
    * the shared core of the planted-weight source mix and the
    * round-12 temperature language mix. The topup rank runs over the
    * key-count-sized table (a window, but provably dim-sized).
    */
  private def lrQuotas(byKey: DataFrame, budget: DataFrame, key: String): DataFrame = {
    val sumW = byKey.agg(sum(col("w")).as("sw"))
    val fl = byKey.crossJoin(broadcast(budget)).crossJoin(broadcast(sumW))
      .withColumn("fl", expr("budget * w DIV sw"))
      .withColumn("rem", expr("budget * w % sw"))
    val leftover = fl.agg((max(col("budget")) - sum(col("fl"))).as("l"))
    val wTop = Window.orderBy(col("rem").desc, col(key))
    fl.crossJoin(broadcast(leftover))
      .withColumn("rk", row_number().over(wTop))
      .select(col(key), col("w"), col("avail_toks"),
        (col("fl") + when(col("rk") <= col("l"), 1L).otherwise(0L)).as("quota"))
  }

  /** (source, w, avail_toks, quota): largest-remainder token quotas
    * against the whole corpus's token count as the budget.
    */
  def quotas(docs: DataFrame): DataFrame = {
    val d = weighted(docs)
    val bySrc = d.groupBy(col("source"), col("w"))
      .agg(sum(col("toks")).as("avail_toks"))
    lrQuotas(bySrc, d.agg(sum(col("toks")).as("budget")), "source")
  }

  /** Hash-order prefix selection under per-key quotas — the bucketed
    * two-pass exact rewrite of the single-window SPEC (see the object
    * Scaladoc), shared by both mixes. `d` carries (doc_id, key, toks,
    * h); `q` carries (key, quota).
    */
  private def selectUnderQuota(d0: DataFrame, q: DataFrame, key: String): DataFrame = {
    val d = d0.withColumn("b", conv(substring(col("h"), 1, 2), 16, 10).cast("int"))
    val starts = Prefix.shardStarts(d, Seq(key), "b", col("toks")).join(broadcast(q), Seq(key))
    val joined = d.join(starts, Seq(key, "b"))
    val keptFull = joined.filter(col("start") + col("k") <= col("quota"))
    val boundary = joined.filter(col("start") < col("quota")
      && col("start") + col("k") > col("quota"))
    val wB = Window.partitionBy(col(key), col("b"))
      .orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val keptBoundary = boundary
      .withColumn("cum", sum(col("toks")).over(wB))
      .filter(col("start") + col("cum") <= col("quota"))
    keptFull.select(col("doc_id"), col(key), col("toks"))
      .unionByName(keptBoundary.select(col("doc_id"), col(key), col("toks")))
  }

  /** The selected documents: (doc_id, source, toks). */
  def mix(docs: DataFrame): DataFrame =
    selectUnderQuota(weighted(docs), quotas(docs).select(col("source"), col("quota")),
      "source")

  /** Per-source mixing report: (source, w, quota, picked_docs,
    * picked_toks, shortfall) — shortfall > 0 names a source whose
    * availability could not fill its share (never silently
    * redistributed).
    */
  def mixReport(docs: DataFrame): DataFrame =
    quotas(docs)
      .join(mix(docs).groupBy(col("source"))
        .agg(count(lit(1)).as("picked_docs"), sum(col("toks")).as("picked_toks")),
        Seq("source"), "left")
      .select(col("source"), col("w"), col("quota"),
        coalesce(col("picked_docs"), lit(0L)).as("picked_docs"),
        coalesce(col("picked_toks"), lit(0L)).as("picked_toks"),
        greatest(lit(0L), col("quota") - col("avail_toks")).as("shortfall"))

  /** Exact ⌊√x⌋ as a column: double sqrt then ±1 integer correction —
    * bit-exact in both engines for x ≤ 2⁵² (corpus token counts).
    */
  def isqrt(c: Column): Column = {
    val s = floor(sqrt(c.cast("double"))).cast("long")
    when((s + 1) * (s + 1) <= c, s + 1).when(s * s > c, s - 1).otherwise(s)
  }

  /** [[isqrt]]'s DuckDB twin over an expression string. */
  def isqrtSql(x: String): String =
    s"""(CASE WHEN (CAST(floor(sqrt(CAST(($x) AS DOUBLE))) AS BIGINT) + 1)
       |        * (CAST(floor(sqrt(CAST(($x) AS DOUBLE))) AS BIGINT) + 1) <= ($x)
       |      THEN CAST(floor(sqrt(CAST(($x) AS DOUBLE))) AS BIGINT) + 1
       |      WHEN CAST(floor(sqrt(CAST(($x) AS DOUBLE))) AS BIGINT)
       |        * CAST(floor(sqrt(CAST(($x) AS DOUBLE))) AS BIGINT) > ($x)
       |      THEN CAST(floor(sqrt(CAST(($x) AS DOUBLE))) AS BIGINT) - 1
       |      ELSE CAST(floor(sqrt(CAST(($x) AS DOUBLE))) AS BIGINT) END)""".stripMargin
      .replace("\n", " ").replaceAll(" +", " ")

  /** TEMPERATURE-balanced multilingual mixing (round 12) — the
    * classic `p_l ∝ n_l^α` sampling every multilingual pretraining
    * recipe runs (mBERT/XLM-R publish exactly this curve) at α = 0.5:
    * a language's weight is the EXACT integer square root of its
    * available tokens ([[isqrt]] — α is a knob the recipe fixes, and
    * ½ is the one exponent with an integer-exact power), so
    * low-resource languages get a larger-than-proportional share and
    * the head languages a smaller one. Quotas by the same
    * largest-remainder core as the source mix, against HALF the
    * corpus tokens (a budget below availability so the temperature
    * actually bites), selection by the same bucketed hash-order
    * prefix. Report: (lang, avail_toks, w, quota, share_bp, prop_bp)
    * — share_bp vs prop_bp makes the reshaping visible (share > prop
    * exactly for the low-resource tail).
    */
  def temperatureQuotas(docs: DataFrame): DataFrame = {
    val d = docs.select(col("lang"),
      size(split(col("text"), " ")).cast("long").as("toks"))
    val byLang = d.groupBy(col("lang")).agg(sum(col("toks")).as("avail_toks"))
      .withColumn("w", isqrt(col("avail_toks")))
    val budget = d.agg((sum(col("toks")) / 2).cast("long").as("budget"))
    lrQuotas(byLang, budget, "lang")
      .crossJoin(broadcast(budget))
      .crossJoin(broadcast(d.agg(sum(col("toks")).as("total"))))
      .select(col("lang"), col("avail_toks"), col("w"), col("quota"),
        expr("quota * 10000 DIV budget").as("share_bp"),
        expr("avail_toks * 10000 DIV total").as("prop_bp"))
  }

  /** The temperature-mix selected documents: (doc_id, lang, toks). */
  def mixTemperature(docs: DataFrame): DataFrame = {
    val d = docs.select(col("doc_id"), col("lang"),
      size(split(col("text"), " ")).cast("long").as("toks"),
      md5(concat(col("doc_id").cast("string"), lit(MixSalt))).as("h"))
    selectUnderQuota(d,
      temperatureQuotas(docs).select(col("lang"), col("quota")), "lang")
  }

  private def tempCtes: String =
    s"""d AS (
       |  SELECT doc_id, lang,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
       |    md5(CAST(doc_id AS VARCHAR) || '$MixSalt') AS h
       |  FROM documents),
       |bylang AS (
       |  SELECT lang, SUM(toks) AS avail_toks,
       |    ${isqrtSql("SUM(toks)")} AS w
       |  FROM d GROUP BY lang),
       |tot AS (SELECT SUM(toks) AS total, SUM(toks) // 2 AS budget FROM d),
       |sw AS (SELECT SUM(w) AS sw FROM bylang),
       |fl AS (
       |  SELECT lang, w, avail_toks,
       |    budget * w // sw AS fl, budget * w % sw AS rem
       |  FROM bylang, tot, sw),
       |lo AS (SELECT MAX(budget) - SUM(fl) AS l FROM fl, tot),
       |quota AS (
       |  SELECT lang, w, avail_toks,
       |    CAST(fl + CASE WHEN row_number() OVER (ORDER BY rem DESC, lang) <= l
       |      THEN 1 ELSE 0 END AS BIGINT) AS quota
       |  FROM fl, lo)""".stripMargin

  def temperatureQuotasOracle: String =
    s"""WITH $tempCtes
       |SELECT q.lang, CAST(q.avail_toks AS BIGINT) AS avail_toks, q.w, q.quota,
       |  CAST(q.quota * 10000 // t.budget AS BIGINT) AS share_bp,
       |  CAST(q.avail_toks * 10000 // t.total AS BIGINT) AS prop_bp
       |FROM quota q, tot t""".stripMargin

  def mixTemperatureOracle: String =
    s"""WITH $tempCtes,
       |sel AS (
       |  SELECT d.doc_id, d.lang, d.toks,
       |    SUM(d.toks) OVER (PARTITION BY d.lang ORDER BY d.h, d.doc_id
       |      ROWS UNBOUNDED PRECEDING) AS cum, q.quota
       |  FROM d JOIN quota q USING (lang))
       |SELECT doc_id, lang, toks FROM sel WHERE cum <= quota""".stripMargin

  private def mixCtes: String =
    s"""d AS (
       |  SELECT doc_id, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
       |    md5(CAST(doc_id AS VARCHAR) || '$MixSalt') AS h,
       |    CAST([${WeightClasses.mkString(", ")}][
       |      CAST(regexp_extract(source, '(\\d+)$$', 1) AS INTEGER) % 5 + 1]
       |      AS BIGINT) AS w
       |  FROM documents),
       |bysrc AS (
       |  SELECT source, w, SUM(toks) AS avail_toks FROM d GROUP BY source, w),
       |tot AS (SELECT SUM(toks) AS budget FROM d),
       |sw AS (SELECT SUM(w) AS sw FROM bysrc),
       |fl AS (
       |  SELECT source, w, avail_toks,
       |    budget * w // sw AS fl, budget * w % sw AS rem
       |  FROM bysrc, tot, sw),
       |lo AS (SELECT MAX(budget) - SUM(fl) AS l FROM fl, tot),
       |quota AS (
       |  SELECT source, w, avail_toks,
       |    CAST(fl + CASE WHEN row_number() OVER (ORDER BY rem DESC, source) <= l
       |      THEN 1 ELSE 0 END AS BIGINT) AS quota
       |  FROM fl, lo),
       |sel AS (
       |  SELECT d.doc_id, d.source, d.toks,
       |    SUM(d.toks) OVER (PARTITION BY d.source ORDER BY d.h, d.doc_id
       |      ROWS UNBOUNDED PRECEDING) AS cum, q.quota
       |  FROM d JOIN quota q USING (source))""".stripMargin

  def mixOracle: String =
    s"""WITH $mixCtes
       |SELECT doc_id, source, toks FROM sel WHERE cum <= quota""".stripMargin

  def reportOracle: String =
    s"""WITH $mixCtes,
       |picked AS (
       |  SELECT source, COUNT(*) AS picked_docs, SUM(toks) AS picked_toks
       |  FROM sel WHERE cum <= quota GROUP BY source)
       |SELECT q.source, q.w, q.quota,
       |  CAST(COALESCE(p.picked_docs, 0) AS BIGINT) AS picked_docs,
       |  CAST(COALESCE(p.picked_toks, 0) AS BIGINT) AS picked_toks,
       |  CAST(greatest(0, q.quota - q.avail_toks) AS BIGINT) AS shortfall
       |FROM quota q LEFT JOIN picked p USING (source)""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_mix_budget" -> Query((s, dir) =>
      mix(graft.ops.ScaleOps.widen(Tables.documents(s, dir))),
      mixOracle),
    "q_mix_budget_report" -> Query((s, dir) =>
      mixReport(graft.ops.ScaleOps.widen(Tables.documents(s, dir))),
      reportOracle),
    "q_mix_temperature" -> Query((s, dir) =>
      mixTemperature(graft.ops.ScaleOps.widen(Tables.documents(s, dir))),
      mixTemperatureOracle),
    "q_mix_temperature_report" -> Query((s, dir) =>
      temperatureQuotas(graft.ops.ScaleOps.widen(Tables.documents(s, dir))),
      temperatureQuotasOracle)
  )
}
