package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Exact grouped quantiles by histogram selection — order statistics
  * without ordering the rows.
  *
  * The naive plan for per-group percentiles (Spark's `percentile`, any
  * `ORDER BY` + offset pick) sorts every ROW of every group: at 100 TB
  * that is a full-corpus range shuffle and a spill-heavy sort whose cost
  * is data-sized regardless of how few distinct values the measure has.
  * This operator computes the SAME order statistic from the value
  * histogram instead:
  *
  *   1. `groupBy(key, v) → cnt` — the only corpus-sized shuffle, with
  *      map-side partial aggregation, carrying one row per DISTINCT
  *      (key, value) pair (for bounded measures like quantities, ratings,
  *      ages, sizes-in-buckets this is thousands of rows, not billions);
  *   2. one window pass per key over the histogram: running `cum` and
  *      group total `n` share a single hash exchange + sort of
  *      histogram-sized input;
  *   3. the rank-q statistic is the smallest v whose cumulative count
  *      reaches rank `⌈q·n⌉` — selected with `min(when(...))` in a final
  *      aggregate that REUSES the window's partitioning (no new
  *      exchange).
  *
  * The rank test `100·cum ≥ p·n` is the exact integer form of
  * `cum ≥ ⌈(p/100)·n⌉` — no floats, no half-even rounding hazard, bit
  * equal on any engine (the repo-wide exact-integer gate discipline).
  * This is the classic type-1 (lower) sample quantile, the one DuckDB
  * calls `quantile_disc`; `QuantilesSpec` pins the equivalence against a
  * literal sort-and-index oracle per group.
  *
  * Scale: the plan's cost after the first aggregate is histogram-sized.
  * Even for near-continuous measures (micro-priced cents) the histogram
  * never exceeds the row count, so the operator strictly dominates the
  * sort plan; for low-cardinality measures it is orders of magnitude
  * smaller. Skewed groups cost Θ(their distinct values), not Θ(their
  * rows).
  */
object Quantiles {

  /** Percent ranks every gate emits, lowest to highest. */
  val Percents: Seq[Int] = Seq(25, 50, 75, 90, 99)

  /** Histogram-selection quantiles of integer column `v` per `key`.
    * Input may repeat (key, v) arbitrarily; output is one row per key
    * with `n_rows` and one BIGINT column per entry of [[Percents]].
    */
  def grouped(rows: DataFrame, key: Column, v: Column): DataFrame = {
    val hist = rows.select(key.as("k"), v.cast("long").as("v"))
      .groupBy(col("k"), col("v")).agg(count(lit(1)).as("cnt"))
    val byV = Window.partitionBy(col("k")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy(col("k"))
    val cum = hist.select(col("k"), col("v"),
      sum(col("cnt")).over(byV).as("cum"),
      sum(col("cnt")).over(whole).as("n"))
    val picks: Seq[Column] = Percents.map { p =>
      min(when(col("cum") * 100 >= col("n") * p, col("v"))).as(s"p$p")
    }
    cum.groupBy(col("k"))
      .agg(max(col("n")).as("n_rows"), picks: _*)
  }

  /** SQL twin of [[grouped]] for the DuckDB oracle: same histogram, same
    * window, same integer rank test. `fromSql` must yield columns
    * `k` (group) and `v` (BIGINT measure).
    */
  def groupedSql(fromSql: String): String = {
    val picks = Percents.map { p =>
      s"min(CASE WHEN cum * 100 >= n * $p THEN v END) AS p$p"
    }.mkString(",\n  ")
    s"""WITH hist AS (
       |  SELECT k, v, count(*) AS cnt FROM ($fromSql) GROUP BY k, v
       |), cum AS (
       |  SELECT k, v,
       |    sum(cnt) OVER (PARTITION BY k ORDER BY v
       |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    sum(cnt) OVER (PARTITION BY k) AS n
       |  FROM hist
       |)
       |SELECT k, CAST(max(n) AS BIGINT) AS n_rows,
       |  $picks
       |FROM cum GROUP BY k""".stripMargin
  }

  /** Per-returnflag quantity quantiles — the bounded-measure case the
    * histogram plan is built for: 50 distinct quantities per flag, so
    * everything after the first partial-aggregated shuffle is ~150 rows
    * however large lineitem grows.
    */
  def lineitemQuantiles(spark: SparkSession, dir: String): DataFrame =
    grouped(Tables.lineitem(spark, dir),
      col("l_returnflag"), floor(col("l_quantity")))

  def lineitemQuantilesOracle: String =
    groupedSql(
      "SELECT l_returnflag AS k, CAST(floor(l_quantity) AS BIGINT) AS v FROM lineitem")

  /** Per-event-type spend quantiles — the near-continuous case (cents):
    * the histogram approaches row count, the plan is still never worse
    * than the sort, and correctness is identical. Together the two gates
    * cover both cardinality regimes of the one operator.
    */
  def eventQuantiles(spark: SparkSession, dir: String): DataFrame =
    grouped(Tables.events(spark, dir),
      col("event_type"), floor(col("value") * 100))

  def eventQuantilesOracle: String =
    groupedSql(
      "SELECT event_type AS k, CAST(floor(value * 100) AS BIGINT) AS v FROM events")

  /** Robust outlier statistics (X156) — median + MAD (median absolute
    * deviation), the screen quality pipelines use where mean/stddev
    * would let the outliers move their own threshold: per key the
    * type-1 median `m`, `mad = median(|v − m|)`, and the count of rows
    * with `|v − m| > 3·mad`. Exact integers end to end; BOTH medians
    * are [[grouped]]'s p50 (its rank test `cum·100 ≥ n·50` is the
    * oracle's integer `cum·2 ≥ n`), never a per-group row sort, and the
    * two model-sized (k, scalar) relations broadcast back to the row
    * stream.
    */
  def robustStats(rows: DataFrame, key: Column, v: Column): DataFrame = {
    val base = rows.select(key.as("k"), v.cast("long").as("v"))
    val med = grouped(base, col("k"), col("v")).select(col("k"), col("p50").as("m"))
    val dev = base.join(broadcast(med), Seq("k"))
      .select(col("k"), abs(col("v") - col("m")).as("v"))
    val mad = grouped(dev, col("k"), col("v")).select(col("k"), col("p50").as("mad"))
    base.join(broadcast(med), Seq("k")).join(broadcast(mad), Seq("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_rows"),
        max(col("m")).as("median_v"),
        max(col("mad")).as("mad"),
        sum(when(abs(col("v") - col("m")) > col("mad") * 3, 1L).otherwise(0L))
          .as("outliers"))
  }

  /** Planted heavy-tail fixture: three groups of a bounded base value
    * with every 97th doc spiked three orders of magnitude — the
    * outlier branch does real work and restates closed-form.
    */
  def robustFixture(spark: SparkSession, dir: String): DataFrame =
    robustStats(graft.ops.ScaleOps.widen(Tables.documents(spark, dir)),
      col("doc_id") % 3,
      when(col("doc_id") % 97 === 0, col("doc_id") * 1000L)
        .otherwise(col("doc_id") % 500))

  def robustOracle: String = {
    def med(rel: String, out: String): String =
      s"""${out}_h AS (SELECT k, v, count(*) AS cnt FROM $rel GROUP BY k, v),
         |${out}_c AS (
         |  SELECT k, v,
         |    sum(cnt) OVER (PARTITION BY k ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    sum(cnt) OVER (PARTITION BY k) AS n
         |  FROM ${out}_h),
         |$out AS (
         |  SELECT k, min(CASE WHEN cum * 2 >= n THEN v END) AS m FROM ${out}_c GROUP BY k)""".stripMargin
    s"""WITH base AS (
       |  SELECT doc_id % 3 AS k,
       |    CASE WHEN doc_id % 97 = 0 THEN doc_id * 1000 ELSE doc_id % 500 END AS v
       |  FROM documents),
       |${med("base", "med")},
       |dev AS (
       |  SELECT b.k, abs(b.v - med.m) AS v FROM base b JOIN med USING (k)),
       |${med("dev", "madr")}
       |SELECT b.k,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(max(med.m) AS BIGINT) AS median_v,
       |  CAST(max(madr.m) AS BIGINT) AS mad,
       |  CAST(sum(CASE WHEN abs(b.v - med.m) > madr.m * 3 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS outliers
       |FROM base b JOIN med USING (k) JOIN madr USING (k)
       |GROUP BY b.k""".stripMargin
  }

  def queries: Seq[(String, Query)] = Seq(
    "q_quantiles_lineitem" -> Query((s, dir) => lineitemQuantiles(s, dir), lineitemQuantilesOracle),
    "q_quantiles_events" -> Query((s, dir) => eventQuantiles(s, dir), eventQuantilesOracle),
    "q_robust_stats" -> Query((s, dir) => robustFixture(s, dir), robustOracle)
  )
}
