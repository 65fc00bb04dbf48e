package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

import graft.{Query, Tables}

/** JSON-column + time-window operators over the `events` table — the
  * fixture's stand-in for semi-structured event streams (SURVEY §2.8 note:
  * the reference has no JSON functions; the `props` column exists so the
  * engine's `from_json`/`get_json_object` surface is exercised).
  *
  * Scale notes: JSON parsing is per-row, codegen'd, shuffle-free; the
  * tumbling-window aggregation groups by (window, event_type) — a single
  * hash aggregate with map-side partials. The double-valued `value` column
  * is summed as exact integer cents (floor(value·100)) so the aggregate is
  * order-independent — deterministic under any parallelism and
  * bit-identical to the oracle — then rendered back as one double division.
  */
object Events {

  val PropsSchema: StructType = new StructType().add("k", LongType)

  /** Hourly tumbling-window aggregate per event type. Spark's `window()`
    * aligns tumbling windows to the epoch, so whole-hour windows coincide
    * with `date_trunc('hour', ts)` — the oracle's form.
    */
  def hourlyJsonAgg(spark: SparkSession, dir: String): DataFrame =
    // the per-row JSON parse is the scan-stage cost — widen under-split files
    ScaleOps.widen(Tables.events(spark, dir))
      .select(
        col("ts"), col("event_type"),
        from_json(col("props"), PropsSchema).getField("k").as("k"),          // typed parse
        get_json_object(col("props"), "$.k").cast("long").as("k_raw"),       // path-extract twin
        floor(col("value") * 100).cast("long").as("value_cents"))
      .withColumn("k", coalesce(col("k"), col("k_raw"))) // identical; keeps both ops live
      .groupBy(window(col("ts"), "1 hour").getField("start").as("hour_start"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("k")).as("sum_k"),
        sum(col("value_cents")).as("sum_value_cents"))
      .select(col("hour_start"), col("event_type"), col("n_events"), col("sum_k"),
        (col("sum_value_cents").cast("double") / 100).as("sum_value"))

  def hourlyJsonAggOracle: String =
    s"""SELECT
       |  date_trunc('hour', ts) AS hour_start,
       |  event_type,
       |  count(*) AS n_events,
       |  CAST(sum(CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS DOUBLE) / 100 AS sum_value
       |FROM events
       |GROUP BY 1, 2""".stripMargin

  /** Fixed pivot value list — explicit so the output schema is static
    * (an unlisted value would otherwise trigger a distinct-scan job and a
    * data-dependent schema, both wrong for a production pipeline).
    */
  val EventTypes: Seq[String] = Seq("click", "view", "purchase", "signup", "error")

  /** Per-user-day event counts pivoted to one column per type — the
    * `groupBy().pivot()` relational surface. Spark leaves combinations
    * with no rows null; they are coalesced to 0 to match plain
    * conditional-aggregation semantics (the oracle's FILTER form).
    */
  def dailyTypePivot(spark: SparkSession, dir: String): DataFrame = {
    val pivoted = Tables.events(spark, dir)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)))
    pivoted.select(
      col("user_id") +: col("day") +:
        EventTypes.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
  }

  def dailyTypePivotOracle: String = {
    val cols = EventTypes.map(t => s"count(*) FILTER (event_type = '$t') AS $t").mkString(",\n  ")
    s"""SELECT user_id, CAST(ts AS DATE) AS day,
       |  $cols
       |FROM events
       |GROUP BY user_id, CAST(ts AS DATE)""".stripMargin
  }

  /** Unpivot (melt) the pivoted frame back to long form — the inverse
    * surface; zero-count combinations are dropped so the round trip equals
    * the plain grouped count.
    */
  def dailyTypeUnpivot(spark: SparkSession, dir: String): DataFrame =
    dailyTypePivot(spark, dir)
      .unpivot(Array(col("user_id"), col("day")), EventTypes.map(col).toArray,
        "event_type", "n_events")
      .filter(col("n_events") > 0)

  def dailyTypeUnpivotOracle: String =
    s"""SELECT user_id, CAST(ts AS DATE) AS day, event_type, count(*) AS n_events
       |FROM events
       |GROUP BY 1, 2, 3""".stripMargin

  /** Rollup: day × type counts with per-day subtotals and a grand total —
    * the grouping-sets surface. Subtotal rows carry NULL grouping columns
    * in both engines.
    */
  def dailyRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .rollup(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))

  def dailyRollupOracle: String =
    s"""SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n_events
       |FROM events
       |GROUP BY ROLLUP (CAST(ts AS DATE), event_type)""".stripMargin

  /** Cube: the full grouping-sets lattice over (day, type) — rollup's
    * superset (adds the per-type-across-days slice). Same single
    * expand+aggregate plan shape; completes the grouping-sets surface.
    */
  def dailyCube(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .cube(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))

  def dailyCubeOracle: String =
    s"""SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n_events
       |FROM events
       |GROUP BY CUBE (CAST(ts AS DATE), event_type)""".stripMargin

  /** The analytic-window family over per-user event sequences —
    * lag/lead (inter-event gaps), rank and dense_rank (per-user spend
    * ordering), ntile (quartile bucketing) — one shuffle keyed by
    * user_id; every window shares that partitioning so Spark plans ONE
    * exchange + sort for all five functions. Gaps are exact epoch-ms
    * integers; spend ranks order by exact cents (ties broken by ts via
    * the ORDER BY, identical both engines).
    */
  def userWindowStats(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byTs = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val bySpend = Window.partitionBy(col("user_id"))
      .orderBy(desc("value_cents"), col("ts"), col("event_id"))
    ScaleOps.widen(Tables.events(spark, dir))
      .select(col("event_id"), col("user_id"), col("ts"),
        floor(col("value") * 100).cast("long").as("value_cents"))
      .select(col("event_id"), col("user_id"), col("value_cents"),
        (unix_millis(col("ts")) - unix_millis(lag(col("ts"), 1).over(byTs))).as("ms_since_prev"),
        (unix_millis(lead(col("ts"), 1).over(byTs)) - unix_millis(col("ts"))).as("ms_until_next"),
        rank().over(bySpend).cast("long").as("spend_rank"),
        dense_rank().over(bySpend).cast("long").as("spend_dense_rank"),
        ntile(4).over(bySpend).cast("long").as("spend_quartile"))
  }

  def userWindowStatsOracle: String =
    s"""SELECT event_id, user_id,
       |  CAST(floor(value * 100) AS BIGINT) AS value_cents,
       |  epoch_ms(ts) - epoch_ms(lag(ts, 1) OVER w_ts) AS ms_since_prev,
       |  epoch_ms(lead(ts, 1) OVER w_ts) - epoch_ms(ts) AS ms_until_next,
       |  CAST(rank() OVER w_spend AS BIGINT) AS spend_rank,
       |  CAST(dense_rank() OVER w_spend AS BIGINT) AS spend_dense_rank,
       |  CAST(ntile(4) OVER w_spend AS BIGINT) AS spend_quartile
       |FROM events
       |WINDOW
       |  w_ts AS (PARTITION BY user_id ORDER BY ts, event_id),
       |  w_spend AS (PARTITION BY user_id
       |    ORDER BY CAST(floor(value * 100) AS BIGINT) DESC, ts, event_id)""".stripMargin

  /** The frame-bounded window family [[userWindowStats]] leaves out:
    * a trailing ROWS frame (last-4-events moving spend) and a trailing
    * RANGE frame (sliding one-hour totals keyed on the epoch-ms ORDER BY
    * value, so rows with identical timestamps are frame peers on both
    * engines — RANGE semantics, not row order, decide ties). Both frames
    * share the one user_id exchange; spend is exact cents; ms carries the
    * RANGE key so the oracle's window is byte-identical.
    */
  def userRollingSpend(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byRow = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-3, Window.currentRow)
    val byHour = Window.partitionBy(col("user_id")).orderBy(col("ms"))
      .rangeBetween(-3600000L, Window.currentRow)
    ScaleOps.widen(Tables.events(spark, dir))
      .select(col("event_id"), col("user_id"), col("ts"),
        unix_millis(col("ts")).as("ms"),
        floor(col("value") * 100).cast("long").as("value_cents"))
      .select(col("event_id"), col("user_id"), col("value_cents"),
        sum(col("value_cents")).over(byRow).as("roll4_cents"),
        count(lit(1)).over(byHour).cast("long").as("hour_events"),
        sum(col("value_cents")).over(byHour).as("hour_cents"))
  }

  def userRollingSpendOracle: String =
    s"""SELECT event_id, user_id,
       |  CAST(floor(value * 100) AS BIGINT) AS value_cents,
       |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) OVER w_row AS BIGINT) AS roll4_cents,
       |  CAST(count(*) OVER w_hr AS BIGINT) AS hour_events,
       |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) OVER w_hr AS BIGINT) AS hour_cents
       |FROM events
       |WINDOW
       |  w_row AS (PARTITION BY user_id ORDER BY ts, event_id
       |            ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),
       |  w_hr AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
       |           RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)""".stripMargin

  /** Time-series gap fill with forward fill (X153) — the resample step
    * every monitoring/feature pipeline runs before ML: per-user hourly
    * sums over the user's OWN [first, last] hour range, missing hours
    * materialized by `sequence()` + explode and carried forward from
    * the last observed hour. The fill uses the grouped-islands trick —
    * `grp = running count of observed values`, `filled = max over
    * (user, grp)` — instead of `last(_, ignoreNulls)` so BOTH engines
    * state the identical formulation (DuckDB's IGNORE NULLS support
    * differs by version). The first series hour is always observed
    * (the bound came from an observation), so no null prefix exists.
    *
    * Scale shape: one hourly aggregate exchange; bounds reuse the
    * hourly table; the series join and the two windows all key on
    * user_id — AQE coalesces the co-partitioned stages. Series length
    * is bounded by the user's own activity span, never the corpus's.
    */
  def hourlyGapFill(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly = graft.ops.ScaleOps.widen(Tables.events(spark, dir))
      .select(col("user_id"),
        expr("unix_timestamp(ts) div 3600").as("h"),
        floor(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("user_id"), col("h"))
      .agg(sum(col("cents")).as("sum_cents"))
    val series = hourly.groupBy(col("user_id"))
      .agg(min(col("h")).as("hmin"), max(col("h")).as("hmax"))
      .select(col("user_id"), explode(sequence(col("hmin"), col("hmax"))).as("h"))
    val wCum = Window.partitionBy(col("user_id")).orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    series.join(hourly, Seq("user_id", "h"), "left")
      .withColumn("grp", count(col("sum_cents")).over(wCum))
      .select(col("user_id"), col("h").as("hour_epoch"),
        col("sum_cents").isNotNull.cast("int").as("present"),
        max(col("sum_cents"))
          .over(Window.partitionBy(col("user_id"), col("grp")))
          .as("filled_cents"))
  }

  def hourlyGapFillOracle: String =
    s"""WITH hourly AS (
       |  -- epoch_ms is exact BIGINT; CAST(epoch(ts)) would ROUND the
       |  -- fractional seconds and shift hour boundaries
       |  SELECT user_id, epoch_ms(ts) // 3600000 AS h,
       |    SUM(CAST(floor(value * 100) AS BIGINT)) AS sum_cents
       |  FROM events GROUP BY 1, 2),
       |bounds AS (
       |  SELECT user_id, min(h) AS hmin, max(h) AS hmax FROM hourly GROUP BY 1),
       |series AS (
       |  SELECT user_id, unnest(range(hmin, hmax + 1)) AS h FROM bounds),
       |j AS (
       |  SELECT s.user_id, s.h, hr.sum_cents
       |  FROM series s LEFT JOIN hourly hr ON hr.user_id = s.user_id AND hr.h = s.h),
       |g AS (
       |  SELECT *, count(sum_cents) OVER (PARTITION BY user_id ORDER BY h) AS grp
       |  FROM j)
       |SELECT user_id, h AS hour_epoch,
       |  CAST(sum_cents IS NOT NULL AS INTEGER) AS present,
       |  CAST(max(sum_cents) OVER (PARTITION BY user_id, grp) AS BIGINT) AS filled_cents
       |FROM g""".stripMargin

  /** Weekly cohort retention — the product-analytics matrix every
    * event warehouse serves: users cohorted by their FIRST active
    * epoch-week, one row per (cohort, week offset) with the distinct
    * users still active then. Weeks are `unix_seconds div 604800`
    * (the gap-fill epoch discipline — never a rounding cast). Two
    * aggregates + one user-keyed join; the (user, week) dedup bounds
    * everything downstream at |users|·|weeks|.
    */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val uw = graft.ops.ScaleOps.widen(Tables.events(spark, dir))
      .select(col("user_id"), expr("unix_timestamp(ts) div 604800").as("wk"))
      .distinct()
    val firstW = uw.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
    uw.join(firstW, Seq("user_id"))
      .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("offset_wk"))
      .agg(count(lit(1)).cast("long").as("active_users"))
  }

  /** Journey prefix length for the path report. */
  val PathLen = 5

  /** USER-JOURNEY PATH analysis (X203): each user's first [[PathLen]]
    * events in (event-time, event_id) total order, joined `a>b>c`, and
    * the user count per distinct path — the Sankey/flow table product
    * analytics reads next to the X172 funnel (the funnel counts ONE
    * prescribed order; this surfaces the orders that actually happen).
    * One user-keyed sorted-collect + one path-keyed count; path
    * cardinality is event-type^PathLen at worst, tiny next to users.
    */
  def eventPaths(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
      .groupBy(col("user_id"))
      .agg(array_join(
        transform(
          slice(sort_array(collect_list(
            struct(col("us"), col("event_id"), col("event_type")))), 1, PathLen),
          x => x.getField("event_type")), ">").as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_users"))

  def eventPathsOracle: String =
    s"""WITH p AS (
       |  SELECT user_id, array_to_string(
       |    (list(event_type ORDER BY epoch_us(ts), event_id))[1:$PathLen], '>')
       |    AS path
       |  FROM events GROUP BY user_id)
       |SELECT path, CAST(count(*) AS BIGINT) AS n_users
       |FROM p GROUP BY path""".stripMargin

  def cohortRetentionOracle: String =
    s"""WITH uw AS (
       |  SELECT DISTINCT user_id, epoch_ms(ts) // 604800000 AS wk
       |  FROM events),
       |first AS (
       |  SELECT user_id, MIN(wk) AS cohort_wk FROM uw GROUP BY user_id)
       |SELECT f.cohort_wk, u.wk - f.cohort_wk AS offset_wk,
       |  CAST(COUNT(*) AS BIGINT) AS active_users
       |FROM uw u JOIN first f USING (user_id)
       |GROUP BY f.cohort_wk, u.wk - f.cohort_wk""".stripMargin

  /** Funnel window between consecutive stages, in exact microseconds. */
  val FunnelHorizonUs = 86400000000L

  /** Ordered funnel view → click → purchase: a user reaches stage 2
    * only with a click STRICTLY AFTER their first view and within the
    * horizon, stage 3 likewise after that click — order and horizon
    * both matter (a click before any view never counts), all in exact
    * epoch microseconds. Per-stage conditional min-aggregates + two
    * user-keyed joins; work bounded by the per-type event counts.
    * (stage, users).
    */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.ops.ScaleOps.widen(Tables.events(spark, dir))
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
    val tv = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("us")).as("tv"))
    val tc = e.filter(col("event_type") === "click")
      .join(tv, Seq("user_id"))
      .filter(col("us") > col("tv") && col("us") <= col("tv") + FunnelHorizonUs)
      .groupBy(col("user_id")).agg(min(col("us")).as("tc"))
    val tp = e.filter(col("event_type") === "purchase")
      .join(tc, Seq("user_id"))
      .filter(col("us") > col("tc") && col("us") <= col("tc") + FunnelHorizonUs)
      .groupBy(col("user_id")).agg(min(col("us")).as("tp"))
    tv.join(tc.select(col("user_id"), lit(1).as("c2")), Seq("user_id"), "left")
      .join(tp.select(col("user_id"), lit(1).as("c3")), Seq("user_id"), "left")
      .select((lit(1) + coalesce(col("c2"), lit(0)) + coalesce(col("c3"), lit(0)))
        .as("stage"))
      .groupBy(col("stage")).agg(count(lit(1)).cast("long").as("users"))
  }

  def funnelOracle: String =
    s"""WITH e AS (
       |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
       |tv AS (
       |  SELECT user_id, MIN(us) AS tv FROM e
       |  WHERE event_type = 'view' GROUP BY user_id),
       |tc AS (
       |  SELECT e.user_id, MIN(us) AS tc FROM e JOIN tv USING (user_id)
       |  WHERE event_type = 'click' AND us > tv AND us <= tv + $FunnelHorizonUs
       |  GROUP BY e.user_id),
       |tp AS (
       |  SELECT e.user_id, MIN(us) AS tp FROM e JOIN tc USING (user_id)
       |  WHERE event_type = 'purchase' AND us > tc AND us <= tc + $FunnelHorizonUs
       |  GROUP BY e.user_id)
       |SELECT 1 + (tc IS NOT NULL)::INTEGER + (tp IS NOT NULL)::INTEGER AS stage,
       |  CAST(COUNT(*) AS BIGINT) AS users
       |FROM tv LEFT JOIN tc USING (user_id) LEFT JOIN tp USING (user_id)
       |GROUP BY 1""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_event_paths" -> Query((s, dir) => eventPaths(s, dir), eventPathsOracle),
    "q_cohort_retention" -> Query((s, dir) => cohortRetention(s, dir), cohortRetentionOracle),
    "q_funnel" -> Query((s, dir) => funnel(s, dir), funnelOracle),
    "q_events_window_stats" -> Query((s, dir) => userWindowStats(s, dir), userWindowStatsOracle),
    "q_events_rolling" -> Query((s, dir) => userRollingSpend(s, dir), userRollingSpendOracle),
    "q_events_json" -> Query((s, dir) => hourlyJsonAgg(s, dir), hourlyJsonAggOracle),
    "q_events_pivot" -> Query((s, dir) => dailyTypePivot(s, dir), dailyTypePivotOracle),
    "q_events_unpivot" -> Query((s, dir) => dailyTypeUnpivot(s, dir), dailyTypeUnpivotOracle),
    "q_events_rollup" -> Query((s, dir) => dailyRollup(s, dir), dailyRollupOracle),
    "q_events_cube" -> Query((s, dir) => dailyCube(s, dir), dailyCubeOracle),
    "q_events_gap_fill" -> Query((s, dir) => hourlyGapFill(s, dir), hourlyGapFillOracle)
  )
}
