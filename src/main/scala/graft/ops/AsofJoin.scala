package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** As-of join — for every left row, the latest right row with
  * `right.ts <= left.ts` within the same key. Spark has no native ASOF
  * operator; per the custom-operator preference order the engine composes
  * it from existing primitives (union + ordered window + last(ignoreNulls))
  * rather than a custom physical node:
  *
  *   1. Tag both sides and `unionByName` them.
  *   2. One window per key ordered by (ts, side) — right rows sort BEFORE
  *      left rows at equal timestamps, so `ts >= rts` includes equality.
  *   3. `last(value, ignoreNulls = true)` over rows unbounded-preceding..
  *      current carries the most recent right-side payload forward.
  *   4. Keep left rows.
  *
  * Scale shape: ONE shuffle (hash by key) + per-key sort — identical cost
  * to the sort-merge join Spark would run anyway, with no range-explosion:
  * the classic union trick is how production systems express as-of at
  * scale. The DuckDB oracle uses its NATIVE `ASOF LEFT JOIN`, making the
  * gate a strong independent check of the composition's semantics.
  */
object AsofJoin {

  /** Generic composed as-of join.
    *
    * @param left     left side, must contain `key` and `ts`
    * @param right    right side, must contain `key` and `ts`; its OTHER
    *                 columns are carried as the as-of payload
    * @return left columns + right payload columns (null when no right row
    *         at or before the left timestamp)
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String, ts: String): DataFrame = {
    val payloadCols = right.columns.filterNot(c => c == key || c == ts).toSeq
    require(payloadCols.nonEmpty, "right side needs at least one payload column")
    val leftCols = left.columns.toSeq
    // The union trick fills each side's missing columns with typed nulls —
    // a shared name would silently null out the real column. Fail loudly.
    // Names compare case-INsensitively: withColumn resolves that way under
    // the default spark.sql.caseSensitive=false, so "VALUE" would replace
    // a real "value" even though the strings differ.
    val leftLower = leftCols.map(_.toLowerCase)
    val collisions = payloadCols.filter(c => leftLower.contains(c.toLowerCase))
    require(collisions.isEmpty,
      s"right payload column(s) ${collisions.mkString(", ")} collide with left " +
        "columns; rename one side before asofJoin")
    require(!(leftCols ++ right.columns).exists(_.equalsIgnoreCase("__side")),
      "__side is reserved by asofJoin")

    val l = payloadCols.foldLeft(left.withColumn("__side", lit(1))) {
      (df, c) => df.withColumn(c, lit(null).cast(right.schema(c).dataType))
    }
    val extraLeftCols = leftCols.filterNot(c => c == key || c == ts)
    val r = extraLeftCols.foldLeft(
        right.withColumn("__side", lit(0))) {
      (df, c) => df.withColumn(c, lit(null).cast(left.schema(c).dataType))
    }

    val w = Window.partitionBy(col(key))
      .orderBy(col(ts).asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = payloadCols.foldLeft(l.unionByName(r)) { (df, c) =>
      df.withColumn(c, last(col(c), ignoreNulls = true).over(w))
    }
    carried.filter(col("__side") === 1)
      .select((leftCols ++ payloadCols).map(col): _*)
  }

  /** Query: each event joined to the most recent preceding 'error' event of
    * the same user (including itself when the event IS an error).
    */
  def eventsAsofErrors(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select("event_id", "user_id", "ts", "event_type")
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts"),
        col("event_id").as("prev_err_id"), col("ts").as("prev_err_ts"))
    asofJoin(ev.select("event_id", "user_id", "ts"), errors, "user_id", "ts")
      .select("event_id", "user_id", "prev_err_id", "prev_err_ts")
  }

  def eventsAsofErrorsOracle: String =
    s"""SELECT e.event_id, e.user_id,
       |  x.event_id AS prev_err_id,
       |  x.ts AS prev_err_ts
       |FROM events e ASOF LEFT JOIN (
       |  SELECT user_id, ts, event_id FROM events WHERE event_type = 'error'
       |) x ON e.user_id = x.user_id AND e.ts >= x.ts""".stripMargin

  /** Staleness bound for [[eventsAsofErrorsTolerant]]: matches older
    * than this are discarded (kdb's `wj` window / pandas `merge_asof
    * tolerance` semantic — "the last reading, unless it's stale").
    */
  val ToleranceMs = 3600000L // 1 hour

  /** As-of with tolerance: the composed as-of join, then payload
    * nullified where the matched right row is older than [[ToleranceMs]]
    * — a per-row projection on top of the same one-shuffle plan (the
    * match is still the latest-at-or-before row; tolerance only decides
    * whether it counts).
    */
  def eventsAsofErrorsTolerant(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select("event_id", "user_id", "ts", "event_type")
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts"),
        col("event_id").as("prev_err_id"), col("ts").as("prev_err_ts"))
    val fresh = unix_millis(col("ts")) - unix_millis(col("prev_err_ts")) <= ToleranceMs
    asofJoin(ev.select("event_id", "user_id", "ts"), errors, "user_id", "ts")
      .select(col("event_id"), col("user_id"),
        when(fresh, col("prev_err_id")).as("prev_err_id"),
        when(fresh, col("prev_err_ts")).as("prev_err_ts"))
  }

  def eventsAsofErrorsTolerantOracle: String =
    s"""SELECT e.event_id, e.user_id,
       |  CASE WHEN epoch_ms(e.ts) - epoch_ms(x.ts) <= $ToleranceMs
       |       THEN x.event_id END AS prev_err_id,
       |  CASE WHEN epoch_ms(e.ts) - epoch_ms(x.ts) <= $ToleranceMs
       |       THEN x.ts END AS prev_err_ts
       |FROM events e ASOF LEFT JOIN (
       |  SELECT user_id, ts, event_id FROM events WHERE event_type = 'error'
       |) x ON e.user_id = x.user_id AND e.ts >= x.ts""".stripMargin

  /** The NATIVE as-of join — same semantics as [[asofJoin]], planned
    * as the custom [[graft.plans.AsofJoinExec]] physical node (one
    * hash exchange + sort per side, then a single O(n+m) interleaved
    * merge per partition; no union padding, no per-column window).
    * Key and ts must be 64-bit-backed (bigint / timestamp).
    */
  def asofJoinNative(left: DataFrame, right: DataFrame, key: String, ts: String): DataFrame = {
    import org.apache.spark.sql.GraftColumnShim
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.Project
    val lPlan = GraftColumnShim.logicalPlan(left)
    val rPlan0 = GraftColumnShim.logicalPlan(right)
    // Fresh-alias every right column: the two sides routinely share
    // lineage (self-as-of is THE common case), and the analyzer's
    // DeduplicateRelations cannot know how to remap a custom node's
    // attribute fields — ambiguous duplicate ids would leave this
    // node's right-side references pointing at the left child.
    val aliased = rPlan0.output.map(a => Alias(a, a.name)())
    val rPlan = Project(aliased, rPlan0)
    val rAttrs = aliased.map(_.toAttribute)
    def attrIn(out: Seq[org.apache.spark.sql.catalyst.expressions.Attribute], n: String) =
      out.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"column $n not found"))
    val payload = rAttrs.filterNot(a => a.name == key || a.name == ts)
    require(payload.nonEmpty, "right side needs at least one payload column")
    GraftColumnShim.ofRows(left.sparkSession,
      graft.plans.AsofJoinPlan(lPlan, rPlan,
        attrIn(lPlan.output, key), attrIn(lPlan.output, ts),
        attrIn(rAttrs, key), attrIn(rAttrs, ts), payload))
  }

  /** [[eventsAsofErrors]] on the native node — the SAME DuckDB ASOF
    * oracle gates both plans.
    */
  def eventsAsofErrorsNative(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select("event_id", "user_id", "ts", "event_type")
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts"),
        col("event_id").as("prev_err_id"), col("ts").as("prev_err_ts"))
    asofJoinNative(ev.select("event_id", "user_id", "ts"), errors, "user_id", "ts")
      .select("event_id", "user_id", "prev_err_id", "prev_err_ts")
  }

  def queries: Seq[(String, Query)] = Seq(
    "q_asof_join" -> Query((s, dir) => eventsAsofErrors(s, dir), eventsAsofErrorsOracle),
    "q_asof_tolerance" -> Query((s, dir) => eventsAsofErrorsTolerant(s, dir),
      eventsAsofErrorsTolerantOracle),
    // same oracle as the composed form — one semantic, two plans
    "q_asof_native" -> Query((s, dir) => eventsAsofErrorsNative(s, dir), eventsAsofErrorsOracle)
  )
}
