package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** The reference's sr_data relational core, re-expressed as a native
  * Catalyst plan over the fixture star schema.
  *
  * Reference semantics (re-targeted at TPC-H-ish fixtures):
  *   - `sql_to_es_etl.py:54-73` — 3-way left-outer star join + CASE TAT
  *     fallback chain + `[_]`-escaped LIKE federal flag + literal columns,
  *     followed by rename-projection and casts (`sql_to_es_etl.py:86-92`).
  *   - `preprocess_and_store_parquets.py:74-103` — same query plus a WHERE
  *     with NOT LIKE `[_]` escapes, two NOT IN lists, and an
  *     unpadded-month bucket equality.
  *
  * Fixture mapping: `lineitem` plays the `D_INCDNT` fact; `customer`
  * (via `orders`) plays `m_org_d`; `nation` plays `M_PERS_D` and is joined
  * twice under different keys (customer-nation = assignee, supplier-nation
  * = owner), reproducing the reference's same-dim-twice join shape.
  *
  * Scale notes: the star is a left-deep tree of equi-joins. `nation` is a
  * constant-size dim (25 rows at any SF) and is broadcast explicitly;
  * `orders`/`customer`/`supplier` scale with SF and are left to Catalyst +
  * AQE (broadcast below threshold, sort-merge above). All predicates are
  * Catalyst-native so they push into the parquet scans.
  */
object SrData {

  /** Fixed stand-in for the reference's `getdate()` (`sql_to_es_etl.py:64`)
    * so the TAT fallback branch stays oracle-comparable. After the fixture
    * date span (max l_shipdate = 2001-11-04).
    */
  val Now = "2002-01-01"

  /** ↔ `b.org_mnem_nm not in ('CERN_KCM')` (`preprocess_and_store_parquets.py:94`) */
  val MktsegExcluded: Seq[String] = Seq("BUILDING")

  /** ↔ the 27-element `a.assgn_grp not in (...)` exclusion list
    * (`preprocess_and_store_parquets.py:96-100`)
    */
  val PriorityExcluded: Seq[String] = Seq("5-LOW", "4-NOT SPECIFIED")

  /** ↔ `'%[_]DOD[_]%' … '%[_]GOV'` — T-SQL `[_]` char-class escapes become
    * backslash escapes in Spark (`sql_to_es_etl.py:65-67`). Applied to
    * `n_name` (`NATION_12`-style values carry literal underscores).
    */
  val FederalPatterns: Seq[String] =
    Seq("%\\_1\\_%", "%\\_1", "%\\_2\\_%", "%\\_2", "%\\_3\\_%", "%\\_3")

  /** ↔ the WHERE's NOT LIKE exclusions `'%[_]DOD[_]%' … '%[_]HR'`
    * (`preprocess_and_store_parquets.py:94-96`).
    */
  val ExcludedPatterns: Seq[String] =
    Seq("%\\_1\\_%", "%\\_1", "%\\_2\\_%", "%\\_2", "%\\_4\\_%", "%\\_4")

  /** The shared 5-join left-deep star with the reference's derived columns,
    * before rename-projection. ↔ `sr_data_query` (`sql_to_es_etl.py:54-73`).
    */
  /** @param wide widen the fact side (see [[ScaleOps.widen]]): with every
    *   dim broadcast the whole star + projection is ONE stage, so an
    *   under-split lineitem file runs it on one core. Full-table consumers
    *   (the flagship) want this; month-filtered consumers skip it — their
    *   surviving rows are too few to repay the exchange.
    */
  def joined(spark: SparkSession, dir: String, wide: Boolean = false): DataFrame = {
    val fact = Tables.lineitem(spark, dir)
    val a = (if (wide) ScaleOps.widen(fact) else fact).as("a")
    val o = Tables.orders(spark, dir).as("o")
    val c = Tables.customer(spark, dir).as("c")
    val s = Tables.supplier(spark, dir).as("s")
    val e = Tables.nation(spark, dir).as("e")
    val d = Tables.nation(spark, dir).as("d")

    a.join(o, col("a.l_orderkey") === col("o.o_orderkey"), "left_outer")
      .join(c, col("o.o_custkey") === col("c.c_custkey"), "left_outer")
      .join(s, col("a.l_suppkey") === col("s.s_suppkey"), "left_outer")
      .join(broadcast(e), col("c.c_nationkey") === col("e.n_nationkey"), "left_outer")
      .join(broadcast(d), col("s.s_nationkey") === col("d.n_nationkey"), "left_outer")
  }

  /** `LST_RSLVD_DTTM` stand-in: nullable resolved date (reference columns
    * are naturally nullable; fixtures need a derived null pattern).
    */
  private def resolvedDt: Column = when(col("a.l_returnflag") === "R", col("a.l_shipdate"))

  /** `CLS_DTTM` stand-in: nullable close date. */
  private def closeDt: Column = when(col("a.l_linestatus") === "F", col("a.l_shipdate"))

  /** TAT fallback chain ↔ `sql_to_es_etl.py:62-64`. Note T-SQL
    * `DATEDIFF(DAY, start, end)` flips to Spark `datediff(end, start)`.
    */
  def tat: Column = {
    val submit = col("o.o_orderdate")
    when(resolvedDt.isNotNull, datediff(resolvedDt, submit))
      .when(closeDt.isNotNull, datediff(closeDt, submit))
      .otherwise(datediff(lit(Now).cast("date"), submit))
  }

  /** is_federal CASE over `[_]`-escaped LIKEs ↔ `sql_to_es_etl.py:65-67`. */
  def isFederal: Column = {
    val anyMatch = FederalPatterns.map(col("e.n_name").like(_)).reduce(_ || _)
    when(anyMatch, 1).otherwise(0)
  }

  /** The flagship query: star join + derived columns + rename-projection +
    * casts, i.e. the full `sql_to_es_etl.py` DataFrame (steps :54-92) as
    * one native plan.
    */
  def flagship(spark: SparkSession, dir: String): DataFrame = {
    val j = joined(spark, dir, wide = true)
    val projected = j.select(
      // ↔ selectExpr rename block, sql_to_es_etl.py:87-89; Row_ID pre-cast
      // to string ↔ :86
      (col("a.l_orderkey") * 8 + col("a.l_linenumber")).cast("string").as("Row_ID"),
      concat_ws("-", col("a.l_orderkey"), col("a.l_linenumber")).as("Incident_Number"),
      col("s.s_name").as("Summary"),
      col("c.c_name").as("Description"),
      col("a.l_shipdate").as("last_modified_date"),
      col("o.o_orderstatus").as("Status"),
      concat_ws(".", col("s.s_name"), col("c.c_name")).as("Resolution_Txt"),
      col("a.l_linestatus").as("solution_family"),
      col("a.l_returnflag").as("product_name"),
      col("o.o_orderdate").as("Open_Date"),
      closeDt.as("Close_Date"),
      col("o.o_orderpriority").as("Assigned_Group"),
      col("c.c_mktsegment").as("Client_Mnemonic"),
      col("o.o_orderkey").cast("string").as("Sr_Num"),
      col("e.n_name").as("Assignee"),
      col("d.n_name").as("owner"),
      lit("Remedy").as("data_source"), // ↔ 'Remedy' as data_source, sql_to_es_etl.py:61
      resolvedDt.as("last_resolved_date"),
      tat.as("tat"),
      isFederal.as("is_federal")
    )
    // month_year derivation + casts ↔ sql_to_es_etl.py:90-92. Unpadded
    // month ("1-1997") matches the reference's CONCAT(MONTH(...),'-',YEAR(...)).
    projected
      .withColumn("month_year", concat_ws("-", month(col("Open_Date")), year(col("Open_Date"))))
      .withColumn("is_federal", col("is_federal").cast("boolean"))
  }

  /** Flagship + the preprocess WHERE clause
    * (`preprocess_and_store_parquets.py:93-102`): NOT IN lists and NOT LIKE
    * escapes are null-rejecting on left-joined columns, so Catalyst's
    * `EliminateOuterJoin` legally rewrites those left joins to inner —
    * semantics the oracle must (and does) agree with.
    *
    * DELIBERATE DIVERGENCE (month-bucket padding): the reference driver
    * generates zero-padded `%m-%Y` keys ("03-1997",
    * `preprocess_and_store_parquets.py:109`) while its SQL compares against
    * unpadded `CONCAT(MONTH(d),'-',YEAR(d))` ("3-1997", `:102`) — so for
    * months 1-9 the reference's filter matched ZERO rows, a latent bug.
    * This port uses the unpadded form on BOTH sides so the query returns
    * rows; future fidelity audits should not flag the non-empty result as
    * drift.
    */
  def filtered(spark: SparkSession, dir: String, monthBucket: String): DataFrame = {
    val j = joined(spark, dir)
    val notLike = ExcludedPatterns.map(p => !col("e.n_name").like(p)).reduce(_ && _)
    val f = j
      .filter(!col("c.c_mktsegment").isin(MktsegExcluded: _*))
      .filter(notLike)
      .filter(!col("o.o_orderpriority").isin(PriorityExcluded: _*))
      // ↔ CONCAT(MONTH(a.RPRT_DTTM),'-',YEAR(a.RPRT_DTTM)) = '{month_bucket}'
      .filter(concat_ws("-", month(col("o.o_orderdate")), year(col("o.o_orderdate"))) === lit(monthBucket))
    f.select(
      concat_ws("-", col("a.l_orderkey"), col("a.l_linenumber")).as("Incident_Number"),
      col("c.c_name").as("Description"),
      col("s.s_name").as("Summary"),
      isFederal.cast("boolean").as("is_federal")
    )
  }

  /** "M-YYYY" (unpadded, reference form) → [first day, first day of next
    * month) — the sargable twin of the derived-expression month predicate.
    */
  def monthBucketRange(bucket: String): (String, String) = {
    val Array(m, y) = bucket.split("-").map(_.toInt)
    val lo = java.time.LocalDate.of(y, m, 1)
    (lo.toString, lo.plusMonths(1).toString)
  }

  /** Scale-safe default plan for the month-bucket query: the SAME rows as
    * [[filtered]], selected by a raw date-range predicate instead of
    * `concat_ws(month(), year()) = bucket`. The derived-expression form
    * (kept in [[filtered]] for reference parity) defeats parquet min/max
    * row-group pruning — every month pass re-scans all of `orders`; this
    * form pushes `o_orderdate >= lo AND < hi` into the scan
    * (`PushedFilters` in explain), so at 100 TB each month touches only
    * its row groups.
    */
  def filteredSargable(spark: SparkSession, dir: String, monthBucket: String): DataFrame = {
    val (lo, hi) = monthBucketRange(monthBucket)
    val j = joined(spark, dir)
    val notLike = ExcludedPatterns.map(p => !col("e.n_name").like(p)).reduce(_ && _)
    val f = j
      .filter(!col("c.c_mktsegment").isin(MktsegExcluded: _*))
      .filter(notLike)
      .filter(!col("o.o_orderpriority").isin(PriorityExcluded: _*))
      .filter(col("o.o_orderdate") >= lit(lo).cast("timestamp") &&
        col("o.o_orderdate") < lit(hi).cast("timestamp"))
    f.select(
      concat_ws("-", col("a.l_orderkey"), col("a.l_linenumber")).as("Incident_Number"),
      col("c.c_name").as("Description"),
      col("s.s_name").as("Summary"),
      isFederal.cast("boolean").as("is_federal")
    )
  }

  /** DuckDB oracle for [[flagship]]. Shared join/CTE text. */
  private def joinSql: String =
    """FROM lineitem a
      |LEFT OUTER JOIN orders o ON a.l_orderkey = o.o_orderkey
      |LEFT OUTER JOIN customer c ON o.o_custkey = c.c_custkey
      |LEFT OUTER JOIN supplier s ON a.l_suppkey = s.s_suppkey
      |LEFT OUTER JOIN nation e ON c.c_nationkey = e.n_nationkey
      |LEFT OUTER JOIN nation d ON s.s_nationkey = d.n_nationkey""".stripMargin

  private def tatSql: String =
    s"""CAST(CASE
       |  WHEN (CASE WHEN a.l_returnflag = 'R' THEN a.l_shipdate END) IS NOT NULL
       |    THEN date_diff('day', CAST(o.o_orderdate AS DATE), CAST(a.l_shipdate AS DATE))
       |  WHEN (CASE WHEN a.l_linestatus = 'F' THEN a.l_shipdate END) IS NOT NULL
       |    THEN date_diff('day', CAST(o.o_orderdate AS DATE), CAST(a.l_shipdate AS DATE))
       |  ELSE date_diff('day', CAST(o.o_orderdate AS DATE), DATE '$Now')
       |END AS INTEGER)""".stripMargin

  private def isFederalSql: String = {
    val pats = FederalPatterns.map(p => s"e.n_name LIKE '$p' ESCAPE '\\'")
    s"CASE WHEN ${pats.mkString(" OR ")} THEN 1 ELSE 0 END"
  }

  def flagshipOracle: String =
    s"""SELECT
       |  CAST(a.l_orderkey * 8 + a.l_linenumber AS VARCHAR) AS "Row_ID",
       |  concat_ws('-', a.l_orderkey, a.l_linenumber) AS "Incident_Number",
       |  s.s_name AS "Summary",
       |  c.c_name AS "Description",
       |  a.l_shipdate AS "last_modified_date",
       |  o.o_orderstatus AS "Status",
       |  concat_ws('.', s.s_name, c.c_name) AS "Resolution_Txt",
       |  a.l_linestatus AS "solution_family",
       |  a.l_returnflag AS "product_name",
       |  o.o_orderdate AS "Open_Date",
       |  CASE WHEN a.l_linestatus = 'F' THEN a.l_shipdate END AS "Close_Date",
       |  o.o_orderpriority AS "Assigned_Group",
       |  c.c_mktsegment AS "Client_Mnemonic",
       |  CAST(o.o_orderkey AS VARCHAR) AS "Sr_Num",
       |  e.n_name AS "Assignee",
       |  d.n_name AS "owner",
       |  'Remedy' AS "data_source",
       |  CASE WHEN a.l_returnflag = 'R' THEN a.l_shipdate END AS "last_resolved_date",
       |  $tatSql AS "tat",
       |  CAST($isFederalSql AS BOOLEAN) AS "is_federal",
       |  concat_ws('-', month(o.o_orderdate), year(o.o_orderdate)) AS "month_year"
       |$joinSql""".stripMargin

  def filteredOracle(monthBucket: String): String = {
    val notLikes = ExcludedPatterns
      .map(p => s"e.n_name NOT LIKE '$p' ESCAPE '\\'").mkString(" AND ")
    val mktseg = MktsegExcluded.map(v => s"'$v'").mkString(", ")
    val prio = PriorityExcluded.map(v => s"'$v'").mkString(", ")
    s"""SELECT
       |  concat_ws('-', a.l_orderkey, a.l_linenumber) AS "Incident_Number",
       |  c.c_name AS "Description",
       |  s.s_name AS "Summary",
       |  CAST($isFederalSql AS BOOLEAN) AS "is_federal"
       |$joinSql
       |WHERE c.c_mktsegment NOT IN ($mktseg)
       |  AND $notLikes
       |  AND o.o_orderpriority NOT IN ($prio)
       |  AND concat_ws('-', month(o.o_orderdate), year(o.o_orderdate)) = '$monthBucket'""".stripMargin
  }

  def filteredSargableOracle(monthBucket: String): String = {
    val (lo, hi) = monthBucketRange(monthBucket)
    val notLikes = ExcludedPatterns
      .map(p => s"e.n_name NOT LIKE '$p' ESCAPE '\\'").mkString(" AND ")
    val mktseg = MktsegExcluded.map(v => s"'$v'").mkString(", ")
    val prio = PriorityExcluded.map(v => s"'$v'").mkString(", ")
    s"""SELECT
       |  concat_ws('-', a.l_orderkey, a.l_linenumber) AS "Incident_Number",
       |  c.c_name AS "Description",
       |  s.s_name AS "Summary",
       |  CAST($isFederalSql AS BOOLEAN) AS "is_federal"
       |$joinSql
       |WHERE c.c_mktsegment NOT IN ($mktseg)
       |  AND $notLikes
       |  AND o.o_orderpriority NOT IN ($prio)
       |  AND o.o_orderdate >= TIMESTAMP '$lo 00:00:00'
       |  AND o.o_orderdate < TIMESTAMP '$hi 00:00:00'""".stripMargin
  }

  /** Registry contributed to [[graft.SparkEntry]]. */
  def queries: Seq[(String, Query)] = Seq(
    "q_srdata_flagship" -> Query((s, dir) => flagship(s, dir), flagshipOracle),
    "q_srdata_filtered" -> Query((s, dir) => filtered(s, dir, "3-1997"), filteredOracle("3-1997")),
    "q_srdata_filtered_sargable" -> Query((s, dir) => filteredSargable(s, dir, "3-1997"),
      filteredSargableOracle("3-1997"))
  )
}
