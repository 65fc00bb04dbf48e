package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Standard aggregation / join / sort surface over the fixture star schema.
  *
  * The reference exercises no `groupBy().agg(...)` of its own (SURVEY.md
  * §2.4) — its aggregations all ran inside the source warehouse. These
  * TPC-H-style queries provide the equivalent native capability and serve
  * as the bench headliners.
  *
  * Float discipline for oracle parity: every floating aggregate is
  * `round(..., 2)` (or 4 for averages) on BOTH the Spark and DuckDB sides —
  * partial-aggregation order differs between engines, so raw double sums
  * differ in the last ulps. Sorts that feed a LIMIT order on the *rounded*
  * value with an integer tiebreak so top-k membership is deterministic.
  */
object Relational {

  /** Pricing summary ↔ TPC-H Q1 shape: scan-heavy grouped aggregation with
    * map-side partial aggregation; the filter pushes to the parquet scan.
    */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("2000-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val q1Oracle: String =
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 2) AS sum_qty,
      |  round(sum(l_extendedprice), 2) AS sum_base_price,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
      |  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
      |  round(avg(l_quantity), 4) AS avg_qty,
      |  round(avg(l_extendedprice), 4) AS avg_price,
      |  round(avg(l_discount), 4) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Shipping-priority top-k ↔ TPC-H Q3 shape: selective dim filter,
    * fact-fact join, grouped sum, global top-k. Orders on the rounded
    * revenue + key tiebreak so the LIMIT frontier is engine-independent.
    */
  def q3TopRevenue(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1998-06-01").cast("timestamp")
    val c = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(spark, dir).filter(col("o_orderdate") < cutoff)
    val l = Tables.lineitem(spark, dir).filter(col("l_shipdate") > cutoff)
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  val q3Oracle: String =
    """SELECT l_orderkey, o_orderdate,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
      |GROUP BY l_orderkey, o_orderdate
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10""".stripMargin

  /** Local-supplier volume ↔ TPC-H Q5 shape: 6-way snowflake join where the
    * customer and supplier arms must land in the same nation. Small dims
    * (`nation`, `region`) broadcast; the co-nation condition rides the
    * supplier join.
    *
    * Scale shape: the ASIA restriction is propagated UP the tree as
    * broadcast semi-join pre-filters on `customer` and `supplier` before
    * the big fact joins — semantically implied by the downstream
    * nation/region joins (so results are identical), but it shrinks the
    * sort-merge join inputs by ~|regions| at any scale instead of carrying
    * every region's rows to the last two broadcast joins.
    */
  def q5LocalVolume(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
    val asiaNations = n.join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val c = Tables.customer(spark, dir).join(
      broadcast(asiaNations.select(col("n_nationkey").as("c_nationkey"))),
      Seq("c_nationkey"), "left_semi")
    val s = Tables.supplier(spark, dir).join(
      broadcast(asiaNations.select(col("n_nationkey").as("s_nationkey"))),
      Seq("s_nationkey"), "left_semi")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(s, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(asiaNations), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val q5Oracle: String =
    """SELECT n_name,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  /** Promo-revenue share ↔ TPC-H Q14 shape: fact⨝dim with the dim
    * auto-broadcast, conditional aggregation, single-row result. Revenue
    * terms are floored to integer cents before summing (both engines
    * compute the identical double product first, so the floor is
    * bit-identical and the long sums are order-independent); the share is
    * one division over exact integers.
    */
  def q14PromoShare(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1997-03-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
    val p = Tables.part(spark, dir)
    val revCents = floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100).cast("long")
    l.join(p, col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", revCents).otherwise(0L)).as("promo_cents"),
        sum(revCents).as("total_cents"))
      .select(
        col("promo_cents"), col("total_cents"),
        (col("promo_cents").cast("double") * 100 / col("total_cents")).as("promo_share_pct"))
  }

  val q14Oracle: String =
    """SELECT promo_cents, total_cents,
      |  CAST(promo_cents AS DOUBLE) * 100 / total_cents AS promo_share_pct
      |FROM (
      |  SELECT
      |    CAST(sum(CASE WHEN p_type = 'PROMO'
      |        THEN CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
      |        ELSE 0 END) AS BIGINT) AS promo_cents,
      |    CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS total_cents
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
      |)""".stripMargin

  /** Set-operation surface: customers who ordered in 1996 but not 1997
    * (EXCEPT) and in both years (INTERSECT). Distinct set semantics on
    * both engines; single integer column so results are hash-stable.
    */
  def q22SetOps(spark: SparkSession, dir: String): DataFrame = {
    def buyersIn(year: Int) = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(s"$year-01-01").cast("timestamp") &&
        col("o_orderdate") < lit(s"${year + 1}-01-01").cast("timestamp"))
      .select(col("o_custkey"))
    val churned = buyersIn(1996).except(buyersIn(1997))
      .select(col("o_custkey"), lit("churned").as("cohort"))
    val retained = buyersIn(1996).intersect(buyersIn(1997))
      .select(col("o_custkey"), lit("retained").as("cohort"))
    churned.unionByName(retained)
  }

  val q22Oracle: String =
    """WITH y96 AS (
      |  SELECT o_custkey FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |), y97 AS (
      |  SELECT o_custkey FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |)
      |SELECT o_custkey, 'churned' AS cohort FROM (SELECT * FROM y96 EXCEPT SELECT * FROM y97)
      |UNION ALL
      |SELECT o_custkey, 'retained' AS cohort FROM (SELECT * FROM y96 INTERSECT SELECT * FROM y97)""".stripMargin

  /** Correlated-subquery surface through the SQL entry path: ONE
    * dialect-neutral SQL string runs verbatim on Spark (over temp views,
    * C6) and as its own DuckDB oracle — the strongest possible
    * SQL-compatibility statement. Catalyst decorrelates both predicates
    * into semi/anti joins (no per-row subquery execution).
    */
  val ExistsSql: String =
    """SELECT c_custkey, c_name FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')""".stripMargin

  def qExistsSubquery(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("customer")
    Tables.orders(spark, dir).createOrReplaceTempView("orders")
    spark.sql(ExistsSql)
  }

  /** TPC-H Q10 shape — the returned-item customer report: which
    * customers returned the most revenue in a quarter. lineitem filtered
    * to returns ⋈ orders (quarter) ⋈ customer ⋈ nation (broadcast);
    * revenue per row quantized once to cents (floor(x·100)) so the
    * per-customer sum is an exact integer (the round-6 gate discipline —
    * no streamed-double aggregate in a gated output); top 20 by it.
    */
  def q10ReturnedItems(spark: SparkSession, dir: String): DataFrame = {
    val qStart = lit("1997-10-01").cast("timestamp")
    val qEnd = lit("1998-01-01").cast("timestamp")
    val l = Tables.lineitem(spark, dir).filter(col("l_returnflag") === "R")
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= qStart && col("o_orderdate") < qEnd)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
        .cast("long")).as("revenue_cents"))
      .orderBy(col("revenue_cents").desc, col("c_custkey"))
      .limit(20)
  }

  val q10Oracle: String =
    """SELECT c_custkey, c_name, n_name,
      |  CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
      |    AS revenue_cents
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |  AND o_orderdate >= TIMESTAMP '1997-10-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY c_custkey, c_name, n_name
      |ORDER BY revenue_cents DESC, c_custkey
      |LIMIT 20""".stripMargin

  /** Dormancy cutoff for the anti join — every fixture customer has SOME
    * order (dense TPC-H-ish keys), so the interesting anti-join
    * population is "no order since": late enough that a nonzero segment
    * of customers has gone quiet.
    */
  val DormantSince = "1998-06-01"

  /** Anti-join surface: customers with NO order on/after
    * [[DormantSince]], aggregated per market segment — `left_anti` is
    * the plan-level dual of the EXISTS semi join ([[qExistsSubquery]]);
    * Spark broadcasts the filtered order-key side when it fits and
    * otherwise plans a shuffled anti hash join, either way never
    * materializing the non-matches. The date filter sits on the right
    * side BEFORE the join (pushed to the orders scan). Account balances
    * sum as exact cents (house quantization).
    */
  def qAntiJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir)
          .filter(col("o_orderdate") >= lit(DormantSince).cast("timestamp"))
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_custs"),
        sum(floor(col("c_acctbal") * 100).cast("long")).as("acctbal_cents"))

  def antiJoinOracle: String =
    s"""SELECT c_mktsegment,
       |  count(*) AS n_custs,
       |  CAST(sum(CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS acctbal_cents
       |FROM customer
       |WHERE NOT EXISTS (SELECT 1 FROM orders
       |  WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '$DormantSince 00:00:00')
       |GROUP BY c_mktsegment""".stripMargin

  /** Exact distributed second-moment statistics — grouped covariance /
    * correlation WITHOUT floating-point order-dependence. Spark's native
    * `corr`/`covar_samp` stream doubles, so partial-aggregation order
    * changes the last ulps and no cross-engine (or even cross-run-plan)
    * hash can gate them. Instead the five moments are summed as EXACT
    * integers over cent-quantized inputs — order-independent under any
    * parallelism — widened to decimal(38,0) because Σx² at 100 TB row
    * counts overflows a long (price_cents² ≈ 10¹⁴ per row). The derived
    * correlation involves round(DOUBLE) whose half-way behavior is not
    * contractually identical across engines, so [[qMomentCorr]] derives
    * the double from these moments and is asserted in RelationalSpec
    * instead. The moments are the mergeable state a moment sketch would
    * checkpoint.
    */
  def momentsExact(spark: SparkSession, dir: String): DataFrame = {
    // floor, not cast: Spark's double→long cast truncates toward zero
    // while DuckDB's rounds half-even — floor(x·100) is the one shared
    // quantization both engines state identically (house discipline)
    val x = floor(col("l_quantity") * 100).cast("long")      // qty cents
    val y = floor(col("l_extendedprice") * 100).cast("long") // price cents
    val d = "decimal(38,0)"
    Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), x.as("x"), y.as("y"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast(d)).as("sx"), sum(col("y").cast(d)).as("sy"),
        sum((col("x") * col("x")).cast(d)).as("sxx"),
        sum((col("y") * col("y")).cast(d)).as("syy"),
        sum((col("x") * col("y")).cast(d)).as("sxy"))
  }

  /** The moment checksums both engines gate on. DECIMAL(38,0) must not
    * itself be a *gated* column type — it is the one type the driver's
    * hasher canonicalizes differently across engines even when values
    * are bit-exact (the round-6 lesson, second typing hazard class after
    * HUGEINT) — so the gated output reduces each exact moment mod
    * 1 000 000 007 down to BIGINT, the same fold [[graft.sources.Layout]]
    * uses for shard-manifest checksums. All moments are sums of
    * non-negative products, so `%` agrees across engines (no sign
    * ambiguity), and the reduction is scale-invariant: it stays a valid
    * gate at any SF while the full-width decimal math stays internal for
    * the 100 TB argument ([[momentsExact]]).
    */
  def qMomentStats(spark: SparkSession, dir: String): DataFrame = {
    val m = lit(1000000007L)
    def fold(c: String) = (col(c) % m).cast("long").as(c)
    momentsExact(spark, dir).select(col("l_returnflag"), col("n"),
      fold("sx"), fold("sy"), fold("sxx"), fold("syy"), fold("sxy"))
  }

  /** Pearson correlation derived from [[momentsExact]]'s exact moments:
    * (nΣxy − ΣxΣy) / √((nΣx² − (Σx)²)(nΣy² − (Σy)²)). Deterministic
    * given the moments (plain scalar arithmetic, no aggregation order),
    * but a DOUBLE — so it lives outside the hash gate and is asserted
    * against known fixtures in RelationalSpec.
    */
  def qMomentCorr(spark: SparkSession, dir: String): DataFrame = {
    val d = "decimal(38,0)"
    val m = momentsExact(spark, dir)
    val n = col("n").cast(d)
    val cov = (n * col("sxy") - col("sx") * col("sy")).cast("double")
    val vx = (n * col("sxx") - col("sx") * col("sx")).cast("double")
    val vy = (n * col("syy") - col("sy") * col("sy")).cast("double")
    m.select(col("l_returnflag"), col("n"),
      col("sx"), col("sy"), col("sxx"), col("syy"), col("sxy"),
      (cov / sqrt(vx * vy)).as("corr_qty_price"))
  }

  /** The oracle does the same exact-integer algebra in HUGEINT (int128 —
    * DuckDB's decimal multiply caps combined width at 38, HUGEINT holds
    * every moment product here: Σy² ≈ 10¹⁸·rows ≪ 2¹²⁷), then folds each
    * moment mod 1e9+7 down to BIGINT exactly like the Spark side — no
    * DECIMAL or HUGEINT column in the gated output (see
    * [[qMomentStats]]).
    */
  def momentOracle: String =
    s"""WITH q AS (
       |  SELECT l_returnflag,
       |    CAST(floor(l_quantity * 100) AS BIGINT) AS x,
       |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS y
       |  FROM lineitem
       |), m AS (
       |  SELECT l_returnflag, count(*) AS n,
       |    CAST(sum(x) AS HUGEINT) AS hsx, CAST(sum(y) AS HUGEINT) AS hsy,
       |    CAST(sum(x * x) AS HUGEINT) AS hsxx,
       |    CAST(sum(y * y) AS HUGEINT) AS hsyy,
       |    CAST(sum(x * y) AS HUGEINT) AS hsxy
       |  FROM q GROUP BY l_returnflag
       |)
       |SELECT l_returnflag, n,
       |  CAST(hsx % 1000000007 AS BIGINT) AS sx,
       |  CAST(hsy % 1000000007 AS BIGINT) AS sy,
       |  CAST(hsxx % 1000000007 AS BIGINT) AS sxx,
       |  CAST(hsyy % 1000000007 AS BIGINT) AS syy,
       |  CAST(hsxy % 1000000007 AS BIGINT) AS sxy
       |FROM m""".stripMargin

  /** TPC-H Q18 (large-volume orders), HAVING-subquery family: orders
    * whose total quantity clears [[Q18MinQty]], with their customer.
    * Spark-first: ONE aggregate produces both the HAVING verdict and the
    * reported sum (TPC-H's re-aggregation after the semi-join is
    * redundant when the subquery already carries the measure — the
    * optimizer can't always see that; declaring it removes a second
    * corpus-wide exchange). Quantities are integral doubles in the
    * fixture — quantized per-row to BIGINT before summing, so the gated
    * sum is exact (the q10 cents discipline). Top-100 by (sum_qty desc,
    * o_orderkey) = TakeOrderedAndProject, no global sort.
    */
  val Q18MinQty = 200L

  def q18LargeOrders(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_quantity").cast("long").as("qty"))
      .groupBy(col("l_orderkey"))
      .agg(sum(col("qty")).as("sum_qty"))
      .filter(col("sum_qty") > Q18MinQty)
    big.join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_custkey"), col("c_name"), col("sum_qty"))
      .orderBy(col("sum_qty").desc, col("o_orderkey"))
      .limit(100)
  }

  val q18Oracle: String =
    s"""SELECT o_orderkey, c_custkey, c_name, sum_qty FROM (
       |  SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
       |  FROM lineitem GROUP BY l_orderkey HAVING sum_qty > $Q18MinQty
       |)
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |ORDER BY sum_qty DESC, o_orderkey LIMIT 100""".stripMargin

  /** TPC-H Q7 (volume shipping) — the two-nation trade report: revenue
    * between a nation PAIR in either direction, by supplier nation,
    * customer nation, and ship year. The plan worth demonstrating: the
    * nation dim joins twice under different roles (both BROADCAST — the
    * J1-J3 alias discipline), the disjunctive pair filter collapses
    * AFTER both joins (predicate needs both sides), and the fact table
    * shuffles once for the final rollup. Revenue per row quantized to
    * cents (q10 discipline); ship year via `year()` on the
    * session-normalized timestamp — identical on both engines.
    */
  def q7VolumeShipping(spark: SparkSession, dir: String): DataFrame = {
    // pair chosen populated at EVERY fixture scale (sf0.001 has sparse
    // supplier×customer nation coverage; 11/12 trades at all three)
    val (na, nb) = ("NATION_11", "NATION_12")
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .withColumn("rev_cents",
        floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100).cast("long"))
    val sn = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val cn = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    l.join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(sn), col("s_nationkey") === col("s_nk"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(cn), col("c_nationkey") === col("c_nk"))
      .filter((col("supp_nation") === na && col("cust_nation") === nb) ||
        (col("supp_nation") === nb && col("cust_nation") === na))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(sum(col("rev_cents")).as("revenue_cents"))
  }

  val q7Oracle: String =
    """SELECT supp_nation, cust_nation, l_year,
      |  CAST(sum(rev_cents) AS BIGINT) AS revenue_cents
      |FROM (
      |  SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
      |    CAST(year(l_shipdate) AS BIGINT) AS l_year,
      |    CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS rev_cents
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation sn ON s_nationkey = sn.n_nationkey
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation cn ON c_nationkey = cn.n_nationkey
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |    AND ((sn.n_name = 'NATION_11' AND cn.n_name = 'NATION_12')
      |      OR (sn.n_name = 'NATION_12' AND cn.n_name = 'NATION_11'))
      |)
      |GROUP BY supp_nation, cust_nation, l_year""".stripMargin

  /** TPC-H Q12 (shipping priority classes) — the conditional-aggregation
    * family: one fact-dim join, then CASE-gated counts split each group
    * into high- vs low-priority lines in a single pass (no second scan,
    * no pivot). Declared deviation: the fixture carries no `l_shipmode`,
    * so the grouping key is `l_linestatus` — the aggregation pattern
    * (Q12's point) is unchanged. Counts are exact integers.
    */
  def q12PriorityShipping(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    l.join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_linestatus"))
      .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        // NULL priority counts as low on BOTH engines: when(high,0).otherwise(1)
        // sends NULL to the otherwise branch exactly like SQL's ELSE 1, whereas
        // when(!high,1) would send NULL to 0 (NOT(null) is null) and diverge
        sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
  }

  val q12Oracle: String =
    """SELECT l_linestatus,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
      |    AS high_line_count,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT)
      |    AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY l_linestatus""".stripMargin

  /** TPC-H Q4 (order priority checking) — the correlated-EXISTS
    * decorrelation shape: orders of one quarter with at least one
    * "problem" line, counted by priority. The EXISTS correlates on the
    * order key AND carries a non-equi predicate against the OUTER row
    * (`l_shipdate > o_orderdate + 30 days`), so the rewrite is a
    * left-semi join whose condition mixes the equi key with the extra
    * inequality — the decorrelation path none of the plain semi/anti
    * gates touch. Declared deviation: the fixture has no
    * l_commitdate/l_receiptdate, so "problem" is shipped-30-days-late;
    * the plan shape (and both engines' semantics) are Q4's.
    */
  def q4PriorityCheck(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1997-07-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-10-01").cast("timestamp"))
    val l = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_shipdate"))
    o.join(l,
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAY"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  val q4Oracle: String =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders o
      |WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-10-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem l
      |    WHERE l.l_orderkey = o.o_orderkey
      |      AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** TPC-H Q13 (customer order distribution) — the outer-join-count
    * shape whose POINT is the preserved zero group: customers whose
    * orders ALL fail the filter (or who have none) must surface at
    * c_count = 0, which only a left outer join + `count(non-null col)`
    * produces — an inner join would drop them and a count(*) would
    * miscount them at 1. Filter sits join-side (pre-join on the orders
    * scan), exactly TPC-H's "filter in the ON clause" requirement.
    * Declared deviation: no o_comment in the fixture; the join-side
    * predicate is `o_orderpriority = '1-URGENT'` — selective enough that
    * the zero group is POPULATED at every fixture SF (a fifth of orders
    * are urgent, so customers with no urgent order exist; an exclusion
    * filter left the zero group empty and the NULL path untested) —
    * same path, same preserved-NULL semantics.
    */
  def q13CustomerDistribution(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir)
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey"), col("o_orderkey")),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count")) // count(col) skips NULLs → 0
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  val q13Oracle: String =
    """SELECT c_count, count(*) AS custdist FROM (
      |  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      |  FROM customer LEFT OUTER JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority = '1-URGENT'
      |  GROUP BY c_custkey
      |)
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** Problem-line marker and nation pin for [[q21WaitingSuppliers]] —
    * fixture deviation: no commit/receipt dates, so a "kept waiting"
    * line is a RETURNED one (`l_returnflag = 'R'`).
    */
  val Q21Nation = "NATION_3"

  /** TPC-H Q21 (suppliers who kept the customer waiting) — the nested
    * semi + anti on the SAME fact: a supplier's problem line counts only
    * if the order had another supplier (EXISTS l2, supplier-inequality
    * semi join) and NO other supplier also had a problem line
    * (NOT EXISTS l3, supplier-inequality anti join). Three scans of
    * lineitem correlate pairwise on the order key with `<>` side
    * conditions — the one decorrelation pattern where semi and anti
    * rewrites stack on one fact table. Dims (supplier, nation) broadcast;
    * the fact joins shuffle on the order key.
    */
  def q21WaitingSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val l1 = Tables.lineitem(spark, dir).filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_suppkey"))
    val base = l1
      .join(Tables.orders(spark, dir).filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey")), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir).filter(col("n_name") === Q21Nation)),
        col("s_nationkey") === col("n_nationkey"))
    val l2 = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("lo2"), col("l_suppkey").as("ls2"))
    val l3 = Tables.lineitem(spark, dir).filter(col("l_returnflag") === "R")
      .select(col("l_orderkey").as("lo3"), col("l_suppkey").as("ls3"))
    base
      .join(l2, col("l_orderkey") === col("lo2") && col("l_suppkey") =!= col("ls2"),
        "left_semi")
      .join(l3, col("l_orderkey") === col("lo3") && col("l_suppkey") =!= col("ls3"),
        "left_anti")
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(100)
  }

  val q21Oracle: String =
    s"""SELECT s_name, count(*) AS numwait
       |FROM lineitem l1
       |JOIN orders ON o_orderkey = l1.l_orderkey
       |JOIN supplier ON s_suppkey = l1.l_suppkey
       |JOIN nation ON n_nationkey = s_nationkey
       |WHERE l1.l_returnflag = 'R' AND o_orderstatus = 'F' AND n_name = '$Q21Nation'
       |  AND EXISTS (SELECT 1 FROM lineitem l2
       |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
       |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
       |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
       |      AND l3.l_returnflag = 'R')
       |GROUP BY s_name
       |ORDER BY numwait DESC, s_name
       |LIMIT 100""".stripMargin

  /** TPC-H Q17 (small-quantity-order revenue) — the correlated SCALAR
    * subquery family: each lineitem compares against an aggregate of the
    * SAME table correlated on its own part (`l_quantity <
    * 0.2 * avg(l_quantity) over the part`). The decorrelation every
    * engine must perform: pre-aggregate per part, join the aggregate
    * back to the fact, filter — never a per-row subquery execution. The
    * threshold compare is kept in exact integers: `qty < 0.2·(sum/cnt)`
    * ⟺ `5·qty·cnt < sum` over BIGINT-cast quantities, so no engine pair
    * can disagree on a boundary row. Declared deviation: fixture parts
    * carry no container, so the report groups by `p_brand` over ALL
    * parts rather than pinning one brand — same plan shape (two shuffles
    * on l_partkey: one for the per-part aggregate, one reusable by the
    * join; part dim broadcast), richer gate (every brand is a check row).
    */
  def q17SmallQtyRevenue(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir).select(
      col("l_partkey"),
      col("l_quantity").cast("long").as("qty"),
      floor(col("l_extendedprice") * 100).cast("long").as("price_cents"))
    val perPart = l.groupBy(col("l_partkey"))
      .agg(sum(col("qty")).as("sum_qty"), count(lit(1)).as("cnt"))
    l.join(perPart, "l_partkey")
      .filter(col("qty") * col("cnt") * 5 < col("sum_qty"))
      .join(broadcast(Tables.part(spark, dir)), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(sum(col("price_cents")).as("revenue_cents"),
        count(lit(1)).as("n_small"))
      .orderBy(col("p_brand"))
  }

  val q17Oracle: String =
    """WITH l AS (
      |  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
      |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS price_cents
      |  FROM lineitem
      |), pa AS (
      |  SELECT l_partkey, CAST(sum(qty) AS BIGINT) AS sum_qty, count(*) AS cnt
      |  FROM l GROUP BY l_partkey
      |)
      |SELECT p_brand,
      |  CAST(sum(price_cents) AS BIGINT) AS revenue_cents,
      |  count(*) AS n_small
      |FROM l JOIN pa USING (l_partkey) JOIN part ON p_partkey = l_partkey
      |WHERE 5 * qty * cnt < sum_qty
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  /** TPC-H Q15 (top supplier) — the GLOBAL scalar subquery over an
    * aggregated view: per-supplier quarterly revenue, keep the rows equal
    * to `max(revenue)` over the whole view. Spark-first decorrelation:
    * the view aggregates once, the one-row max aggregates FROM that view
    * and broadcasts back as a join — never a single-partition window
    * (the classic `Window.orderBy` global-sort trap) and never a second
    * scan of the fact. Revenue quantized per row to cents (q10
    * discipline) so the max frontier is exact; ties all surface, as in
    * the spec's own note.
    */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    // the explicit isNotNull matches the constraint the supplier join
    // infers on the OTHER branch, so both branches' shuffle subtrees
    // canonicalize equal and AQE's ReuseExchange computes the view ONCE
    // (without it the max side re-scans and re-shuffles the fact)
    val rev = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-04-01").cast("timestamp") &&
        col("l_suppkey").isNotNull)
      .groupBy(col("l_suppkey"))
      .agg(sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
        .cast("long")).as("total_rev_cents"))
    val mx = rev.agg(max(col("total_rev_cents")).as("mx"))
    rev.join(broadcast(mx), col("total_rev_cents") === col("mx"))
      .join(broadcast(Tables.supplier(spark, dir)), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_rev_cents"))
      .orderBy(col("s_suppkey"))
  }

  val q15Oracle: String =
    """WITH rev AS (
      |  SELECT l_suppkey,
      |    CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
      |      AS BIGINT) AS total_rev_cents
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
      |  GROUP BY l_suppkey
      |)
      |SELECT s_suppkey, s_name, total_rev_cents
      |FROM rev JOIN supplier ON l_suppkey = s_suppkey
      |WHERE total_rev_cents = (SELECT max(total_rev_cents) FROM rev)
      |ORDER BY s_suppkey""".stripMargin

  /** TPC-H Q2 (minimum-cost supplier) — the correlated scalar-min
    * subquery over a derived supply relation: for each qualifying part,
    * keep exactly the supplier(s) achieving `min(cost)` over that part's
    * suppliers. Declared deviation: the fixture has no partsupp, so the
    * supply relation derives from lineitem — `cost = min over the
    * (part, supplier)'s lines of floor(price·100/qty)` (unit price in
    * cents; double division is IEEE-identical across engines, floor is
    * the shared quantization). Plan shape: one shuffle on (part, supp)
    * builds the supply relation, one on part computes the correlated
    * min, the equality join back is partition-local on part; the part
    * filter prunes BEFORE the min so the per-part minimum is over the
    * pruned set exactly as Q2's correlated subquery requires; supplier
    * and nation broadcast onto the winners.
    */
  def q2MinCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
      .filter(col("p_type") === "STANDARD" && col("p_size") < 11)
      .select(col("p_partkey"), col("p_name"))
    val supply = Tables.lineitem(spark, dir)
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_partkey"), col("p_name"), col("l_suppkey"))
      .agg(min(floor(col("l_extendedprice") * 100 / col("l_quantity"))
        .cast("long")).as("cost_cents"))
    val minCost = supply.groupBy(col("p_partkey").as("mk"))
      .agg(min(col("cost_cents")).as("min_cost"))
    supply
      .join(minCost, col("p_partkey") === col("mk") && col("cost_cents") === col("min_cost"))
      .join(broadcast(Tables.supplier(spark, dir)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .select(col("p_partkey"), col("p_name"), col("s_name"), col("n_name"),
        col("cost_cents"))
      .orderBy(col("cost_cents"), col("p_partkey"), col("s_name"))
      .limit(100)
  }

  val q2Oracle: String =
    """WITH supply AS (
      |  SELECT p_partkey, p_name, l_suppkey,
      |    CAST(min(floor(l_extendedprice * 100 / l_quantity)) AS BIGINT) AS cost_cents
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE p_type = 'STANDARD' AND p_size < 11
      |  GROUP BY p_partkey, p_name, l_suppkey
      |)
      |SELECT p_partkey, p_name, s_name, n_name, cost_cents
      |FROM supply s
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |WHERE cost_cents = (SELECT min(cost_cents) FROM supply m
      |                    WHERE m.p_partkey = s.p_partkey)
      |ORDER BY cost_cents, p_partkey, s_name
      |LIMIT 100""".stripMargin

  /** TPC-H Q19 (discounted revenue) — the disjunctive OR-of-ANDs
    * predicate family: three brand-specific (size-range × quantity-range)
    * branches OR'd over a part join. What the plan must show: Catalyst
    * extracts the common `p_partkey = l_partkey` equi-key (the join never
    * degrades to a nested loop over the OR), and the brand-IN superset of
    * the disjunction pushes into the part scan so the broadcast side is
    * three brands, not 2 000 parts ([[graft.PlanShapeSpec]] pins both).
    * Revenue per row in exact cents; one output row (sum + count), the
    * Q19 shape.
    */
  def q19DisjunctiveRevenue(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val branch1 = col("p_brand") === "Brand#12" &&
      col("p_size").between(1, 15) && col("l_quantity").between(1, 11)
    val branch2 = col("p_brand") === "Brand#23" &&
      col("p_size").between(1, 25) && col("l_quantity").between(10, 20)
    val branch3 = col("p_brand") === "Brand#34" &&
      col("p_size").between(1, 35) && col("l_quantity").between(20, 30)
    l.join(broadcast(Tables.part(spark, dir)), col("l_partkey") === col("p_partkey"))
      .filter(branch1 || branch2 || branch3)
      .agg(sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
          .cast("long")).as("revenue_cents"),
        count(lit(1)).as("n_lines"))
  }

  val q19Oracle: String =
    """SELECT
      |  CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
      |    AS BIGINT) AS revenue_cents,
      |  count(*) AS n_lines
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
      |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
      |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)""".stripMargin

  /** Nation group for [[q11ImportantParts]] — chosen to intersect the
    * supplier population at EVERY fixture SF (sf0.001 plants suppliers
    * in 10 of 25 nations).
    */
  val Q11Nations: Seq[String] = Seq("NATION_3", "NATION_8", "NATION_15", "NATION_19")

  /** TPC-H Q11 (important stock) — the fraction-of-global-total HAVING:
    * per-part value within a nation group, kept only when the part's
    * value exceeds a fixed fraction of the GROUP-WIDE total. The scalar
    * total aggregates from the same per-part view and broadcasts back as
    * a one-row join (the Q15 decorrelation, but feeding an inequality
    * threshold rather than an equality frontier). Exact integers:
    * `value > total/1000` ⟺ `value·1000 > total` over BIGINT cents.
    * Declared deviation: no partsupp, so value = Σ floor(price·100) of
    * the nation group's lineitems per part; nation filter broadcast-joins
    * into supplier before the fact join.
    */
  def q11ImportantParts(spark: SparkSession, dir: String): DataFrame = {
    val natSupp = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
          .filter(col("n_name").isin(Q11Nations: _*))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val value = Tables.lineitem(spark, dir)
      .join(broadcast(natSupp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(floor(col("l_extendedprice") * 100).cast("long")).as("value_cents"))
    val total = value.agg(sum(col("value_cents")).as("total_cents"))
    value.join(broadcast(total), col("value_cents") * 1000 > col("total_cents"))
      .select(col("l_partkey"), col("value_cents"))
      .orderBy(col("value_cents").desc, col("l_partkey"))
  }

  val q11Oracle: String =
    s"""WITH v AS (
       |  SELECT l_partkey,
       |    CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS value_cents
       |  FROM lineitem
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation ON s_nationkey = n_nationkey
       |  WHERE n_name IN (${Q11Nations.map(n => s"'$n'").mkString(", ")})
       |  GROUP BY l_partkey
       |)
       |SELECT l_partkey, value_cents FROM v
       |WHERE value_cents * 1000 > (SELECT CAST(sum(value_cents) AS BIGINT) FROM v)
       |ORDER BY value_cents DESC, l_partkey""".stripMargin

  /** Complaint threshold for [[q16SupplierCounts]] — the fixture plants
    * no supplier comments, so "complaints" are low account balances;
    * populated at every SF (sf0.001's minimum balance is ~537).
    */
  val Q16ComplaintBal = 1000.0

  /** TPC-H Q16 (parts/supplier relationship) — the NOT-IN-subquery +
    * COUNT DISTINCT family: how many DISTINCT suppliers serve each part
    * class, excluding a "complaints" supplier list. The exclusion is a
    * broadcast anti join (NOT IN over a non-nullable key — no tri-valued
    * NULL hazard, asserted by the non-null key column), and the count is
    * a real distinct aggregate AFTER the join — Spark plans it as the
    * two-phase partial-distinct expand, never a driver-side dedup.
    * Declared deviation: brand/type/size filters adapted to the fixture
    * vocabulary (`p_type` has 6 values, no 'MEDIUM POLISHED%' strings).
    */
  def q16SupplierCounts(spark: SparkSession, dir: String): DataFrame = {
    val complaints = Tables.supplier(spark, dir)
      .filter(col("s_acctbal") < Q16ComplaintBal)
      .select(col("s_suppkey"))
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)
          .filter(col("p_brand") =!= "Brand#45" &&
            col("p_type") =!= "PROMO" &&
            col("p_size").isin(1, 4, 9, 16, 25, 36, 49))),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(complaints), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  val q16Oracle: String =
    s"""SELECT p_brand, p_type, p_size,
       |  count(DISTINCT l_suppkey) AS supplier_cnt
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE p_brand <> 'Brand#45' AND p_type <> 'PROMO'
       |  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
       |  AND l_suppkey NOT IN (
       |    SELECT s_suppkey FROM supplier WHERE s_acctbal < $Q16ComplaintBal)
       |GROUP BY p_brand, p_type, p_size
       |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  /** TPC-H Q6 (forecasting revenue change) — the pure scan family: no
    * join at all, three pushed-down range predicates, one global sum.
    * The value at 100 TB is what the plan does NOT contain: every filter
    * reaches the parquet scan as PushedFilters, the projection reads
    * four columns, and the only exchange is the single-row final
    * aggregate's. Revenue (price × discount) quantized per row to cents.
    */
  def q6ForecastRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(sum(floor(col("l_extendedprice") * col("l_discount") * 100).cast("long"))
          .as("revenue_cents"),
        count(lit(1)).as("n_lines"))

  val q6Oracle: String =
    """SELECT
      |  CAST(sum(CAST(floor(l_extendedprice * l_discount * 100) AS BIGINT)) AS BIGINT)
      |    AS revenue_cents,
      |  count(*) AS n_lines
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin

  /** Target supplier nation for [[q8MarketShare]] — has planted
    * suppliers at every fixture SF.
    */
  val Q8Nation = "NATION_12"

  /** TPC-H Q8 (national market share) — the conditional-share rollup: a
    * target nation's slice of regional revenue by order year. The widest
    * join tree in the catalog (fact × fact × part × supplier × customer
    * × nation twice × region), every dim broadcast, ONE fact shuffle for
    * the year rollup. The published share is a DOUBLE division, which no
    * cross-engine hash can gate — so the gate carries the exact
    * (numerator, denominator) cent pair and the share stays derivable
    * downstream (the moment-stats discipline). Declared deviation:
    * market = customers in region AMERICA buying STANDARD parts.
    */
  def q8MarketShare(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir).withColumn("rev_cents",
      floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100).cast("long"))
    val sn = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val marketNations = Tables.nation(spark, dir)
      .join(Tables.region(spark, dir).filter(col("r_name") === "AMERICA"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("c_nk"))
    l.join(Tables.orders(spark, dir)
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.part(spark, dir).filter(col("p_type") === "STANDARD")
        .select(col("p_partkey"))), col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(sn), col("s_nationkey") === col("s_nk"))
      .join(Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(marketNations), col("c_nationkey") === col("c_nk"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(sum(when(col("supp_nation") === Q8Nation, col("rev_cents")).otherwise(0L))
          .as("nation_cents"),
        sum(col("rev_cents")).as("total_cents"))
      .orderBy(col("o_year"))
  }

  val q8Oracle: String =
    s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       |  CAST(sum(CASE WHEN sn.n_name = '$Q8Nation' THEN rev_cents ELSE 0 END) AS BIGINT)
       |    AS nation_cents,
       |  CAST(sum(rev_cents) AS BIGINT) AS total_cents
       |FROM (
       |  SELECT l_orderkey, l_partkey, l_suppkey,
       |    CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS rev_cents
       |  FROM lineitem
       |) l
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN part ON l_partkey = p_partkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation sn ON s_nationkey = sn.n_nationkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation cn ON c_nationkey = cn.n_nationkey
       |JOIN region ON cn.n_regionkey = r_regionkey
       |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
       |  AND p_type = 'STANDARD' AND r_name = 'AMERICA'
       |GROUP BY o_year ORDER BY o_year""".stripMargin

  /** TPC-H Q9 (product-type profit) — profit by supplier nation and
    * order year over a part-name token filter. Declared deviation: no
    * partsupp, so unit supply cost is derived from the part dim
    * (`floor(p_retailprice · 10)` — 10 % of retail, in cents), keeping
    * Q9's structure (revenue MINUS a cost that rides the part join)
    * with exact-integer profit. The `contains` filter prunes the part
    * dim before broadcast; one fact shuffle for the rollup.
    */
  def q9ProductProfit(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir).filter(col("p_name").contains("widget"))
      .select(col("p_partkey"),
        floor(col("p_retailprice") * 10).cast("long").as("unit_cost_cents"))
    Tables.lineitem(spark, dir)
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(Tables.orders(spark, dir).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100).cast("long")
          - col("l_quantity").cast("long") * col("unit_cost_cents")).as("profit_cents"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  val q9Oracle: String =
    """SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
      |  CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
      |    - CAST(l_quantity AS BIGINT) * CAST(floor(p_retailprice * 10) AS BIGINT))
      |    AS BIGINT) AS profit_cents
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN orders ON l_orderkey = o_orderkey
      |WHERE p_name LIKE '%widget%'
      |GROUP BY 1, 2
      |ORDER BY nation, o_year DESC""".stripMargin

  /** TPC-H Q20 (potential part promotion) — the nested-IN-with-
    * correlated-aggregate chain: suppliers holding "excess" stock of a
    * name-filtered part family. Declared deviation: availability derives
    * from lineitem (`aq = Σ qty per (part, supplier)`), and "excess"
    * means the pair holds over a fifth of the part's total
    * (`aq · 5 > tq` — exact-integer cross-multiply standing in for
    * Q20's `> 0.5 · sum(l_quantity)`). The chain is Q20's: part-name
    * filter → per-(part,supplier) aggregate → correlated per-part
    * threshold → DISTINCT supplier set → left-semi join into the
    * supplier dim, nation broadcast onto the survivors. The per-part
    * total reuses the pair aggregate's shuffle partitioning.
    */
  def q20ExcessSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir).filter(col("p_name").startsWith("small"))
      .select(col("p_partkey"))
    val av = Tables.lineitem(spark, dir)
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity").cast("long")).as("aq"))
    val tot = av.groupBy(col("l_partkey").as("tk")).agg(sum(col("aq")).as("tq"))
    val excess = av.join(tot, col("l_partkey") === col("tk"))
      .filter(col("aq") * 5 > col("tq"))
      .select(col("l_suppkey")).distinct()
    Tables.supplier(spark, dir)
      .join(excess, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
      .orderBy(col("s_suppkey"))
  }

  val q20Oracle: String =
    """WITH av AS (
      |  SELECT l_partkey, l_suppkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS aq
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE p_name LIKE 'small%'
      |  GROUP BY l_partkey, l_suppkey
      |)
      |SELECT s_suppkey, s_name, n_name
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |WHERE s_suppkey IN (
      |  SELECT l_suppkey FROM av a
      |  WHERE aq * 5 > (SELECT CAST(sum(aq) AS BIGINT) FROM av t
      |                  WHERE t.l_partkey = a.l_partkey))
      |ORDER BY s_suppkey""".stripMargin

  /** Top-k per group — the shape analysts write as row_number ≤ k and
    * naive engines execute as a FULL per-group sort. Spark 3.5+ plans the
    * rank filter as `WindowGroupLimit`: each task keeps a k-element heap
    * per group BEFORE the exchange, so the shuffle carries at most k rows
    * per (group, input partition) instead of every row — the difference
    * between "sort 100 TB of orders" and "merge 32·k rows per customer".
    * PlanShapeSpec pins the WindowGroupLimit node so a refactor that
    * breaks the pushdown (e.g. a non-rank function slipped into the
    * filter) fails fast. Cents + orderkey tiebreak make the k-th edge
    * deterministic on both engines.
    */
  def topOrdersPerCustomer(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(desc("price_cents"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        floor(col("o_totalprice") * 100).cast("long").as("price_cents"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
  }

  def topOrdersOracle: String =
    s"""SELECT o_custkey, o_orderkey,
       |  CAST(floor(o_totalprice * 100) AS BIGINT) AS price_cents,
       |  CAST(rn AS BIGINT) AS rn
       |FROM (
       |  SELECT o_custkey, o_orderkey, o_totalprice,
       |    row_number() OVER (PARTITION BY o_custkey
       |      ORDER BY CAST(floor(o_totalprice * 100) AS BIGINT) DESC, o_orderkey) AS rn
       |  FROM orders
       |) WHERE rn <= 3""".stripMargin

  /** FULL OUTER join — the one join type the catalog's star/semi/anti
    * surface leaves untouched, in its canonical reconciliation shape:
    * compare two independently-filtered per-nation aggregates (big
    * customers vs big suppliers) and PRESERVE nations present on only
    * one side — exactly what an inner join silently drops and a left
    * join drops half of. Keys coalesce, absent counts map to zero, and a
    * `side` column states which inputs existed. Both aggregates are
    * nation-sized, so the join itself is trivially small at any corpus
    * scale (the fact-side aggregations carry the cost and partial-agg
    * before their shuffles); the filters make one-sided nations REAL in
    * the fixture rather than a vacuous code path.
    */
  def fullOuterReconcile(spark: SparkSession, dir: String): DataFrame = {
    val bigCust = Tables.customer(spark, dir)
      .filter(col("c_acctbal") > 7500)
      .groupBy(col("c_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_big_customers"))
    val bigSupp = Tables.supplier(spark, dir)
      .filter(col("s_acctbal") > 0)
      .groupBy(col("s_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_big_suppliers"))
    bigCust.join(bigSupp, Seq("nationkey"), "full_outer")
      .select(col("nationkey"),
        coalesce(col("n_big_customers"), lit(0L)).as("n_big_customers"),
        coalesce(col("n_big_suppliers"), lit(0L)).as("n_big_suppliers"),
        when(col("n_big_customers").isNull, "supplier_only")
          .when(col("n_big_suppliers").isNull, "customer_only")
          .otherwise("both").as("side"))
  }

  def fullOuterOracle: String =
    s"""WITH bc AS (
       |  SELECT c_nationkey AS nationkey, count(*) AS n_big_customers
       |  FROM customer WHERE c_acctbal > 7500 GROUP BY c_nationkey
       |), bs AS (
       |  SELECT s_nationkey AS nationkey, count(*) AS n_big_suppliers
       |  FROM supplier WHERE s_acctbal > 0 GROUP BY s_nationkey
       |)
       |SELECT coalesce(bc.nationkey, bs.nationkey) AS nationkey,
       |  CAST(coalesce(n_big_customers, 0) AS BIGINT) AS n_big_customers,
       |  CAST(coalesce(n_big_suppliers, 0) AS BIGINT) AS n_big_suppliers,
       |  CASE WHEN n_big_customers IS NULL THEN 'supplier_only'
       |       WHEN n_big_suppliers IS NULL THEN 'customer_only'
       |       ELSE 'both' END AS side
       |FROM bc FULL OUTER JOIN bs USING (nationkey)""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_full_outer" -> Query((s, dir) => fullOuterReconcile(s, dir), fullOuterOracle),
    "q_topk_per_group" -> Query((s, dir) => topOrdersPerCustomer(s, dir), topOrdersOracle),
    "q6_forecast_revenue" -> Query((s, dir) => q6ForecastRevenue(s, dir), q6Oracle),
    "q8_market_share" -> Query((s, dir) => q8MarketShare(s, dir), q8Oracle),
    "q9_product_profit" -> Query((s, dir) => q9ProductProfit(s, dir), q9Oracle),
    "q20_excess_suppliers" -> Query((s, dir) => q20ExcessSuppliers(s, dir), q20Oracle),
    "q17_small_qty_revenue" -> Query((s, dir) => q17SmallQtyRevenue(s, dir), q17Oracle),
    "q15_top_supplier" -> Query((s, dir) => q15TopSupplier(s, dir), q15Oracle),
    "q2_min_cost_supplier" -> Query((s, dir) => q2MinCostSupplier(s, dir), q2Oracle),
    "q19_disjunctive_revenue" -> Query((s, dir) => q19DisjunctiveRevenue(s, dir), q19Oracle),
    "q11_important_parts" -> Query((s, dir) => q11ImportantParts(s, dir), q11Oracle),
    "q16_supplier_counts" -> Query((s, dir) => q16SupplierCounts(s, dir), q16Oracle),
    "q4_priority_check" -> Query((s, dir) => q4PriorityCheck(s, dir), q4Oracle),
    "q13_cust_distribution" -> Query((s, dir) => q13CustomerDistribution(s, dir), q13Oracle),
    "q21_waiting_suppliers" -> Query((s, dir) => q21WaitingSuppliers(s, dir), q21Oracle),
    "q12_priority_classes" -> Query((s, dir) => q12PriorityShipping(s, dir), q12Oracle),
    "q7_volume_shipping" -> Query((s, dir) => q7VolumeShipping(s, dir), q7Oracle),
    "q18_large_orders" -> Query((s, dir) => q18LargeOrders(s, dir), q18Oracle),
    "q_moment_stats" -> Query((s, dir) => qMomentStats(s, dir), momentOracle),
    "q_anti_join" -> Query((s, dir) => qAntiJoin(s, dir), antiJoinOracle),
    "q_exists_subquery" -> Query((s, dir) => qExistsSubquery(s, dir), ExistsSql),
    "q1_pricing_summary" -> Query((s, dir) => q1PricingSummary(s, dir), q1Oracle),
    "q3_top_revenue" -> Query((s, dir) => q3TopRevenue(s, dir), q3Oracle),
    "q10_returned_items" -> Query((s, dir) => q10ReturnedItems(s, dir), q10Oracle),
    "q5_local_volume" -> Query((s, dir) => q5LocalVolume(s, dir), q5Oracle),
    "q14_promo_share" -> Query((s, dir) => q14PromoShare(s, dir), q14Oracle),
    "q22_set_ops" -> Query((s, dir) => q22SetOps(s, dir), q22Oracle)
  )
}
