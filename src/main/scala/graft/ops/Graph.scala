package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Iterative graph analytics over relational edge lists — PageRank in
  * exact fixed-point integers, so a 5-iteration run is bit-reproducible
  * on any engine and any parallelism.
  *
  * The graph: the customer→supplier trade network (who buys from whom),
  * `distinct (o_custkey, l_suppkey)` through the order join. Node ids
  * live in one integer space (customer 2k, supplier 2k+1) so the edge
  * list stays a pair of BIGINTs — no strings shuffled. Suppliers have no
  * out-edges, which makes the dangling-mass path (the part naive
  * PageRanks drop) load-bearing rather than decorative.
  *
  * The recurrence, all in integral arithmetic on a 10¹² fixed-point mass
  * (`//` floor division, everything non-negative):
  *
  *   base    = SCALE // N
  *   r₀(v)   = base
  *   S(v)    = Σ_{u→v} r(u) // outdeg(u)
  *   D       = Σ_{outdeg(u)=0} r(u)
  *   r'(v)   = (15·base + 85·(S(v) + D // N)) // 100
  *
  * Floor division loses mass (never creates it), so every iterate is
  * bounded by SCALE — no overflow at any corpus size — and both engines
  * agree bit-for-bit. The oracle is the SAME loop unrolled into chained
  * CTEs by [[pagerankSql]]: one code path defines both engines' queries.
  *
  * Scale: the per-iteration cost is one edge-sized aggregate shuffle
  * (contributions grouped by dst, map-side partials) plus a node-sized
  * join; the edge list is partitioned by src ONCE and cached, so
  * iterations reshuffle only the rank table (node-sized); the dangling
  * scalar is a broadcast one-row aggregate; lineage is truncated each
  * round (the [[graft.dedup.Dedup.Components]] discipline) so iteration
  * i never re-evaluates iteration i−1's plan — in particular the
  * dangling-mass branch would otherwise DOUBLE the rank subtree per
  * round (2⁵ blowup at 5 iterations). Truncation mode is
  * [[graft.sources.Checkpoints.truncateLineage]]: executor-local by
  * default, reliable FS checkpoints when
  * `spark.graft.iter.checkpointDir` points at shared storage (the
  * cluster-fault-tolerance mode; results bit-identical either way).
  */
object Graph {

  /** Fixed-point mass: ranks sum to ≤ 10¹² (floor division only loses). */
  val Scale = 1000000000000L

  /** Damping = 85/100 — integer percent, the usual 0.85. */
  val DampingPct = 85L

  val Iters = 5

  /** Score tables at or under this row count are broadcast in the
    * iterative half-step joins (a (node, score) row is 16 payload
    * bytes, so 4M rows ≈ 64 MB hashed — dim-sized); above it the
    * half-step switches to a co-partitioned shuffle join that never
    * broadcasts anything node-sized. Integer score sums are
    * order-insensitive, so the two shapes are bit-identical.
    */
  val MaxBroadcastScoreRows = 4000000L

  /** PageRank over an arbitrary (src, dst) BIGINT edge list. */
  def pagerankOf(edgesIn: DataFrame, iters: Int = Iters): DataFrame = {
    val edges = edgesIn.select(col("src"), col("dst")).distinct()
    val outd = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val nodes = Caches.persist(edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node")))
      .distinct())
    val n = nodes.count()
    val base = Scale / n
    // (src, dst, deg), partitioned by the per-iteration join key ONCE.
    // NOTE (r11): unlike hitsOf, the physical join mode is left to
    // Spark's stats — the cached edge list has accurate size stats, so
    // the optimizer broadcasts it while it fits the threshold (the
    // measured local winner: the rank side then streams with almost no
    // tasks) and switches to the co-partitioned shuffle join beyond
    // (measured at the 10x probe). Forcing either side was measured
    // SLOWER at both scales; hitsOf needs its explicit modes only
    // because its statless checkpoint side starves the optimizer.
    val edgesDeg = Caches.persist(edges.join(outd, "src").repartition(col("src")))
    val danglers = Caches.persist(nodes
      .join(outd.select(col("src").as("node")), Seq("node"), "left_anti"))

    // lineage truncation per round; spark.graft.iter.checkpointDir flips
    // this to reliable FS checkpoints (see Checkpoints.truncateLineage —
    // executor-loss recovery vs per-round write, bit-identical results).
    // Per-ROUND (not hitsOf's every-other): nothing mid-round is cached
    // here, so a two-round lazy chain re-evaluates the rank subtree
    // through both the dangling and contribution branches — measured
    // slower at 1x AND 10x than eager per-round truncation.
    var ranks = graft.sources.Checkpoints.truncateLineage(
      nodes.select(col("node"), lit(base).as("r")))
    for (it <- 1 to iters) {
      val dang = ranks.join(danglers, Seq("node"), "left_semi")
        .agg(coalesce(sum(col("r")), lit(0L)).cast("long").as("d"))
      val contrib = ranks
        .join(edgesDeg, ranks("node") === edgesDeg("src"))
        .select(col("dst").as("node"), expr("r DIV deg").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).cast("long").as("s"))
      ranks = nodes.join(contrib, Seq("node"), "left")
        .crossJoin(broadcast(dang))
        .select(col("node"),
          // the L suffixes matter: a small base parses as INT and
          // 15·base overflows under ANSI before widening
          expr(s"(${100L - DampingPct}L * ${base}L" +
            s" + ${DampingPct}L * (coalesce(s, 0L) + d DIV ${n}L)) DIV 100L").as("r"))
      ranks = graft.sources.Checkpoints.truncateLineage(ranks)
    }
    edgesDeg.unpersist()
    nodes.unpersist()
    danglers.unpersist()
    ranks
  }

  /** The trade-network edge list: customer 2k → supplier 2k+1. */
  def tradeEdges(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), (col("o_custkey") * 2).as("src"))
      .join(Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), (col("l_suppkey") * 2 + 1).as("dst")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("src"), col("dst"))

  def tradePagerank(spark: SparkSession, dir: String): DataFrame =
    pagerankOf(tradeEdges(spark, dir))
      .select(col("node"),
        when(col("node") % 2 === 0, lit("customer")).otherwise(lit("supplier"))
          .as("kind"),
        col("r").as("rank_fp"))

  /** The identical recurrence as chained CTEs — the loop unrolled, one
    * `d_i`/`r_i` pair per iteration, generated by the same Scala code
    * that drives the Spark loop.
    */
  def pagerankSql(iters: Int = Iters): String = {
    val baseSql = s"($Scale // (SELECT n FROM nn))"
    val steps = (1 to iters).map { i =>
      val prev = if (i == 1) "r0" else s"r${i - 1}"
      s"""d$i AS (
         |  SELECT COALESCE(CAST(sum(r) AS BIGINT), 0) AS d
         |  FROM $prev LEFT JOIN outd ON node = src WHERE deg IS NULL
         |), r$i AS (
         |  SELECT nd.node,
         |    CAST((${100L - DampingPct} * $baseSql
         |      + $DampingPct * (COALESCE(s.s, 0)
         |        + (SELECT d FROM d$i) // (SELECT n FROM nn))) // 100 AS BIGINT) AS r
         |  FROM nodes nd LEFT JOIN (
         |    SELECT e.dst AS node, CAST(sum(p.r // o.deg) AS BIGINT) AS s
         |    FROM edges e
         |    JOIN r${i - 1} p ON p.node = e.src
         |    JOIN outd o ON o.src = e.src
         |    GROUP BY e.dst) s ON s.node = nd.node
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH edges AS (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
       |), nodes AS (
       |  SELECT src AS node FROM edges UNION SELECT dst FROM edges
       |), nn AS (SELECT count(*) AS n FROM nodes),
       |outd AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       |r0 AS (SELECT node, CAST($baseSql AS BIGINT) AS r FROM nodes),
       |$steps
       |SELECT node,
       |  CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
       |  r AS rank_fp
       |FROM r$iters""".stripMargin
  }

  /** HITS hubs & authorities (Kleinberg '99) in the same exact
    * fixed-point discipline as [[pagerankOf]]: each half-step sums the
    * opposite score over the edges, then renormalizes by the INTEGER
    * quotient `q = max(1, Σraw // Scale)` — floor division only, so
    * the score mass stays ~[[Scale]], every intermediate fits a BIGINT
    * (raw ≤ Scale·maxdeg ≈ 10¹⁶), and both engines agree bit-for-bit.
    * No floats anywhere — the usual L2 normalization is exactly what
    * makes naive HITS non-reproducible across engines.
    *
    * Scale shape (reworked r11, VERDICT #7): the DISTINCT edge list is
    * cached once (it feeds three setup scans) and then cached TWICE
    * more, partitioned by src and by dst. The half-step join picks its
    * physical shape from the MEASURED node count (integer sums are
    * order-insensitive, so both shapes are bit-identical):
    *
    *   - score table ≤ [[MaxBroadcastScoreRows]] (a dim-sized graph):
    *     BROADCAST the scores and scan the edge copy partitioned by the
    *     half-step's GROUP key — the per-dst/per-src aggregation then
    *     needs NO exchange at all: a half-step is one cache-scan stage
    *     plus a tiny score broadcast (the shape that won the bench).
    *   - larger graphs: `shuffle_hash` on the score side — the edge
    *     copy partitioned by the JOIN key streams with zero new
    *     exchange, only node-sized scores shuffle, and nothing
    *     node-sized is ever broadcast (the shape that holds at 100 TB).
    *
    *   Without either, Spark broadcasts the EDGE side: the cached edge
    *   list is the only side with stats (checkpoint-backed scores are
    *   statless) and sits under the autoBroadcast threshold at bench
    *   scale — a corpus-sized hashed relation rebuilt every stage.
    *
    * Each half-step's raw-sum table (`araw`/`hraw`, node-sized) is
    * CACHED before its quotient is taken — the quotient is a broadcast
    * one-row aggregate over the cache, so the edge-sized join behind it
    * runs ONCE per half-step instead of twice (once for the quotient,
    * again for the score update — the r10 plan's hidden 2× edge work).
    * Lineage is truncated every OTHER round plus once on the final
    * output: plan depth stays bounded at four half-steps while the
    * per-run eager-materialization job count drops from iters+0 to
    * iters/2+1; between truncations nothing is eager — the whole
    * two-round chain (broadcast quotients included) materializes inside
    * the next truncation job. Round caches are released only AFTER the
    * truncation that drains them.
    */
  def hitsOf(edgesIn: DataFrame, iters: Int = Iters): DataFrame = {
    val edges = Caches.persist(edgesIn.select(col("src"), col("dst")).distinct())
    val bySrc = Caches.persist(edges.repartition(col("src")))
    val byDst = Caches.persist(edges.repartition(col("dst")))
    val nodes = Caches.persist(edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node")))
      .distinct())
    val n = nodes.count()
    val base = Scale / n
    val broadcastScores = n <= MaxBroadcastScoreRows
    // broadcast mode: scan the copy partitioned by the GROUP key so the
    // aggregation reuses it (no exchange); shuffle mode: scan the copy
    // partitioned by the JOIN key so only scores shuffle
    def halfStep(scores: DataFrame, scoreCol: String, joinKey: String,
                 groupKey: String, outCol: String): DataFrame = {
      val (edgeSide, scoreSide) =
        if (broadcastScores) (if (groupKey == "dst") byDst else bySrc, broadcast(scores))
        else (if (joinKey == "src") bySrc else byDst, scores.hint("shuffle_hash"))
      edgeSide.join(scoreSide, scores("node") === edgeSide(joinKey))
        .groupBy(col(groupKey)).agg(sum(col(scoreCol)).cast("long").as(outCol))
    }

    var hubs = graft.sources.Checkpoints.truncateLineage(
      nodes.select(col("node"), lit(base).as("h")))
    var auths: DataFrame = null
    val roundCaches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (it <- 1 to iters) {
      val araw = Caches.persist(halfStep(hubs, "h", "src", "dst", "ar"))
      roundCaches += araw
      val qa = araw.agg(expr(s"greatest(1L, coalesce(sum(ar) DIV ${Scale}L, 1L)) AS q"))
      auths = nodes.join(araw.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .crossJoin(broadcast(qa))
        .select(col("node"), expr("coalesce(ar, 0L) DIV q").as("a"))
      val hraw = Caches.persist(halfStep(auths, "a", "dst", "src", "hr"))
      roundCaches += hraw
      val qh = hraw.agg(expr(s"greatest(1L, coalesce(sum(hr) DIV ${Scale}L, 1L)) AS q"))
      hubs = nodes.join(hraw.withColumnRenamed("src", "node"), Seq("node"), "left")
        .crossJoin(broadcast(qh))
        .select(col("node"), expr("coalesce(hr, 0L) DIV q").as("h"))
      if (it % 2 == 0 && it < iters) {
        // the truncation job just materialized every cache of the last
        // two rounds and cut hubs' lineage above them — release them all
        hubs = graft.sources.Checkpoints.truncateLineage(hubs)
        roundCaches.foreach(_.unpersist())
        roundCaches.clear()
      }
    }
    // final truncation doubles as the output materialization: it drains
    // the remaining (≤ 2 round) chain — the last round's quotient
    // broadcasts and caches included — so EVERY cache below is safe to
    // release and the gate reads a flat checkpoint
    val out = graft.sources.Checkpoints.truncateLineage(
      hubs.join(auths, Seq("node"))
        .select(col("node"), col("h").as("hub_fp"), col("a").as("auth_fp")))
    roundCaches.foreach(_.unpersist())
    edges.unpersist()
    bySrc.unpersist()
    byDst.unpersist()
    nodes.unpersist()
    out
  }

  def tradeHits(spark: SparkSession, dir: String): DataFrame =
    hitsOf(tradeEdges(spark, dir))
      .select(col("node"),
        when(col("node") % 2 === 0, lit("customer")).otherwise(lit("supplier"))
          .as("kind"),
        col("hub_fp"), col("auth_fp"))

  /** The identical HITS recurrence as chained CTEs — the loop
    * unrolled, one (ar, qa, a, hr, qh, h) block per iteration,
    * generated by the same Scala that drives the Spark loop.
    */
  def hitsSql(iters: Int = Iters): String = {
    val baseSql = s"($Scale // (SELECT n FROM nn))"
    val steps = (1 to iters).map { i =>
      val ph = if (i == 1) "h0" else s"h${i - 1}"
      s"""ar$i AS MATERIALIZED (
         |  SELECT e.dst AS node, CAST(sum(p.h) AS BIGINT) AS ar
         |  FROM edges e JOIN $ph p ON p.node = e.src GROUP BY e.dst
         |), qa$i AS (
         |  SELECT greatest(1, COALESCE(CAST(sum(ar) // $Scale AS BIGINT), 1)) AS q FROM ar$i
         |), a$i AS MATERIALIZED (
         |  SELECT nd.node,
         |    CAST(COALESCE(ar, 0) // (SELECT q FROM qa$i) AS BIGINT) AS a
         |  FROM nodes nd LEFT JOIN ar$i USING (node)
         |), hr$i AS MATERIALIZED (
         |  SELECT e.src AS node, CAST(sum(p.a) AS BIGINT) AS hr
         |  FROM edges e JOIN a$i p ON p.node = e.dst GROUP BY e.src
         |), qh$i AS (
         |  SELECT greatest(1, COALESCE(CAST(sum(hr) // $Scale AS BIGINT), 1)) AS q FROM hr$i
         |), h$i AS MATERIALIZED (
         |  SELECT nd.node,
         |    CAST(COALESCE(hr, 0) // (SELECT q FROM qh$i) AS BIGINT) AS h
         |  FROM nodes nd LEFT JOIN hr$i USING (node)
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH edges AS MATERIALIZED (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
       |), nodes AS MATERIALIZED (
       |  SELECT src AS node FROM edges UNION SELECT dst FROM edges
       |), nn AS (SELECT count(*) AS n FROM nodes),
       |h0 AS MATERIALIZED (SELECT node, CAST($baseSql AS BIGINT) AS h FROM nodes),
       |$steps
       |SELECT h.node,
       |  CASE WHEN h.node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
       |  h.h AS hub_fp, a.a AS auth_fp
       |FROM h$iters h JOIN a$iters a ON h.node = a.node""".stripMargin
  }

  def queries: Seq[(String, Query)] = Seq(
    "q_pagerank" -> Query((s, dir) => tradePagerank(s, dir), pagerankSql()),
    "q_hits" -> Query((s, dir) => tradeHits(s, dir), hitsSql())
  )
}
