package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Mirror-host detection — the crawl-level dedup that runs BEFORE any
  * document dedup: mirrors (ccTLD twins, CDN vanity hosts, scraped
  * re-hosts) duplicate a whole site under another hostname, and
  * catching the HOST pair once beats near-dup-ing every page pair
  * later. Signal: two hosts sharing most of their content
  * fingerprints. Shape: invert (host, fp) on the fingerprint, emit
  * host PAIRS per fp group (the LSH-banding discipline — pairs only
  * within a bucket, never corpus×corpus), sum shared fps per pair,
  * and flag when the overlap coefficient clears a threshold:
  * `shared ≥ MinShared` and `shared × 100 ≥ OverlapPct × min(n_a,
  * n_b)` — all integer arithmetic, bit-equal across engines.
  *
  * Boilerplate guard: a fingerprint carried by more than
  * [[MaxHostsPerFp]] hosts (empty pages, cookie banners, parked-domain
  * templates) says nothing about mirroring and would quadratically
  * explode its bucket — such fps are dropped BEFORE pairing (the
  * stop-fp discipline, same reasoning as X36's exact-copy collapse).
  *
  * 100 TB shape: the pair join shuffles on fp with per-bucket
  * cardinality capped at MaxHostsPerFp (bounded quadratic per bucket),
  * per-host totals are a host-cardinality aggregate broadcast back,
  * and the report is host-pair-sized — tiny next to the corpus.
  *
  * Reference scope: no crawl surface in the reference; north-star
  * LLM-pipeline machinery.
  */
object Mirrors {

  val MaxHostsPerFp = 10
  val MinShared = 3
  val OverlapPct = 80

  /** (host_a, host_b, shared, n_a, n_b, mirror) over a (host, fp)
    * frame — the generic surface; host_a < host_b, one row per host
    * pair sharing ≥1 post-cap fingerprint.
    */
  def mirrorReport(pagesRaw: DataFrame): DataFrame = {
    val pages = pagesRaw.select("host", "fp").distinct()
    val perHost = pages.groupBy(col("host")).agg(count(lit(1)).as("n"))
    val keep = pages
      .withColumn("nh", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
      .filter(col("nh") <= MaxHostsPerFp)
      .select("host", "fp")
    val pairs = keep.select(col("fp"), col("host").as("host_a"))
      .join(keep.select(col("fp"), col("host").as("host_b")), Seq("fp"))
      .filter(col("host_a") < col("host_b"))
      .groupBy(col("host_a"), col("host_b"))
      .agg(count(lit(1)).as("shared"))
    pairs
      .join(broadcast(perHost.select(col("host").as("host_a"), col("n").as("n_a"))), Seq("host_a"))
      .join(broadcast(perHost.select(col("host").as("host_b"), col("n").as("n_b"))), Seq("host_b"))
      .select(col("host_a"), col("host_b"), col("shared"), col("n_a"), col("n_b"),
        (col("shared") >= MinShared &&
          col("shared") * 100 >= least(col("n_a"), col("n_b")) * OverlapPct)
          .cast("int").as("mirror"))
  }

  /** Fixture: 40 hosts; hosts h and h+20 for h in 0..9 mirror each
    * other (same fingerprint for the same path slot), hosts 10..19 and
    * 30..39 carry unique content; every host's slot-0 page shares ONE
    * corpus-wide boilerplate fingerprint (fp 555, on all 40 hosts —
    * the stop-fp cap must drop it before pairing).
    */
  def plantHostFp: (Column, Column) = {
    val id = col("doc_id")
    val hostId = id % 40
    val slot = expr("doc_id div 40")
    val host = concat(lit("m"), hostId.cast("string"), lit(".example.com"))
    val mirrored = hostId < 10 || (hostId >= 20 && hostId < 30)
    val fp = when(slot === 0, lit(555L))
      .when(mirrored, lit(1000000L) + (hostId % 20) * 10000L + slot)
      .otherwise(lit(2000000L) + id)
    (host, fp)
  }

  def report(spark: SparkSession, dir: String): DataFrame = {
    val (host, fp) = plantHostFp
    mirrorReport(graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(host.as("host"), fp.as("fp")))
  }

  def reportOracle: String =
    s"""WITH pages AS (
       |  SELECT DISTINCT
       |    'm' || CAST(doc_id % 40 AS VARCHAR) || '.example.com' AS host,
       |    CASE WHEN doc_id // 40 = 0 THEN 555
       |         WHEN doc_id % 40 < 10 OR (doc_id % 40 >= 20 AND doc_id % 40 < 30)
       |         THEN 1000000 + (doc_id % 40 % 20) * 10000 + doc_id // 40
       |         ELSE 2000000 + doc_id END AS fp
       |  FROM documents),
       |per_host AS (
       |  SELECT host, COUNT(*) AS n FROM pages GROUP BY host),
       |keep AS (
       |  SELECT host, fp FROM (
       |    SELECT host, fp, COUNT(*) OVER (PARTITION BY fp) AS nh FROM pages)
       |  WHERE nh <= $MaxHostsPerFp),
       |pairs AS (
       |  SELECT a.host AS host_a, b.host AS host_b, COUNT(*) AS shared
       |  FROM keep a JOIN keep b ON a.fp = b.fp AND a.host < b.host
       |  GROUP BY a.host, b.host)
       |SELECT p.host_a, p.host_b, p.shared, ha.n AS n_a, hb.n AS n_b,
       |  CAST(p.shared >= $MinShared AND
       |    p.shared * 100 >= least(ha.n, hb.n) * $OverlapPct AS INTEGER) AS mirror
       |FROM pairs p
       |JOIN per_host ha ON ha.host = p.host_a
       |JOIN per_host hb ON hb.host = p.host_b""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_mirror_hosts" -> Query((s, dir) => report(s, dir), reportOracle)
  )
}
