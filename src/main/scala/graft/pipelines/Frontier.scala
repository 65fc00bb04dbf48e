package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}
import graft.text.Canonical

/** Frontier seen-filtering — the dedup between link discovery and fetch
  * scheduling: a crawler must not refetch what yesterday's crawl
  * already took. Frontier identity is the canonical URL's host+path
  * (scheme- and query-insensitive — the conservative refetch-avoidance
  * key), yesterday's crawl is the even-doc half of the fixture, today's
  * discovered batch the odd half; overlap arises naturally from the
  * plant's modular structure (same host+path recurs across parities).
  *
  * Two bit-identical paths, both gated by ONE oracle:
  *   - [[newUrls]]: the exact LEFT ANTI join (seen-set-sized shuffle).
  *   - [[newUrlsBloom]]: the 100 TB shape — yesterday's keys fold into
  *     one fixed-size Bloom sketch held as a driver literal; a map-side
  *     `might_contain` REJECT admits definitely-new URLs with no join
  *     at all (Bloom filters have no false negatives), and only the
  *     maybe-seen sliver (true hits + fpp) meets the seen set in the
  *     exact anti join. The [[graft.text.Contamination]] X103
  *     discipline applied to the frontier.
  */
object Frontier {

  val BloomItems = 100000L
  val BloomBits = 1000000L

  /** (doc_id, url_key) — canonical host+path per discovered URL. */
  def urlKeys(spark: SparkSession, dir: String): DataFrame =
    Canonical.canonicalize(
        graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
          .select(col("doc_id"), CrawlPipeline.plantUri.as("url")))
      .select(col("doc_id"),
        regexp_extract(col("canon"), "^[a-z]+://([^?]+)", 1).as("url_key"))

  /** Exact core over caller-supplied frames: `today(doc_id, url_key)`
    * not present in `seen(url_key)`.
    */
  def newUrlsFrom(today: DataFrame, seen: DataFrame): DataFrame =
    today.join(seen, Seq("url_key"), "left_anti")
      .select(col("doc_id"), col("url_key"))

  /** Bloom-prefiltered core — BIT-IDENTICAL to [[newUrlsFrom]]: the
    * sketch rejects (admits as new) with no false negatives; accepted
    * maybe-seen rows are verified exactly.
    */
  /** Build the seen-set sketch over the key's 64-bit hash, distributed,
    * returned as a driver constant (model-sized regardless of seen-set
    * cardinality). NULL when the seen set is empty — callers must
    * route around a null sketch.
    */
  private def sketchOf(seen: DataFrame): Array[Byte] = {
    import org.apache.spark.sql.GraftColumnShim.{column, expression}
    val bloomAgg = column(new org.apache.spark.sql.catalyst.expressions.aggregate
      .BloomFilterAggregate(expression(xxhash64(col("url_key"))),
        expression(lit(BloomItems)), expression(lit(BloomBits)))
      .toAggregateExpression())
    seen.agg(bloomAgg.as("bf")).collect()(0).getAs[Array[Byte]](0)
  }

  private def mightContainCol(bf: Array[Byte]) = {
    import org.apache.spark.sql.GraftColumnShim.{column, expression}
    column(
      new org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal
          .create(bf, org.apache.spark.sql.types.BinaryType),
        expression(xxhash64(col("url_key")))))
  }

  def newUrlsBloomFrom(today: DataFrame, seen: DataFrame): DataFrame = {
    val bf = sketchOf(seen)
    // BloomFilterAggregate over ZERO rows yields NULL, and might_contain
    // on a null sketch is null — which would fail BOTH branch filters
    // and silently EMPTY the frontier on an all-new day. An empty
    // 'yesterday' must admit everything: fall back to the exact path
    // (whose anti join against the empty seen set keeps every row).
    if (bf == null) newUrlsFrom(today, seen)
    else {
      val mightContain = mightContainCol(bf)
      val definitelyNew = today.filter(!mightContain)
      val verified = today.filter(mightContain)
        .join(seen, Seq("url_key"), "left_anti")
      definitelyNew.select(col("doc_id"), col("url_key"))
        .unionByName(verified.select(col("doc_id"), col("url_key")))
    }
  }

  /** Measured sliver evidence for the Bloom path: how many of today's
    * rows actually enter the exact verify anti-join, decomposed into
    * the unavoidable true hits and the sketch's false positives.
    * Returns (todayRows, maybeSeen = verify-join input, trulySeen) —
    * the operator's own overhead is `maybeSeen - trulySeen`, bounded by
    * the configured fpp regardless of corpus size.
    */
  def bloomSliver(today: DataFrame, seen: DataFrame): (Long, Long, Long) = {
    // four actions over the same lineage: persist once, not four
    // replant+canonicalize passes (probe-path cost, but the widened
    // plant is the expensive part of the 10× corpus)
    graft.ops.Caches.persist(today); graft.ops.Caches.persist(seen)
    try {
      val bf = sketchOf(seen)
      val t = today.count()
      if (bf == null) (t, 0L, 0L)
      else (t, today.filter(mightContainCol(bf)).count(),
        today.join(seen, Seq("url_key"), "left_semi").count())
    } finally { today.unpersist(); seen.unpersist(); () }
  }

  /** Yesterday's crawl (even docs) as the seen set. */
  private def seenKeys(keys: DataFrame): DataFrame =
    keys.filter(col("doc_id") % 2 === 0).select(col("url_key")).distinct()

  /** Exact path: today's (odd) URLs not crawled yesterday (even).
    *
    * The key table feeds both join sides, and canonicalization is the
    * dominant per-row cost — persist it (Caches registry; optimization
    * r15, the C1 fan-out discipline) so the plant + canonicalize pass
    * runs once, not once per side.
    */
  def newUrls(spark: SparkSession, dir: String): DataFrame = {
    val keys = graft.ops.Caches.persist(urlKeys(spark, dir))
    newUrlsFrom(keys.filter(col("doc_id") % 2 === 1), seenKeys(keys))
  }

  /** Bloom-prefiltered path over the same fixture halves. The persist
    * matters MORE here than on the exact path: the sketch build is an
    * eager driver action and `today` feeds two branches (reject +
    * verify), so the uncached form canonicalized the corpus three
    * times per run.
    */
  def newUrlsBloom(spark: SparkSession, dir: String): DataFrame = {
    val keys = graft.ops.Caches.persist(urlKeys(spark, dir))
    newUrlsBloomFrom(keys.filter(col("doc_id") % 2 === 1), seenKeys(keys))
  }

  /** Conditional-recrawl frontier — the composition an incremental
    * crawler runs between discovery and fetch: today's discovered batch
    * (odd docs) meets the fetch-history table (even docs, keyed on the
    * canonical host+path, last_fetch = latest stored fetch date per
    * key) in ONE left-outer join; a URL survives when it is NEW (no
    * history row) or STALE (its sitemap `lastmod` — the X121 field —
    * postdates the stored fetch). Survivors feed the X122 politeness
    * scheduler: per-host sequence + running-delay offsets, with the
    * crawl delay read from the robots `robots_meta` group (X116), all
    * in the same lazy plan.
    *
    * Scale shape: history aggregates once on url_key (one exchange,
    * partial max map-side); the join reuses that hash partitioning on
    * the build side while today's batch shuffles once on the same key —
    * at test SF AQE broadcasts history instead, and at 100 TB it
    * degrades gracefully to the co-partitioned shuffle join. The
    * scheduling window adds the one per-host exchange a frontier
    * genuinely needs. No driver-side state anywhere.
    */
  def recrawl(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Per-doc sitemap snapshot: a urlset whose loc is the MESSY crawl
    // URI (XML-escaped — the extractor's &amp; decode is on the hot
    // path) and whose <lastmod> drives staleness. The discovery side
    // runs the REAL X121 extractor over this XML; the oracle treats
    // the XML round trip as the identity it is and restates the URI.
    // lastmod day 15 vs stored fetch day 10, months keyed to doc_id%7
    // (coprime with the URI plant's key residues, so months genuinely
    // differ across a url_key's collision group).
    val xml = graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"), concat(
        lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
          "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n" +
          "  <url>\n    <loc>"),
        regexp_replace(CrawlPipeline.plantUri, "&", "&amp;"),
        lit("</loc>\n    <lastmod>2026-0"),
        (col("doc_id") % 7 + 1).cast("string"),
        lit("-15</lastmod>\n  </url>\n</urlset>\n")).as("xml"))
    val base = Canonical.canonicalize(
        graft.text.Sitemaps.urlEntries(xml)
          .select(col("doc_id"), col("loc").as("url"), col("lastmod")))
      .select(col("doc_id"), col("host"),
        regexp_extract(col("canon"), "^[a-z]+://([^?]+)", 1).as("url_key"),
        col("lastmod"),
        graft.text.Robots.robotsMeta(graft.text.Robots.plantRobots,
            lit(graft.text.Robots.Agent))
          .getField("crawl_delay_ms").cast("long").as("delay_ms"))
    val today = base.filter(col("doc_id") % 2 === 1)
    val history = base.filter(col("doc_id") % 2 === 0)
      .groupBy(col("url_key"))
      .agg(max(concat(lit("2026-0"),
        (col("doc_id") % 7 + 1).cast("string"), lit("-10"))).as("last_fetch"))
    today.join(history, Seq("url_key"), "left_outer")
      .filter(col("last_fetch").isNull || col("lastmod") > col("last_fetch"))
      .withColumn("reason",
        when(col("last_fetch").isNull, "new").otherwise("stale"))
      .select(Seq(col("doc_id"), col("url_key"), col("host"), col("reason"),
        col("lastmod"), col("last_fetch")) ++ CrawlPipeline.scheduleCols: _*)
  }

  def recrawlOracle: String =
    s"""WITH uris AS (
       |  SELECT doc_id, ${CrawlPipeline.plantUriSqlPublic} AS url FROM documents),
       |${Canonical.canonicalCtesFrom("uris")},
       |base AS (
       |  SELECT doc_id, host,
       |    regexp_extract(${Canonical.canonSelectSql}, '^[a-z]+://([^?]+)', 1)
       |      AS url_key,
       |    CAST(CASE WHEN doc_id % 3 = 0 THEN 500 ELSE 2000 END AS BIGINT)
       |      AS delay_ms
       |  FROM normed),
       |today AS (
       |  SELECT doc_id, host, url_key, delay_ms,
       |    '2026-0' || CAST(doc_id % 7 + 1 AS VARCHAR) || '-15' AS lastmod
       |  FROM base WHERE doc_id % 2 = 1),
       |hist AS (
       |  SELECT url_key,
       |    max('2026-0' || CAST(doc_id % 7 + 1 AS VARCHAR) || '-10') AS last_fetch
       |  FROM base WHERE doc_id % 2 = 0 GROUP BY url_key),
       |kept AS (
       |  SELECT t.doc_id, t.url_key, t.host, t.lastmod, t.delay_ms, h.last_fetch,
       |    CASE WHEN h.last_fetch IS NULL THEN 'new' ELSE 'stale' END AS reason
       |  FROM today t LEFT JOIN hist h USING (url_key)
       |  WHERE h.last_fetch IS NULL OR t.lastmod > h.last_fetch)
       |SELECT doc_id, url_key, host, reason, lastmod, last_fetch,
       |  ${CrawlPipeline.scheduleSqlCols}
       |FROM kept""".stripMargin

  /** Crawl snapshot diff — the delta report an incremental crawl emits
    * after each pass: yesterday's snapshot (even docs) vs today's (odd
    * docs), each reduced to its LATEST version per canonical url_key
    * (argmax by doc_id, carried as `max(struct(doc_id, fp))` so the
    * pick rides the same partial aggregate), then ONE full-outer join
    * classifies every key: `added` (today only), `removed` (yesterday
    * only), `changed` (both, fingerprints differ), `unchanged`. The
    * fingerprint is md5 over the plant's revision tag (url_key plus
    * the doc's 300-wide id bucket: WIDER than the key plant's 207
    * stride, so a key's adjacent latest pair sometimes shares the
    * revision and sometimes straddles a bucket edge — both `changed`
    * and `unchanged` genuinely occur).
    *
    * Scale shape: two partial-aggregated key-sized reductions into one
    * key-keyed outer join — the join inputs are snapshot-key-sized, not
    * corpus-sized, and both arrive already hash-partitioned on the join
    * key, so the diff costs what the snapshots cost to reduce.
    */
  def snapshotDelta(spark: SparkSession, dir: String): DataFrame = {
    val base = urlKeys(spark, dir)
      .withColumn("fp", md5(concat(col("url_key"), lit("#"),
        expr("doc_id div 300").cast("string"))))
    def side(par: Int, doc: String, fp: String) =
      base.filter(col("doc_id") % 2 === par)
        .groupBy(col("url_key"))
        .agg(max(struct(col("doc_id"), col("fp"))).as("m"))
        .select(col("url_key"), col("m").getField("doc_id").as(doc),
          col("m").getField("fp").as(fp))
    side(0, "old_doc", "old_fp")
      .join(side(1, "new_doc", "new_fp"), Seq("url_key"), "full_outer")
      .select(col("url_key"),
        when(col("old_doc").isNull, "added")
          .when(col("new_doc").isNull, "removed")
          .when(col("old_fp") === col("new_fp"), "unchanged")
          .otherwise("changed").as("status"),
        col("old_doc"), col("new_doc"))
  }

  def snapshotDeltaOracle: String =
    s"""WITH uris AS (
       |  SELECT doc_id, ${CrawlPipeline.plantUriSqlPublic} AS url FROM documents),
       |${Canonical.canonicalCtesFrom("uris")},
       |keys AS (
       |  SELECT doc_id,
       |    regexp_extract(${Canonical.canonSelectSql}, '^[a-z]+://([^?]+)', 1)
       |      AS url_key
       |  FROM normed),
       |fps AS (
       |  SELECT doc_id, url_key,
       |    md5(url_key || '#' || CAST(doc_id // 300 AS VARCHAR)) AS fp
       |  FROM keys),
       |y AS (
       |  SELECT url_key, max(doc_id) AS old_doc, arg_max(fp, doc_id) AS old_fp
       |  FROM fps WHERE doc_id % 2 = 0 GROUP BY url_key),
       |t AS (
       |  SELECT url_key, max(doc_id) AS new_doc, arg_max(fp, doc_id) AS new_fp
       |  FROM fps WHERE doc_id % 2 = 1 GROUP BY url_key)
       |SELECT coalesce(y.url_key, t.url_key) AS url_key,
       |  CASE WHEN y.url_key IS NULL THEN 'added'
       |       WHEN t.url_key IS NULL THEN 'removed'
       |       WHEN y.old_fp = t.new_fp THEN 'unchanged'
       |       ELSE 'changed' END AS status,
       |  y.old_doc, t.new_doc
       |FROM y FULL OUTER JOIN t ON y.url_key = t.url_key""".stripMargin

  /** Adaptive revisit-policy estimation — the change-rate heuristic
    * (Cho & Garcia-Molina revisit scheduling) an incremental crawler
    * maintains per URL: across the last four snapshot generations
    * (doc_id%4), each key's latest revision per generation is compared
    * with its predecessor generation (`lag` over the generation order);
    * `obs` counts consecutive-generation observations, `changes` counts
    * observed revisions — and the INTEGER ratio buckets the key:
    * `hot` (changes ≥ ⅔·obs), `warm` (≥ ⅓), `cold`, or `unknown`
    * (single-generation keys with nothing to compare). All arithmetic
    * exact integers — no float change-rate crosses the gate.
    *
    * Scale shape: the only corpus-sized step is the first partial
    * aggregate (latest per key×generation, map-side max); the lag
    * window and the final per-key rollup both run on key-sized data.
    */
  def revisitPolicy(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = urlKeys(spark, dir)
      .withColumn("gen", (col("doc_id") % 4).cast("int"))
      .withColumn("rev", expr("doc_id div 300"))
    val latest = base.groupBy(col("url_key"), col("gen"))
      .agg(max(struct(col("doc_id"), col("rev"))).as("m"))
      .select(col("url_key"), col("gen"), col("m").getField("rev").as("rev"))
    val w = Window.partitionBy(col("url_key")).orderBy(col("gen"))
    latest
      .withColumn("prev_rev", lag(col("rev"), 1).over(w))
      .groupBy(col("url_key"))
      .agg(sum(when(col("prev_rev").isNotNull, 1).otherwise(0))
          .cast("int").as("obs"),
        sum(when(col("prev_rev").isNotNull &&
            col("rev") =!= col("prev_rev"), 1).otherwise(0))
          .cast("int").as("changes"))
      .withColumn("revisit",
        when(col("obs") === 0, "unknown")
          .when(col("changes") * 3 >= col("obs") * 2, "hot")
          .when(col("changes") * 3 >= col("obs"), "warm")
          .otherwise("cold"))
  }

  def revisitPolicyOracle: String =
    s"""WITH uris AS (
       |  SELECT doc_id, ${CrawlPipeline.plantUriSqlPublic} AS url FROM documents),
       |${Canonical.canonicalCtesFrom("uris")},
       |keys AS (
       |  SELECT doc_id,
       |    regexp_extract(${Canonical.canonSelectSql}, '^[a-z]+://([^?]+)', 1)
       |      AS url_key,
       |    CAST(doc_id % 4 AS INTEGER) AS gen, doc_id // 300 AS rev
       |  FROM normed),
       |latest AS (
       |  SELECT url_key, gen, arg_max(rev, doc_id) AS rev
       |  FROM keys GROUP BY url_key, gen),
       |lagged AS (
       |  SELECT url_key, rev,
       |    LAG(rev) OVER (PARTITION BY url_key ORDER BY gen) AS prev_rev
       |  FROM latest),
       |agg AS (
       |  SELECT url_key,
       |    CAST(SUM(CASE WHEN prev_rev IS NOT NULL THEN 1 ELSE 0 END)
       |      AS INTEGER) AS obs,
       |    CAST(SUM(CASE WHEN prev_rev IS NOT NULL AND rev <> prev_rev
       |      THEN 1 ELSE 0 END) AS INTEGER) AS changes
       |  FROM lagged GROUP BY url_key)
       |SELECT url_key, obs, changes,
       |  CASE WHEN obs = 0 THEN 'unknown'
       |       WHEN changes * 3 >= obs * 2 THEN 'hot'
       |       WHEN changes * 3 >= obs THEN 'warm'
       |       ELSE 'cold' END AS revisit
       |FROM agg""".stripMargin

  /** One oracle gates BOTH paths (the bloom path is exact). */
  def newUrlsOracle: String =
    s"""WITH uris AS (
       |  SELECT doc_id, ${CrawlPipeline.plantUriSqlPublic} AS url FROM documents),
       |${Canonical.canonicalCtesFrom("uris")},
       |keys AS (
       |  SELECT doc_id,
       |    regexp_extract(${Canonical.canonSelectSql}, '^[a-z]+://([^?]+)', 1)
       |      AS url_key
       |  FROM normed),
       |seen AS (SELECT DISTINCT url_key FROM keys WHERE doc_id % 2 = 0)
       |SELECT k.doc_id, k.url_key
       |FROM keys k LEFT JOIN seen s ON k.url_key = s.url_key
       |WHERE k.doc_id % 2 = 1 AND s.url_key IS NULL""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_frontier_new" -> Query((s, dir) => newUrls(s, dir), newUrlsOracle),
    "q_frontier_new_bloom" -> Query((s, dir) => newUrlsBloom(s, dir), newUrlsOracle),
    "q_frontier_recrawl" -> Query((s, dir) => recrawl(s, dir), recrawlOracle),
    "q_crawl_delta" -> Query((s, dir) => snapshotDelta(s, dir), snapshotDeltaOracle),
    "q_revisit_policy" -> Query((s, dir) => revisitPolicy(s, dir), revisitPolicyOracle)
  )
}
