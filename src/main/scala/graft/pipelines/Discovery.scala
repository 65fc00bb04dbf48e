package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Discovery-source reconciliation — the step between the discovery
  * extractors and the frontier: sitemaps (X121) and feeds (X139)
  * announce the SAME pages in different spellings (sitemaps
  * pretty-print absolute locs with tracking params and default ports,
  * feeds link the clean form), and a frontier that doesn't reconcile
  * them fetches every page once per spelling. One chain: extract both
  * sources with the REAL extractors, canonicalize every announced URL
  * (X109 — case, www, default port, trailing slash, tracking params,
  * param order), then ONE canon-keyed aggregate: per canonical URL,
  * how many sitemap vs feed announcements, and the earliest announced
  * timestamp (sitemap `lastmod` date and feed `published` instant
  * normalized to one epoch column — nulls ignored, all-null → null).
  *
  * Scale shape: extraction + canonicalization are per-row codegen'd
  * string work; the single exchange is the canon-keyed aggregate a
  * frontier merge genuinely needs (partial aggregates map-side).
  *
  * Reference scope: no crawl surface in the reference; north-star
  * LLM-pipeline machinery (the input side of X123/X124's frontier).
  */
object Discovery {

  /** Per doc: a 2-url sitemap announcing art slots `doc_id % 30` (with
    * lastmod, messy spelling: uppercase scheme, WWW, explicit :80,
    * trailing slash, tracking param) and `(doc_id+7) % 30` (no
    * lastmod); hosts rotate % 11.
    */
  def plantDiscoverySitemap: Column = {
    val id = col("doc_id")
    val h = (id % 11).cast("string")
    def loc(slot: Column): Column = concat(
      lit("HTTP://WWW.d"), h, lit(".example.com:80/art/"),
      slot.cast("string"), lit("/?x=1&amp;utm_source=map"))
    concat(
      lit("<urlset>\n  <url>\n    <loc>"), loc(id % 30),
      lit("</loc>\n    <lastmod>2026-0"), ((id % 9) + 1).cast("string"),
      lit("-15</lastmod>\n  </url>\n  <url>\n    <loc>"), loc((id + 7) % 30),
      lit("</loc>\n  </url>\n</urlset>\n"))
  }

  /** Per doc: an Atom feed announcing art slots `(2·doc_id+1) % 30`
    * (with `updated`) and `(2·doc_id+8) % 30` (dateless) in the CLEAN
    * spelling — same slot space and hosts as the sitemap, so the two
    * sources collide exactly when canonicalization works.
    */
  def plantDiscoveryFeed: Column = {
    val id = col("doc_id")
    val h = (id % 11).cast("string")
    def link(slot: Column): Column = concat(
      lit("http://d"), h, lit(".example.com/art/"), slot.cast("string"), lit("?x=1"))
    concat(
      lit("<feed>\n  <entry>\n    <title>a</title>\n    <link href=\""),
      link((id * 2 + 1) % 30),
      lit("\"/>\n    <updated>2026-0"), ((id % 9) + 1).cast("string"),
      lit("-10T0"), (id % 10).cast("string"),
      lit(":00:00Z</updated>\n  </entry>\n  <entry>\n    <title>b</title>\n    <link href=\""),
      link((id * 2 + 8) % 30),
      lit("\"/>\n  </entry>\n</feed>\n"))
  }

  /** (canon, n_sitemap, n_feed, first_seen_epoch) — the reconciled
    * discovery table a frontier consumes.
    */
  def merged(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"))
    val sm = graft.text.Sitemaps
      .urlEntries(docs.select(col("doc_id"), plantDiscoverySitemap.as("xml")))
      .select(col("loc").as("url"), lit("sitemap").as("source"),
        unix_timestamp(col("lastmod"), "yyyy-MM-dd").as("ts"))
    val fd = graft.text.Feeds
      .entries(docs.select(col("doc_id"), plantDiscoveryFeed.as("xml")))
      .select(col("link").as("url"), lit("feed").as("source"),
        col("published_epoch").as("ts"))
    graft.text.Canonical.canonicalize(sm.unionByName(fd))
      .groupBy(col("canon"))
      .agg(sum(when(col("source") === "sitemap", 1L).otherwise(0L)).as("n_sitemap"),
        sum(when(col("source") === "feed", 1L).otherwise(0L)).as("n_feed"),
        min(col("ts")).as("first_seen_epoch"))
  }

  /** Oracle: the expected canonical spellings restated closed-form per
    * announcement (the [[graft.text.Links]] discipline — an
    * independent restatement of extraction + canonicalization), then
    * the same aggregate.
    */
  def mergedOracle: String =
    s"""WITH ann AS (
       |  SELECT 'http://d' || CAST(doc_id % 11 AS VARCHAR) || '.example.com/art/' ||
       |      CAST(doc_id % 30 AS VARCHAR) || '?x=1' AS canon,
       |    'sitemap' AS source,
       |    CAST(epoch(strptime('2026-0' || CAST(doc_id % 9 + 1 AS VARCHAR) || '-15',
       |      '%Y-%m-%d')) AS BIGINT) AS ts
       |  FROM documents
       |  UNION ALL
       |  SELECT 'http://d' || CAST(doc_id % 11 AS VARCHAR) || '.example.com/art/' ||
       |      CAST((doc_id + 7) % 30 AS VARCHAR) || '?x=1',
       |    'sitemap', NULL
       |  FROM documents
       |  UNION ALL
       |  SELECT 'http://d' || CAST(doc_id % 11 AS VARCHAR) || '.example.com/art/' ||
       |      CAST((doc_id * 2 + 1) % 30 AS VARCHAR) || '?x=1',
       |    'feed',
       |    CAST(epoch(strptime('2026-0' || CAST(doc_id % 9 + 1 AS VARCHAR) ||
       |      '-10 0' || CAST(doc_id % 10 AS VARCHAR) || ':00:00',
       |      '%Y-%m-%d %H:%M:%S')) AS BIGINT)
       |  FROM documents
       |  UNION ALL
       |  SELECT 'http://d' || CAST(doc_id % 11 AS VARCHAR) || '.example.com/art/' ||
       |      CAST((doc_id * 2 + 8) % 30 AS VARCHAR) || '?x=1',
       |    'feed', NULL
       |  FROM documents)
       |SELECT canon,
       |  CAST(sum(CASE WHEN source = 'sitemap' THEN 1 ELSE 0 END) AS BIGINT) AS n_sitemap,
       |  CAST(sum(CASE WHEN source = 'feed' THEN 1 ELSE 0 END) AS BIGINT) AS n_feed,
       |  min(ts) AS first_seen_epoch
       |FROM ann GROUP BY canon""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_discovery_merge" -> Query((s, dir) => merged(s, dir), mergedOracle)
  )
}
