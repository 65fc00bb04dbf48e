package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Sitemap XML extraction (sitemaps.org protocol) — the document the
  * `robots_meta` Sitemap lines point at, and the crawl frontier's seed
  * feed: `<urlset>` files carry `<url>` entries (loc, optional lastmod /
  * changefreq / priority), `<sitemapindex>` files carry `<sitemap>`
  * entries pointing at MORE sitemaps (the recursion a frontier follows).
  * Both shapes parse in one pass: entries are extracted with anchored
  * non-greedy patterns (dotall — real sitemaps pretty-print across
  * lines), children with per-field patterns tolerant of missing
  * elements; entity-decoded `&amp;` in locs (the one entity the protocol
  * requires encoding). No XML library: the protocol's schema is flat and
  * regular, and a streaming regex pass keeps the operator codegen'd,
  * per-row, shuffle-free — the same discipline as [[Html]].
  *
  * Reference scope: the reference repo has no crawl surface; this is
  * north-star LLM-pipeline machinery (frontier seeding / recrawl
  * scheduling read exactly these fields).
  */
object Sitemaps {

  val UrlEntryRe = "(?s)<url>(.*?)</url>"
  val SitemapEntryRe = "(?s)<sitemap>(.*?)</sitemap>"
  val LocRe = "(?s)<loc>\\s*(.*?)\\s*</loc>"
  val LastmodRe = "(?s)<lastmod>\\s*(.*?)\\s*</lastmod>"
  val PriorityRe = "(?s)<priority>\\s*(.*?)\\s*</priority>"

  /** Deterministic plant: every fifth doc is a SITEMAPINDEX of 2 child
    * sitemaps; the rest are urlsets with 1 + doc_id%3 url entries,
    * lastmod present for even entry indices, priority for %3==0
    * entries, and an `&amp;` in every loc's query (the decode check).
    */
  def plantSitemap: Column = {
    val id = col("doc_id")
    def urlEntry(i: Int): Column = {
      val cond = id % 3 >= i - 1 // entry i exists when 1 + id%3 >= i
      val loc = concat(lit(s"  <url>\n    <loc>https://site"), (id % 23).cast("string"),
        lit(s".example.com/page$i?a=1&amp;b=2</loc>\n"),
        when(lit(i % 2 == 0), concat(lit("    <lastmod>2026-0"),
          (id % 9 + 1).cast("string"), lit(s"-0${i + 1}</lastmod>\n"))).otherwise(lit("")),
        when(lit(i % 3 == 0), lit(s"    <priority>0.$i</priority>\n")).otherwise(lit("")),
        lit("  </url>\n"))
      when(cond, loc).otherwise(lit(""))
    }
    val urlset = concat(
      lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
        "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n"),
      urlEntry(1), urlEntry(2), urlEntry(3),
      lit("</urlset>\n"))
    val index = concat(
      lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
        "<sitemapindex xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n" +
        "  <sitemap>\n    <loc>https://maps.example.com/shard"),
      (id % 7).cast("string"),
      lit("-a.xml</loc>\n    <lastmod>2026-08-01</lastmod>\n  </sitemap>\n" +
        "  <sitemap>\n    <loc>https://maps.example.com/shard"),
      (id % 7).cast("string"),
      lit("-b.xml</loc>\n  </sitemap>\n</sitemapindex>\n"))
    when(id % 5 === 0, index).otherwise(urlset)
  }

  /** Extract one entry kind: explode the entry bodies with position,
    * then per-field non-greedy extraction inside each body.
    */
  private def entries(df: DataFrame, entryRe: String, kind: String): DataFrame =
    df.select(col("doc_id"),
        posexplode_outer(regexp_extract_all(col("xml"), lit(entryRe), lit(1)))
          .as(Seq("idx", "body")))
      .filter(col("body").isNotNull)
      .select(col("doc_id"), lit(kind).as("kind"), col("idx").cast("int").as("idx"),
        // &amp; decodes LAST-ONLY here: locs carry no other entities
        regexp_replace(regexp_extract(col("body"), LocRe, 1), "&amp;", "&").as("loc"),
        nullif(regexp_extract(col("body"), LastmodRe, 1), lit("")).as("lastmod"),
        nullif(regexp_extract(col("body"), PriorityRe, 1), lit("")).as("priority"))

  /** `<url>` entry extraction over a caller-supplied (doc_id, xml)
    * frame — the composition surface: the recrawl frontier feeds
    * per-host sitemap snapshots through this exact extractor and joins
    * the (loc, lastmod) rows against its fetch history.
    */
  def urlEntries(df: DataFrame): DataFrame = entries(df, UrlEntryRe, "url")

  /** (doc_id, kind 'url'|'sitemap', idx, loc, lastmod, priority) — one
    * row per entry of either shape; a frontier unions the 'sitemap'
    * rows back into its fetch queue and feeds the 'url' rows forward.
    */
  def extracted(spark: SparkSession, dir: String): DataFrame = {
    val xml = graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"), plantSitemap.as("xml"))
    entries(xml, UrlEntryRe, "url")
      .unionByName(entries(xml, SitemapEntryRe, "sitemap"))
  }

  def extractedOracle: String =
    s"""WITH x AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 5 = 0 THEN
       |      '<?xml version="1.0" encoding="UTF-8"?>' || chr(10) ||
       |      '<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">' || chr(10) ||
       |      '  <sitemap>' || chr(10) || '    <loc>https://maps.example.com/shard' ||
       |      CAST(doc_id % 7 AS VARCHAR) || '-a.xml</loc>' || chr(10) ||
       |      '    <lastmod>2026-08-01</lastmod>' || chr(10) || '  </sitemap>' || chr(10) ||
       |      '  <sitemap>' || chr(10) || '    <loc>https://maps.example.com/shard' ||
       |      CAST(doc_id % 7 AS VARCHAR) || '-b.xml</loc>' || chr(10) ||
       |      '  </sitemap>' || chr(10) || '</sitemapindex>' || chr(10)
       |    ELSE
       |      '<?xml version="1.0" encoding="UTF-8"?>' || chr(10) ||
       |      '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">' || chr(10) ||
       |      '  <url>' || chr(10) || '    <loc>https://site' || CAST(doc_id % 23 AS VARCHAR) ||
       |      '.example.com/page1?a=1&amp;b=2</loc>' || chr(10) || '  </url>' || chr(10) ||
       |      CASE WHEN doc_id % 3 >= 1 THEN
       |        '  <url>' || chr(10) || '    <loc>https://site' || CAST(doc_id % 23 AS VARCHAR) ||
       |        '.example.com/page2?a=1&amp;b=2</loc>' || chr(10) ||
       |        '    <lastmod>2026-0' || CAST(doc_id % 9 + 1 AS VARCHAR) || '-03</lastmod>' || chr(10) ||
       |        '  </url>' || chr(10) ELSE '' END ||
       |      CASE WHEN doc_id % 3 >= 2 THEN
       |        '  <url>' || chr(10) || '    <loc>https://site' || CAST(doc_id % 23 AS VARCHAR) ||
       |        '.example.com/page3?a=1&amp;b=2</loc>' || chr(10) ||
       |        '    <priority>0.3</priority>' || chr(10) ||
       |        '  </url>' || chr(10) ELSE '' END ||
       |      '</urlset>' || chr(10)
       |    END AS xml
       |  FROM documents),
       |u AS (
       |  SELECT doc_id, 'url' AS kind,
       |    CAST(e.z['i'] AS INTEGER) - 1 AS idx, e.z['b'] AS body
       |  FROM x, LATERAL (SELECT unnest(list_transform(
       |      regexp_extract_all(x.xml, '${sqlRe(UrlEntryRe)}', 1),
       |      (b, i) -> {'b': b, 'i': i})) AS z) e),
       |s AS (
       |  SELECT doc_id, 'sitemap' AS kind,
       |    CAST(e.z['i'] AS INTEGER) - 1 AS idx, e.z['b'] AS body
       |  FROM x, LATERAL (SELECT unnest(list_transform(
       |      regexp_extract_all(x.xml, '${sqlRe(SitemapEntryRe)}', 1),
       |      (b, i) -> {'b': b, 'i': i})) AS z) e),
       |ents AS (SELECT * FROM u UNION ALL SELECT * FROM s)
       |SELECT doc_id, kind, idx,
       |  replace(regexp_extract(body, '${sqlRe(LocRe)}', 1), '&amp;', '&') AS loc,
       |  NULLIF(regexp_extract(body, '${sqlRe(LastmodRe)}', 1), '') AS lastmod,
       |  NULLIF(regexp_extract(body, '${sqlRe(PriorityRe)}', 1), '') AS priority
       |FROM ents""".stripMargin

  private def sqlRe(re: String): String = re.replace("'", "''")

  def queries: Seq[(String, Query)] = Seq(
    "q_sitemap_extract" -> Query((s, dir) => extracted(s, dir), extractedOracle)
  )
}
