package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** RSS 2.0 / Atom 1.0 feed extraction — the OTHER discovery source a
  * crawl frontier follows besides sitemaps ([[Sitemaps]]): blogs and
  * news sites announce new URLs in feeds long before any sitemap
  * regenerates, so an incremental crawler polls feeds for freshness
  * and sitemaps for coverage. One pass handles both dialects:
  *
  *  - RSS 2.0: `<item>` entries, `<link>` as element TEXT, `pubDate`
  *    in RFC 822 date form (the same IMF-fixdate shape HTTP uses).
  *  - Atom 1.0 (RFC 4287): `<entry>` entries, `<link href="..."/>` as
  *    an ATTRIBUTE, `updated` in RFC 3339 (ISO 8601) form.
  *
  * The two date dialects normalize to ONE `published_epoch` column
  * (integer seconds) so the frontier can compare feed freshness
  * against its fetch history without caring which dialect announced
  * the URL — the cross-format normalization is the point of the gate.
  * Extraction is anchored non-greedy regex over the entry body (the
  * [[Sitemaps]]/[[Html]] discipline — flat, regular grammar, no XML
  * library), entity-decoded `&amp;` in links, codegen'd, per-row,
  * shuffle-free.
  *
  * Reference scope: the reference repo (sow-pyspark-scripts) has no
  * crawl surface; this is north-star LLM-pipeline machinery.
  */
object Feeds {

  val RssItemRe = "(?s)<item>(.*?)</item>"
  val AtomEntryRe = "(?s)<entry>(.*?)</entry>"
  val RssLinkRe = "(?s)<link>\\s*(.*?)\\s*</link>"
  val AtomLinkRe = "<link[^>]*href=\"([^\"]*)\""
  val TitleRe = "(?s)<title>\\s*(.*?)\\s*</title>"
  val PubDateRe = "(?s)<pubDate>\\s*(.*?)\\s*</pubDate>"
  val UpdatedRe = "(?s)<updated>\\s*(.*?)\\s*</updated>"

  /** RFC 3339 timestamp (the `Z`-suffixed profile Atom mandates) →
    * epoch seconds, null-safe.
    */
  def atomDateEpoch(c: Column): Column =
    unix_timestamp(c, "yyyy-MM-dd'T'HH:mm:ss'Z'")

  /** Deterministic plant: even docs publish RSS 2.0, odd docs Atom
    * 1.0; 1 + doc_id%3 entries each; the date element is ABSENT when
    * (doc_id + i) % 4 == 1 (feeds omit dates constantly); every link
    * carries an `&amp;` in its query (the decode check). Day, hour and
    * minute all vary with doc_id so the date parse is non-degenerate.
    */
  def plantFeed: Column = {
    val id = col("doc_id")
    val host = concat(lit("https://site"), (id % 23).cast("string"),
      lit(".example.com"))
    def pad2(c: Column): Column = lpad(c.cast("string"), 2, "0")
    def rssItem(i: Int): Column = {
      val exists = id % 3 >= i - 1
      val date = concat(
        lit("    <pubDate>Fri, 0"), ((id + i) % 9 + 1).cast("string"),
        lit(" Aug 2025 "), pad2(id % 24), lit(":"), pad2((id * 7 + i) % 60),
        lit(":00 GMT</pubDate>\n"))
      val item = concat(
        lit(s"  <item>\n    <title>Post "), id.cast("string"), lit(s"-$i</title>\n"),
        lit("    <link>"), host, lit("/rss/"), id.cast("string"),
        lit(s"/p$i?s=1&amp;t=2</link>\n"),
        when((id + i) % 4 =!= 1, date).otherwise(lit("")),
        lit("  </item>\n"))
      when(exists, item).otherwise(lit(""))
    }
    def atomEntry(i: Int): Column = {
      val exists = id % 3 >= i - 1
      val date = concat(
        lit("    <updated>2025-08-0"), ((id + i) % 9 + 1).cast("string"),
        lit("T"), pad2(id % 24), lit(":"), pad2((id * 7 + i) % 60),
        lit(":00Z</updated>\n"))
      val entry = concat(
        lit(s"  <entry>\n    <title>Post "), id.cast("string"), lit(s"-$i</title>\n"),
        lit("    <link rel=\"alternate\" href=\""), host, lit("/atom/"),
        id.cast("string"), lit(s"/p$i?s=1&amp;t=2\"/>\n"),
        when((id + i) % 4 =!= 1, date).otherwise(lit("")),
        lit("  </entry>\n"))
      when(exists, entry).otherwise(lit(""))
    }
    val rss = concat(
      lit("<?xml version=\"1.0\"?>\n<rss version=\"2.0\">\n<channel>\n" +
        "  <title>Channel "), (id % 23).cast("string"), lit("</title>\n"),
      rssItem(1), rssItem(2), rssItem(3),
      lit("</channel>\n</rss>\n"))
    val atom = concat(
      lit("<?xml version=\"1.0\"?>\n" +
        "<feed xmlns=\"http://www.w3.org/2005/Atom\">\n" +
        "  <title>Channel "), (id % 23).cast("string"), lit("</title>\n"),
      atomEntry(1), atomEntry(2), atomEntry(3),
      lit("</feed>\n"))
    when(id % 2 === 0, rss).otherwise(atom)
  }

  /** Dialect-generic extraction over a caller-supplied (doc_id, xml)
    * frame: sniff the dialect off the ROOT element (not the fixture
    * rotation), explode that dialect's entry bodies, extract per-field
    * with the dialect's link/date grammar, and normalize both date
    * forms to epoch seconds.
    *
    * Output: (doc_id, format 'rss'|'atom', idx, link, title,
    * published_epoch) — one row per entry, 0-based idx in document
    * order, link entity-decoded, published_epoch NULL when the entry
    * carries no date.
    */
  def entries(df: DataFrame): DataFrame = {
    val isAtom = col("xml").contains("<feed")
    df.select(col("doc_id"),
        when(isAtom, lit("atom")).otherwise(lit("rss")).as("format"),
        posexplode_outer(
          when(isAtom, regexp_extract_all(col("xml"), lit(AtomEntryRe), lit(1)))
            .otherwise(regexp_extract_all(col("xml"), lit(RssItemRe), lit(1))))
          .as(Seq("idx", "body")))
      .filter(col("body").isNotNull)
      .select(col("doc_id"), col("format"), col("idx").cast("int").as("idx"),
        regexp_replace(
          when(col("format") === "atom", regexp_extract(col("body"), AtomLinkRe, 1))
            .otherwise(regexp_extract(col("body"), RssLinkRe, 1)),
          "&amp;", "&").as("link"),
        regexp_extract(col("body"), TitleRe, 1).as("title"),
        when(col("format") === "atom",
          atomDateEpoch(nullif(regexp_extract(col("body"), UpdatedRe, 1), lit(""))))
          .otherwise(graft.pipelines.Revalidate.httpDateEpoch(
            nullif(regexp_extract(col("body"), PubDateRe, 1), lit(""))))
          .as("published_epoch"))
  }

  def extracted(spark: SparkSession, dir: String): DataFrame =
    entries(graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"), plantFeed.as("xml")))

  /** Oracle: recompute the expected entry rows directly from the plant
    * arithmetic — an independent restatement of the whole Spark chain
    * (plant → sniff → explode → extract → date normalize).
    */
  def extractedOracle: String = {
    // one SELECT per entry ordinal i = 1..3, kept when 1 + id%3 >= i
    def entry(i: Int): String =
      s"""SELECT doc_id,
         |  CASE WHEN doc_id % 2 = 0 THEN 'rss' ELSE 'atom' END AS format,
         |  ${i - 1} AS idx,
         |  'https://site' || CAST(doc_id % 23 AS VARCHAR) || '.example.com/' ||
         |    (CASE WHEN doc_id % 2 = 0 THEN 'rss' ELSE 'atom' END) ||
         |    '/' || CAST(doc_id AS VARCHAR) || '/p$i?s=1&t=2' AS link,
         |  'Post ' || CAST(doc_id AS VARCHAR) || '-$i' AS title,
         |  CASE WHEN (doc_id + $i) % 4 <> 1 THEN
         |    CAST(epoch(strptime(
         |      '2025-08-0' || CAST((doc_id + $i) % 9 + 1 AS VARCHAR) || ' ' ||
         |      lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0') || ':' ||
         |      lpad(CAST((doc_id * 7 + $i) % 60 AS VARCHAR), 2, '0') || ':00',
         |      '%Y-%m-%d %H:%M:%S')) AS BIGINT) END AS published_epoch
         |FROM documents WHERE doc_id % 3 >= ${i - 1}""".stripMargin
    Seq(1, 2, 3).map(entry).mkString("\nUNION ALL\n")
  }

  // ---- feed AUTODISCOVERY (how a crawler finds the feed in the first
  // place): pages advertise their feeds with
  //   <link rel="alternate" type="application/rss+xml|atom+xml" href=…>
  // in the head; attributes come in any order, hrefs are relative as
  // often as absolute, and stylesheet/link decoys share the tag name.

  val LinkTagRe = "<link[^>]*>"

  private def shim(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.GraftColumnShim.column(e)
  private def ex(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.GraftColumnShim.expression(c)
  private def resolve(base: Column, ref: Column): Column =
    shim(graft.plans.ResolveUrl(ex(base), ex(ref)))

  /** Autodiscovery plant (doc_id % 4): relative rss href / absolute
    * atom href / attribute order flipped + stylesheet decoy / no feed
    * at all (decoy only).
    */
  def plantDiscoveryHtml: Column = {
    val id = col("doc_id")
    val head = when(id % 4 === 0,
      lit("<link rel=\"alternate\" type=\"application/rss+xml\" title=\"RSS\" href=\"/feed.xml\">"))
      .when(id % 4 === 1,
        concat(lit("<link rel=\"alternate\" type=\"application/atom+xml\" href=\"https://feeds.example.org/s"),
          (id % 9).cast("string"), lit(".atom\">")))
      .when(id % 4 === 2,
        concat(lit("<link rel=\"stylesheet\" href=\"style.css\">\n<link href=\"rss/"),
          (id % 5).cast("string"),
          lit(".xml\" type=\"application/rss+xml\" rel=\"alternate\">")))
      .otherwise(lit("<link rel=\"stylesheet\" href=\"style.css\">"))
    concat(lit("<html><head>\n"), head, lit("\n</head><body>x</body></html>"))
  }

  def plantPageUrl: Column =
    concat(lit("http://h"), (col("doc_id") % 7).cast("string"),
      lit(".example.com/blog/"), (col("doc_id") % 50).cast("string"), lit("/post"))

  /** (doc_id, feed_url, kind) over a (doc_id, base, html) frame —
    * attribute-order-tolerant, decoys screened on BOTH rel and type,
    * hrefs resolved against the page URL; pages without a feed emit
    * nothing.
    */
  def autodiscover(df: DataFrame): DataFrame =
    df.select(col("doc_id"), col("base"),
        explode(regexp_extract_all(col("html"), lit(LinkTagRe), lit(0))).as("tag"))
      .filter(col("tag").contains("rel=\"alternate\"") &&
        (col("tag").contains("type=\"application/rss+xml\"") ||
          col("tag").contains("type=\"application/atom+xml\"")))
      .select(col("doc_id"),
        resolve(col("base"), regexp_extract(col("tag"), "href=\"([^\"]*)\"", 1))
          .as("feed_url"),
        when(col("tag").contains("application/atom+xml"), "atom")
          .otherwise(lit("rss")).as("kind"))

  def autodiscovered(spark: SparkSession, dir: String): DataFrame =
    autodiscover(graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"), plantPageUrl.as("base"), plantDiscoveryHtml.as("html")))

  def autodiscoveredOracle: String =
    s"""SELECT doc_id,
       |  CASE doc_id % 4
       |    WHEN 0 THEN 'http://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/feed.xml'
       |    WHEN 1 THEN 'https://feeds.example.org/s' || CAST(doc_id % 9 AS VARCHAR) || '.atom'
       |    ELSE 'http://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/blog/' ||
       |      CAST(doc_id % 50 AS VARCHAR) || '/rss/' || CAST(doc_id % 5 AS VARCHAR) || '.xml'
       |  END AS feed_url,
       |  CASE WHEN doc_id % 4 = 1 THEN 'atom' ELSE 'rss' END AS kind
       |FROM documents WHERE doc_id % 4 <> 3""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_feed_entries" -> Query((s, dir) => extracted(s, dir), extractedOracle),
    "q_feed_discovery" -> Query((s, dir) => autodiscovered(s, dir), autodiscoveredOracle)
  )
}
