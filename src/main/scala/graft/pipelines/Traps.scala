package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Crawl-trap detection — the frontier's defence against infinite URL
  * spaces: calendars, session ids, faceted search and printer views
  * generate unbounded DISTINCT URLs over near-constant content, and a
  * crawler that can't see the pattern drowns its politeness budget in
  * one host. The standard screen (Heritrix's path-regex rules made
  * data-driven) is URL TEMPLATING: collapse every digit run in the
  * path to `#`, reduce the query to its sorted distinct parameter
  * NAMES (values are exactly what traps vary), then measure each
  * (host, template) family's URL count against its CONTENT diversity
  * — a family minting many URLs over few distinct fingerprints is a
  * trap; a family whose fingerprints grow with its URLs is an archive.
  *
  * Scale shape: templating is per-row codegen'd string work; the
  * report is ONE groupBy over (host, template) — Spark plans the two
  * distinct counts via Expand (2 rows/input) into a partial-agg →
  * exchange → final-agg chain keyed on the template, so the shuffle
  * carries family-level partials, never raw URLs per se. Family
  * cardinality is bounded by the site's PAGE-TYPE count (tiny next to
  * the URL count), so the report broadcasts back to the frontier.
  *
  * Reference scope: no crawl surface in the reference; north-star
  * LLM-pipeline machinery (frontier screening before X122/X137).
  */
object Traps {

  /** A family is a trap when it has at least [[MinUrls]] member URLs
    * AND its content diversity is at or below 1/[[MaxDiversityDenom]]
    * (distinct fingerprints × denom ≤ distinct URLs) — integer
    * arithmetic only, so both engines agree bit-for-bit.
    */
  val MinUrls = 5
  val MaxDiversityDenom = 4

  /** Digit runs in the path → `#`; query → sorted distinct param
    * names. `/cal/2025/8/3?sess=91` and `/cal/2026/1/7?sess=4` land in
    * the same family `/cal/#/#/#?sess`.
    */
  def templated(df: DataFrame): DataFrame =
    df
      .withColumn("host", lower(regexp_extract(col("url"), "^[A-Za-z]+://([^/?#:]+)", 1)))
      .withColumn("rest", regexp_extract(col("url"), "^[A-Za-z]+://[^/?#]+([^#]*)", 1))
      .withColumn("rawpath", when(instr(col("rest"), "?") > 0,
        expr("substring(rest, 1, instr(rest, '?') - 1)")).otherwise(col("rest")))
      .withColumn("rawq", when(instr(col("rest"), "?") > 0,
        expr("substring(rest, instr(rest, '?') + 1)")).otherwise(lit("")))
      .withColumn("tpath", regexp_replace(col("rawpath"), "[0-9]+", "#"))
      .withColumn("pnames", array_join(array_sort(array_distinct(
        transform(filter(split(col("rawq"), "&"), p => p =!= ""),
          p => split(p, "=").getItem(0)))), ","))
      .withColumn("template",
        when(col("pnames") === "", col("tpath"))
          .otherwise(concat(col("tpath"), lit("?"), col("pnames"))))

  /** (host, template, urls, contents, trap) over a (url, fp) frame —
    * the generic surface a frontier feeds its own crawl log through.
    */
  def trapReport(df: DataFrame): DataFrame =
    templated(df)
      .groupBy(col("host"), col("template"))
      .agg(countDistinct(col("url")).as("urls"),
        countDistinct(col("fp")).as("contents"))
      .select(col("host"), col("template"), col("urls"), col("contents"),
        // int, not boolean — the cross-engine gates carry integers only
        (col("urls") >= MinUrls &&
          col("contents") * MaxDiversityDenom <= col("urls"))
          .cast("int").as("trap"))

  /** Fixture: four URL families per host (doc_id % 4) —
    *  0: calendar pages with a session-id query (every URL unique,
    *     content CONSTANT per host — the classic trap),
    *  1: faceted search (page/sort/filter params, content varies only
    *     with a 5-valued facet — suspicious, below the trap line at
    *     small scale),
    *  2: articles (every URL its own content — healthy),
    *  3: a 3-page about section (3 urls, 3 contents — healthy, tiny).
    */
  def plantCrawlLog: Column = {
    val id = col("doc_id")
    val host = concat(lit("https://site"), (id % 13).cast("string"),
      lit(".example.com"))
    when(id % 4 === 0, concat(host,
        lit("/cal/2025/"), (id % 12 + 1).cast("string"),
        lit("/"), (id % 28 + 1).cast("string"),
        lit("?sess="), id.cast("string")))
      .when(id % 4 === 1, concat(host,
        lit("/search?page="), (expr("doc_id div 4") % 50).cast("string"),
        lit("&sort="), (id % 3).cast("string"),
        lit("&filter=f"), (id % 7).cast("string")))
      .when(id % 4 === 2, concat(host, lit("/article/"), id.cast("string")))
      .otherwise(concat(host, lit("/about"), (id % 3).cast("string")))
  }

  /** The matching content fingerprint: constant per host for the
    * calendar family, facet-valued for search, unique for articles,
    * page-valued for about.
    */
  def plantFp: Column = {
    val id = col("doc_id")
    when(id % 4 === 0, id % 13)
      .when(id % 4 === 1, lit(1000) + id % 5)
      .when(id % 4 === 2, lit(2000) + id)
      .otherwise(lit(3000) + id % 3)
  }

  def report(spark: SparkSession, dir: String): DataFrame =
    trapReport(graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(plantCrawlLog.as("url"), plantFp.as("fp")))

  /** The shared log+templating CTE chain (no trailing SELECT). */
  private def tplCtes: String =
    s"""log AS (
       |  SELECT
       |    'https://site' || CAST(doc_id % 13 AS VARCHAR) || '.example.com' ||
       |    CASE WHEN doc_id % 4 = 0 THEN
       |        '/cal/2025/' || CAST(doc_id % 12 + 1 AS VARCHAR) ||
       |        '/' || CAST(doc_id % 28 + 1 AS VARCHAR) || '?sess=' || CAST(doc_id AS VARCHAR)
       |      WHEN doc_id % 4 = 1 THEN
       |        '/search?page=' || CAST((doc_id // 4) % 50 AS VARCHAR) ||
       |        '&sort=' || CAST(doc_id % 3 AS VARCHAR) || '&filter=f' || CAST(doc_id % 7 AS VARCHAR)
       |      WHEN doc_id % 4 = 2 THEN '/article/' || CAST(doc_id AS VARCHAR)
       |      ELSE '/about' || CAST(doc_id % 3 AS VARCHAR) END AS url,
       |    CASE WHEN doc_id % 4 = 0 THEN doc_id % 13
       |         WHEN doc_id % 4 = 1 THEN 1000 + doc_id % 5
       |         WHEN doc_id % 4 = 2 THEN 2000 + doc_id
       |         ELSE 3000 + doc_id % 3 END AS fp
       |  FROM documents),
       |t AS (
       |  SELECT url, fp,
       |    lower(regexp_extract(url, '^[A-Za-z]+://([^/?#:]+)', 1)) AS host,
       |    regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^#]*)', 1) AS rest
       |  FROM log),
       |p AS (
       |  SELECT url, fp, host,
       |    CASE WHEN instr(rest, '?') > 0
       |         THEN substring(rest, 1, instr(rest, '?') - 1) ELSE rest END AS rawpath,
       |    CASE WHEN instr(rest, '?') > 0
       |         THEN substring(rest, instr(rest, '?') + 1) ELSE '' END AS rawq
       |  FROM t),
       |tpl AS (
       |  SELECT url, fp, host,
       |    regexp_replace(rawpath, '[0-9]+', '#', 'g') ||
       |    CASE WHEN rawq = '' THEN ''
       |         ELSE '?' || array_to_string(list_sort(list_distinct(
       |           list_transform(list_filter(string_split(rawq, '&'), x -> x <> ''),
       |             x -> string_split(x, '=')[1]))), ',') END AS template
       |  FROM p)""".stripMargin

  def reportOracle: String =
    s"""WITH $tplCtes
       |SELECT host, template,
       |  COUNT(DISTINCT url) AS urls,
       |  COUNT(DISTINCT fp) AS contents,
       |  CAST(COUNT(DISTINCT url) >= $MinUrls AND
       |   COUNT(DISTINCT fp) * $MaxDiversityDenom <= COUNT(DISTINCT url) AS INTEGER) AS trap
       |FROM tpl GROUP BY host, template""".stripMargin

  /** Trap-SCREENED frontier admission (X152) — the consumption path of
    * the report: today's distinct candidate URLs templated the same
    * way, then anti-joined against the (tiny, page-type-bounded) trap
    * family set, which BROADCASTS back — the report never shuffles the
    * candidate stream. Output: the admitted (host, template, url) rows.
    */
  def screened(spark: SparkSession, dir: String): DataFrame = {
    val log = graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(plantCrawlLog.as("url"), plantFp.as("fp"))
    val traps = trapReport(log).filter(col("trap") === 1)
      .select(col("host"), col("template"))
    templated(log).select(col("host"), col("template"), col("url")).distinct()
      .join(broadcast(traps), Seq("host", "template"), "left_anti")
  }

  def screenedOracle: String =
    s"""WITH $tplCtes,
       |rep AS (
       |  SELECT host, template
       |  FROM tpl GROUP BY host, template
       |  HAVING COUNT(DISTINCT url) >= $MinUrls AND
       |    COUNT(DISTINCT fp) * $MaxDiversityDenom <= COUNT(DISTINCT url))
       |SELECT DISTINCT c.host, c.template, c.url
       |FROM tpl c LEFT JOIN rep r
       |  ON c.host = r.host AND c.template = r.template
       |WHERE r.host IS NULL""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_crawl_traps" -> Query((s, dir) => report(s, dir), reportOracle),
    "q_frontier_trapscreen" -> Query((s, dir) => screened(s, dir), screenedOracle)
  )
}
