package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Page-metadata extraction — the fields a corpus keeps NEXT TO the
  * body text: `<title>`, the `description` meta, and the OpenGraph
  * pair (`og:title`, `og:image`) that social cards and dedup-by-
  * preview pipelines read. Attribute order is tolerated on every meta
  * form (name-before-content and content-before-name both occur in the
  * wild and in the plant), missing fields are NULL not '', and og:title
  * falls back to `<title>` when absent — the documented consumer rule.
  * Anchored non-greedy regex (the [[Html]] discipline), per-row,
  * map-only.
  *
  * Reference scope: no crawl surface in the reference; north-star
  * LLM-pipeline machinery.
  */
object PageMeta {

  val TitleRe = "(?s)<title>\\s*(.*?)\\s*</title>"

  private def metaRe(attr: String, key: String): (String, String) = (
    s"""<meta[^>]*$attr="$key"[^>]*content="([^"]*)"""",
    s"""<meta[^>]*content="([^"]*)"[^>]*$attr="$key"""")

  private def extractMeta(html: Column, attr: String, key: String): Column = {
    val (a, b) = metaRe(attr, key)
    coalesce(
      nullif(regexp_extract(html, a, 1), lit("")),
      nullif(regexp_extract(html, b, 1), lit("")))
  }

  /** Rotation (doc_id % 5): everything present / description flipped
    * order / og absent (title fallback) / title absent / bare page.
    */
  def plantMetaHtml: Column = {
    val id = col("doc_id")
    val title = concat(lit("<title> Page "), id.cast("string"), lit(" </title>\n"))
    val desc = concat(lit("<meta name=\"description\" content=\"about "),
      (id % 7).cast("string"), lit("\">\n"))
    val descFlip = concat(lit("<meta content=\"about "),
      (id % 7).cast("string"), lit("\" name=\"description\">\n"))
    val og = concat(
      lit("<meta property=\"og:title\" content=\"OG "), (id % 11).cast("string"),
      lit("\">\n<meta content=\"http://img.example.com/i/"), (id % 13).cast("string"),
      lit(".png\" property=\"og:image\">\n"))
    val head = when(id % 5 === 0, concat(title, desc, og))
      .when(id % 5 === 1, concat(title, descFlip))
      .when(id % 5 === 2, concat(title, desc))
      .when(id % 5 === 3, og)
      .otherwise(lit(""))
    concat(lit("<html><head>\n"), head, lit("</head><body>b</body></html>"))
  }

  /** (doc_id, title, description, og_title, og_image, card_title) over
    * a (doc_id, html) frame; `card_title` = og:title falling back to
    * the document title.
    */
  def extract(df: DataFrame): DataFrame =
    df.select(col("doc_id"),
        nullif(regexp_extract(col("html"), TitleRe, 1), lit("")).as("title"),
        extractMeta(col("html"), "name", "description").as("description"),
        extractMeta(col("html"), "property", "og:title").as("og_title"),
        extractMeta(col("html"), "property", "og:image").as("og_image"))
      .withColumn("card_title", coalesce(col("og_title"), col("title")))

  def extracted(spark: SparkSession, dir: String): DataFrame =
    extract(graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"), plantMetaHtml.as("html")))

  def extractedOracle: String =
    s"""SELECT doc_id,
       |  CASE WHEN doc_id % 5 IN (0, 1, 2)
       |       THEN 'Page ' || CAST(doc_id AS VARCHAR) END AS title,
       |  CASE WHEN doc_id % 5 IN (0, 1, 2)
       |       THEN 'about ' || CAST(doc_id % 7 AS VARCHAR) END AS description,
       |  CASE WHEN doc_id % 5 IN (0, 3)
       |       THEN 'OG ' || CAST(doc_id % 11 AS VARCHAR) END AS og_title,
       |  CASE WHEN doc_id % 5 IN (0, 3)
       |       THEN 'http://img.example.com/i/' || CAST(doc_id % 13 AS VARCHAR) || '.png'
       |       END AS og_image,
       |  CASE WHEN doc_id % 5 IN (0, 3) THEN 'OG ' || CAST(doc_id % 11 AS VARCHAR)
       |       WHEN doc_id % 5 IN (1, 2) THEN 'Page ' || CAST(doc_id AS VARCHAR)
       |       END AS card_title
       |FROM documents""".stripMargin

  // ---- hreflang alternates (X163): `<link rel="alternate"
  // hreflang="xx" href=…>` names a page's language variants — the
  // signal parallel-text mining pipelines cluster on (the same article
  // in en/de/fr is training data for translation and cross-lingual
  // alignment). Extraction is per-row; the CLUSTER view groups
  // variants by the x-default (or lexicographically-first) member so
  // a corpus can pick one language per cluster or keep aligned pairs.

  val LinkAltRe = "<link[^>]*>"

  /** Rotation (doc_id % 4): page g = doc_id div 4 owns a 3-language
    * cluster (en x-default + de + fr) announced from its class-0 doc;
    * class 1 announces a 2-language cluster WITHOUT x-default (first
    * href leads); classes 2-3 carry decoy links only.
    */
  def plantHreflangHtml: Column = {
    val id = col("doc_id")
    val g = expr("doc_id div 4")
    def alt(lang: String, path: Column): Column = concat(
      lit(s"""<link rel="alternate" hreflang="$lang" href="http://x.example.com/"""),
      path, lit("\">\n"))
    val full = concat(
      alt("x-default", concat(lit("en/a"), g.cast("string"))),
      alt("en", concat(lit("en/a"), g.cast("string"))),
      alt("de", concat(lit("de/a"), g.cast("string"))),
      alt("fr", concat(lit("fr/a"), g.cast("string"))))
    val pair = concat(
      alt("es", concat(lit("es/b"), g.cast("string"))),
      alt("pt", concat(lit("pt/b"), g.cast("string"))))
    concat(lit("<html><head>\n<link rel=\"stylesheet\" href=\"s.css\">\n"),
      when(id % 4 === 0, full).when(id % 4 === 1, pair).otherwise(lit("")),
      lit("</head><body>b</body></html>"))
  }

  /** (doc_id, lang, href, cluster) — one row per hreflang link;
    * `cluster` is the x-default href when announced, else the
    * lexicographically smallest href (a total order, bit-equal
    * engines).
    */
  def hreflang(df: DataFrame): DataFrame = {
    val links = df.select(col("doc_id"),
        explode(regexp_extract_all(col("html"), lit(LinkAltRe), lit(0))).as("tag"))
      .filter(col("tag").contains("rel=\"alternate\"") &&
        col("tag").contains("hreflang=\""))
      .select(col("doc_id"),
        regexp_extract(col("tag"), "hreflang=\"([^\"]*)\"", 1).as("lang"),
        regexp_extract(col("tag"), "href=\"([^\"]*)\"", 1).as("href"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    links
      .withColumn("cluster", coalesce(
        max(when(col("lang") === "x-default", col("href"))).over(w),
        min(col("href")).over(w)))
      .filter(col("lang") =!= "x-default")
  }

  def hreflangExtracted(spark: SparkSession, dir: String): DataFrame =
    hreflang(graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"), plantHreflangHtml.as("html")))

  def hreflangOracle: String =
    s"""SELECT doc_id, lang,
       |  'http://x.example.com/' || lang || '/' ||
       |    (CASE WHEN doc_id % 4 = 0 THEN 'a' ELSE 'b' END) ||
       |    CAST(doc_id // 4 AS VARCHAR) AS href,
       |  'http://x.example.com/' ||
       |    (CASE WHEN doc_id % 4 = 0 THEN 'en/a' ELSE 'es/b' END) ||
       |    CAST(doc_id // 4 AS VARCHAR) AS cluster
       |FROM (
       |  SELECT doc_id, unnest(['en', 'de', 'fr']) AS lang
       |  FROM documents WHERE doc_id % 4 = 0
       |  UNION ALL
       |  SELECT doc_id, unnest(['es', 'pt'])
       |  FROM documents WHERE doc_id % 4 = 1
       |) t(doc_id, lang)""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_page_meta" -> Query((s, dir) => extracted(s, dir), extractedOracle),
    "q_hreflang" -> Query((s, dir) => hreflangExtracted(s, dir), hreflangOracle)
  )
}
