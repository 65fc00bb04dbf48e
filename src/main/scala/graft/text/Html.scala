package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** HTML → text extraction — the step BEFORE every text filter in a
  * web-corpus pipeline (CommonCrawl WARC → clean text): strip comments,
  * script/style blocks wholesale, tags, then decode the common entities,
  * and report per-doc markup statistics (tag/script counts — the
  * "markup density" signal boilerplate classifiers use). Pure per-row
  * `regexp_replace` chains — shuffle-free, codegen'd, linear in the scan.
  *
  * Regex discipline (same as [[Redact]]): Java-regex ∩ RE2-safe syntax
  * only — `(?s)` dotall groups, character classes, lazy quantifiers via
  * negated classes instead of `.*?` where possible — so both engines
  * match identically. Order matters and is fixed: comments first (a
  * commented-out tag must not count), then script/style with content,
  * then remaining tags, then entities (entity decode LAST so stripping
  * never creates new entities).
  *
  * The fixture corpus is plain word soup, so the gate plants
  * deterministic markup derived from doc_id (the [[Redact.plantPii]]
  * pattern) — every shape the stripper handles is exercised
  * non-degenerately.
  */
object Html {

  val CommentRe = "(?s)<!--.*?-->" // lazy dotall: comments may contain tags/'>'
  val ScriptRe = "(?s)<script[^>]*>.*?</script>"
  val StyleRe = "(?s)<style[^>]*>.*?</style>"
  val TagRe = "</?[A-Za-z][^>]*>"

  /** Strip order: comments → script/style blocks → tags → entities →
    * whitespace squeeze. Within the entities, `&amp;` decodes LAST:
    * decoding it first would re-feed its output to the later passes, so
    * a stacked entity like `&amp;lt;` would double-decode to `<` instead
    * of the literal `&lt;` its author wrote.
    */
  val Entities = Seq("&lt;" -> "<", "&gt;" -> ">",
    "&quot;" -> "\"", "&nbsp;" -> " ", "&amp;" -> "&")

  def extractText(c: Column): Column = {
    val noComment = regexp_replace(c, CommentRe, " ")
    val noScript = regexp_replace(regexp_replace(noComment, ScriptRe, " "), StyleRe, " ")
    val noTags = regexp_replace(noScript, TagRe, " ")
    val decoded = Entities
      .foldLeft(noTags) { case (col0, (e, r)) => regexp_replace(col0, e, r) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  def extractTextSql(c: String): String = {
    val noComment = s"regexp_replace($c, '$CommentRe', ' ', 'g')"
    val noScript = s"regexp_replace(regexp_replace($noComment, '$ScriptRe', ' ', 'g'), '$StyleRe', ' ', 'g')"
    val noTags = s"regexp_replace($noScript, '$TagRe', ' ', 'g')"
    val decoded = Entities
      .foldLeft(noTags) { case (s, (e, r)) =>
        s"replace($s, '$e', '$r')" }
    s"trim(regexp_replace($decoded, '\\s+', ' ', 'g'))"
  }

  /** Deterministic markup planting: every doc gains a wrapping tag; every
    * 2nd a comment, every 3rd a script block, every 5th entities — all
    * derived from doc_id so both engines construct byte-identical HTML.
    */
  def plantHtml: Column = {
    val id = col("doc_id").cast("string")
    concat(
      lit("<div class=\"d"), id, lit("\"><p>"),
      when(col("doc_id") % 2 === 0,
        concat(lit("<!-- hidden "), id, lit(" -->"))).otherwise(lit("")),
      col("text"),
      when(col("doc_id") % 3 === 0,
        concat(lit("<script>var x="), id, lit(";</script>"))).otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        lit(" a &amp; b &lt;tag&gt;")).otherwise(lit("")),
      lit("</p></div>"))
  }

  def plantHtmlSql: String =
    s"""SELECT doc_id,
       |  '<div class="d' || CAST(doc_id AS VARCHAR) || '"><p>' ||
       |  CASE WHEN doc_id % 2 = 0
       |       THEN '<!-- hidden ' || CAST(doc_id AS VARCHAR) || ' -->' ELSE '' END ||
       |  text ||
       |  CASE WHEN doc_id % 3 = 0
       |       THEN '<script>var x=' || CAST(doc_id AS VARCHAR) || ';</script>' ELSE '' END ||
       |  CASE WHEN doc_id % 5 = 0
       |       THEN ' a &amp; b &lt;tag&gt;' ELSE '' END ||
       |  '</p></div>' AS html
       |FROM documents""".stripMargin

  /** (doc_id, clean_text, n_tags, n_scripts, markup_frac) — extraction +
    * the markup-density report. Counts are taken on the planted HTML.
    */
  def extraction(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
    // clean_text bound in its own projection so the regex chain runs once
    // per row, not once more for markup_frac
    docs.select(col("doc_id"), plantHtml.as("html"))
      .select(col("doc_id"), col("html"),
        extractText(col("html")).as("clean_text"),
        size(regexp_extract_all(col("html"), lit(TagRe), lit(0))).cast("long").as("n_tags"),
        size(regexp_extract_all(col("html"), lit(ScriptRe), lit(0))).cast("long").as("n_scripts"))
      .select(col("doc_id"), col("clean_text"), col("n_tags"), col("n_scripts"),
        when(length(col("html")) > 0,
          round(lit(1.0) - length(col("clean_text")).cast("double")
            / length(col("html")), 4)).as("markup_frac"))
  }

  def oracle: String =
    s"""SELECT doc_id, clean_text, n_tags, n_scripts,
       |  CASE WHEN length(html) > 0 THEN
       |    round(1.0 - CAST(length(clean_text) AS DOUBLE) / length(html), 4)
       |  END AS markup_frac
       |FROM (
       |  SELECT doc_id, html,
       |    ${extractTextSql("html")} AS clean_text,
       |    CAST(len(regexp_extract_all(html, '$TagRe')) AS BIGINT) AS n_tags,
       |    CAST(len(regexp_extract_all(html, '$ScriptRe')) AS BIGINT) AS n_scripts
       |  FROM ($plantHtmlSql)
       |)""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_html_extract" -> Query((s, dir) => extraction(s, dir), oracle)
  )
}
