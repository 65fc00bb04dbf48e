package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Anchor-text aggregation — the classic web-corpus relevance signal:
  * the text OTHER pages put inside `<a>` elements pointing at a URL
  * describes that URL better than the URL's own page does (it's how
  * search engines rank pages they never crawled, and a strong quality
  * / topic feature for LLM corpus curation). Per resolved link target:
  * total in-links, distinct linking hosts, and the CONSENSUS anchor —
  * the most frequent exact anchor string, ties broken lexicographically
  * (total order, so both engines agree bit-for-bit).
  *
  * The chain rides the real machinery end to end: `<a>` elements out
  * of the HTML with anchored non-greedy regex (the [[Html]]
  * discipline), hrefs resolved against the page URL by the codegen'd
  * [[graft.plans.ResolveUrl]] expression (relative, absolute-path and
  * cross-host forms all occur in the plant), then TWO target-keyed
  * aggregates: (target, anchor) counts → argmax via `min(struct(-cnt,
  * anchor))`, and per-target totals via one Expand-planned
  * multi-distinct — joined on the target key both sides are already
  * partitioned by.
  *
  * Scale shape: extraction is per-row; the shuffles are the two
  * target-keyed aggregations a link-graph rollup genuinely needs; the
  * join is target-co-partitioned (AQE broadcasts the argmax side when
  * small). Anchor-string cardinality per target is vocabulary-bounded,
  * so no group explodes.
  *
  * Reference scope: no crawl surface in the reference; north-star
  * LLM-pipeline machinery.
  */
object Anchors {

  val AnchorRe = "(?s)<a\\s[^>]*>.*?</a>"
  val HrefRe = "href=\"([^\"]*)\""
  val TextRe = "(?s)>(.*?)</a>"

  private def shim(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.GraftColumnShim.column(e)
  private def ex(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.GraftColumnShim.expression(c)
  private def resolve(base: Column, ref: Column): Column =
    shim(graft.plans.ResolveUrl(ex(base), ex(ref)))

  /** Page URL plant: 7 hosts, 50 page slots each. */
  def plantPageUrl: Column =
    concat(lit("http://h"), (col("doc_id") % 7).cast("string"),
      lit(".example.com/dir/page"), (col("doc_id") % 50).cast("string"))

  /** HTML plant: 1 + doc_id%3 anchors per page; target slot
    * t = (3·id + 11·j) % 40 collides across pages (the aggregation is
    * non-trivial); href form rotates relative / absolute-path /
    * cross-host; anchor text rotates a 4-phrase vocabulary including a
    * case-distinct pair (exactness of the consensus is case-sensitive).
    */
  def plantHtml: Column = {
    val id = col("doc_id")
    def anchor(j: Int): Column = {
      val t = (id * 3 + j * 11) % 40
      val href = when((id + j) % 3 === 0, concat(lit("../t/"), t.cast("string")))
        .when((id + j) % 3 === 1, concat(lit("/t/"), t.cast("string")))
        .otherwise(concat(lit("http://ext"), (t % 5).cast("string"),
          lit(".example.org/t/"), t.cast("string")))
      val text = when((id + 2 * j) % 4 === 0, lit("click here"))
        .when((id + 2 * j) % 4 === 1, lit("read more"))
        .when((id + 2 * j) % 4 === 2, concat(lit("Widget "), t.cast("string")))
        .otherwise(concat(lit("widget "), t.cast("string")))
      val a = concat(lit("<p>see <a class=\"l\" href=\""), href,
        lit("\"> "), text, lit(" </a>.</p>\n"))
      when(id % 3 >= j - 1, a).otherwise(lit(""))
    }
    concat(lit("<html><body>\n"), anchor(1), anchor(2), anchor(3),
      lit("</body></html>\n"))
  }

  /** (src_host, target, anchor) — one row per `<a>` element, href
    * resolved against the page URL, anchor text trimmed (exact case
    * kept). The generic surface: feed any (base, html) frame through.
    */
  def anchorEdges(df: DataFrame): DataFrame =
    df
      .select(col("base"),
        explode(regexp_extract_all(col("html"), lit(AnchorRe), lit(0))).as("a"))
      .select(
        regexp_extract(col("base"), "^[a-z]+://([^/]+)", 1).as("src_host"),
        resolve(col("base"), regexp_extract(col("a"), HrefRe, 1)).as("target"),
        trim(regexp_extract(col("a"), TextRe, 1)).as("anchor"))

  /** (target, inlinks, src_hosts, top_anchor, top_count). */
  def anchorReport(edges: DataFrame): DataFrame = {
    val pair = edges.groupBy(col("target"), col("anchor"))
      .agg(count(lit(1)).as("cnt"))
    val best = pair.groupBy(col("target"))
      .agg(min(struct((-col("cnt")).as("nc"), col("anchor").as("a"))).as("b"))
      .select(col("target"), col("b.a").as("top_anchor"),
        (-col("b.nc")).as("top_count"))
    val totals = edges.groupBy(col("target"))
      .agg(count(lit(1)).as("inlinks"),
        countDistinct(col("src_host")).as("src_hosts"))
    totals.join(best, Seq("target"))
      .select("target", "inlinks", "src_hosts", "top_anchor", "top_count")
  }

  def report(spark: SparkSession, dir: String): DataFrame =
    anchorReport(anchorEdges(
      graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
        .select(plantPageUrl.as("base"), plantHtml.as("html"))))

  def reportOracle: String = {
    def edge(j: Int): String =
      s"""SELECT
         |  'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS src_host,
         |  CASE WHEN (doc_id + $j) % 3 = 2
         |       THEN 'http://ext' || CAST(((doc_id * 3 + ${j * 11}) % 40) % 5 AS VARCHAR) ||
         |            '.example.org/t/' || CAST((doc_id * 3 + ${j * 11}) % 40 AS VARCHAR)
         |       ELSE 'http://h' || CAST(doc_id % 7 AS VARCHAR) ||
         |            '.example.com/t/' || CAST((doc_id * 3 + ${j * 11}) % 40 AS VARCHAR)
         |  END AS target,
         |  CASE (doc_id + ${2 * j}) % 4
         |    WHEN 0 THEN 'click here'
         |    WHEN 1 THEN 'read more'
         |    WHEN 2 THEN 'Widget ' || CAST((doc_id * 3 + ${j * 11}) % 40 AS VARCHAR)
         |    ELSE 'widget ' || CAST((doc_id * 3 + ${j * 11}) % 40 AS VARCHAR)
         |  END AS anchor
         |FROM documents WHERE doc_id % 3 >= ${j - 1}""".stripMargin
    s"""WITH edges AS (
       |${Seq(1, 2, 3).map(edge).mkString("\nUNION ALL\n")}),
       |pair AS (
       |  SELECT target, anchor, COUNT(*) AS cnt FROM edges GROUP BY target, anchor),
       |best AS (
       |  SELECT target, anchor AS top_anchor, cnt AS top_count,
       |    row_number() OVER (PARTITION BY target ORDER BY cnt DESC, anchor) AS rn
       |  FROM pair),
       |totals AS (
       |  SELECT target, COUNT(*) AS inlinks, COUNT(DISTINCT src_host) AS src_hosts
       |  FROM edges GROUP BY target)
       |SELECT t.target, t.inlinks, t.src_hosts, b.top_anchor, b.top_count
       |FROM totals t JOIN best b ON t.target = b.target AND b.rn = 1""".stripMargin
  }

  def queries: Seq[(String, Query)] = Seq(
    "q_anchor_text" -> Query((s, dir) => report(s, dir), reportOracle)
  )
}
