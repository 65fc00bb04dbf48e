package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Page-level robots directives — the opt-out layer a training-data
  * pipeline must respect AFTER robots.txt (X116) admitted the fetch:
  * site operators mark individual pages `noindex` / `nofollow` /
  * `noarchive` via the `X-Robots-Tag` response HEADER and/or the
  * `<meta name="robots">` tag, and the documented engine rule (Google
  * and Bing both) is the UNION of both channels with the most
  * restrictive directive winning; `none` expands to
  * `noindex, nofollow`. A corpus builder keys its inclusion filter on
  * exactly these bits.
  *
  * The chain is the real one: the header comes off the parsed
  * [[graft.plans.HttpMessage]] (not a restated fixture), the meta tag
  * off the message BODY with attribute order tolerated; directives are
  * token-matched in the comma-separated value (substring matching
  * would let `nofollowup` flag `nofollow`). Per-row, map-only.
  *
  * Reference scope: no crawl surface in the reference; north-star
  * LLM-pipeline machinery.
  */
object PageRobots {

  private val Crlf = "\r\n"

  private def httpMessage(c: Column): Column =
    org.apache.spark.sql.GraftColumnShim.column(
      graft.plans.HttpMessage(
        org.apache.spark.sql.GraftColumnShim.expression(c)))

  /** Rotation (doc_id % 5): header-only / meta-only / BOTH channels
    * (union must merge them) / `none` shorthand / unmarked.
    */
  def plantPageResponse: Column = {
    val id = col("doc_id")
    def msg(xRobots: Option[String], metaRobots: Option[String]): Column = {
      val body = concat(
        lit("<html><head>"),
        metaRobots.map(m =>
          // flip attribute order on odd ids — real pages do
          when(id % 2 === 0,
            lit(s"""<meta name="robots" content="$m">"""))
            .otherwise(lit(s"""<meta content="$m" name="robots">""")))
          .getOrElse(lit("")),
        lit("</head><body>p"), id.cast("string"), lit("</body></html>"))
      concat(
        lit("HTTP/1.1 200 OK" + Crlf),
        lit("Content-Type: text/html" + Crlf),
        xRobots.map(v => lit(s"X-Robots-Tag: $v" + Crlf)).getOrElse(lit("")),
        lit("Content-Length: "), octet_length(body).cast("string"), lit(Crlf),
        lit(Crlf), body)
    }
    when(col("doc_id") % 5 === 0, msg(Some("noindex"), None))
      .when(col("doc_id") % 5 === 1, msg(None, Some("nofollow, noarchive")))
      .when(col("doc_id") % 5 === 2, msg(Some("nofollow"), Some("noindex")))
      .when(col("doc_id") % 5 === 3, msg(None, Some("none")))
      .otherwise(msg(None, None))
  }

  /** Comma-separated directive value → token membership (trimmed,
    * lowercased — never substring matching).
    */
  private def hasToken(valueCol: Column, token: String): Column =
    exists(split(coalesce(valueCol, lit("")), ","),
      t => trim(lower(t)) === token)

  /** (doc_id, noindex, nofollow, noarchive, channels) over raw HTTP
    * responses: header and meta channels unioned, `none` expanded,
    * `channels` counting how many channels marked the page (0-2).
    */
  def directives(df: DataFrame): DataFrame =
    df.select(col("doc_id"), httpMessage(col("raw")).as("h"))
      .select(col("doc_id"),
        // try_element_at: a header-less page yields an EMPTY filter
        // result, and ANSI element_at throws on it
        try_element_at(filter(col("h").getField("headers"),
          x => x.startsWith("x-robots-tag: ")), lit(1)).as("hv"),
        col("h").getField("body").as("body"))
      .select(col("doc_id"),
        expr("substring(hv, 15)").as("hval"),
        coalesce(
          nullif(regexp_extract(col("body"),
            "<meta[^>]*name=\"robots\"[^>]*content=\"([^\"]*)\"", 1), lit("")),
          nullif(regexp_extract(col("body"),
            "<meta[^>]*content=\"([^\"]*)\"[^>]*name=\"robots\"", 1), lit("")))
          .as("mval"))
      .select(col("doc_id"),
        (hasToken(col("hval"), "noindex") || hasToken(col("hval"), "none") ||
          hasToken(col("mval"), "noindex") || hasToken(col("mval"), "none"))
          .cast("int").as("noindex"),
        (hasToken(col("hval"), "nofollow") || hasToken(col("hval"), "none") ||
          hasToken(col("mval"), "nofollow") || hasToken(col("mval"), "none"))
          .cast("int").as("nofollow"),
        (hasToken(col("hval"), "noarchive") || hasToken(col("mval"), "noarchive"))
          .cast("int").as("noarchive"),
        (when(col("hval").isNotNull, 1).otherwise(0) +
          when(col("mval").isNotNull, 1).otherwise(0)).as("channels"))

  def report(spark: SparkSession, dir: String): DataFrame =
    directives(graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"), plantPageResponse.as("raw")))

  def reportOracle: String =
    s"""SELECT doc_id,
       |  CAST(doc_id % 5 IN (0, 2, 3) AS INTEGER) AS noindex,
       |  CAST(doc_id % 5 IN (1, 2, 3) AS INTEGER) AS nofollow,
       |  CAST(doc_id % 5 = 1 AS INTEGER) AS noarchive,
       |  CAST(CASE doc_id % 5 WHEN 2 THEN 2 WHEN 4 THEN 0 ELSE 1 END AS INTEGER) AS channels
       |FROM documents""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_page_robots" -> Query((s, dir) => report(s, dir), reportOracle)
  )
}
