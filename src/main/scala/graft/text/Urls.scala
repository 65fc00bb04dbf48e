package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** URL extraction and the outlink/domain layer of a web-corpus pipeline:
  * pull URLs out of document text, split host and registrable domain,
  * and aggregate the per-domain link graph — the inputs to domain
  * blocklists, per-domain crawl caps ([[graft.ops.CorpusOps]] X40 caps
  * by SOURCE; this is the same policy keyed by linked-TO domain) and
  * simple link-popularity priors.
  *
  * All per-row regex work (extract, host/domain split) is codegen'd and
  * shuffle-free; the only exchanges are the aggregate by domain. Regex
  * discipline per [[Redact]]/[[Html]]: Java ∩ RE2-safe syntax, stated
  * once and reused verbatim in the DuckDB twin.
  *
  * The fixture corpus carries no URLs, so the gate PLANTS them
  * deterministically from doc_id (the [[Html.plantHtml]] pattern):
  * every doc gains a bare https URL; every 2nd an http `www.` form in
  * an anchor tag (quoted context must not leak into the URL); every
  * 3rd a trailing-path variant. Extraction, splitting, and the
  * in-degree aggregate are then exactly checkable.
  */
object Urls {

  /** One URL: scheme://host(/path)? — path stops at whitespace, quotes,
    * or closing angle bracket (anchor-tag context).
    */
  val UrlRe = """https?://[A-Za-z0-9.-]+(/[^\s"'<>]*)?"""

  def plantUrls: Column = {
    val id = col("doc_id").cast("string")
    concat(
      col("text"),
      lit(" see https://host"), (col("doc_id") % 23).cast("string"),
      lit(".example"), (col("doc_id") % 7).cast("string"), lit(".com/p/"), id,
      when(col("doc_id") % 2 === 0,
        concat(lit(" <a href=\"http://www.site"), (col("doc_id") % 11).cast("string"),
          lit(".org/q\">link</a>"))).otherwise(lit("")),
      when(col("doc_id") % 3 === 0,
        concat(lit(" and https://cdn.assets"), (col("doc_id") % 5).cast("string"),
          lit(".net"))).otherwise(lit("")),
      // multi-label public suffix: a naive last-two-labels split would
      // call this domain "co.uk" — the case the PSL join exists for
      when(col("doc_id") % 5 === 0,
        concat(lit(" shop at https://store"), (col("doc_id") % 4).cast("string"),
          lit(".brand"), (col("doc_id") % 6).cast("string"),
          lit(".co.uk/sale"))).otherwise(lit("")),
      // PRIVATE-section suffix: each github.io subdomain is its own
      // registrable domain
      when(col("doc_id") % 7 === 1,
        concat(lit(" docs at https://proj"), (col("doc_id") % 9).cast("string"),
          lit(".github.io/docs"))).otherwise(lit("")),
      // registry second level: registrable domain is one label + com.au
      when(col("doc_id") % 11 === 3,
        concat(lit(" buy https://shop"), (col("doc_id") % 5).cast("string"),
          lit(".outlet.com.au/item"))).otherwise(lit("")))
  }

  def plantUrlsSql: String =
    s"""SELECT doc_id,
       |  text || ' see https://host' || CAST(doc_id % 23 AS VARCHAR) ||
       |  '.example' || CAST(doc_id % 7 AS VARCHAR) || '.com/p/' || CAST(doc_id AS VARCHAR) ||
       |  CASE WHEN doc_id % 2 = 0
       |       THEN ' <a href="http://www.site' || CAST(doc_id % 11 AS VARCHAR) || '.org/q">link</a>'
       |       ELSE '' END ||
       |  CASE WHEN doc_id % 3 = 0
       |       THEN ' and https://cdn.assets' || CAST(doc_id % 5 AS VARCHAR) || '.net'
       |       ELSE '' END ||
       |  CASE WHEN doc_id % 5 = 0
       |       THEN ' shop at https://store' || CAST(doc_id % 4 AS VARCHAR) ||
       |            '.brand' || CAST(doc_id % 6 AS VARCHAR) || '.co.uk/sale'
       |       ELSE '' END ||
       |  CASE WHEN doc_id % 7 = 1
       |       THEN ' docs at https://proj' || CAST(doc_id % 9 AS VARCHAR) ||
       |            '.github.io/docs'
       |       ELSE '' END ||
       |  CASE WHEN doc_id % 11 = 3
       |       THEN ' buy https://shop' || CAST(doc_id % 5 AS VARCHAR) ||
       |            '.outlet.com.au/item'
       |       ELSE '' END AS t
       |FROM documents""".stripMargin

  /** host = authority up to the first `/`. */
  def hostOf(url: Column): Column =
    regexp_extract(url, "^https?://([^/]+)", 1)

  /** Public-suffix list — the lookup TABLE that defines where the
    * registrable domain starts. The real PSL is a ~10k-entry published
    * file refreshed out-of-band; this deterministic subset carries the
    * structural cases (1-, 2-, and 3-label suffixes) so the plumbing —
    * a BROADCAST join per suffix depth, never a per-row driver lookup —
    * is exactly what a deploy with the full list runs. Swapping in the
    * full list is a data change, not a code change.
    */
  /** The public-suffix fixture ([[PublicSuffixes]] — ICANN TLDs,
    * registry second-levels, PRIVATE-section operators), shared by the
    * Scala resolution and the oracle's VALUES list so both engines read
    * ONE definition.
    */
  val PublicSuffixList: Seq[String] = PublicSuffixes.All

  /** The PSL as a one-column DataFrame (`suffix`) — broadcast into the
    * resolution joins below.
    */
  def psl(spark: SparkSession): DataFrame = {
    import spark.implicits._
    PublicSuffixList.toDF("suffix")
  }

  /** Last `k` dot-labels of the host ("" when the host has fewer). */
  private def lastLabels(host: Column, k: Int): Column =
    regexp_extract(host, s"([^.]+${"(?:\\.[^.]+)" * (k - 1)})$$", 1)

  /** Resolve the registrable domain by longest-public-suffix match:
    * candidate suffixes are the host's last 1/2/3/4 labels (4 covers
    * the deepest fixture entries — regional object-store and
    * state/school suffixes); each depth is a LEFT join against the
    * broadcast PSL; the registrable domain is one label + the deepest
    * matching suffix. A host that IS a public suffix has no registrable
    * domain (NULL — the PSL semantic, not ""). Hosts under an unknown
    * TLD fall back to the last-two-labels heuristic. Cost shape: four
    * broadcast hash joins, no shuffle, no per-row driver lookup — at
    * 100 TB the PSL rides once per executor.
    */
  private def resolveDomains(urls: DataFrame, pslDf: DataFrame): DataFrame = {
    val host = col("host")
    val withCands = urls
      .withColumn("last1", lastLabels(host, 1))
      .withColumn("last2", lastLabels(host, 2))
      .withColumn("last3", lastLabels(host, 3))
      .withColumn("last4", lastLabels(host, 4))
      .withColumn("last5", lastLabels(host, 5))
    val joined = withCands
      .join(broadcast(pslDf.select(col("suffix").as("sfx4"))),
        col("last4") === col("sfx4"), "left")
      .join(broadcast(pslDf.select(col("suffix").as("sfx3"))),
        col("last3") === col("sfx3"), "left")
      .join(broadcast(pslDf.select(col("suffix").as("sfx2"))),
        col("last2") === col("sfx2"), "left")
      .join(broadcast(pslDf.select(col("suffix").as("sfx1"))),
        col("last1") === col("sfx1"), "left")
    def nonEmpty(c: Column): Column = when(length(c) > 0, c)
    joined.withColumn("domain",
        when(col("sfx4").isNotNull, nonEmpty(col("last5")))
          .when(col("sfx3").isNotNull, nonEmpty(col("last4")))
          .when(col("sfx2").isNotNull, nonEmpty(col("last3")))
          .when(col("sfx1").isNotNull, nonEmpty(col("last2")))
          .otherwise(coalesce(nonEmpty(col("last2")), nonEmpty(col("last1")))))
      .select(col("doc_id"), col("url"), col("host"), col("domain"))
  }

  /** (doc_id, url, host, domain) — one row per extracted URL; domain is
    * the PSL-resolved registrable domain.
    */
  def extracted(spark: SparkSession, dir: String): DataFrame = {
    val urls = graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"), plantUrls.as("t"))
      .select(col("doc_id"), explode(regexp_extract_all(col("t"), lit(UrlRe), lit(0))).as("url"))
      .select(col("doc_id"), col("url"), hostOf(col("url")).as("host"))
    resolveDomains(urls, psl(spark))
  }

  /** Per-domain in-degree: distinct linking docs + total links — the
    * link-graph aggregate crawl caps and popularity priors read.
    */
  def domainInDegree(spark: SparkSession, dir: String): DataFrame =
    extracted(spark, dir)
      .groupBy(col("domain"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_links"))

  /** SQL-literal escape: the URL regex's character class contains an
    * apostrophe (attribute context), which must double inside DuckDB's
    * single-quoted string.
    */
  private def sqlRe(re: String): String = re.replace("'", "''")

  /** The PSL as a SQL VALUES list — generated from [[PublicSuffixList]]
    * so both engines read ONE definition.
    */
  private def pslValues: String =
    PublicSuffixList.map(s => s"('$s')").mkString(", ")

  private def extractedSql: String =
    s"""WITH planted AS ($plantUrlsSql),
       |psl AS (
       |  SELECT * FROM (VALUES $pslValues) AS t(suffix)
       |),
       |urls AS (
       |  SELECT doc_id, unnest(regexp_extract_all(t, '${sqlRe(UrlRe)}')) AS url FROM planted
       |),
       |hosts AS (
       |  SELECT doc_id, url, regexp_extract(url, '^https?://([^/]+)', 1) AS host FROM urls
       |),
       |cands AS (
       |  SELECT doc_id, url, host,
       |    regexp_extract(host, '([^.]+)$$', 1) AS last1,
       |    regexp_extract(host, '([^.]+(?:\\.[^.]+){1})$$', 1) AS last2,
       |    regexp_extract(host, '([^.]+(?:\\.[^.]+){2})$$', 1) AS last3,
       |    regexp_extract(host, '([^.]+(?:\\.[^.]+){3})$$', 1) AS last4,
       |    regexp_extract(host, '([^.]+(?:\\.[^.]+){4})$$', 1) AS last5
       |  FROM hosts
       |)
       |SELECT doc_id, url, host,
       |  CASE WHEN p4.suffix IS NOT NULL THEN NULLIF(last5, '')
       |       WHEN p3.suffix IS NOT NULL THEN NULLIF(last4, '')
       |       WHEN p2.suffix IS NOT NULL THEN NULLIF(last3, '')
       |       WHEN p1.suffix IS NOT NULL THEN NULLIF(last2, '')
       |       ELSE COALESCE(NULLIF(last2, ''), NULLIF(last1, '')) END AS domain
       |FROM cands
       |LEFT JOIN psl p4 ON cands.last4 = p4.suffix
       |LEFT JOIN psl p3 ON cands.last3 = p3.suffix
       |LEFT JOIN psl p2 ON cands.last2 = p2.suffix
       |LEFT JOIN psl p1 ON cands.last1 = p1.suffix""".stripMargin

  def extractedOracle: String = extractedSql

  def inDegreeOracle: String =
    s"""SELECT domain, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  count(*) AS n_links
       |FROM ($extractedSql) GROUP BY domain""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_url_extract" -> Query((s, dir) => extracted(s, dir), extractedOracle),
    "q_url_indegree" -> Query((s, dir) => domainInDegree(s, dir), inDegreeOracle)
  )
}
