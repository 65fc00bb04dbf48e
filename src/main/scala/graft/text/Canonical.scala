package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** URL canonicalization — the normalization pass that runs BEFORE
  * URL-level dedup in a crawl pipeline (reference: the ETL suite's URL
  * handling; semantics per RFC 3986 §6 plus the tracking-param
  * scrubbing every production crawler adds): lowercase scheme and host,
  * strip the default port (:80 http, :443 https), drop the `www.`
  * prefix and the fragment, drop tracking parameters (`utm_*`, `gclid`,
  * `fbclid`), SORT the surviving query params (order is not meaningful
  * per the RFC, so dedup must not split on it), empty path → `/`, and
  * strip one trailing slash from non-root paths.
  *
  * Everything is composed from codegen'd string/array builtins — no
  * UDF, no custom expression needed; per-row, shuffle-free, so it
  * scales as a map-only pass. The DuckDB oracle implements the SAME
  * algorithm with its own string/list functions over the SAME planted
  * messy URLs — an independent reimplementation, not a restated
  * constant — so the gate pins the algorithm, not the plant.
  */
object Canonical {

  private val TrackingPrefixes = Seq("utm_", "gclid=", "fbclid=")

  /** Messy-URL plant: case noise in scheme/host, default and explicit
    * ports, www, tracking + real params in shuffled order, trailing
    * slash, fragment — each wrinkle keyed to a different doc_id residue
    * so the fixture covers the cross-product.
    */
  def plantUrl: Column = {
    val id = col("doc_id")
    concat(
      when(id % 2 === 0, lit("HTTP")).otherwise(lit("https")),
      lit("://"),
      when(id % 3 === 0, lit("WWW.")).otherwise(lit("")),
      lit("Host"), (id % 23).cast("string"), lit(".Example.com"),
      // id%4==0 is always even (http → :80); id%4==1 is always odd
      // (https → :443) — BOTH default-port strips get fixture rows
      when(id % 4 === 0, lit(":80"))
        .when(id % 4 === 1, lit(":443"))
        .otherwise(when(id % 11 === 0, lit(":8080")).otherwise(lit(""))),
      lit("/Path/"), id.cast("string"),
      when(id % 5 === 0, lit("/")).otherwise(lit("")),
      when(id % 2 === 0, lit("?utm_source=feed&b=2&a=1"))
        .otherwise(when(id % 7 === 0, lit("?z=9&gclid=abc&a=1")).otherwise(lit(""))),
      when(id % 6 === 0, lit("#section-3")).otherwise(lit("")))
  }

  def plantUrlSql: String =
    s"""SELECT doc_id,
       |  (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END) || '://' ||
       |  (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) ||
       |  'Host' || CAST(doc_id % 23 AS VARCHAR) || '.Example.com' ||
       |  (CASE WHEN doc_id % 4 = 0 THEN ':80'
       |        WHEN doc_id % 4 = 1 THEN ':443'
       |        ELSE CASE WHEN doc_id % 11 = 0 THEN ':8080' ELSE '' END END) ||
       |  '/Path/' || CAST(doc_id AS VARCHAR) ||
       |  (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END) ||
       |  (CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&b=2&a=1'
       |        WHEN doc_id % 7 = 0 THEN '?z=9&gclid=abc&a=1' ELSE '' END) ||
       |  (CASE WHEN doc_id % 6 = 0 THEN '#section-3' ELSE '' END) AS url
       |FROM documents""".stripMargin

  /** Canonicalize a `url` column on a frame: staged projections (each
    * intermediate is a named column, so the plan stays readable and
    * every step is a codegen'd builtin), collapsed by Catalyst's
    * CollapseProject into one map stage.
    */
  def canonicalize(df: DataFrame): DataFrame =
    df
      .withColumn("scheme", lower(regexp_extract(col("url"), "^([A-Za-z]+)://", 1)))
      .withColumn("hostport", lower(regexp_extract(col("url"), "^[A-Za-z]+://([^/?#]+)", 1)))
      .withColumn("rest", regexp_extract(col("url"), "^[A-Za-z]+://[^/?#]+([^#]*)", 1))
      .withColumn("h", when(col("hostport").startsWith("www."),
        expr("substring(hostport, 5)")).otherwise(col("hostport")))
      .withColumn("host",
        when(col("scheme") === "http" && col("h").endsWith(":80"),
          expr("substring(h, 1, length(h) - 3)"))
          .when(col("scheme") === "https" && col("h").endsWith(":443"),
            expr("substring(h, 1, length(h) - 4)"))
          .otherwise(col("h")))
      .withColumn("rawpath", when(instr(col("rest"), "?") > 0,
        expr("substring(rest, 1, instr(rest, '?') - 1)")).otherwise(col("rest")))
      .withColumn("rawq", when(instr(col("rest"), "?") > 0,
        expr("substring(rest, instr(rest, '?') + 1)")).otherwise(lit("")))
      .withColumn("path",
        when(col("rawpath") === "", lit("/"))
          .when(col("rawpath") =!= lit("/") && col("rawpath").endsWith("/"),
            expr("substring(rawpath, 1, length(rawpath) - 1)"))
          .otherwise(col("rawpath")))
      .withColumn("q", array_join(
        sort_array(filter(split(col("rawq"), "&"), p =>
          p =!= "" && !TrackingPrefixes.map(t => p.startsWith(t)).reduce(_ || _))),
        "&"))
      .withColumn("canon",
        concat(col("scheme"), lit("://"), col("host"), col("path"),
          when(col("q") === "", lit("")).otherwise(concat(lit("?"), col("q")))))

  /** (doc_id, canon) — plant messy URLs, canonicalize. */
  def canonicalUrls(spark: SparkSession, dir: String): DataFrame =
    canonicalize(
      graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
        .select(col("doc_id"), plantUrl.as("url")))
      .select("doc_id", "canon")

  /** CTE chain (no leading WITH) canonicalizing `rel(doc_id, url)` —
    * ends in `normed(doc_id, scheme, host, path, q)`; the canonical URL
    * is [[canonSelectSql]]. Shared by the q_url_canonical oracle and
    * composed oracles (crawl pipeline).
    */
  def canonicalCtesFrom(rel: String): String =
    s"""parts AS (
       |  SELECT doc_id,
       |    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
       |    lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)) AS hostport,
       |    regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^#]*)', 1) AS rest
       |  FROM $rel),
       |hosted AS (
       |  SELECT doc_id, scheme, rest,
       |    CASE WHEN starts_with(hostport, 'www.') THEN substr(hostport, 5)
       |         ELSE hostport END AS h
       |  FROM parts),
       |ported AS (
       |  SELECT doc_id, scheme, rest,
       |    CASE WHEN scheme = 'http' AND h LIKE '%:80' THEN substr(h, 1, length(h) - 3)
       |         WHEN scheme = 'https' AND h LIKE '%:443' THEN substr(h, 1, length(h) - 4)
       |         ELSE h END AS host
       |  FROM hosted),
       |pathq AS (
       |  SELECT doc_id, scheme, host,
       |    CASE WHEN instr(rest, '?') > 0 THEN substr(rest, 1, instr(rest, '?') - 1)
       |         ELSE rest END AS rawpath,
       |    CASE WHEN instr(rest, '?') > 0 THEN substr(rest, instr(rest, '?') + 1)
       |         ELSE '' END AS rawq
       |  FROM ported),
       |normed AS (
       |  SELECT doc_id, scheme, host,
       |    CASE WHEN rawpath = '' THEN '/'
       |         WHEN rawpath <> '/' AND rawpath LIKE '%/'
       |           THEN substr(rawpath, 1, length(rawpath) - 1)
       |         ELSE rawpath END AS path,
       |    -- array_to_string([]) is NULL in DuckDB but '' in Spark: coalesce
       |    COALESCE(array_to_string(list_sort(list_filter(string_split(rawq, '&'),
       |      p -> p <> '' AND NOT starts_with(p, 'utm_')
       |        AND NOT starts_with(p, 'gclid=') AND NOT starts_with(p, 'fbclid='))),
       |      '&'), '') AS q
       |  FROM pathq)""".stripMargin

  /** The canonical-URL expression over [[canonicalCtesFrom]]'s `normed`. */
  val canonSelectSql: String =
    "scheme || '://' || host || path || CASE WHEN q = '' THEN '' ELSE '?' || q END"

  def canonicalOracle: String =
    s"""WITH planted AS (${plantUrlSql}),
       |${canonicalCtesFrom("planted")}
       |SELECT doc_id, $canonSelectSql AS canon
       |FROM normed""".stripMargin

  // ---- RFC 3986 §6.2.2 percent-encoding normalization (X150): the
  // equivalence layer IN FRONT of the string canonicalizer — %7Ealice,
  // %7ealice and ~alice are the same URI. Implemented as the codegen'd
  // [[graft.plans.PctNormalize]] expression; the gate plants the
  // uppercase-hex, decode-unreserved, keep-reserved and malformed
  // classes and the oracle restates each closed-form.

  /** `pct_normalize(c)` as a Column. */
  def pctNormalize(c: Column): Column =
    org.apache.spark.sql.GraftColumnShim.column(
      graft.plans.PctNormalize(
        org.apache.spark.sql.GraftColumnShim.expression(c)))

  /** Plant (doc_id % 6): decode-unreserved tilde / multi-escape run /
    * reserved kept + case uppercased / reserved gen+sub delims / the
    * malformed passthrough / mixed decode-and-keep.
    */
  def plantPctUrl: Column = {
    val id = col("doc_id")
    concat(lit("http://p"), (id % 7).cast("string"), lit(".example.com"),
      when(id % 6 === 0, lit("/a/%7euser"))
        .when(id % 6 === 1, lit("/b/%41%42%63d"))
        .when(id % 6 === 2, lit("/c%2fd?x=%2f"))
        .when(id % 6 === 3, lit("/d/%3a%2b"))
        .when(id % 6 === 4, lit("/e/%G1%"))
        .otherwise(lit("/f/%54%65st%20x")))
  }

  def pctNormalized(spark: SparkSession, dir: String): DataFrame =
    graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"), plantPctUrl.as("url"))
      .select(col("doc_id"), col("url"), pctNormalize(col("url")).as("normalized"))

  def pctOracle: String =
    s"""SELECT doc_id,
       |  'http://p' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' ||
       |  CASE doc_id % 6
       |    WHEN 0 THEN '/a/%7euser' WHEN 1 THEN '/b/%41%42%63d'
       |    WHEN 2 THEN '/c%2fd?x=%2f' WHEN 3 THEN '/d/%3a%2b'
       |    WHEN 4 THEN '/e/%G1%' ELSE '/f/%54%65st%20x' END AS url,
       |  'http://p' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' ||
       |  CASE doc_id % 6
       |    WHEN 0 THEN '/a/~user' WHEN 1 THEN '/b/ABcd'
       |    WHEN 2 THEN '/c%2Fd?x=%2F' WHEN 3 THEN '/d/%3A%2B'
       |    WHEN 4 THEN '/e/%G1%' ELSE '/f/Test%20x' END AS normalized
       |FROM documents""".stripMargin

  // ---- IDN hosts (X151): RFC 3492 Punycode per label, both
  // directions, via the codegen'd [[graft.plans.Idn]] expressions. The
  // plant pairs are ICANN's published IDN test strings plus the
  // classic German examples, each verified against `java.net.IDN`.

  def idnAscii(c: Column): Column =
    org.apache.spark.sql.GraftColumnShim.column(
      graft.plans.IdnAscii(org.apache.spark.sql.GraftColumnShim.expression(c)))

  def idnUnicode(c: Column): Column =
    org.apache.spark.sql.GraftColumnShim.column(
      graft.plans.IdnUnicode(org.apache.spark.sql.GraftColumnShim.expression(c)))

  def plantIdnHost: Column = {
    val id = col("doc_id")
    when(id % 8 === 0, lit("bücher.example"))
      .when(id % 8 === 1, lit("münchen.de"))
      .when(id % 8 === 2, lit("δοκιμή.gr"))
      .when(id % 8 === 3, lit("испытание.ru"))
      .when(id % 8 === 4, lit("テスト.jp"))
      .when(id % 8 === 5, lit("测试.cn"))
      .when(id % 8 === 6, lit("shop.büro.example"))
      .otherwise(concat(lit("plain"), (id % 9).cast("string"), lit(".example.com")))
  }

  /** The UTS-46 mapping plants (round-12 sibling of [[plantIdnHost]]):
    * each case exercises one mapping rule — ß deviation, ZWJ deletion,
    * ligature and width NFKC folds, final sigma, and a
    * prohibited-code-point rejection (space inside a label). Expected
    * registry forms confirmed against `java.net.IDN` (IDNA2003).
    */
  def plantIdnUtsHost: Column = {
    val id = col("doc_id")
    when(id % 6 === 0, lit("faß.de"))
      .when(id % 6 === 1, lit("a‍b.example"))
      .when(id % 6 === 2, lit("ﬁrm.example"))
      .when(id % 6 === 3, lit("ｅｘａｍｐｌｅ.com"))
      .when(id % 6 === 4, lit("σολος.gr"))
      .otherwise(lit("bad host.example"))
  }

  /** q_idn_hosts_uts46: the mapping-rule plants through the same
    * encode→decode plan as [[idnHosts]]. Deviation characters do NOT
    * display-round-trip (transitional mapping is lossy by design:
    * faß → fass stays fass), so this gate states both forms
    * closed-form instead of asserting round-trip.
    */
  def idnHostsUts46(spark: SparkSession, dir: String): DataFrame =
    graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"), plantIdnUtsHost.as("host"))
      .select(col("doc_id"), col("host"),
        idnAscii(col("host")).as("ascii_host"))
      .select(col("doc_id"), col("host"), col("ascii_host"),
        idnUnicode(col("ascii_host")).as("display_host"))

  def idnUts46Oracle: String =
    s"""SELECT doc_id,
       |  CASE doc_id % 6
       |    WHEN 0 THEN 'faß.de' WHEN 1 THEN 'a' || chr(8205) || 'b.example'
       |    WHEN 2 THEN 'ﬁrm.example' WHEN 3 THEN 'ｅｘａｍｐｌｅ.com'
       |    WHEN 4 THEN 'σολος.gr'
       |    ELSE 'bad host.example' END AS host,
       |  CASE doc_id % 6
       |    WHEN 0 THEN 'fass.de' WHEN 1 THEN 'ab.example'
       |    WHEN 2 THEN 'firm.example' WHEN 3 THEN 'example.com'
       |    WHEN 4 THEN 'xn--wxahbnd.gr'
       |    ELSE 'bad host.example' END AS ascii_host,
       |  CASE doc_id % 6
       |    WHEN 0 THEN 'fass.de' WHEN 1 THEN 'ab.example'
       |    WHEN 2 THEN 'firm.example' WHEN 3 THEN 'example.com'
       |    WHEN 4 THEN 'σολοσ.gr'
       |    ELSE 'bad host.example' END AS display_host
       |FROM documents""".stripMargin

  // ---- STRICT registry form (X219): the UTS-46 BIDI/CONTEXTJ
  // residual enforced — nontransitional mapping (deviations kept),
  // RFC 5892 join-control legality, RFC 5893 bidi label rules;
  // ill-formed hosts answer NULL, never a fabricated key.

  def idnAsciiStrict(c: Column): Column =
    org.apache.spark.sql.GraftColumnShim.column(
      graft.plans.IdnAsciiStrict(org.apache.spark.sql.GraftColumnShim.expression(c)))

  /** Ten vectors, one rule each: legal Persian ZWNJ in a cursive break
    * (encodes WITH the joiner — xn--mgba3gch31f060k is the published
    * UTS-46 example form), ZWNJ between non-joining letters (reject),
    * ZWJ after virama (Devanagari क्+ZWJ+ष, legal), ZWJ without
    * virama (reject), pure-RTL Hebrew (legal), EN digit FIRST in an
    * RTL label (RFC 5893 rule 1, reject), EN+AN mixed (rule 4,
    * reject), faß kept nontransitionally (xn--fa-hia, NOT fass),
    * plain Latin (both paths agree), RTL ending in EN (legal — rule 3
    * admits EN finals).
    */
  def plantIdnStrictHost: Column = {
    val id = col("doc_id")
    // joiners spelled as escapes: an editor/formatter must never be
    // able to silently drop the invisible code point under test
    when(id % 10 === 0, lit("\u0646\u0627\u0645\u0647\u200C\u0627\u06CC.example"))
      .when(id % 10 === 1, lit("a\u200Cb.example"))
      .when(id % 10 === 2, lit("\u0915\u094D\u200D\u0937.example"))
      .when(id % 10 === 3, lit("\u0915\u200D\u0937.example"))
      .when(id % 10 === 4, lit("אבג.example"))
      .when(id % 10 === 5, lit("1אבג.example"))
      .when(id % 10 === 6, lit("א1٣.example"))
      .when(id % 10 === 7, lit("faß.example"))
      .when(id % 10 === 8, lit("bücher.example"))
      .otherwise(lit("אבג1.example"))
  }

  def idnHostsStrict(spark: SparkSession, dir: String): DataFrame =
    graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"), plantIdnStrictHost.as("host"))
      .select(col("doc_id"), col("host"),
        idnAsciiStrict(col("host")).as("strict_host"))

  def idnStrictOracle: String =
    s"""SELECT doc_id,
       |  CASE doc_id % 10
       |    WHEN 0 THEN 'نامه' || chr(8204) || 'ای.example'
       |    WHEN 1 THEN 'a' || chr(8204) || 'b.example'
       |    WHEN 2 THEN 'क' || chr(2381) || chr(8205) || 'ष.example'
       |    WHEN 3 THEN 'क' || chr(8205) || 'ष.example'
       |    WHEN 4 THEN 'אבג.example'
       |    WHEN 5 THEN '1אבג.example'
       |    WHEN 6 THEN 'א1٣.example'
       |    WHEN 7 THEN 'faß.example'
       |    WHEN 8 THEN 'bücher.example'
       |    ELSE 'אבג1.example' END AS host,
       |  CASE doc_id % 10
       |    WHEN 0 THEN 'xn--mgba3gch31f060k.example'
       |    WHEN 1 THEN NULL
       |    WHEN 2 THEN 'xn--11b2ezcw70k.example'
       |    WHEN 3 THEN NULL
       |    WHEN 4 THEN 'xn--4dbcd.example'
       |    WHEN 5 THEN NULL
       |    WHEN 6 THEN NULL
       |    WHEN 7 THEN 'xn--fa-hia.example'
       |    WHEN 8 THEN 'xn--bcher-kva.example'
       |    ELSE 'xn--1-zhcde.example' END AS strict_host
       |FROM documents""".stripMargin

  /** (doc_id, host, ascii_host, display_host): registry form via
    * encode, display form via decode of the REGISTRY form — the full
    * round trip rides one plan.
    */
  def idnHosts(spark: SparkSession, dir: String): DataFrame =
    graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"), plantIdnHost.as("host"))
      .select(col("doc_id"), col("host"),
        idnAscii(col("host")).as("ascii_host"))
      .select(col("doc_id"), col("host"), col("ascii_host"),
        idnUnicode(col("ascii_host")).as("display_host"))

  def idnOracle: String =
    s"""SELECT doc_id,
       |  CASE doc_id % 8
       |    WHEN 0 THEN 'bücher.example' WHEN 1 THEN 'münchen.de'
       |    WHEN 2 THEN 'δοκιμή.gr' WHEN 3 THEN 'испытание.ru'
       |    WHEN 4 THEN 'テスト.jp' WHEN 5 THEN '测试.cn'
       |    WHEN 6 THEN 'shop.büro.example'
       |    ELSE 'plain' || CAST(doc_id % 9 AS VARCHAR) || '.example.com' END AS host,
       |  CASE doc_id % 8
       |    WHEN 0 THEN 'xn--bcher-kva.example' WHEN 1 THEN 'xn--mnchen-3ya.de'
       |    WHEN 2 THEN 'xn--jxalpdlp.gr' WHEN 3 THEN 'xn--80akhbyknj4f.ru'
       |    WHEN 4 THEN 'xn--zckzah.jp' WHEN 5 THEN 'xn--0zwm56d.cn'
       |    WHEN 6 THEN 'shop.xn--bro-hoa.example'
       |    ELSE 'plain' || CAST(doc_id % 9 AS VARCHAR) || '.example.com' END AS ascii_host,
       |  CASE doc_id % 8
       |    WHEN 0 THEN 'bücher.example' WHEN 1 THEN 'münchen.de'
       |    WHEN 2 THEN 'δοκιμή.gr' WHEN 3 THEN 'испытание.ru'
       |    WHEN 4 THEN 'テスト.jp' WHEN 5 THEN '测试.cn'
       |    WHEN 6 THEN 'shop.büro.example'
       |    ELSE 'plain' || CAST(doc_id % 9 AS VARCHAR) || '.example.com' END AS display_host
       |FROM documents""".stripMargin

  // ---- percent-ENCODING (X160): the inverse direction — composing
  // safe URLs from raw extracted strings, via the codegen'd
  // [[graft.plans.PctEncode]] (path-segment and query-value grammars).

  def pctEncodePath(c: Column): Column =
    org.apache.spark.sql.GraftColumnShim.column(
      graft.plans.PctEncode(
        org.apache.spark.sql.GraftColumnShim.expression(c), queryMode = false))

  def pctEncodeQuery(c: Column): Column =
    org.apache.spark.sql.GraftColumnShim.column(
      graft.plans.PctEncode(
        org.apache.spark.sql.GraftColumnShim.expression(c), queryMode = true))

  /** Raw-string plant (doc_id % 6): clean / space + sub-delim / Latin-1
    * multi-byte / Cyrillic multi-byte / slash-and-equals / literal `%`
    * and `+` — the two grammars diverge on half of them.
    */
  def plantRawComponent: Column = {
    val k = col("doc_id") % 6
    when(k === 0, lit("plain-segment_1.txt"))
      .when(k === 1, lit("a b&c"))
      .when(k === 2, lit("café"))
      .when(k === 3, lit("привет"))
      .when(k === 4, lit("q=1/2"))
      .otherwise(lit("100%+"))
  }

  def pctEncoded(spark: SparkSession, dir: String): DataFrame =
    graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"), plantRawComponent.as("raw"))
      .select(col("doc_id"), col("raw"),
        pctEncodePath(col("raw")).as("path_enc"),
        pctEncodeQuery(col("raw")).as("query_enc"))

  def pctEncodeOracle: String =
    s"""SELECT doc_id,
       |  CASE doc_id % 6
       |    WHEN 0 THEN 'plain-segment_1.txt' WHEN 1 THEN 'a b&c'
       |    WHEN 2 THEN 'café' WHEN 3 THEN 'привет'
       |    WHEN 4 THEN 'q=1/2' ELSE '100%+' END AS raw,
       |  CASE doc_id % 6
       |    WHEN 0 THEN 'plain-segment_1.txt' WHEN 1 THEN 'a%20b&c'
       |    WHEN 2 THEN 'caf%C3%A9'
       |    WHEN 3 THEN '%D0%BF%D1%80%D0%B8%D0%B2%D0%B5%D1%82'
       |    WHEN 4 THEN 'q=1%2F2' ELSE '100%25+' END AS path_enc,
       |  CASE doc_id % 6
       |    WHEN 0 THEN 'plain-segment_1.txt' WHEN 1 THEN 'a%20b%26c'
       |    WHEN 2 THEN 'caf%C3%A9'
       |    WHEN 3 THEN '%D0%BF%D1%80%D0%B8%D0%B2%D0%B5%D1%82'
       |    WHEN 4 THEN 'q%3D1%2F2' ELSE '100%25%2B' END AS query_enc
       |FROM documents""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_url_canonical" -> Query((s, dir) => canonicalUrls(s, dir), canonicalOracle),
    "q_pct_normalize" -> Query((s, dir) => pctNormalized(s, dir), pctOracle),
    "q_idn_hosts" -> Query((s, dir) => idnHosts(s, dir), idnOracle),
    "q_idn_hosts_uts46" -> Query((s, dir) => idnHostsUts46(s, dir), idnUts46Oracle),
    "q_idn_hosts_strict" -> Query((s, dir) => idnHostsStrict(s, dir), idnStrictOracle),
    "q_pct_encode" -> Query((s, dir) => pctEncoded(s, dir), pctEncodeOracle)
  )
}
