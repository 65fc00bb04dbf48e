package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** HTTP caching semantics for an incremental crawler — the layer
  * between the fetch scheduler (X122) and the fetcher: RFC 9111
  * freshness decides WHETHER a stored copy needs a network round-trip
  * at all, and the 304-revalidation merge decides what the corpus
  * keeps after the round-trip comes back.
  *
  *  - `q_cache_freshness`: per stored response, parse the caching
  *    headers off the REAL parsed message ([[graft.plans.HttpMessage]]
  *    — not a restated fixture) and compute the RFC 9111 freshness
  *    decision: `Cache-Control: max-age` vs `Age` (§4.2.1), `no-cache`
  *    forcing revalidation (§5.2.2.4), `Expires` against the pinned
  *    clock (§4.2.1), and the 10%-of-Last-Modified-age heuristic when
  *    nothing explicit is present (§4.2.2). All integer seconds; the
  *    clock is a pinned constant ([[NowEpoch]]) so both engines are
  *    deterministic.
  *  - `q_revalidate_merge`: the conditional-fetch outcome join — 304
  *    keeps the stored payload (`revalidated`), 200 replaces it
  *    (`refetched`), 404 tombstones it (`gone`); statuses come from
  *    parsing the planted raw responses, the merge is ONE url-keyed
  *    join (AQE picks broadcast vs shuffle by stored-side size).
  *
  * Scale shape: freshness is per-row (zero exchanges beyond the
  * widen); the merge is the one join a revalidation pass genuinely
  * needs, keyed on the canonical URL both sides already carry.
  */
object Revalidate {

  private val Crlf = "\r\n"

  /** The pinned evaluation clock: 2026-08-01T00:00:00Z. */
  val NowEpoch = 1785542400L

  /** IMF-fixdate (RFC 9110 §5.6.7) minus the weekday — Spark's
    * post-3.0 datetime parser accepts day-of-week symbols only when
    * FORMATTING, so [[httpDateEpoch]] strips the (redundant by
    * construction) `EEE, ` prefix before parsing. Session timezone is
    * pinned UTC, matching DuckDB's naive strptime.
    */
  val HttpDateFmt = "dd MMM yyyy HH:mm:ss 'GMT'"

  /** IMF-fixdate string → epoch seconds (null-safe). */
  def httpDateEpoch(c: Column): Column =
    unix_timestamp(substring(c, 6, Int.MaxValue - 8), HttpDateFmt)

  private def shim(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.GraftColumnShim.column(e)
  private def ex(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.GraftColumnShim.expression(c)
  private def httpMessage(c: Column): Column =
    shim(graft.plans.HttpMessage(ex(c)))

  /** Caching-header rotation (doc_id % 4): explicit max-age + Age,
    * no-cache, Expires (past/future IMF-fixdate with doc-varying
    * minutes so the parse is non-degenerate), and header-free with
    * Last-Modified + Age for the heuristic branch. Independently of
    * the caching class, every doc_id % 3 == 0 response also carries an
    * `ETag` (moduli 3 and 4 are coprime, so every caching class gets
    * both with-ETag and without-ETag members — [[conditionalRequests]]
    * needs all validator combinations to occur).
    */
  def plantCachingResponse: Column = {
    val id = col("doc_id")
    def resp(cacheHeaders: Column): Column = concat(
      lit("HTTP/1.1 200 OK" + Crlf),
      cacheHeaders,
      when(id % 3 === 0,
        concat(lit("ETag: \"d"), id.cast("string"), lit("-v"),
          (id % 7).cast("string"), lit("\"" + Crlf))).otherwise(lit("")),
      lit("Content-Length: 1" + Crlf),
      lit(Crlf), lit("b"))
    val maxAge = concat(
      lit("Cache-Control: public, max-age="),
      (lit(300) + (id % 600) * 7).cast("string"), lit(Crlf),
      lit("Age: "), (id % 400).cast("string"), lit(Crlf))
    val noCache = lit("Cache-Control: no-cache, max-age=600" + Crlf)
    val expires = concat(
      lit("Expires: "),
      // the branch driver must vary WITHIN the %4==2 class (all even
      // ids) — doc_id%2 would pin every Expires to the past branch
      when(id % 8 === 2,
        concat(lit("Thu, 01 Jan 2026 00:"),
          lpad((id % 60).cast("string"), 2, "0"), lit(":00 GMT")))
        .otherwise(
          concat(lit("Mon, 01 Mar 2027 00:"),
            lpad((id % 60).cast("string"), 2, "0"), lit(":00 GMT"))),
      lit(Crlf))
    val heuristic = concat(
      lit("Last-Modified: Fri, 01 Aug 2025 "),
      lpad((id % 24).cast("string"), 2, "0"), lit(":00:00 GMT" + Crlf),
      lit("Age: "), (id % 40000).cast("string"), lit(Crlf))
    resp(when(id % 4 === 0, maxAge)
      .when(id % 4 === 1, noCache)
      .when(id % 4 === 2, expires)
      .otherwise(heuristic))
  }

  /** First value of a (lowercased-name) header off the parsed header
    * list, null when absent. `try_element_at`, not `element_at` —
    * missing headers must read as null, never error.
    */
  private def hdr(hs: Column, name: String): Column = {
    val pfx = name + ": "
    try_element_at(
      transform(
        filter(hs, h => h.startsWith(pfx)),
        h => h.substr(lit(pfx.length + 1), lit(Int.MaxValue))),
      lit(1))
  }

  /** Shared parse-and-decide chain: one [[graft.plans.HttpMessage]]
    * parse, the RFC 9111 decision columns, AND the stored validators
    * (`etag`, `lm`) — [[freshness]] and [[conditionalRequests]] each
    * project their slice, and Catalyst's column pruning collapses the
    * unused validator (or decision) expressions out of whichever plan
    * doesn't read them.
    */
  private def decided(spark: SparkSession, dir: String): DataFrame = {
    graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"),
        httpMessage(plantCachingResponse).getField("headers").as("hs"))
      .select(col("doc_id"),
        hdr(col("hs"), "cache-control").as("cc"),
        hdr(col("hs"), "age").as("ageh"),
        hdr(col("hs"), "expires").as("exp"),
        hdr(col("hs"), "last-modified").as("lm"),
        hdr(col("hs"), "etag").as("etag"))
      .select(col("doc_id"),
        col("cc"), col("exp"), col("lm"), col("etag"),
        regexp_extract(coalesce(col("cc"), lit("")), "max-age=(\\d+)", 1).as("ma"),
        coalesce(col("ageh").cast("long"), lit(0L)).as("age_s"),
        httpDateEpoch(col("exp")).as("exp_e"),
        httpDateEpoch(col("lm")).as("lm_e"))
      .select(col("doc_id"), col("lm"), col("etag"),
        when(col("cc").contains("no-cache"), "no-cache")
          .when(col("ma") =!= "", "max-age")
          .when(col("exp").isNotNull, "expires")
          .otherwise("heuristic").as("policy"),
        when(col("ma") =!= "", col("ma").cast("long"))
          .when(col("exp").isNotNull, col("exp_e") - NowEpoch)
          .otherwise(expr(s"($NowEpoch - lm_e) DIV 10")).as("ttl_s"),
        col("age_s"))
      .select(col("doc_id"), col("lm"), col("etag"),
        col("policy"), col("ttl_s"), col("age_s"),
        when(col("policy") === "no-cache", 0)
          .when(col("ttl_s") > col("age_s"), 1).otherwise(0).as("fresh"))
  }

  /** (doc_id, policy, ttl_s, age_s, fresh) — the freshness decision,
    * computed GENERICALLY from whatever headers the parsed message
    * carries (the rotation is only the fixture).
    */
  def freshness(spark: SparkSession, dir: String): DataFrame =
    decided(spark, dir)
      .select(col("doc_id"), col("policy"), col("ttl_s"), col("age_s"), col("fresh"))

  /** (doc_id, action, if_none_match, if_modified_since) — the
    * conditional request a cache SHOULD make for each stale copy
    * (RFC 9110 §13.1.2: send BOTH validators when both are stored;
    * If-None-Match alone beats If-Modified-Since alone): `skip` when
    * the copy is still fresh (no round-trip at all), `conditional`
    * when at least one validator exists, `unconditional` when the
    * stored response offered none. Rides the same per-row chain as
    * [[freshness]] — zero exchanges beyond the widen.
    */
  def conditionalRequests(spark: SparkSession, dir: String): DataFrame =
    decided(spark, dir)
      .select(col("doc_id"),
        when(col("fresh") === 1, "skip")
          .when(col("etag").isNotNull || col("lm").isNotNull, "conditional")
          .otherwise("unconditional").as("action"),
        when(col("fresh") === 0, col("etag")).as("if_none_match"),
        when(col("fresh") === 0, col("lm")).as("if_modified_since"))

  def freshnessOracle: String =
    s"""WITH h AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 4 = 0
       |         THEN 'public, max-age=' || CAST(300 + (doc_id % 600) * 7 AS VARCHAR)
       |         WHEN doc_id % 4 = 1 THEN 'no-cache, max-age=600' END AS cc,
       |    CASE WHEN doc_id % 4 = 0 THEN doc_id % 400
       |         WHEN doc_id % 4 = 3 THEN doc_id % 40000 ELSE 0 END AS age_s,
       |    CASE WHEN doc_id % 4 = 2 THEN
       |      CASE WHEN doc_id % 8 = 2
       |           THEN 'Thu, 01 Jan 2026 00:' || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') || ':00 GMT'
       |           ELSE 'Mon, 01 Mar 2027 00:' || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') || ':00 GMT'
       |      END END AS exp,
       |    CASE WHEN doc_id % 4 = 3
       |         THEN 'Fri, 01 Aug 2025 ' || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0') || ':00:00 GMT'
       |         END AS lm
       |  FROM documents),
       |p AS (
       |  SELECT doc_id, cc, exp, age_s,
       |    regexp_extract(COALESCE(cc, ''), 'max-age=(\\d+)', 1) AS ma,
       |    CAST(epoch(strptime(exp, '%a, %d %b %Y %H:%M:%S GMT')) AS BIGINT) AS exp_e,
       |    CAST(epoch(strptime(lm, '%a, %d %b %Y %H:%M:%S GMT')) AS BIGINT) AS lm_e
       |  FROM h),
       |d AS (
       |  SELECT doc_id,
       |    CASE WHEN cc LIKE '%no-cache%' THEN 'no-cache'
       |         WHEN ma <> '' THEN 'max-age'
       |         WHEN exp IS NOT NULL THEN 'expires'
       |         ELSE 'heuristic' END AS policy,
       |    CASE WHEN ma <> '' THEN CAST(ma AS BIGINT)
       |         WHEN exp IS NOT NULL THEN exp_e - $NowEpoch
       |         ELSE ($NowEpoch - lm_e) // 10 END AS ttl_s,
       |    CAST(age_s AS BIGINT) AS age_s
       |  FROM p)
       |SELECT doc_id, policy, ttl_s, age_s,
       |  CAST(CASE WHEN policy = 'no-cache' THEN 0
       |       WHEN ttl_s > age_s THEN 1 ELSE 0 END AS INTEGER) AS fresh
       |FROM d""".stripMargin

  def conditionalRequestsOracle: String =
    s"""WITH f AS (${freshnessOracle}),
       |v AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 3 = 0
       |         THEN '"d' || CAST(doc_id AS VARCHAR) || '-v' ||
       |              CAST(doc_id % 7 AS VARCHAR) || '"' END AS etag,
       |    CASE WHEN doc_id % 4 = 3
       |         THEN 'Fri, 01 Aug 2025 ' || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0') || ':00:00 GMT'
       |         END AS lm
       |  FROM documents)
       |SELECT doc_id,
       |  CASE WHEN fresh = 1 THEN 'skip'
       |       WHEN etag IS NOT NULL OR lm IS NOT NULL THEN 'conditional'
       |       ELSE 'unconditional' END AS action,
       |  CASE WHEN fresh = 0 THEN etag END AS if_none_match,
       |  CASE WHEN fresh = 0 THEN lm END AS if_modified_since
       |FROM f JOIN v USING (doc_id)""".stripMargin

  /** The conditional-fetch outcome rotation (doc_id % 5): 0 → 304
    * Not Modified, 4 → 404 Gone, else 200 with a replacement body.
    */
  def plantFetchResponse: Column = {
    val id = col("doc_id")
    val v2 = concat(lit("v2 "), substring(coalesce(col("text"), lit("")), 1, 50))
    when(id % 5 === 0,
      lit("HTTP/1.1 304 Not Modified" + Crlf + "Content-Length: 0" + Crlf + Crlf))
      .when(id % 5 === 4,
        lit("HTTP/1.1 404 Not Found" + Crlf + "Content-Length: 0" + Crlf + Crlf))
      .otherwise(concat(
        lit("HTTP/1.1 200 OK" + Crlf),
        lit("Content-Type: text/plain" + Crlf),
        lit("Content-Length: "), octet_length(v2).cast("string"), lit(Crlf),
        lit(Crlf), v2))
  }

  private def urlKey: Column = concat(
    lit("crawl"), (col("doc_id") % 23).cast("string"),
    lit(".example.com/p/"), col("doc_id").cast("string"))

  /** (url_key, status, outcome, payload, digest) — merge today's
    * conditional-fetch responses with yesterday's stored copies.
    */
  def merge(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
    val stored = Tables.documents(spark, dir)
      .select(urlKey.as("url_key"), coalesce(col("text"), lit("")).as("stored_payload"))
    val fetched = docs
      .select(col("doc_id"), urlKey.as("url_key"),
        httpMessage(plantFetchResponse).as("h"))
      .select(col("url_key"),
        col("h").getField("status").as("status"),
        col("h").getField("body").as("body"))
    fetched.join(stored, Seq("url_key"), "left")
      .select(col("url_key"), col("status"),
        when(col("status") === 304, "revalidated")
          .when(col("status") === 200, "refetched")
          .otherwise("gone").as("outcome"),
        when(col("status") === 304, col("stored_payload"))
          .when(col("status") === 200, col("body")).as("payload"))
      .withColumn("digest",
        when(col("payload").isNotNull, sha2(col("payload").cast("binary"), 256)))
  }

  def mergeOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    'crawl' || CAST(doc_id % 23 AS VARCHAR) || '.example.com/p/' ||
       |      CAST(doc_id AS VARCHAR) AS url_key,
       |    coalesce(text, '') AS t
       |  FROM documents)
       |SELECT url_key,
       |  CAST(CASE WHEN doc_id % 5 = 0 THEN 304
       |       WHEN doc_id % 5 = 4 THEN 404 ELSE 200 END AS INTEGER) AS status,
       |  CASE WHEN doc_id % 5 = 0 THEN 'revalidated'
       |       WHEN doc_id % 5 = 4 THEN 'gone' ELSE 'refetched' END AS outcome,
       |  CASE WHEN doc_id % 5 = 0 THEN t
       |       WHEN doc_id % 5 = 4 THEN NULL
       |       ELSE 'v2 ' || substr(t, 1, 50) END AS payload,
       |  CASE WHEN doc_id % 5 = 4 THEN NULL
       |       ELSE sha256(CASE WHEN doc_id % 5 = 0 THEN t
       |                        ELSE 'v2 ' || substr(t, 1, 50) END) END AS digest
       |FROM d""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_cache_freshness" -> Query((s, dir) => freshness(s, dir), freshnessOracle),
    "q_conditional_request" -> Query((s, dir) => conditionalRequests(s, dir),
      conditionalRequestsOracle),
    "q_revalidate_merge" -> Query((s, dir) => merge(s, dir), mergeOracle)
  )
}
