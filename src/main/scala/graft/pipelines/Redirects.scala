package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Redirect-chain resolution — the pass a crawl runs between fetching
  * and indexing: a 301/302 response's `Location` header points at the
  * page's real home, and chains (a→b→c) must collapse to their
  * terminal 200 before URL-keyed dedup or link analysis sees them.
  * Edges come from the REAL HTTP surface: each doc plants a raw
  * response (301 + Location, or a terminal 200), the X119
  * `http_message` split extracts status + headers, and the Location
  * value is pulled from the parsed header list — no side-channel edge
  * table.
  *
  * Resolution is BOUNDED-HOP ([[MaxHops]] self-joins over the edge
  * set), the shape that survives adversarial input at 100 TB: a
  * recursive/unbounded walk on a crawl-scale graph is a loop bomb
  * (redirect cycles are routine in the wild), while K fixed hash joins
  * cost K × edge-sized shuffles no matter what the graph does — cycles
  * and over-deep chains simply come back `unresolved`, exactly what a
  * production fetcher records. The edge side holds only redirect rows
  * (a small fraction of any real crawl), so AQE broadcasts it at small
  * scale and degrades to a shuffle join at full scale.
  *
  * Reference scope: the reference ETL has no crawl surface; this is
  * north-star LLM-pipeline machinery (every CommonCrawl-derived corpus
  * resolves redirects before canonical-URL dedup).
  */
object Redirects {

  /** Fetchers conventionally give up after a handful of hops (curl
    * defaults to 50 but crawlers use 4-8); 4 keeps the gate's plan
    * readably sized while exercising ok/too-deep/cycle outcomes.
    */
  val MaxHops = 4

  private def urlOf(id: Column): Column =
    concat(lit("https://r"), (id % 23).cast("string"),
      lit(".example.com/p"), id.cast("string"))

  /** Raw-response plant: every seventh doc is a terminal 200; the rest
    * 301 to the PREVIOUS doc's URL (chains of length doc_id%7, so some
    * exceed [[MaxHops]]), except a planted 2-cycle pair (%61 ∈ {13,14}
    * point at each other) — the loop a bounded resolver must survive.
    */
  def plantHttp: Column = {
    val id = col("doc_id")
    // %61==13 points FORWARD; its successor (like every other doc)
    // points back — that ordinary back-edge closes the 13↔14 2-cycle,
    // no second special case needed
    val nxt = when(id % 61 === 13, id + 1).otherwise(id - 1)
    when(id % 7 === 0,
      lit("HTTP/1.1 200 OK\r\nContent-Length: 0\r\n\r\n"))
      .otherwise(concat(
        lit("HTTP/1.1 301 Moved Permanently\r\nLocation: "),
        urlOf(nxt), lit("\r\n\r\n")))
  }

  /** (doc_id, url, final_url, hops, final_status 'ok'|'unresolved') —
    * every URL chased through ≤ [[MaxHops]] Location hops; `ok` means
    * the chain landed on a terminal 200 within budget.
    */
  def resolve(spark: SparkSession, dir: String): DataFrame = {
    val msgs = graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"), urlOf(col("doc_id")).as("url"),
        org.apache.spark.sql.GraftColumnShim.column(
          graft.plans.HttpMessage(
            org.apache.spark.sql.GraftColumnShim.expression(plantHttp)))
          .as("h"))
    // Location out of the PARSED header list ("location: <url>") — the
    // header names http_message emits are lowercased
    val edges = msgs.filter(col("h").getField("status") === 301)
      .select(col("url").as("src"),
        expr("substring(element_at(filter(h.headers, " +
          "x -> startswith(x, 'location: ')), 1), 11)").as("dst"))
    var cur = msgs.select(col("doc_id"), col("url"),
      col("url").as("cur"), lit(0).as("hops"))
    for (i <- 1 to MaxHops) {
      val e = edges.select(col("src").as(s"src_$i"), col("dst").as(s"dst_$i"))
      cur = cur.join(e, cur("cur") === e(s"src_$i"), "left")
        .select(col("doc_id"), col("url"),
          coalesce(col(s"dst_$i"), col("cur")).as("cur"),
          (col("hops") +
            when(col(s"dst_$i").isNotNull, 1).otherwise(0)).as("hops"))
    }
    val terminals = msgs.filter(col("h").getField("status") =!= 301)
      .select(col("url").as("turl"))
    cur.join(terminals, cur("cur") === terminals("turl"), "left")
      .select(col("doc_id"), col("url"), col("cur").as("final_url"),
        col("hops").cast("int").as("hops"),
        when(col("turl").isNotNull, "ok").otherwise("unresolved")
          .as("final_status"))
  }

  /** CTE chain (no leading WITH) replaying the bounded walk — ends in
    * `resolved(doc_id, url, final_url, hops, final_status)`; shared by
    * the q_redirect_resolve oracle and composed oracles (canonical
    * reconciliation).
    */
  def resolveCtes: String = {
    def u(idExpr: String) =
      s"'https://r' || CAST(($idExpr) % 23 AS VARCHAR) || '.example.com/p' || CAST($idExpr AS VARCHAR)"
    val hop = (i: Int) =>
      s"""s$i AS (
         |  SELECT s.doc_id, s.url, coalesce(e.dst, s.cur) AS cur,
         |    s.hops + CASE WHEN e.dst IS NULL THEN 0 ELSE 1 END AS hops
         |  FROM s${i - 1} s LEFT JOIN edges e ON s.cur = e.src)""".stripMargin
    s"""m AS (
       |  SELECT doc_id, ${u("doc_id")} AS url,
       |    CASE WHEN doc_id % 7 = 0 THEN NULL
       |         WHEN doc_id % 61 = 13 THEN ${u("doc_id + 1")}
       |         ELSE ${u("doc_id - 1")} END AS dst
       |  FROM documents),
       |edges AS (SELECT url AS src, dst FROM m WHERE dst IS NOT NULL),
       |s0 AS (SELECT doc_id, url, url AS cur, 0 AS hops FROM m),
       |${(1 to MaxHops).map(hop).mkString(",\n")},
       |resolved AS (
       |  SELECT s.doc_id, s.url, s.cur AS final_url,
       |    CAST(s.hops AS INTEGER) AS hops,
       |    -- ok iff the chain LANDED ON a terminal 200 (a dangling
       |    -- Location, pointing outside the corpus, is unresolved too —
       |    -- same terminal-join semantics as the engine side)
       |    CASE WHEN t.url IS NOT NULL THEN 'ok' ELSE 'unresolved' END
       |      AS final_status
       |  FROM s$MaxHops s LEFT JOIN (SELECT url FROM m WHERE dst IS NULL) t
       |    ON s.cur = t.url)""".stripMargin
  }

  def resolveOracle: String =
    s"""WITH $resolveCtes
       |SELECT doc_id, url, final_url, hops, final_status FROM resolved""".stripMargin

  /** HTML plant for canonical reconciliation: every doc carries a
    * stylesheet `<link>` decoy; every fourth additionally declares
    * `rel="canonical"`, with the attribute order flipped on half of
    * those (%8==0 href-first) — extraction must not key on order.
    */
  def plantCanonicalHtml: Column = {
    val id = col("doc_id")
    val href = concat(lit("https://canon"), (id % 23).cast("string"),
      lit(".example.com/c"), (id / 4).cast("long").cast("string"))
    val canonTag = when(id % 8 === 0,
        concat(lit("<link href=\""), href, lit("\" rel=\"canonical\"/>")))
      .when(id % 4 === 0,
        concat(lit("<link rel=\"canonical\" href=\""), href, lit("\"/>")))
      .otherwise(lit(""))
    concat(lit("<html><head><link rel=\"stylesheet\" href=\"https://static"),
      (id % 5).cast("string"), lit(".example.com/s.css\"/>"),
      canonTag, lit("</head><body>p</body></html>"))
  }

  /** The page's INDEX KEY, reconciled with the precedence every search
    * and dedup pipeline uses: an explicit `rel="canonical"` link wins,
    * else the resolved redirect terminal (when the chain actually moved
    * and resolved), else the URL itself. Output: (doc_id, url,
    * index_key, source 'canonical'|'redirect'|'self'). Composes X54's
    * HTML surface with [[resolve]] in one plan — the extraction is
    * per-row, so the only joins are the resolver's own.
    */
  /** `rel="canonical"` href out of an HTML column — order-tolerant
    * (either attribute may come first, other attributes may sit
    * between; `[^>]*` keeps both probes inside ONE tag), null when the
    * page declares none.
    */
  def canonicalHref(html: Column): Column =
    coalesce(
      nullif(regexp_extract(html,
        "<link[^>]*rel=\"canonical\"[^>]*href=\"([^\"]+)\"", 1), lit("")),
      nullif(regexp_extract(html,
        "<link[^>]*href=\"([^\"]+)\"[^>]*rel=\"canonical\"", 1), lit("")))

  def reconcile(spark: SparkSession, dir: String): DataFrame = {
    val canon = graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"),
        canonicalHref(plantCanonicalHtml).as("canonical_href"))
    val moved = col("final_status") === "ok" && col("hops") > 0
    resolve(spark, dir).join(canon, Seq("doc_id"))
      .select(col("doc_id"), col("url"),
        coalesce(col("canonical_href"), when(moved, col("final_url")),
          col("url")).as("index_key"),
        when(col("canonical_href").isNotNull, "canonical")
          .when(moved, "redirect").otherwise("self").as("source"))
  }

  def reconcileOracle: String =
    s"""WITH $resolveCtes,
       |canon AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 4 = 0 THEN
       |      'https://canon' || CAST(doc_id % 23 AS VARCHAR) ||
       |      '.example.com/c' || CAST(doc_id // 4 AS VARCHAR)
       |    END AS canonical_href
       |  FROM documents)
       |SELECT r.doc_id, r.url,
       |  coalesce(c.canonical_href,
       |    CASE WHEN r.final_status = 'ok' AND r.hops > 0 THEN r.final_url END,
       |    r.url) AS index_key,
       |  CASE WHEN c.canonical_href IS NOT NULL THEN 'canonical'
       |       WHEN r.final_status = 'ok' AND r.hops > 0 THEN 'redirect'
       |       ELSE 'self' END AS source
       |FROM resolved r JOIN canon c USING (doc_id)""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_redirect_resolve" -> Query((s, dir) => resolve(s, dir), resolveOracle),
    "q_canonical_reconcile" -> Query((s, dir) => reconcile(s, dir), reconcileOracle)
  )
}
