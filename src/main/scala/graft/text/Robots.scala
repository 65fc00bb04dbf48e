package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Crawl-politeness evaluation over per-domain robots.txt (see
  * [[graft.plans.RobotsAllowed]]) — the filter a pipeline applies when
  * re-screening an already-crawled corpus against current exclusion
  * rules. The DuckDB oracle REIMPLEMENTS the whole algorithm in SQL
  * (line split with ordinality, comment strip, directive parse, group
  * segmentation by user-agent runs via an IGNORE NULLS window,
  * own-group-else-`*` selection, longest-prefix-then-Allow winner), so
  * the gate pins RFC 9309 semantics, not a restated constant.
  */
object Robots {

  val Agent = "graftbot"

  /** Planted robots.txt: a `*` group with overlapping Allow/Disallow
    * prefixes, RFC 9309 wildcard rules (an anchored `.tmp$` extension
    * block with a leading star-slash wildcard, a mid-pattern-wildcard
    * cgi Allow vs a shorter `/cgi/` Disallow
    * prefix), a doc-varying rule, a comment, an unknown directive
    * (Crawl-delay) and — for every third doc — a `graftbot` group that
    * must ECLIPSE the `*` group entirely (the RFC's
    * most-specific-group rule), itself carrying a wildcard rule.
    */
  def plantRobots: Column = {
    val id = col("doc_id")
    concat(
      lit("# graft planted robots\n"),
      lit("Sitemap: https://maps.example.com/s"), (id % 4).cast("string"),
      lit(".xml\n"),
      lit("User-agent: *\n"),
      lit("Disallow: /private\n"),
      lit("Allow: /private/pub\n"),
      lit("Disallow: /*.tmp$\n"),
      lit("Allow: /cgi/*/pub\n"),
      lit("Disallow: /cgi/\n"),
      // GLOB-metacharacter rules ('?' and '[' are LITERAL octets in
      // robots patterns): inert against every planted path, but the
      // oracle's escape must survive them or the whole gate errors
      lit("Disallow: /search?q=\n"),
      lit("Disallow: /a[1]/\n"),
      lit("Disallow: /data"), (id % 5).cast("string"), lit("\n"),
      lit("Crawl-delay: 2\n"),
      lit("\n"),
      when(id % 3 === 0,
        lit("User-agent: graftbot\nDisallow: /bot\nAllow: /bot/ok\n" +
          "Disallow: /*.tmp$\nCrawl-delay: 0.5\n"))
        .otherwise(lit("")),
      // a second, group-independent sitemap at the file END for some docs
      when(id % 4 === 0, lit("Sitemap: https://maps.example.com/extra.xml\n"))
        .otherwise(lit("")))
  }

  /** The same plant as DuckDB SQL — ONE definition feeding
    * [[robotsOracle]] and the composed crawl-pipeline oracle.
    */
  def plantRobotsSql: String =
    """'# graft planted robots' || chr(10) ||
      |    'Sitemap: https://maps.example.com/s' || CAST(doc_id % 4 AS VARCHAR) ||
      |    '.xml' || chr(10) ||
      |    'User-agent: *' || chr(10) ||
      |    'Disallow: /private' || chr(10) ||
      |    'Allow: /private/pub' || chr(10) ||
      |    'Disallow: /*.tmp' || chr(36) || chr(10) ||
      |    'Allow: /cgi/*/pub' || chr(10) ||
      |    'Disallow: /cgi/' || chr(10) ||
      |    'Disallow: /search?q=' || chr(10) ||
      |    'Disallow: /a[1]/' || chr(10) ||
      |    'Disallow: /data' || CAST(doc_id % 5 AS VARCHAR) || chr(10) ||
      |    'Crawl-delay: 2' || chr(10) || chr(10) ||
      |    CASE WHEN doc_id % 3 = 0
      |         THEN 'User-agent: graftbot' || chr(10) || 'Disallow: /bot' ||
      |              chr(10) || 'Allow: /bot/ok' || chr(10) ||
      |              'Disallow: /*.tmp' || chr(36) || chr(10) ||
      |              'Crawl-delay: 0.5' || chr(10)
      |         ELSE '' END ||
      |    CASE WHEN doc_id % 4 = 0
      |         THEN 'Sitemap: https://maps.example.com/extra.xml' || chr(10)
      |         ELSE '' END""".stripMargin

  def plantPath: Column = {
    val k = col("doc_id") % 9
    when(k === 0, lit("/private/pub/x"))
      .when(k === 1, lit("/private/secret"))
      .when(k === 2, concat(lit("/data"), (col("doc_id") % 5).cast("string"), lit("/f")))
      .when(k === 3, lit("/bot/page"))
      .when(k === 4, lit("/public/page"))
      .when(k === 5, lit("/private"))
      // wildcard coverage: anchored hit, anchored MISS (suffix continues),
      // and wildcard-Allow outranking a shorter Disallow prefix
      .when(k === 6, lit("/file.tmp"))
      .when(k === 7, lit("/file.tmp.bak"))
      .otherwise(lit("/cgi/x/pub/page"))
  }

  def robotsAllowed(robots: Column, agent: Column, path: Column): Column =
    org.apache.spark.sql.GraftColumnShim.column(
      graft.plans.RobotsAllowed(
        org.apache.spark.sql.GraftColumnShim.expression(robots),
        org.apache.spark.sql.GraftColumnShim.expression(agent),
        org.apache.spark.sql.GraftColumnShim.expression(path)))

  /** (doc_id, path, allowed) for agent [[Agent]]. */
  def crawlScreen(spark: SparkSession, dir: String): DataFrame =
    graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"), plantRobots.as("robots"), plantPath.as("path"))
      .select(col("doc_id"), col("path"),
        robotsAllowed(col("robots"), lit(Agent), col("path")).as("allowed"))

  def robotsOracle: String =
    s"""WITH r AS (
       |  SELECT doc_id,
       |    ${plantRobotsSql} AS robots,
       |    CASE doc_id % 9
       |      WHEN 0 THEN '/private/pub/x'
       |      WHEN 1 THEN '/private/secret'
       |      WHEN 2 THEN '/data' || CAST(doc_id % 5 AS VARCHAR) || '/f'
       |      WHEN 3 THEN '/bot/page'
       |      WHEN 4 THEN '/public/page'
       |      WHEN 5 THEN '/private'
       |      WHEN 6 THEN '/file.tmp'
       |      WHEN 7 THEN '/file.tmp.bak'
       |      ELSE '/cgi/x/pub/page' END AS path
       |  FROM documents),
       |${robotsCtesFrom("r")}
       |SELECT r.doc_id, r.path,
       |  CAST(CASE WHEN m.dir IS NULL OR m.dir = 'allow' THEN 1 ELSE 0 END
       |       AS INTEGER) AS allowed
       |FROM r LEFT JOIN (SELECT doc_id, dir FROM matches WHERE rn = 1) m
       |  USING (doc_id)""".stripMargin

  /** CTE chain (no leading WITH) evaluating RFC 9309 over
    * `rel(doc_id, robots, path)` for agent [[Agent]] — ends in
    * `matches`; the winning rule per doc is `rn = 1` and the verdict is
    * allow when no winner exists or the winner is an Allow (see the
    * final select in [[robotsOracle]]). Shared by q_robots_screen and
    * composed oracles.
    */
  def robotsCtesFrom(rel: String): String =
    s"""lines AS (
       |  SELECT doc_id, path, t.z['l'] AS line, CAST(t.z['i'] AS BIGINT) AS idx
       |  FROM $rel,
       |  LATERAL (SELECT unnest(list_transform(string_split($rel.robots, chr(10)),
       |           (x, i) -> {'l': x, 'i': i})) AS z) t),
       |parsed AS (
       |  SELECT doc_id, path, idx,
       |    CASE WHEN instr(noc, ':') > 0
       |         THEN lower(trim(substr(noc, 1, instr(noc, ':') - 1))) END AS dir,
       |    CASE WHEN instr(noc, ':') > 0
       |         THEN trim(substr(noc, instr(noc, ':') + 1)) END AS val
       |  FROM (SELECT doc_id, path, idx,
       |          trim(CASE WHEN instr(line, '#') > 0
       |                    THEN substr(line, 1, instr(line, '#') - 1) ELSE line END) AS noc
       |        FROM lines)),
       |own AS (
       |  SELECT doc_id,
       |    CASE WHEN max(CASE WHEN dir = 'user-agent' AND lower(val) = 'graftbot'
       |                       THEN 1 ELSE 0 END) = 1
       |         THEN 'graftbot' ELSE '*' END AS wanted
       |  FROM parsed GROUP BY 1),
       |marked AS (
       |  SELECT p.*, o.wanted,
       |    CASE WHEN dir = 'user-agent' AND coalesce(
       |      last_value(CASE WHEN dir IS NOT NULL THEN dir END IGNORE NULLS)
       |        OVER (PARTITION BY p.doc_id ORDER BY idx
       |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 'x')
       |      <> 'user-agent'
       |    THEN 1 ELSE 0 END AS gstart
       |  FROM parsed p JOIN own o USING (doc_id)),
       |grouped AS (
       |  SELECT *, sum(gstart) OVER (PARTITION BY doc_id ORDER BY idx) AS grp
       |  FROM marked),
       |active AS (
       |  SELECT DISTINCT doc_id, grp FROM grouped
       |  WHERE dir = 'user-agent' AND lower(val) = wanted),
       |matches AS (
       |  SELECT g.doc_id, g.dir,
       |    row_number() OVER (PARTITION BY g.doc_id
       |      ORDER BY length(g.val) DESC, (g.dir = 'allow') DESC, g.idx) AS rn
       |  FROM grouped g JOIN active a USING (doc_id, grp)
       |  WHERE g.dir IN ('allow', 'disallow') AND g.val <> ''
       |    -- RFC 9309 pattern match via GLOB: a FINAL '$$' anchors the
       |    -- pattern to the path end; otherwise the pattern matches any
       |    -- path it prefixes (append '*'); '*' passes through as-is,
       |    -- while GLOB's OTHER metacharacters ('?', '[') are literal
       |    -- octets in robots rules (query strings in Disallow lines are
       |    -- common) and must be bracket-escaped — '[' first, so the
       |    -- brackets the escape itself introduces are not re-escaped
       |    AND CASE WHEN substr(g.val, length(g.val), 1) = '$$'
       |             THEN g.path GLOB
       |               replace(replace(substr(g.val, 1, length(g.val) - 1),
       |                 '[', '[[]'), '?', '[?]')
       |             ELSE g.path GLOB
       |               (replace(replace(g.val, '[', '[[]'), '?', '[?]') || '*') END)""".stripMargin

  def robotsMeta(robots: Column, agent: Column): Column =
    org.apache.spark.sql.GraftColumnShim.column(
      graft.plans.RobotsMeta(
        org.apache.spark.sql.GraftColumnShim.expression(robots),
        org.apache.spark.sql.GraftColumnShim.expression(agent)))

  /** (doc_id, crawl_delay_ms, n_sitemaps, sitemaps) for agent [[Agent]]
    * — the politeness metadata a crawl scheduler reads: the matched
    * group's Crawl-delay (graftbot docs override the `*` group's 2 s
    * with 0.5 s) and the group-independent Sitemap listing in file
    * order.
    */
  def politeness(spark: SparkSession, dir: String): DataFrame =
    graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"), plantRobots.as("robots"))
      .select(col("doc_id"), robotsMeta(col("robots"), lit(Agent)).as("m"))
      .select(col("doc_id"),
        col("m").getField("crawl_delay_ms").as("crawl_delay_ms"),
        size(col("m").getField("sitemaps")).as("n_sitemaps"),
        // gate contract: top-level columns must be SCALAR — the driver
        // harness sorts rows via pandas over every column and dies on
        // array cells (round-9 q_robots_meta). U+0001-join, never raw.
        array_join(col("m").getField("sitemaps"), "\u0001").as("sitemaps"))

  def politenessOracle: String =
    s"""SELECT doc_id,
       |  CAST(CASE WHEN doc_id % 3 = 0 THEN 500 ELSE 2000 END AS INTEGER)
       |    AS crawl_delay_ms,
       |  CAST(CASE WHEN doc_id % 4 = 0 THEN 2 ELSE 1 END AS INTEGER) AS n_sitemaps,
       |  -- chr(1)-joined: top-level gate columns must be scalar (the
       |  -- driver sort contract; round-9 q_robots_meta crashed on a list)
       |  CASE WHEN doc_id % 4 = 0
       |    THEN 'https://maps.example.com/s' || CAST(doc_id % 4 AS VARCHAR) || '.xml'
       |         || chr(1) || 'https://maps.example.com/extra.xml'
       |    ELSE 'https://maps.example.com/s' || CAST(doc_id % 4 AS VARCHAR) || '.xml'
       |  END AS sitemaps
       |FROM documents""".stripMargin

  // ---- robots FETCH-status access policy (X154, RFC 9309 §2.3.1):
  // what governs access when fetching robots.txt itself didn't return
  // a parseable file — the rule every compliant crawler implements and
  // most ad-hoc ones get wrong:
  //   2xx/3xx (after following redirects) → parse and apply the rules;
  //   4xx except 429 ("unavailable")      → crawl is ALLOWED;
  //   429 / 5xx ("unreachable")           → crawl is DISALLOWED.

  /** Fetch-status rotation: both parse outcomes, a followed redirect,
    * both unavailable codes, and both unreachable classes.
    */
  def plantRobotsStatus: Column = {
    val k = col("doc_id") % 7
    when(k === 0, 200).when(k === 1, 200).when(k === 2, 301)
      .when(k === 3, 404).when(k === 4, 403)
      .when(k === 5, 503).otherwise(429)
  }

  /** (doc_id, status, policy, allowed) — policy names the §2.3.1
    * class; `allowed` is the REAL X116 evaluator's verdict when the
    * class is `parse`, the constant the RFC mandates otherwise.
    */
  def statusScreen(spark: SparkSession, dir: String): DataFrame =
    graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"), plantRobotsStatus.as("status"),
        plantRobots.as("robots"), plantPath.as("path"))
      .select(col("doc_id"), col("status"),
        when(col("status") < 400, "parse")
          .when(col("status") === 429 || col("status") >= 500, "disallow_all")
          .otherwise("allow_all").as("policy"),
        col("robots"), col("path"))
      .select(col("doc_id"), col("status"), col("policy"),
        when(col("policy") === "parse",
          robotsAllowed(col("robots"), lit(Agent), col("path")).cast("int"))
          .when(col("policy") === "allow_all", 1)
          .otherwise(0).as("allowed"))

  def statusOracle: String =
    s"""WITH r AS (
       |  SELECT doc_id,
       |    ${plantRobotsSql} AS robots,
       |    CASE doc_id % 9
       |      WHEN 0 THEN '/private/pub/x'
       |      WHEN 1 THEN '/private/secret'
       |      WHEN 2 THEN '/data' || CAST(doc_id % 5 AS VARCHAR) || '/f'
       |      WHEN 3 THEN '/bot/page'
       |      WHEN 4 THEN '/public/page'
       |      WHEN 5 THEN '/private'
       |      WHEN 6 THEN '/file.tmp'
       |      WHEN 7 THEN '/file.tmp.bak'
       |      ELSE '/cgi/x/pub/page' END AS path,
       |    CASE doc_id % 7 WHEN 0 THEN 200 WHEN 1 THEN 200 WHEN 2 THEN 301
       |      WHEN 3 THEN 404 WHEN 4 THEN 403 WHEN 5 THEN 503 ELSE 429 END AS status
       |  FROM documents),
       |${robotsCtesFrom("r")}
       |SELECT r.doc_id, CAST(r.status AS INTEGER) AS status,
       |  CASE WHEN r.status < 400 THEN 'parse'
       |       WHEN r.status = 429 OR r.status >= 500 THEN 'disallow_all'
       |       ELSE 'allow_all' END AS policy,
       |  CAST(CASE WHEN r.status < 400 THEN
       |         CASE WHEN m.dir IS NULL OR m.dir = 'allow' THEN 1 ELSE 0 END
       |       WHEN r.status = 429 OR r.status >= 500 THEN 0
       |       ELSE 1 END AS INTEGER) AS allowed
       |FROM r LEFT JOIN (SELECT doc_id, dir FROM matches WHERE rn = 1) m
       |  USING (doc_id)""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_robots_screen" -> Query((s, dir) => crawlScreen(s, dir), robotsOracle),
    "q_robots_meta" -> Query((s, dir) => politeness(s, dir), politenessOracle),
    "q_robots_status" -> Query((s, dir) => statusScreen(s, dir), statusOracle)
  )
}
