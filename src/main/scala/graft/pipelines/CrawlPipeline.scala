package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Query, Tables}
import graft.text.{Canonical, Html, Robots}

/** The end-to-end crawl ingest chain, composed as ONE lazy plan — every
  * stage is an already-gated operator, and this gate proves they
  * compose: `.warc.gz` blob → magic-number sniff (X114) → gunzip →
  * WARC record walk (X112) → HTTP message split with chunked decode
  * (the round-9 http_message) → HTML text extraction (X54) → NFC
  * normalization (X111) → URL canonicalization (X109) → robots.txt
  * screening with RFC 9309 wildcards (X116) → hygiene verdict (X44
  * stages 1–5 + the exact-dup 6/7 split).
  *
  * Scale shape: the chain is map-only from blob to verdict features —
  * ONE hash exchange total (the dedup window on the content
  * fingerprint), which is the minimum any exact-dedup pass needs; the
  * robots/canonical/extract stages add zero shuffles. At 100 TB this
  * is a single pass over the shard files into the funnel, exactly how
  * a production CommonCrawl ingest wants to run (the plan-shape spec
  * pins the one-exchange property).
  *
  * The DuckDB oracle composes the SAME per-stage oracle builders the
  * individual gates use ([[Canonical.canonicalCtesFrom]],
  * [[Robots.robotsCtesFrom]], [[Hygiene.stagedCtesFrom]]) over the
  * restated plants — compression/framing/HTTP are identities the
  * oracle need not model, while extraction, NFC, canonicalization,
  * robots and hygiene are all independently recomputed.
  */
object CrawlPipeline {

  /** Decomposed combining mark planted after the HTML: x + U+0308
    * composes to U+1E8D under NFC, so the normalization stage is
    * observable in the gate (and the 7-byte chunked framing of %3==0
    * docs straddles the multibyte sequence on purpose).
    */
  private val UnicodeTailLit = " x\u0308end" // decomposed: x + combining diaeresis

  /** Messy target URI whose PATH is the robots fixture's path plant —
    * canonicalization gets scheme/host case, www, default ports,
    * tracking params and fragments to scrub; robots screening gets
    * paths that actually exercise the rule set.
    */
  def plantUri: Column = {
    val id = col("doc_id")
    concat(
      when(id % 2 === 0, lit("HTTP")).otherwise(lit("https")),
      lit("://"),
      when(id % 3 === 0, lit("WWW.")).otherwise(lit("")),
      lit("Crawl"), (id % 23).cast("string"), lit(".Example.com"),
      when(id % 4 === 0, lit(":80"))
        .when(id % 4 === 1, lit(":443"))
        .otherwise(lit("")),
      Robots.plantPath,
      when(id % 2 === 0, lit("?utm_source=crawl&b=2&a=1")).otherwise(lit("")),
      when(id % 6 === 0, lit("#frag")).otherwise(lit("")))
  }

  /** [[plantUriSql]] for composed oracles (Frontier). */
  def plantUriSqlPublic: String = plantUriSql

  private def plantUriSql: String =
    """(CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END) || '://' ||
      |  (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) ||
      |  'Crawl' || CAST(doc_id % 23 AS VARCHAR) || '.Example.com' ||
      |  (CASE WHEN doc_id % 4 = 0 THEN ':80'
      |        WHEN doc_id % 4 = 1 THEN ':443' ELSE '' END) ||
      |  (CASE doc_id % 9
      |     WHEN 0 THEN '/private/pub/x'
      |     WHEN 1 THEN '/private/secret'
      |     WHEN 2 THEN '/data' || CAST(doc_id % 5 AS VARCHAR) || '/f'
      |     WHEN 3 THEN '/bot/page'
      |     WHEN 4 THEN '/public/page'
      |     WHEN 5 THEN '/private'
      |     WHEN 6 THEN '/file.tmp'
      |     WHEN 7 THEN '/file.tmp.bak'
      |     ELSE '/cgi/x/pub/page' END) ||
      |  (CASE WHEN doc_id % 2 = 0 THEN '?utm_source=crawl&b=2&a=1' ELSE '' END) ||
      |  (CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END)""".stripMargin

  private def shim(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.GraftColumnShim.column(e)
  private def ex(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.GraftColumnShim.expression(c)

  /** The STATELESS chain over (doc_id, blob `.warc.gz` BINARY, robots
    * STRING): sniff → gunzip → WARC walk → HTTP split → extract → NFC →
    * canonicalize → robots verdict → hygiene per-row features. Every
    * stage is a per-row expression (no shuffle); output adds (status,
    * canon, allowed, text, fp, pre_stage).
    */
  private def statelessStages(raw: DataFrame): DataFrame =
    Hygiene.withVerdict(statelessWide(raw)
      .select(col("doc_id"), col("status"), col("canon"), col("allowed"), col("text")))

  /** [[statelessStages]] WITHOUT the narrowing select: keeps `robots`,
    * `host` and the canonical intermediates on the frame so siblings
    * (the politeness schedule) can compose more per-row columns onto
    * the same chain before their own shuffle.
    */
  private def statelessWide(raw: DataFrame): DataFrame = {
    // sniff-route as a CASE, not a filter: a `filter(magic_format(...))`
    // is a pushable predicate, and Catalyst pushes it below the widen
    // exchange — the whole blob computation would then run on the
    // NARROW pre-widen partitions and again post-widen. The when() keeps
    // sniff + gunzip in ONE post-widen projection (subexpression
    // elimination evaluates the blob once); non-gzip rows yield a null
    // record array, which explode drops — identical routing semantics.
    val sniffed = raw
      .select(col("doc_id"), col("robots"),
        shim(graft.plans.WarcRecords(ex(
          shim(graft.plans.GunzipText(ex(
            when(shim(graft.plans.MagicFormat(ex(col("blob")))) === "gzip",
              col("blob")))))))).as("recs"))
      // explode_OUTER: a plain explode makes InferFiltersFromGenerate
      // synthesize `size(recs) > 0`, which is pushable and lands below
      // the widen exchange — the same narrow-partition recompute the
      // when() above exists to prevent. The outer generate infers no
      // filter; its null rows fail the rec_type predicate right here
      // (which CANNOT push below the Generate it references).
      .select(col("doc_id"), col("robots"), explode_outer(col("recs")).as("r"))
      .filter(col("r").getField("rec_type") === "response")
      .withColumn("h", shim(graft.plans.HttpMessage(ex(col("r").getField("payload")))))
      .withColumn("url", col("r").getField("uri"))
      .withColumn("text", graft.text.Unicode.nfc(
        Html.extractText(col("h").getField("body"))))
      .select(col("doc_id"), col("robots"), col("url"),
        col("h").getField("status").as("status"), col("text"))

    Canonical.canonicalize(sniffed)
      .withColumn("allowed", Robots.robotsAllowed(
        col("robots"), lit(Robots.Agent), col("path")))
  }

  /** (doc_id, status, canon, allowed, stage, clean_text). */
  def crawl(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
    val htmlBody = concat(Html.plantHtml, lit(UnicodeTailLit))
    val blob = shim(graft.plans.GzipBytes(ex(
      graft.sources.Warc.plantHttpWarc(htmlBody, plantUri))))
    val v = statelessStages(
      docs.select(col("doc_id"), blob.as("blob"), Robots.plantRobots.as("robots")))

    // hygiene verdict fused per-row + ONE window on the content
    // fingerprint for the exact-dup 6/7 split (same semantics as
    // Hygiene.staged: kept = smallest surviving doc_id per fp)
    val survMin = min(when(col("pre_stage").isNull, col("doc_id")))
      .over(Window.partitionBy(col("fp")))
    v.withColumn("stage",
        coalesce(col("pre_stage"),
          when(col("doc_id") === survMin, 7).otherwise(6)))
      .select(col("doc_id"), col("status"), col("canon"), col("allowed"),
        col("stage"), col("text").as("clean_text"))
  }

  /** Politeness-aware fetch schedule — the step between frontier
    * discovery and fetching: canonical hosts partition the queue, and
    * within a host each fetch waits the PREVIOUS fetch's robots
    * crawl-delay (a running sum, not a constant stride — delays vary
    * per robots snapshot). Output: (doc_id, host, seq, not_before_ms).
    * ONE hash exchange (the per-host window) — the scheduling shuffle
    * a frontier genuinely needs; everything else is per-row.
    */
  def fetchSchedule(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
    Canonical.canonicalize(
        docs.select(col("doc_id"), plantUri.as("url"),
          Robots.robotsMeta(Robots.plantRobots, lit(Robots.Agent)).as("m")))
      .select(col("doc_id"), col("host"),
        col("m").getField("crawl_delay_ms").cast("long").as("delay_ms"))
      .select(Seq(col("doc_id"), col("host")) ++ scheduleCols: _*)
  }

  /** THE politeness-schedule columns — the one definition of the
    * per-host sequencing semantics, shared by [[fetchSchedule]],
    * [[crawlSchedule]] and [[Frontier.recrawl]]: `seq` numbers fetches
    * within the canonical host, `not_before_ms` is the running sum of
    * the PRIOR fetches' delays (exclusive — the first fetch waits 0).
    * Requires `host`, `doc_id`, `delay_ms` on the frame.
    */
  def scheduleCols: Seq[Column] = {
    val w = Window.partitionBy(col("host")).orderBy(col("doc_id"))
    Seq(row_number().over(w).as("seq"),
      coalesce(sum(col("delay_ms")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
        .as("not_before_ms"))
  }

  /** [[scheduleCols]]' oracle twin — the same two projections in SQL,
    * over any relation carrying (host, doc_id, delay_ms).
    */
  def scheduleSqlCols: String =
    s"""CAST(ROW_NUMBER() OVER (PARTITION BY host ORDER BY doc_id) AS INTEGER)
       |    AS seq,
       |  CAST(COALESCE(SUM(delay_ms) OVER (PARTITION BY host ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS not_before_ms""".stripMargin

  /** Politeness schedule riding the FULL ingest chain — proves the
    * X116 `robots_meta` crawl-delay and the X122 scheduler compose with
    * the X120 blob→canonical→robots chain: blobs in, per-host fetch
    * offsets out, the delay parsed from the SAME planted robots the
    * chain screens against, disallowed pages dropped before
    * scheduling. ONE hash exchange total (the per-host window) — every
    * stage before it is a per-row expression, so the plan keeps the
    * X120 discipline.
    */
  def crawlSchedule(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
    val htmlBody = concat(Html.plantHtml, lit(UnicodeTailLit))
    val blob = shim(graft.plans.GzipBytes(ex(
      graft.sources.Warc.plantHttpWarc(htmlBody, plantUri))))
    val wide = statelessWide(
      docs.select(col("doc_id"), blob.as("blob"), Robots.plantRobots.as("robots")))
    wide
      .withColumn("delay_ms", Robots.robotsMeta(col("robots"), lit(Robots.Agent))
        .getField("crawl_delay_ms").cast("long"))
      .filter(col("allowed") === 1)
      .select(Seq(col("doc_id"), col("canon"), col("host")) ++ scheduleCols: _*)
  }

  def crawlScheduleOracle: String =
    s"""WITH src AS (
       |  SELECT doc_id,
       |    $plantUriSql AS url,
       |    ${Robots.plantRobotsSql} AS robots
       |  FROM documents),
       |${Canonical.canonicalCtesFrom("src")},
       |rb AS (
       |  SELECT s.doc_id, s.robots, n.path
       |  FROM src s JOIN normed n USING (doc_id)),
       |${Robots.robotsCtesFrom("rb")},
       |verd AS (
       |  SELECT n.doc_id, ${Canonical.canonSelectSql} AS canon, n.host,
       |    CASE WHEN m.dir IS NULL OR m.dir = 'allow' THEN 1 ELSE 0 END AS allowed,
       |    CAST(CASE WHEN n.doc_id % 3 = 0 THEN 500 ELSE 2000 END AS BIGINT)
       |      AS delay_ms
       |  FROM normed n
       |  LEFT JOIN (SELECT doc_id, dir FROM matches WHERE rn = 1) m
       |    USING (doc_id))
       |SELECT doc_id, canon, host,
       |  $scheduleSqlCols
       |FROM verd WHERE allowed = 1""".stripMargin

  def fetchScheduleOracle: String =
    s"""WITH src AS (
       |  SELECT doc_id,
       |    'crawl' || CAST(doc_id % 23 AS VARCHAR) || '.example.com' AS host,
       |    CAST(CASE WHEN doc_id % 3 = 0 THEN 500 ELSE 2000 END AS BIGINT) AS delay_ms
       |  FROM documents)
       |SELECT doc_id, host,
       |  $scheduleSqlCols
       |FROM src""".stripMargin

  /** The composed-oracle prelude (plants + extraction + canonical +
    * robots CTEs) shared by [[crawlOracle]] and [[hostReportOracle]].
    */
  private def crawlPrelude: String = {
    val html2 = "html || ' x' || chr(776) || 'end'"
      s"""ph AS (${Html.plantHtmlSql}),
         |src AS (
         |  SELECT doc_id,
         |    $plantUriSql AS url,
         |    ${Robots.plantRobotsSql} AS robots
         |  FROM documents),
         |cleaned AS (
         |  SELECT doc_id,
         |    nfc_normalize(${Html.extractTextSql(html2)}) AS text
         |  FROM ph),
         |${Canonical.canonicalCtesFrom("src")},
         |rb AS (
         |  SELECT s.doc_id, s.robots, n.path
         |  FROM src s JOIN normed n USING (doc_id)),
         |${Robots.robotsCtesFrom("rb")},""".stripMargin
  }

  def crawlOracle: String =
    s"""${Hygiene.stagedCtesFrom("cleaned", crawlPrelude)}
       |SELECT n.doc_id,
       |  CAST(CASE n.doc_id % 3 WHEN 0 THEN 200 WHEN 1 THEN 404 ELSE 301 END
       |       AS INTEGER) AS status,
       |  ${Canonical.canonSelectSql} AS canon,
       |  CAST(CASE WHEN m.dir IS NULL OR m.dir = 'allow' THEN 1 ELSE 0 END
       |       AS INTEGER) AS allowed,
       |  CAST(st.stage AS INTEGER) AS stage,
       |  c.text AS clean_text
       |FROM normed n
       |JOIN cleaned c USING (doc_id)
       |JOIN staged st USING (doc_id)
       |LEFT JOIN (SELECT doc_id, dir FROM matches WHERE rn = 1) m
       |  USING (doc_id)""".stripMargin

  /** Per-host crawl operations report — the budgeting/monitoring
    * rollup a crawl operator reads after each pass: page count, robots
    * verdict split, HTTP status mix, and how many allowed pages came
    * out hygiene-clean (stages 1-5 passed), all per canonical host and
    * all riding the FULL ingest chain. The per-row chain partial-
    * aggregates map-side into ONE host-keyed exchange — host
    * cardinality, not corpus size, crosses the wire.
    */
  def hostReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
    val htmlBody = concat(Html.plantHtml, lit(UnicodeTailLit))
    val blob = shim(graft.plans.GzipBytes(ex(
      graft.sources.Warc.plantHttpWarc(htmlBody, plantUri))))
    val wide = statelessWide(
      docs.select(col("doc_id"), blob.as("blob"), Robots.plantRobots.as("robots")))
    Hygiene.withVerdict(wide.select(col("doc_id"), col("host"),
        col("status"), col("allowed"), col("text")))
      .groupBy(col("host")).agg(
        count(lit(1)).as("n_pages"),
        sum(col("allowed").cast("long")).as("n_allowed"),
        sum(when(col("status") === 200, 1L).otherwise(0L)).as("n_ok"),
        sum(when(col("status") === 301, 1L).otherwise(0L)).as("n_redirect"),
        sum(when(col("status") === 404, 1L).otherwise(0L)).as("n_notfound"),
        sum(when(col("allowed") === 1 && col("pre_stage").isNull, 1L)
          .otherwise(0L)).as("n_clean"))
  }

  def hostReportOracle: String =
    s"""${Hygiene.stagedCtesFrom("cleaned", crawlPrelude)}
       |SELECT n.host,
       |  CAST(COUNT(*) AS BIGINT) AS n_pages,
       |  CAST(SUM(CASE WHEN m.dir IS NULL OR m.dir = 'allow' THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_allowed,
       |  CAST(SUM(CASE WHEN n.doc_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_ok,
       |  CAST(SUM(CASE WHEN n.doc_id % 3 = 2 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_redirect,
       |  CAST(SUM(CASE WHEN n.doc_id % 3 = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_notfound,
       |  -- hygiene-clean = survived stages 1-5 (staged stage 6 or 7)
       |  CAST(SUM(CASE WHEN (m.dir IS NULL OR m.dir = 'allow')
       |    AND st.stage >= 6 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
       |FROM normed n
       |JOIN staged st USING (doc_id)
       |LEFT JOIN (SELECT doc_id, dir FROM matches WHERE rn = 1) m
       |  USING (doc_id)
       |GROUP BY n.host""".stripMargin

  /** Default page budget for [[crawlBudget]] — prime, so proportional
    * shares essentially always leave remainders and the largest-
    * remainder top-up is non-degenerate at any fixture scale.
    */
  val PageBudget = 997L

  /** Per-host crawl budget allocation — the step after [[hostReport]]
    * in a budgeted crawler: split a global page budget across hosts
    * proportionally to their hygiene-clean yield, EXACT-INTEGER via
    * the largest-remainder method (floor share first, then +1 to the
    * hosts with the largest remainders until the budget is spent;
    * ties broken by host name). Σ alloc == budget always.
    *
    * Scale shape: the input is the host REPORT (host cardinality, not
    * corpus size), persisted once; the two scalars the method needs
    * (total yield, leftover after floors) are single-row aggregates —
    * the X103 model-sized-collect discipline — and the top-up set is
    * an `orderBy().limit(k)` (TakeOrdered, no global-sort funnel)
    * broadcast back. No corpus-sized data crosses any of it.
    */
  def crawlBudget(spark: SparkSession, dir: String, budget: Long = PageBudget): DataFrame = {
    val rep = graft.ops.Caches.persist(hostReport(spark, dir).select(col("host"), col("n_clean")))
    val total = rep.agg(sum(col("n_clean"))).collect()(0).getLong(0)
    val floored = rep
      .withColumn("fl", expr(s"($budget * n_clean) DIV $total"))
      .withColumn("rem", expr(s"($budget * n_clean) % $total"))
    val leftover = (budget - floored.agg(sum(col("fl"))).collect()(0).getLong(0)).toInt
    val topup = floored.orderBy(col("rem").desc, col("host"))
      .limit(leftover).select(col("host").as("h2"))
    floored.join(broadcast(topup), col("host") === col("h2"), "left")
      .select(col("host"), col("n_clean"),
        (col("fl") + when(col("h2").isNotNull, 1L).otherwise(0L)).as("alloc"))
  }

  def crawlBudgetOracle: String =
    s"""WITH rep AS (
       |  SELECT host, n_clean FROM (${hostReportOracle})),
       |t AS (SELECT SUM(n_clean) AS total FROM rep),
       |f AS (
       |  SELECT host, n_clean,
       |    ($PageBudget * n_clean) // total AS fl,
       |    ($PageBudget * n_clean) % total AS rem
       |  FROM rep, t),
       |l AS (SELECT $PageBudget - SUM(fl) AS leftover FROM f),
       |r AS (
       |  SELECT *, row_number() OVER (ORDER BY rem DESC, host) AS rk
       |  FROM f)
       |SELECT host, n_clean,
       |  CAST(fl + CASE WHEN rk <= (SELECT leftover FROM l) THEN 1 ELSE 0 END
       |       AS BIGINT) AS alloc
       |FROM r""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_crawl_pipeline" -> Query((s, dir) => crawl(s, dir), crawlOracle),
    "q_fetch_schedule" -> Query((s, dir) => fetchSchedule(s, dir), fetchScheduleOracle),
    "q_crawl_schedule" -> Query((s, dir) => crawlSchedule(s, dir), crawlScheduleOracle),
    "q_crawl_host_report" -> Query((s, dir) => hostReport(s, dir), hostReportOracle),
    "q_crawl_budget" -> Query((s, dir) => crawlBudget(s, dir), crawlBudgetOracle)
  )
}
