package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Multi-pattern blocklist scan over the corpus — the production shape
  * of banned-term / contaminant-phrase filtering (reference: the ETL
  * suite's keyword filters; scaled to the thousands-of-patterns regime
  * a crawl blocklist actually has). One Aho–Corasick pass per document
  * ([[graft.plans.MultiMatch]]): per-character cost is flat in the
  * pattern count, the automaton is built once per scan and shipped as a
  * reference object — NOT one LIKE pass per pattern and NOT a per-row
  * rebuild. At 100 TB this is a map-only scan; the only aggregate here
  * is the per-document count pair the filter consumes.
  *
  * The fixture model plants the structures that break naive matchers:
  * a pattern that is a strict prefix of another ("scan" / "scan slow" —
  * suffix-chain outputs), a self-overlapping pattern ("a a" in
  * "a a a" counts 2 — occurrence counts include overlaps), multi-word
  * phrases, and a pattern that never occurs.
  */
object Blocklist {

  /** The planted blocklist — restated verbatim in the oracle VALUES. */
  val Patterns: Seq[String] = Seq(
    "table table", "scan", "scan slow", "fast", "a a",
    "value table part", "spark", "window table", "agg row",
    "zz-never-present")

  def multiMatch(text: org.apache.spark.sql.Column,
      patterns: Seq[String]): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftColumnShim.column(
      graft.plans.MultiMatch(
        org.apache.spark.sql.GraftColumnShim.expression(text),
        org.apache.spark.sql.GraftColumnShim.expression(
          array(patterns.map(lit): _*))))

  /** (doc_id, n_hits, n_patterns) per document; null text counts as
    * empty on both engines.
    */
  def blocklistHits(spark: SparkSession, dir: String): DataFrame =
    graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"),
        multiMatch(coalesce(col("text"), lit("")), Patterns).as("m"))
      .select(col("doc_id"),
        col("m").getField("n_hits").as("n_hits"),
        col("m").getField("n_patterns").as("n_patterns"))

  def blocklistOracle: String = {
    val values = Patterns.zipWithIndex
      .map { case (p, i) => s"(${i + 1}, '${p}')" }.mkString(", ")
    s"""WITH pats(pid, p) AS (VALUES $values),
       |occ AS (
       |  SELECT d.doc_id, pats.pid,
       |    COALESCE(list_sum(list_transform(
       |      range(1, greatest(length(coalesce(d.text, '')) - length(pats.p) + 2, 1)),
       |      i -> CASE WHEN substr(coalesce(d.text, ''), CAST(i AS INTEGER),
       |                       length(pats.p)) = pats.p THEN 1 ELSE 0 END)), 0) AS c
       |  FROM documents d CROSS JOIN pats
       |)
       |SELECT doc_id,
       |  CAST(sum(c) AS BIGINT) AS n_hits,
       |  CAST(sum(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS INTEGER) AS n_patterns
       |FROM occ GROUP BY 1""".stripMargin
  }

  // ---- the SCRUB half (X223): leftmost-longest non-overlapping
  // replacement via graft.plans.MultiReplace — what "remove banned
  // terms" means in a curation recipe. The gate plants the three
  // structures that distinguish the contract (longest-wins, adjacent
  // matches, non-overlap) with closed-form survivors; the SPEC pins
  // the algorithm against an independent mirror over the whole real
  // corpus, so the plant is coverage, not the only evidence. ----

  val Replacement = "[X]"

  def multiReplace(text: org.apache.spark.sql.Column,
      patterns: Seq[String]): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftColumnShim.column(
      graft.plans.MultiReplace(
        org.apache.spark.sql.GraftColumnShim.expression(text),
        org.apache.spark.sql.GraftColumnShim.expression(
          array(patterns.map(lit): _*)),
        org.apache.spark.sql.GraftColumnShim.expression(lit(Replacement))))

  /** doc_id % 4 = 0 → "scan slow" must consume as ONE phrase (longest
    * wins over the "scan" prefix pattern); 1 → two adjacent matches;
    * 2 → "a a a": one "a a" scrubbed, the tail kept (non-overlap);
    * 3 → pattern-free.
    */
  def plantScrubText: org.apache.spark.sql.Column = {
    val id = col("doc_id").cast("string")
    val mid = when(col("doc_id") % 4 === 0, lit("scan slow"))
      .when(col("doc_id") % 4 === 1, lit("scan fast"))
      .when(col("doc_id") % 4 === 2, lit("a a a"))
      .otherwise(lit("clean words"))
    concat(lit("intro w"), id, lit(" "), mid, lit(" outro q"), id)
  }

  def blocklistScrub(spark: SparkSession, dir: String): DataFrame =
    graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"), plantScrubText.as("t"))
      .select(col("doc_id"), multiReplace(col("t"), Patterns).as("m"))
      .select(col("doc_id"),
        col("m").getField("clean").as("clean"),
        col("m").getField("n_replaced").as("n_replaced"))

  def scrubOracle: String =
    s"""SELECT doc_id,
       |  'intro w' || CAST(doc_id AS VARCHAR) || ' ' ||
       |  CASE CAST(doc_id % 4 AS INTEGER)
       |    WHEN 0 THEN '[X]'
       |    WHEN 1 THEN '[X] [X]'
       |    WHEN 2 THEN '[X] a'
       |    ELSE 'clean words' END ||
       |  ' outro q' || CAST(doc_id AS VARCHAR) AS clean,
       |  CAST(CASE CAST(doc_id % 4 AS INTEGER)
       |    WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 1 ELSE 0 END AS BIGINT)
       |    AS n_replaced
       |FROM documents""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_blocklist_hits" -> Query((s, dir) => blocklistHits(s, dir), blocklistOracle),
    "q_blocklist_scrub" -> Query((s, dir) => blocklistScrub(s, dir), scrubOracle)
  )
}
