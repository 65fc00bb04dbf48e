package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Positional proximity scoring — the smallest token window containing
  * ALL query terms, per document. BM25 (X97) ranks by term statistics
  * alone; proximity is the standard second signal (and the snippet /
  * QA-mining window extractor): a document where the query terms sit
  * in one phrase beats one where they are pages apart.
  *
  * Algorithm, fully relational (the classic sweep, no per-doc arrays):
  * explode token positions, keep query-term hits, and for each hit
  * position p track `last_t(p)` = the latest position of term t at or
  * before p via one CONDITIONAL running max per term over a window
  * keyed by doc; the minimal window ending at p is
  * `p − min_t last_t(p) + 1` once every term has appeared, and the
  * document's answer is the min over p — provably the global minimal
  * window. One explode + one per-doc window + one aggregate; the
  * filter to query terms makes the windowed relation
  * |occurrences|-sized, not corpus-sized. The DuckDB oracle runs the
  * IDENTICAL window recurrence.
  *
  * Reference scope: no retrieval surface in the reference; north-star
  * machinery next to X97.
  */
object Proximity {

  /** The fixture query — three high-frequency vocab words, so most
    * documents contain all of them and the min is non-trivial.
    */
  val QueryTerms = Seq("key", "table", "row")

  /** (doc_id, n_hits, min_window) for documents containing EVERY
    * query term; absent-term documents produce no row (no sentinel
    * scores — the join side decides what a miss means).
    */
  def minWindow(spark: SparkSession, dir: String): DataFrame = {
    val hits = graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"),
        posexplode(split(coalesce(col("text"), lit("")), " ")).as(Seq("pos", "tok")))
      .filter(col("tok").isin(QueryTerms: _*))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val lastCols = QueryTerms.zipWithIndex.map { case (t, i) =>
      max(when(col("tok") === t, col("pos"))).over(w).as(s"l$i")
    }
    val lasts = QueryTerms.indices.map(i => col(s"l$i"))
    hits.select(col("doc_id") +: col("pos") +: lastCols: _*)
      .filter(lasts.map(_.isNotNull).reduce(_ && _))
      .withColumn("win", col("pos") - least(lasts: _*) + 1)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"), min(col("win")).cast("long").as("min_window"))
  }

  def minWindowOracle: String = {
    val lastDefs = QueryTerms.zipWithIndex.map { case (t, i) =>
      s"""MAX(CASE WHEN tok = '$t' THEN pos END) OVER (
         |      PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS l$i""".stripMargin
    }.mkString(",\n    ")
    val ls = QueryTerms.indices.map(i => s"l$i")
    s"""WITH toks AS (
       |  SELECT doc_id, CAST(t.i - 1 AS INTEGER) AS pos,
       |    string_split(coalesce(text, ''), ' ')[t.i] AS tok
       |  FROM documents,
       |    unnest(range(1, len(string_split(coalesce(text, ''), ' ')) + 1)) AS t(i)),
       |hits AS (
       |  SELECT doc_id, pos, tok FROM toks
       |  WHERE tok IN (${QueryTerms.map(t => s"'$t'").mkString(", ")})),
       |lasts AS (
       |  SELECT doc_id, pos,
       |    $lastDefs
       |  FROM hits)
       |SELECT doc_id, COUNT(*) AS n_hits,
       |  CAST(MIN(pos - least(${ls.mkString(", ")}) + 1) AS BIGINT) AS min_window
       |FROM lasts
       |WHERE ${ls.map(l => s"$l IS NOT NULL").mkString(" AND ")}
       |GROUP BY doc_id""".stripMargin
  }

  def queries: Seq[(String, Query)] = Seq(
    "q_min_window" -> Query((s, dir) => minWindow(s, dir), minWindowOracle)
  )
}
