package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Relative-link resolution over the corpus (see
  * [[graft.plans.ResolveUrl]]): each document contributes a planted
  * page URL and a relative reference covering all RFC 3986 §5.2.2
  * classes keyed by doc_id; the oracle restates each class's resolved
  * form closed-form — dot-segment collapse, sibling/parent paths,
  * network-path and absolute refs, query replacement vs retention,
  * fragment-only refs. Map-only; the link graph this feeds joins on
  * the RESOLVED edge, which is what makes [[Urls]]' in-degree real on
  * relative-href pages.
  */
object Links {

  def plantBase = concat(lit("http://h"), (col("doc_id") % 23).cast("string"),
    lit(".example.com/a"), (col("doc_id") % 7).cast("string"), lit("/b/c?bq=1"))

  def plantRef = {
    val k = col("doc_id") % 9
    when(k === 0, lit("d"))
      .when(k === 1, lit("./d"))
      .when(k === 2, lit("../d"))
      .when(k === 3, lit("../../d"))
      .when(k === 4, lit("/abs/p"))
      .when(k === 5, concat(lit("//mirror"), (col("doc_id") % 4).cast("string"), lit(".net/m")))
      .when(k === 6, concat(lit("https://ext"), (col("doc_id") % 5).cast("string"), lit(".org/x")))
      .when(k === 7, concat(lit("?q="), (col("doc_id") % 11).cast("string")))
      .otherwise(lit("#sec"))
  }

  /** (doc_id, resolved). */
  def resolvedLinks(spark: SparkSession, dir: String): DataFrame =
    graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"), plantBase.as("base"), plantRef.as("ref"))
      .select(col("doc_id"),
        org.apache.spark.sql.GraftColumnShim.column(
          graft.plans.ResolveUrl(
            org.apache.spark.sql.GraftColumnShim.expression(col("base")),
            org.apache.spark.sql.GraftColumnShim.expression(col("ref"))))
          .as("resolved"))

  def linksOracle: String =
    s"""SELECT doc_id,
       |  CASE doc_id % 9
       |    WHEN 0 THEN 'http://h' || CAST(doc_id % 23 AS VARCHAR) || '.example.com/a' ||
       |      CAST(doc_id % 7 AS VARCHAR) || '/b/d'
       |    WHEN 1 THEN 'http://h' || CAST(doc_id % 23 AS VARCHAR) || '.example.com/a' ||
       |      CAST(doc_id % 7 AS VARCHAR) || '/b/d'
       |    WHEN 2 THEN 'http://h' || CAST(doc_id % 23 AS VARCHAR) || '.example.com/a' ||
       |      CAST(doc_id % 7 AS VARCHAR) || '/d'
       |    WHEN 3 THEN 'http://h' || CAST(doc_id % 23 AS VARCHAR) || '.example.com/d'
       |    WHEN 4 THEN 'http://h' || CAST(doc_id % 23 AS VARCHAR) || '.example.com/abs/p'
       |    WHEN 5 THEN 'http://mirror' || CAST(doc_id % 4 AS VARCHAR) || '.net/m'
       |    WHEN 6 THEN 'https://ext' || CAST(doc_id % 5 AS VARCHAR) || '.org/x'
       |    WHEN 7 THEN 'http://h' || CAST(doc_id % 23 AS VARCHAR) || '.example.com/a' ||
       |      CAST(doc_id % 7 AS VARCHAR) || '/b/c?q=' || CAST(doc_id % 11 AS VARCHAR)
       |    ELSE 'http://h' || CAST(doc_id % 23 AS VARCHAR) || '.example.com/a' ||
       |      CAST(doc_id % 7 AS VARCHAR) || '/b/c?bq=1#sec'
       |  END AS resolved
       |FROM documents""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_link_resolve" -> Query((s, dir) => resolvedLinks(s, dir), linksOracle)
  )
}
