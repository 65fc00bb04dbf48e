package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** K-ANONYMITY report (X204) — the privacy audit run next to the X194
  * pseudonymization vault before a dataset with person-adjacent
  * attributes ships: group rows by the quasi-identifier combination
  * and histogram the group sizes. A row in a group of size k is
  * re-identifiable to 1-in-k; the table below k = 5 is what a privacy
  * review flags. Quasi-identifiers here are the customer dimension's
  * (nation, market segment) — the classic demographic-ish pair the
  * TPC-H schema carries.
  *
  * Output (k, n_groups, n_rows): how many quasi-identifier groups have
  * exactly k members and how many rows sit at that exposure level.
  * Two hash aggregates, the second over group-count-sized data —
  * nothing corpus-sized shuffles twice.
  */
object Privacy {

  def kAnonymity(rows: DataFrame, quasi: Seq[String]): DataFrame =
    rows.groupBy(quasi.map(col): _*).agg(count(lit(1)).as("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_groups"),
        sum(col("k")).as("n_rows"))

  def customerKAnonymity(spark: SparkSession, dir: String): DataFrame =
    kAnonymity(Tables.customer(spark, dir), Seq("c_nationkey", "c_mktsegment"))

  def kAnonymityOracle: String =
    s"""WITH g AS (
       |  SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS k
       |  FROM customer GROUP BY 1, 2)
       |SELECT k, CAST(count(*) AS BIGINT) AS n_groups,
       |  CAST(sum(k) AS BIGINT) AS n_rows
       |FROM g GROUP BY k""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_kanonymity" -> Query((s, dir) => customerKAnonymity(s, dir), kAnonymityOracle)
  )
}
