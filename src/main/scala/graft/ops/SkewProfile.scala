package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** JOIN-KEY SKEW profiler (X210) — the diagnostic run BEFORE choosing
  * between a plain shuffle join, AQE skew splitting, and the X17
  * salting operator: per-key row counts reduced to one row
  * (n_keys, total_rows, max_rows, hot_key, skew_m) where
  * skew_m = (max_rows · n_keys · 1000) DIV total_rows — 1000 means
  * perfectly uniform, 32000 means the hottest key carries 32× its fair
  * share (the measured 13× salting win in `_skew_proof` started from
  * exactly this number). hot_key ties break to the smallest key so the
  * row is deterministic.
  *
  * Shape: one key-keyed count aggregate (map-side combined), then a
  * scalar reduction plus one broadcast max filter — the profile costs
  * one pass whatever the table size.
  */
object SkewProfile {

  def profile(rows: DataFrame, key: String): DataFrame = {
    val cnts = Caches.persist(rows.groupBy(col(key).as("k")).agg(count(lit(1)).as("cnt")))
    val stats = cnts.agg(count(lit(1)).as("n_keys"),
      sum(col("cnt")).as("total_rows"), max(col("cnt")).as("max_rows"))
    val hot = cnts.join(broadcast(stats.select(col("max_rows"))),
        col("cnt") === col("max_rows"))
      .agg(min(col("k")).as("hot_key"))
    stats.crossJoin(broadcast(hot))
      .select(col("n_keys"), col("total_rows"), col("max_rows"),
        col("hot_key").cast("long").as("hot_key"),
        expr("(max_rows * n_keys * 1000) DIV total_rows").as("skew_m"))
  }

  def profileOracle(table: String, key: String): String =
    s"""WITH c AS (
       |  SELECT $key AS k, CAST(count(*) AS BIGINT) AS cnt
       |  FROM $table GROUP BY 1),
       |s AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_keys,
       |    CAST(sum(cnt) AS BIGINT) AS total_rows,
       |    CAST(max(cnt) AS BIGINT) AS max_rows
       |  FROM c)
       |SELECT n_keys, total_rows, max_rows,
       |  CAST((SELECT min(k) FROM c, s WHERE cnt = max_rows) AS BIGINT) AS hot_key,
       |  CAST((max_rows * n_keys * 1000) // total_rows AS BIGINT) AS skew_m
       |FROM s""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_skew_profile" -> Query((s, dir) =>
      profile(Tables.lineitem(s, dir), "l_suppkey"),
      profileOracle("lineitem", "l_suppkey"))
  )
}
