package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact ordered prefixes — a global row number, a running token count,
  * a per-group rank — without the single-task window.
  *
  * The naive form, `sum(w) OVER (PARTITION BY g ORDER BY o)`, funnels a
  * whole group (the whole corpus when `g` is empty) through ONE task. The
  * scalable form needs a shard column whose order is a prefix of the row
  * order within each group: shard ascending, then `o` within the shard,
  * IS the order `o`. Then
  *
  *   1. per-(g, shard) totals — one aggregate, shard-count-sized output;
  *   2. an exclusive running sum of those totals per group — the only
  *      ordered window over a group, and it sees the tiny totals table;
  *   3. a shard-local exclusive running sum (window partitioned by
  *      (g, shard), every shard in parallel) plus the shard's start
  *      (broadcast back) = the exact exclusive prefix of every row.
  *
  * A shard is either a key prefix the caller computes (a hash byte, a
  * length bucket) or [[rangeShards]]' range-partition id. The result is
  * bit-equal to the naive window, which is what the oracles compute.
  */
object Prefix {

  /** Per (groups, shard): the shard's total weight `k` and its exclusive
    * running `start` within its group, in shard order.
    */
  def shardStarts(df: DataFrame, groups: Seq[String], shard: String, weight: Column): DataFrame = {
    val wStart = Window.partitionBy(groups.map(col): _*).orderBy(col(shard))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.groupBy((groups :+ shard).map(col): _*).agg(sum(weight).as("k"))
      .withColumn("start", coalesce(sum(col("k")).over(wStart), lit(0L)))
  }

  /** `df` (all columns, in order) plus `before`: the sum of `weight` over
    * every earlier row of the same group in `order` (keys jointly unique
    * within a group) — the shard's start plus the shard-local exclusive
    * running sum.
    */
  def before(df: DataFrame, groups: Seq[String], shard: String, order: Seq[String],
             weight: Column): DataFrame = {
    val keys = groups :+ shard
    val wLocal = Window.partitionBy(keys.map(col): _*).orderBy(order.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val starts = shardStarts(df, groups, shard, weight).select((keys :+ "start").map(col): _*)
    df.join(broadcast(starts), keys)
      .select(df.columns.map(col) :+
        (col("start") + coalesce(sum(weight).over(wLocal), lit(0L))).as("before"): _*)
  }

  /** Range-partition `df` by `keys` and store the partition id as `pid`:
    * partitions are globally ordered, so `pid` is a shard for [[before]].
    * The persist is a correctness requirement, not a cache: the range
    * partitioner's sampled bounds are not guaranteed identical across two
    * evaluations, and [[before]] reads `pid` twice (totals and local
    * sums) — divergent ids would corrupt every offset.
    */
  def rangeShards(df: DataFrame, keys: Seq[String]): DataFrame =
    Caches.persist(df.repartitionByRange(df.sparkSession.sessionState.conf.numShufflePartitions,
        keys.map(col): _*)
      .withColumn("pid", spark_partition_id()))
}
