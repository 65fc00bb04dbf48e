package graft

import org.apache.spark.sql.functions._
import graft.ops.{Caches, Prefix}

/** [[Prefix]] over [[Prefix.rangeShards]] at a size where the range
  * partitioner samples. `repartitionByRange` samples up to
  * `ceil(3 * 20 * partitions / inputPartitions)` rows per input partition
  * (510 at 17 partitions from 2 inputs), with a seed that depends on the
  * RDD id. At the fixture sizes other suites number, two evaluations drew
  * the same bounds, so no result test there needs the persist in
  * [[Prefix.rangeShards]]. Here each input partition holds
  * 100k rows, so two evaluations of the unpersisted range shuffle draw
  * different bounds, and [[Prefix.before]] (which reads `pid` for its
  * shard totals and again for its local sums) would mix the two. Exchange
  * reuse is off: with it on, AQE happens to plan both reads over one
  * shuffle, and the persist must not depend on that.
  */
class PrefixSpec extends SparkSuite {

  test("global numbering of 200k rows from 2 inputs at 17 shards is exactly 1..n in key order") {
    // a prime row count and a stride coprime to it: `key` is a permutation
    // of 0..n-1, so the row_num of `key` must be key + 1
    val n = 200003L
    val input = spark.range(0L, n, 1L, 2).select(((col("id") * 7919L) % n).as("key"))
    val conf = spark.conf
    val settings = Map("spark.sql.shuffle.partitions" -> "17", "spark.sql.exchange.reuse" -> "false")
    val orig = settings.keys.map(k => k -> conf.get(k)).toMap
    try {
      settings.foreach { case (k, v) => conf.set(k, v) }
      val numbered = Prefix.before(Prefix.rangeShards(input, Seq("key")), Nil, "pid",
          Seq("key"), lit(1L))
        .select(col("pid"), col("key"), (col("before") + 1L).as("row_num"))
      val Array(stats) = numbered.agg(count(lit(1)), countDistinct("pid"),
          sum(when(col("row_num") =!= col("key") + 1L, 1L).otherwise(0L)))
        .collect()
      assert(stats.getLong(0) === n)
      assert(stats.getLong(1) === 17L, "every range shard holds rows")
      assert(stats.getLong(2) === 0L, "rows whose row_num is not their rank in key order")
    } finally {
      orig.foreach { case (k, v) => conf.set(k, v) }
      Caches.release()
    }
  }
}
