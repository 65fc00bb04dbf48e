package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Query

/** Scale tactics that exist for the 1000-executor case and cannot be seen
  * in the logical result at all — only in the physical plan:
  *
  *   - [[saltedJoin]]: skew mitigation for a join with hot keys. AQE's
  *     skew-join split handles sort-merge skew at runtime; explicit salting
  *     remains the portable fix when one key floods a single task (e.g. a
  *     null-heavy foreign key or one giant customer), and the technique the
  *     brief calls out. Big side gets a uniform salt in [0, salts); small
  *     side is replicated once per salt value; the join key becomes
  *     (key, salt), spreading each hot key over `salts` tasks. Result rows
  *     are EXACTLY those of the plain join (each big row matches exactly
  *     one replica).
  *   - [[explodeSalts]]: the replication helper, usable alone when the
  *     small side feeds several salted joins.
  *
  * Bucketed co-located joins (the third tactic) are exercised in
  * `ScaleOpsSpec` via `bucketBy().saveAsTable` — they are a write-time
  * catalog property, not a Column transform, so there is nothing to wrap
  * here; the spec asserts the shuffle-free plan shape.
  */
object ScaleOps {

  /** Uniform deterministic-enough salt: row identity hashed into
    * [0, salts). (`monotonically_increasing_id` varies across runs, which
    * is fine — any uniform assignment is correct; results never depend on
    * which replica a row meets.)
    */
  private def salt(salts: Int): Column =
    pmod(xxhash64(monotonically_increasing_id()), lit(salts.toLong))

  /** Replicate `small` once per salt value, adding `__salt`. */
  def explodeSalts(small: DataFrame, salts: Int): DataFrame =
    small.withColumn("__salt", explode(array((0 until salts).map(i => lit(i.toLong)): _*)))

  /** Equi-join `big ⋈ small` on `key`, spreading each of big's keys over
    * `salts` partitions. Inner and left-outer shapes supported (the small
    * side is replicated, so right/full outer would duplicate unmatched
    * small rows — rejected).
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String, salts: Int,
                 joinType: String = "inner"): DataFrame = {
    require(joinType == "inner" || joinType == "left" || joinType == "left_outer",
      s"salting replicates the small side; '$joinType' would duplicate its unmatched rows")
    val b = big.withColumn("__salt", salt(salts))
    val s = explodeSalts(small, salts)
    b.join(s, b(key) === s(key) && b("__salt") === s("__salt"), joinType)
      .drop(s(key)).drop(b("__salt")).drop(s("__salt"))
  }

  /** Oracle-gated use of [[saltedJoin]]: per-nation item counts and
    * quantity cents over lineitem ⋈ supplier, joined SALTED on the Spark
    * side while the DuckDB twin states the plain join — the gate proves
    * the salt algebra (replica per salt value, exactly-one-match) changes
    * nothing about the result, which is the entire point of the tactic.
    * `l_suppkey` is the hot-key shape at scale (one giant supplier);
    * integer-cents sums keep the compare exact (floor(x·100), the house
    * quantization — Spark's bare double→long cast truncates while
    * DuckDB's rounds half-even).
    */
  def saltedNationVolume(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val li = graft.Tables.lineitem(spark, dir)
      .select(col("l_suppkey").as("suppkey"),
        floor(col("l_quantity") * 100).cast("long").as("qty_cents"))
    val sup = graft.Tables.supplier(spark, dir)
      .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
    saltedJoin(li, sup, "suppkey", salts = 8)
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_items"), sum(col("qty_cents")).as("qty_cents"))
  }

  def saltedNationVolumeOracle: String =
    s"""SELECT s_nationkey, count(*) AS n_items,
       |  CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents
       |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
       |GROUP BY s_nationkey""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_salted_join" -> Query((s, dir) => saltedNationVolume(s, dir), saltedNationVolumeOracle)
  )

  /** Widen an under-split source before a compute-bound stage.
    *
    * A parquet file is splittable only at row-group boundaries; a small
    * single-row-group file therefore scans as ONE task, and any expensive
    * per-row expressions layered on the scan (digest signatures, shingle
    * hashing) serialize onto one core no matter how many sit idle —
    * measured: the sf0.1 `documents` fixture is one row group, pinning
    * the whole SimHash/MinHash signature stage to a single thread.
    *
    * The fix is one round-robin exchange of the RAW rows (cheap by
    * premise: the source is small) bought only when needed: if the scan
    * already yields at least the cluster's parallelism — every real
    * 100 TB table — this is the identity and the plan is untouched.
    */
  /** MEASURED skew evidence: the same hot-key join run unsalted and
    * salted, instrumented with a task-metrics listener — returns
    * (max task shuffle-read records unsalted, same salted). The fixture
    * floods ONE key with `hotRows` rows next to 100 uniform keys; the
    * salted plan must spread that key over `salts` tasks while the
    * unsalted plan funnels it into one. Broadcast is disabled for the
    * measurement (a broadcast join has no shuffle to skew); AQE's
    * skew-join split does not engage at these sizes (threshold 256 MB),
    * so the numbers isolate the salting itself. Used by ScaleOpsSpec
    * (assert) and ScaleProbe (artifact entry).
    */
  def skewProof(spark: org.apache.spark.sql.SparkSession,
      hotRows: Long, salts: Int): (Long, Long) = {
    val sc = spark.sparkContext
    val big = spark.range(hotRows).select(lit(0L).as("k"), col("id").as("v"))
      .union(spark.range(hotRows).select((col("id") % 100 + 1).as("k"), col("id").as("v")))
    val small = spark.range(101).select(col("id").as("k"), (col("id") * 7).as("w"))

    def maxTaskRead(action: => Unit): Long = {
      val max = new java.util.concurrent.atomic.AtomicLong(0L)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = t.taskMetrics
          if (m != null) {
            val r = m.shuffleReadMetrics.recordsRead
            var cur = max.get()
            while (r > cur && !max.compareAndSet(cur, r)) cur = max.get()
          }
        }
      }
      sc.addSparkListener(listener)
      try {
        action
        // listener events are async: poll until the max is stable
        var last = -1L
        var stable = 0
        var polls = 0
        while (stable < 3 && polls < 50) {
          Thread.sleep(100)
          val now = max.get()
          if (now == last) stable += 1 else { stable = 0; last = now }
          polls += 1
        }
      } finally sc.removeSparkListener(listener)
      max.get()
    }

    // AQE's small-partition coalescing would merge the whole toy-scale
    // shuffle into ONE task (total bytes < the 64 MB advisory size) and
    // mask the per-key distribution; at production scale partitions
    // exceed the advisory size and no such merge happens, so disabling
    // it here is what keeps the toy measurement faithful to the real one
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevCoalesce = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    // the measurement needs partitions >> 1 so per-task load reflects the
    // KEY distribution, not the partition-count ceiling (a 4-partition
    // test session would bound every task at total/4 and mask the skew)
    spark.conf.set("spark.sql.shuffle.partitions", salts.toString)
    try {
      val unsalted = maxTaskRead {
        big.join(small, "k").agg(sum(col("v") + col("w"))).collect(); ()
      }
      val salted = maxTaskRead {
        saltedJoin(big, small, "k", salts)
          .agg(sum(col("v") + col("w"))).collect(); ()
      }
      (unsalted, salted)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prevCoalesce)
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    }
  }

  def widen(df: DataFrame): DataFrame = {
    val slots = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < slots) df.repartition(slots) else df
  }
}
