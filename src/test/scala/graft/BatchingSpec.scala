package graft

import org.apache.spark.sql.functions._
import graft.ops.Batching

class BatchingSpec extends SparkSuite {

  test("every sequence lands in exactly one batch; batches respect the size cap") {
    val seqs = Batching.sequences(spark, Sf).count()
    val b = Batching.batches(spark, Sf).persist()
    assert(b.agg(sum(col("n_seqs"))).collect()(0).getLong(0) === seqs)
    assert(b.filter(col("n_seqs") > Batching.BatchSize).count() === 0)
    // only the LAST batch of a bucket may run short
    val short = b.filter(col("n_seqs") < Batching.BatchSize)
      .groupBy("bucket").count().filter(col("count") > 1).count()
    b.unpersist()
    assert(short === 0, "at most one short batch per bucket")
  }

  test("bucketing bounds within-batch length spread to 2x") {
    val bad = Batching.batches(spark, Sf)
      .join(Batching.sequences(spark, Sf).groupBy("bucket")
        .agg(min(col("n_toks")).as("bmin")), "bucket")
      .filter(col("max_len") >= col("bmin") * 2).count()
    assert(bad === 0, "a power-of-two bucket holds [2^k, 2^(k+1))")
  }

  test("pad_waste is exactly the padding a dense batch tensor would burn") {
    val rows = Batching.batches(spark, Sf).collect()
    rows.foreach { r =>
      assert(r.getLong(5) == r.getLong(2) * r.getLong(3) - r.getLong(4))
      assert(r.getLong(5) >= 0)
    }
  }

  test("bucketed batching wastes less than one global batch stream") {
    val seqs = Batching.sequences(spark, Sf)
      .select("n_toks", "ord", "doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // unbucketed baseline: same hash order, one global stream
    val global = seqs.sortBy(t => (t._2, t._3)).map(_._1)
      .grouped(Batching.BatchSize)
      .map(g => g.length * g.max - g.sum).sum
    val bucketed = Batching.batches(spark, Sf)
      .agg(sum(col("pad_waste"))).collect()(0).getLong(0)
    assert(bucketed < global,
      s"bucketed $bucketed must beat the unbucketed $global")
  }

  test("sharded form is bit-identical to the direct form") {
    // the 100 TB path must produce the SAME batches with the SAME ids:
    // the shard key is a prefix of the sort key, so shard-local ranks
    // plus offsets reconstruct the global order exactly
    val direct = Batching.batches(spark, Sf)
    val sharded = Batching.batchesSharded(spark, Sf)
    assert(direct.exceptAll(sharded).count() === 0)
    assert(sharded.exceptAll(direct).count() === 0)
  }

  test("sharded form never funnels a bucket through one window task") {
    val plan = Batching.batchesSharded(spark, Sf)
      .queryExecution.executedPlan.toString
    // the in-bucket running count over (ord, doc_id) must partition by
    // (bucket, shard) — a bucket-only window would be the straggler this
    // form removes
    val local = "windowspecdefinition\\(bucket#\\d+L?,\\s*shard#\\d+L?,\\s*ord#\\d+ ASC".r
    assert(local.findFirstIn(plan).isDefined,
      s"running-count window keyed by (bucket, shard):\n$plan")
    val bucketOnly = "windowspecdefinition\\(bucket#\\d+L?,\\s*ord#".r
    assert(bucketOnly.findFirstIn(plan).isEmpty, s"no window keyed by bucket alone:\n$plan")
  }

  test("one bucket-keyed exchange feeds both the window and the rollup") {
    val plan = Batching.batches(spark, Sf).queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 2, s"window + rollup on one key family:\n$plan")
  }
}
