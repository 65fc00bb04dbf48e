package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Query, Tables}

/** Length-bucketed batch assembly (X227) — the padding-waste
  * optimization every trainer/inference server runs when sequences
  * are NOT packed (packing X49 concatenates; SFT and inference must
  * keep examples separate, so a batch pads to its longest member):
  * sequences group into power-of-two length buckets (bucket =
  * msb(n_toks) — the standard bucketing that bounds within-batch
  * length spread to 2×), order WITHIN a bucket by the salted-hash
  * shuffle key (X64's discipline: reproducible on any cluster,
  * append-stable — never `rand()`), and fixed-size batches cut by
  * `row_number DIV batch_size`. The report per batch carries the
  * numbers a capacity planner reads: member count, max/sum length,
  * and `pad_waste = n_seqs·max_len − sum_len` (the tokens the
  * accelerator pads for nothing — bucketing exists to shrink exactly
  * this).
  *
  * Shape: ONE bucket-keyed exchange (the window), partial-agg batch
  * rollup on the same key — text never moves, only (doc_id, n, key)
  * rows. [[batches]] keeps the direct form (one window task per
  * bucket — fine to mid-corpus sizes); [[batchesSharded]] is the
  * 100 TB path: BIT-IDENTICAL output (spec-pinned and gated against
  * the same oracle), with the per-bucket total order computed as 256
  * parallel shard windows plus integer offsets instead of one
  * straggler task per bucket.
  */
object Batching {

  val BatchSize = 8
  val OrderSalt = "batch-r13"

  /** (doc_id, n_toks, bucket, ord) — empty docs are ABSENT. */
  def sequences(spark: SparkSession, dir: String): DataFrame =
    graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
      .select(col("doc_id"),
        size(graft.text.TextOps.tokenize(col("text"))).cast("long").as("n_toks"))
      .filter(col("n_toks") > 0)
      .withColumn("bucket", expr("length(bin(n_toks))").cast("long"))
      .withColumn("ord", md5(concat(col("doc_id").cast("string"), lit(OrderSalt))))

  /** Per-batch report: (bucket, batch_id, n_seqs, max_len, sum_len,
    * pad_waste).
    */
  def batches(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("bucket")).orderBy(col("ord"), col("doc_id"))
    report(sequences(spark, dir).withColumn("rn", row_number().over(w)), "rn - 1")
  }

  /** The per-batch rollup of rows carrying (bucket, n_toks) and their
    * 0-based in-bucket rank `rank0` (a SQL expression).
    */
  private def report(ranked: DataFrame, rank0: String): DataFrame =
    ranked
      // DIV, not `/`: Spark's `/` on integers answers DOUBLE
      .withColumn("batch_id", expr(s"($rank0) DIV $BatchSize").cast("long"))
      .groupBy(col("bucket"), col("batch_id"))
      .agg(count(lit(1)).as("n_seqs"),
        max(col("n_toks")).as("max_len"),
        sum(col("n_toks")).as("sum_len"))
      .withColumn("pad_waste", col("n_seqs") * col("max_len") - col("sum_len"))

  /** Hex chars of `ord` keying a shard: 2 → 256 shards per bucket. */
  val ShardHexChars = 2

  /** The sharded 100 TB form of [[batches]] — same rows, bit for bit.
    *
    * Why it is exact and not an approximation: `ord` is an md5 HEX
    * string and the shard key is its first [[ShardHexChars]] chars —
    * a PREFIX of the primary sort key. Lexicographic order therefore
    * factors: (shard asc, then (ord, doc_id) within shard) IS the
    * global (ord, doc_id) order, so [[Prefix.before]] — a shard-local
    * running count plus the count of all earlier shards in the bucket —
    * gives the global rank exactly. The local window runs on (bucket,
    * shard) — 256 parallel tasks per bucket instead of one — and the
    * start table is ≤ buckets×256 tiny rows. No straggler survives:
    * every exchange key has ~1/256 of a bucket.
    */
  def batchesSharded(spark: SparkSession, dir: String): DataFrame = {
    val seqs = sequences(spark, dir)
      .withColumn("shard",
        conv(substring(col("ord"), 1, ShardHexChars), 16, 10).cast("long"))
    report(Prefix.before(seqs, Seq("bucket"), "shard", Seq("ord", "doc_id"), lit(1L)), "before")
  }

  def oracle: String =
    s"""WITH seqs AS (
       |  SELECT doc_id,
       |    CAST(len(${graft.text.TextOps.tokenizeSql("text")}) AS BIGINT) AS n_toks,
       |    md5(CAST(doc_id AS VARCHAR) || '$OrderSalt') AS ord
       |  FROM documents),
       |nonempty AS (
       |  SELECT doc_id, n_toks, CAST(length(bin(n_toks)) AS BIGINT) AS bucket, ord
       |  FROM seqs WHERE n_toks > 0),
       |numbered AS (
       |  SELECT bucket, n_toks,
       |    (row_number() OVER (PARTITION BY bucket ORDER BY ord, doc_id) - 1)
       |      // $BatchSize AS batch_id
       |  FROM nonempty)
       |SELECT bucket, CAST(batch_id AS BIGINT) AS batch_id,
       |  CAST(count(*) AS BIGINT) AS n_seqs,
       |  CAST(max(n_toks) AS BIGINT) AS max_len,
       |  CAST(sum(n_toks) AS BIGINT) AS sum_len,
       |  CAST(count(*) * max(n_toks) - sum(n_toks) AS BIGINT) AS pad_waste
       |FROM numbered GROUP BY bucket, batch_id""".stripMargin

  def queries: Seq[(String, Query)] = Seq(
    "q_length_batches" -> Query((s, dir) => batches(s, dir), oracle),
    // the sharded form is bit-identical by construction — one oracle
    "q_length_batches_sharded" -> Query((s, dir) => batchesSharded(s, dir), oracle)
  )
}
