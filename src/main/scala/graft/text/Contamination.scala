package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, Tables}
import graft.dedup.Dedup

/** Benchmark decontamination — the training-data hygiene step every LLM
  * pipeline runs before the corpus ships: flag training documents that
  * share a word n-gram with the evaluation/benchmark set, so eval answers
  * don't leak into training. (Beyond the reference's own surface; part of
  * the LLM-data-pipeline addendum alongside the dedup family the
  * reference's NLP preprocess gestures at,
  * `preprocess_and_store_parquets.py:12`.)
  *
  * 100 TB shape: the two sides are wildly asymmetric — eval sets are
  * megabytes (≤ ~10⁶ distinct n-grams ≈ 8 MB of hashed longs) while the
  * corpus is the 100 TB side. So the benchmark's distinct n-gram hashes
  * are BROADCAST (bounded by eval-set size, never corpus size — unlike a
  * vocabulary table, this side cannot grow with the corpus), the corpus
  * side explodes its n-grams map-side into the broadcast hash join, and
  * per-doc hit counts partial-aggregate before the only shuffle (one row
  * per doc). The corpus is scanned once; no corpus-sized state anywhere.
  *
  * N-grams are hashed through the same fused codegen'd
  * [[graft.plans.ShingleHashes]] / md5-fold contract as the MinHash
  * family, so the DuckDB oracle replicates the exact candidate set.
  */
object Contamination {

  /** n-gram window. Real pipelines use 8-13-grams; the fixture documents
    * are ~16 tokens, so 5 keeps planted near-dups detectable while
    * background collisions stay rare.
    */
  val N = 5

  /** Stand-in eval-set membership rule: every 20th doc_id plays the
    * benchmark. A real deployment swaps this for its eval table — the
    * plan shape (small side broadcast, corpus side streamed) is the same.
    */
  val BenchMod = 20L

  /** (doc_id, n_hits, contaminated) for every NON-benchmark document:
    * n_hits = |distinct n-grams shared with the benchmark set|.
    */
  def contamination(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
    val grams = Dedup.MinHashLSH.shingleHashes(col("text"), N)
    val bench = docs.filter(col("doc_id") % BenchMod === 0)
      .select(explode(grams).as("g")).distinct()
    // explode_outer keeps zero-gram (short/null-text) docs in the output;
    // count(hit) counts non-null matches, so they score 0 — mirrored by
    // the oracle's LEFT JOIN back to the document list
    val train = docs.filter(col("doc_id") % BenchMod =!= 0)
      .select(col("doc_id"), explode_outer(grams).as("g"))
    train.join(broadcast(bench.withColumn("hit", lit(1))), Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("hit")).as("n_hits"))
      .withColumn("contaminated", col("n_hits") > 0)
  }

  def oracle: String = {
    val hv = Dedup.MinHashLSH.baseHashesSql(Dedup.shinglesNSql("text", N))
    s"""WITH bench AS (
       |  SELECT DISTINCT unnest($hv) AS g FROM documents WHERE doc_id % $BenchMod = 0
       |), grams AS (
       |  SELECT doc_id, unnest($hv) AS g FROM documents WHERE doc_id % $BenchMod <> 0
       |), hits AS (
       |  SELECT gr.doc_id, count(*) AS n_hits
       |  FROM grams gr JOIN bench b USING (g) GROUP BY gr.doc_id
       |)
       |SELECT d.doc_id, coalesce(h.n_hits, CAST(0 AS BIGINT)) AS n_hits,
       |  coalesce(h.n_hits, CAST(0 AS BIGINT)) > 0 AS contaminated
       |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
       |WHERE d.doc_id % $BenchMod <> 0""".stripMargin
  }

  /** Bloom parameters: sized for ~10⁵ distinct eval n-grams at ~1% fpp
    * (≈ 10 bits/item). At deploy these scale with the eval union — the
    * sketch stays MBs where the hash LIST would be GBs.
    */
  val BloomItems = 100000L
  val BloomBits = 1000000L

  /** Bloom-prefiltered twin of [[contamination]] for when even the
    * eval-set hash list outgrows a comfortable broadcast (unions of many
    * benchmark suites): the benchmark grams fold into ONE fixed-size
    * Bloom sketch (`bloom_filter_agg` — native, partial-aggregated), the
    * corpus side drops every n-gram the sketch rejects BEFORE any join
    * (map-side, against a driver-held constant sketch), and only the
    * survivors — true hits
    * plus the fpp sliver — meet the benchmark in an exact SHUFFLE hash
    * join (hinted: the whole point is that nothing eval-sized is
    * broadcast). Bloom filters have no false negatives and the exact join
    * removes the false positives, so the result is BIT-IDENTICAL to the
    * broadcast path — same DuckDB oracle gates both.
    */
  def bloomContamination(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftColumnShim.{column, expression}
    val docs = graft.ops.ScaleOps.widen(Tables.documents(spark, dir))
    val grams = Dedup.MinHashLSH.shingleHashes(col("text"), N)
    val bench = docs.filter(col("doc_id") % BenchMod === 0)
      .select(explode(grams).as("g")).distinct()
    // build the sketch distributed (partial-aggregated), then hold the
    // ONE binary row on the driver as a literal — `might_contain`
    // requires a constant bloom side, and the sketch is model-sized
    // (BloomBits/8 bytes regardless of eval cardinality), the same
    // collect discipline as the quality-model weights. bloom_filter_agg
    // is not in the public function registry, so the Catalyst aggregate
    // is constructed directly (the ColumnShim path, like the repo's own
    // expressions).
    val bloomAgg = column(new org.apache.spark.sql.catalyst.expressions.aggregate
      .BloomFilterAggregate(expression(col("g")),
        expression(lit(BloomItems)), expression(lit(BloomBits)))
      .toAggregateExpression())
    val bf = bench.agg(bloomAgg.as("bf")).collect()(0).getAs[Array[Byte]](0)
    val mightContain = column(
      new org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal
          .create(bf, org.apache.spark.sql.types.BinaryType),
        expression(col("g"))))
    val train = docs.filter(col("doc_id") % BenchMod =!= 0)
    val pruned = train.select(col("doc_id"), explode(grams).as("g"))
      .filter(mightContain)
      .select(col("doc_id"), col("g"))
    val hits = pruned.join(bench.hint("shuffle_hash"), Seq("g"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("h"))
    train.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("h"), lit(0L)).as("n_hits"))
      .withColumn("contaminated", col("n_hits") > 0)
  }

  def queries: Seq[(String, Query)] = Seq(
    "q_decontaminate" -> Query((s, dir) => contamination(s, dir), oracle),
    // the bloom path is exact (no false negatives + exact verify join),
    // so the SAME oracle gates it
    "q_decontaminate_bloom" -> Query((s, dir) => bloomContamination(s, dir), oracle)
  )
}
