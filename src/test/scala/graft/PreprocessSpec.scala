package graft

import org.apache.spark.sql.functions._
import graft.pipelines.Preprocess

class PreprocessSpec extends SparkSuite {

  private val bucket = "3-1997"

  test("ordered chunk pages: disjoint, ordered, <= chunkSize, equal to the per-page loop") {
    val n = 100
    val pages = Preprocess.orderedChunkPages(spark, Sf, n).cache()
    val total = Tables.table(spark, Sf, "orders").count()
    assert(pages.count() === total)
    // page sizes: all full except possibly the last
    val sizes = pages.groupBy("chunk_id").count().orderBy("chunk_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(sizes.init.forall(_._2 == n) && sizes.last._2 <= n)
    // faithful per-page twin (the reference's dead code) for two pages
    import org.apache.spark.sql.functions._
    val keys = Tables.table(spark, Sf, "orders")
      .orderBy("o_orderkey").select("o_orderkey")
      .collect().map(_.getLong(0))
    for (page <- Seq(0, 2)) {
      val expect = keys.slice(page * n, (page + 1) * n).toSeq
      val got = pages.filter(col("chunk_id") === page).orderBy("pos")
        .select("o_orderkey").collect().map(_.getLong(0)).toSeq
      assert(got === expect, s"page $page diverged from ORDER BY/LIMIT semantics")
    }
  }

  test("scalable global row numbering equals the faithful constant-key window") {
    val b = Preprocess.base(spark, Sf, bucket)
    val faithful = Preprocess.withRowNumFaithful(b, "Incident_Number")
      .select("Incident_Number", "row_num")
    assert(faithful.count() > 0)
    val conf = spark.conf
    val orig = conf.get("spark.sql.shuffle.partitions")
    // the range shard count follows the session's shuffle partitions
    for (parts <- Seq("1", "3", "17", orig)) {
      try {
        conf.set("spark.sql.shuffle.partitions", parts)
        val scalable = Preprocess.withGlobalRowNum(b, "Incident_Number")
          .select("Incident_Number", "row_num")
        assert(faithful.exceptAll(scalable).isEmpty && scalable.exceptAll(faithful).isEmpty,
          s"at $parts partitions")
      } finally conf.set("spark.sql.shuffle.partitions", orig)
    }
  }

  test("faithful chunked-collect loop equals the one-shuffle groupBy gather") {
    val numbered = Preprocess.withGlobalRowNum(Preprocess.base(spark, Sf, bucket), "Incident_Number")
      .withColumn("doc", col("norm")).drop("norm")
    val chunkSize = 7 // force several chunks at sf0.001
    val scalable = Preprocess.gatherChunks(Preprocess.withChunkId(numbered, chunkSize))
    val faithful = Preprocess.gatherChunksFaithful(numbered, chunkSize)
    assert(scalable.count() > 1, "expected multiple chunks")
    assert(faithful.exceptAll(scalable).isEmpty && scalable.exceptAll(faithful).isEmpty)
  }

  test("chunk ids partition rows into contiguous fixed-size ranges") {
    val numbered = Preprocess.withGlobalRowNum(Preprocess.base(spark, Sf, bucket), "Incident_Number")
    val chunked = Preprocess.withChunkId(numbered, 10)
    val bad = chunked.filter(
      col("chunk_id") =!= ((col("row_num") - 1) / lit(10L)).cast("bigint"))
    assert(bad.count() === 0)
    val sizes = chunked.groupBy("chunk_id").count().orderBy("chunk_id").collect()
    assert(sizes.init.forall(_.getLong(1) == 10), "every chunk but the last is full")
  }

  test("empty-string normalization nullifies and the notNull filter drops it") {
    import spark.implicits._
    val df = Seq(("1-1", "  ", ""), ("1-2", "alpha beta", "gamma")).toDF("Incident_Number", "Summary", "Description")
      .withColumn("is_federal", lit(false))
    // the pipeline's own normed expression + filter over a controlled frame
    val normed = df
      .select(col("Incident_Number"), Preprocess.normed.as("norm"))
      .filter(col("norm").isNotNull)
    assert(normed.collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("1-2", "alpha beta gamma")))
  }

  test("the normalize chain runs natively: never under a lambda, at most filter plus project") {
    import org.apache.spark.sql.catalyst.expressions.{Expression, RegExpReplace}
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    import graft.plans.NormalizeChain
    def isChain(e: Expression) = e.isInstanceOf[RegExpReplace] || e.isInstanceOf[NormalizeChain]
    // a regexp_replace fold counts once: the walk stops at the outermost step
    def chains(e: Expression): Int = if (isChain(e)) 1 else e.children.map(chains).sum
    def interpretedChains(e: Expression): Seq[Expression] = e match {
      case f: CodegenFallback => f.children.flatMap(_.collect { case c if isChain(c) => c })
      case _ => e.children.flatMap(interpretedChains)
    }
    // q_preprocess_monthly persists its range-partitioned input, so its
    // optimized plan reads that cache as a leaf; the chain lives in `base`
    val frames = Seq(
      "preprocessAllMonths" -> Preprocess.preprocessAllMonths(spark, Sf),
      "q_preprocess_monthly" -> SparkEntry.queries("q_preprocess_monthly")(spark, Sf),
      "base" -> Preprocess.base(spark, Sf, bucket))
    for ((name, df) <- frames) {
      val exprs = df.queryExecution.optimizedPlan.flatMap(_.expressions)
      val interpreted = exprs.flatMap(interpretedChains)
      assert(interpreted.isEmpty,
        s"$name: ${interpreted.size} chain nodes under a CodegenFallback expression")
      val n = exprs.map(chains).sum
      assert(n <= 2, s"$name: the normalize chain appears $n times")
    }
  }

  test("month-partitioned sink writes one directory per month_year") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-sink").toString
    val df = Preprocess.preprocessAllMonths(spark, Sf)
    Preprocess.writeMonthPartitioned(df, tmp)
    val dirs = new java.io.File(tmp).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("month_year=")))
    // partition pruning: reading one bucket back touches only that directory
    val one = spark.read.parquet(tmp).filter(col("month_year") === "3-1997")
    assert(one.count() > 0)
    assert(one.select("month_year").distinct().collect().map(_.getString(0)).toSeq == Seq("3-1997"))
  }
}
