package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import Harness.jstr

/** 10× scale experiment over the FULL query registry: key-offset unions
  * of the sf0.1 fixtures → time every registered query at 1× and 10× →
  * emit per-query growth ratios as a JSON artifact
  * (default `SCALE_r03.json`) so the scale review cites measured scaling
  * for every operator, not just the headline set. A ratio far above the
  * data growth (see [[ScaleProbe.GrowthBound]]) marks a super-linear
  * operator — the probe that caught the 4-bit sign-LSH quadratic in
  * round 2.
  *
  * Usage: `sbt "runMain graft.ScaleProbe [outFile] [only=q_a,q_b]"` —
  * `only=` restricts to the named queries (targeted re-measure after a
  * fix, without the full-registry run). Runs at `SPARK_GRAFT_CPUS` like
  * every harness main.
  */
object ScaleProbe {

  /** Flag threshold for t(10×)/t(1×). Linear scaling lands near 10 (data
    * grows 10×; constant overheads pull it below, shuffle log-factors push
    * it slightly above). Tightened 20 → 13 in round 12 after adjudicating
    * the only two ratios ever above 10 (q_warc_gzip 12.66, q_crawl_schedule
    * 12.31 in the round-11 full-registry run): both re-measured ISOLATED at
    * 2.0× and 1.2× — full-run neighbor contention, not growth — and no
    * other query has ever exceeded 5.9×. 13 leaves log-factor + contention
    * headroom while an actual quadratic candidate stage (100×) still
    * clears it by an order of magnitude.
    */
  val GrowthBound = 13.0

  def main(args: Array[String]): Unit = {
    val (positional, queries) = Harness.queries(args.toSeq)
    val outFile = positional.headOption.getOrElse("SCALE_r03.json")
    val spark = Harness.session()
    val src = "/root/testdata/sf0.1"
    val dst = "/tmp/sf1_synth"
    val copies = 10

    def replicate(table: String, keyCols: Map[String, Long]): Unit = {
      val base = spark.read.parquet(s"$src/$table.parquet")
      val out = (0 until copies).map { i =>
        keyCols.foldLeft(base) { case (df, (c, stride)) =>
          df.withColumn(c, col(c) + lit(i * stride))
        }
      }.reduce(_ unionByName _)
      out.repartition(32).write.mode("overwrite").parquet(s"$dst/$table.parquet")
    }
    // documents: shift doc_id; embeddings: shift vec_id; orders/lineitem/customer/supplier: shift keys consistently
    replicate("documents", Map("doc_id" -> 1000000L))
    replicate("embeddings", Map("vec_id" -> 1000000L))
    replicate("orders", Map("o_orderkey" -> 10000000L, "o_custkey" -> 1000000L))
    replicate("lineitem", Map("l_orderkey" -> 10000000L, "l_suppkey" -> 1000000L))
    replicate("customer", Map("c_custkey" -> 1000000L))
    replicate("supplier", Map("s_suppkey" -> 1000000L))
    for (t <- Seq("nation", "region", "part"))
      spark.read.parquet(s"$src/$t.parquet").write.mode("overwrite").parquet(s"$dst/$t.parquet")
    // events carries TIMESTAMP(NANOS): route through the converting loader,
    // then replicate like the fact tables (shifted ids, same timestamps →
    // 10× users and 10× density per window — the load shape that stresses
    // sessionization, as-of and the hourly aggregates)
    locally {
      val base = Tables.events(spark, src)
      val out = (0 until copies).map { i =>
        base.withColumn("event_id", col("event_id") + lit(i * 100000000L))
          .withColumn("user_id", col("user_id") + lit(i * 1000000L))
      }.reduce(_ unionByName _)
      out.repartition(32).write.mode("overwrite").parquet(s"$dst/events.parquet")
    }

    // Min over passes, cold cache each pass — a single timed pass let a
    // one-off stall (GC, page-cache eviction after a heavy neighbor)
    // masquerade as super-linear growth: one run recorded q_asof_join's
    // 10× at 22.0 s where an isolated re-measure gives 1.0 s. Three
    // passes, matching Bench — whose measured evidence is that min-of-2
    // is NOT enough on this host (a min-of-2 artifact still carried a
    // stall-shaped q5_local_volume t1 4× its true cost).
    def timedMin(passes: Int)(df: => DataFrame): Double =
      (1 to passes).map(_ => Harness.coldRun(spark)(df)).min

    println(s"rows: docs=${spark.read.parquet(s"$dst/documents.parquet").count()}, " +
      s"lineitem=${spark.read.parquet(s"$dst/lineitem.parquet").count()}")

    val rows = queries.map { case (name, fn) =>
      try {
        // warm up EACH scale before timing it: JIT + codegen for t1, and
        // any per-corpus one-time materialization (e.g. Dedup.PairTable's
        // checkpoint) for BOTH sides — otherwise a query whose warmup only
        // touched 1× would charge the 10× pass with setup cost and fake a
        // super-linear ratio.
        Harness.releaseCaches(spark)
        Harness.fullEval(fn(spark, src))
        val t1 = timedMin(3)(fn(spark, src))
        Harness.releaseCaches(spark)
        Harness.fullEval(fn(spark, dst))
        val t10 = timedMin(3)(fn(spark, dst))
        val ratio = t10 / math.max(t1, 1e-3)
        // Locale.ROOT: the default-locale f-interpolator renders 0,507 in
        // comma-decimal locales — invalid JSON
        def num(x: Double, prec: Int) =
          String.format(java.util.Locale.ROOT, s"%.${prec}f", Double.box(x))
        println(s"SCALE $name: 1x=${num(t1, 2)} s 10x=${num(t10, 2)} s ratio=${num(ratio, 1)}")
        s"""  ${jstr(name)}: {"t1_sec": ${num(t1, 3)}, "t10_sec": ${num(t10, 3)}, "ratio": ${num(ratio, 2)}, "super_linear": ${ratio > GrowthBound}}"""
      } catch {
        case e: Throwable =>
          System.err.println(s"SCALE $name FAILED: ${e.getMessage}")
          s"""  ${jstr(name)}: {"error": ${jstr(e.getClass.getSimpleName)}}"""
      }
    }
    // measured skew evidence (VERDICT r8 #8): max task shuffle-read for
    // the same hot-key join, unsalted vs salted — the artifact records
    // the task-metrics fact, not a plan-shape proxy
    val skewRow = try {
      val (un, sa) = graft.ops.ScaleOps.skewProof(spark, hotRows = 1000000L, salts = 64)
      s"""  "_skew_proof": {"hot_rows": 1000000, "salts": 64, "max_task_read_unsalted": $un, "max_task_read_salted": $sa, "bounded": ${sa * 3 < un}}"""
    } catch {
      case e: Throwable =>
        System.err.println(s"SKEW PROOF FAILED: ${e.getMessage}")
        s"""  "_skew_proof": {"error": ${jstr(e.getClass.getSimpleName)}}"""
    }
    // Bloom-frontier sliver evidence (VERDICT r9 #7, re-planted per
    // VERDICT r10 #3): at the 10× corpus, how many of today's rows
    // survive might_contain and reach the exact verify anti-join. The
    // r10 plant was degenerate — the replicated corpus duplicates every
    // URL, so ALL of today's candidates were truly seen and the false-
    // positive fraction was measured over an empty set. Now ~90% of
    // today's candidates are rewritten to genuinely-NEW URLs (a /new/
    // suffix keyed by doc_id, so they cannot collide with the seen set)
    // and the number the X103/X123 scale claim rests on is measured
    // directly: fp_fraction_new = sketch false positives / truly-new
    // rows — the share of NEW work the Bloom prefilter needlessly
    // forces into the exact verify join.
    val bloomRow = try {
      val keys = graft.pipelines.Frontier.urlKeys(spark, dst)
      // odd docs are today's batch; of those, doc_id % 20 == 1 (1 in 10
      // odd residues) keeps its original URL — a true revisit — and the
      // rest get unique new URLs
      val today = keys.filter(col("doc_id") % 2 === 1)
        .withColumn("url_key",
          when(col("doc_id") % 20 === 1, col("url_key"))
            .otherwise(concat(col("url_key"), lit("/new/"),
              col("doc_id").cast("string"))))
      val seen = keys.filter(col("doc_id") % 2 === 0).select("url_key").distinct()
      val (t, maybe, truly) = graft.pipelines.Frontier.bloomSliver(today, seen)
      val fp = maybe - truly
      val trulyNew = t - truly
      def frac(num: Long, den: Long) = String.format(java.util.Locale.ROOT,
        "%.6f", Double.box(if (den > 0) num.toDouble / den else 0.0))
      s"""  "_bloom_sliver": {"copies": $copies, "today_rows": $t, "verify_join_input": $maybe, "truly_seen": $truly, "truly_new": $trulyNew, "false_positives": $fp, "fp_fraction_new": ${frac(fp, trulyNew)}, "fp_fraction": ${frac(fp, t)}}"""
    } catch {
      case e: Throwable =>
        System.err.println(s"BLOOM SLIVER FAILED: ${e.getMessage}")
        s"""  "_bloom_sliver": {"error": ${jstr(e.getClass.getSimpleName)}}"""
    }
    val json = (rows :+ skewRow :+ bloomRow).mkString(
      s"""{\n  "_meta": {"copies": $copies, "src": ${jstr(src)}, "growth_bound": $GrowthBound},\n""",
      ",\n", "\n}")
    Files.writeString(Paths.get(outFile), json)
    println(s"wrote $outFile")
    spark.stop()
  }
}
