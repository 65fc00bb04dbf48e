package graft

/** Ad-hoc cold-cost profiler: times the named registry queries with the same
  * discipline as [[Bench]] (full-eval action, released caches before each
  * timed run) but one query at a time, N passes, printing every pass — so a
  * regression can be bisected without a 2-minute full-bench run.
  *
  * Usage: runMain graft.Profile only=q_dedup_chargram,q_normalize_text [passes=3]
  * (sfDir comes from SPARK_GRAFT_SF_DIR; without `only=` every query runs).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val (opts, queries) = Harness.queries(args.toSeq)
    val passes = opts match {
      case Seq() => 3
      case Seq(p) if p.startsWith("passes=") => p.stripPrefix("passes=").toInt
      case other =>
        System.err.println(s"[profile] unexpected arguments: ${other.mkString(" ")} " +
          "(usage: only=q_a,q_b [passes=N])")
        sys.exit(2)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()

    queries.foreach { case (name, fn) =>
      // one untimed warmup (JIT/codegen), then cold timed passes
      Harness.fullEval(fn(spark, sfDir))
      val times = (1 to passes).map { i =>
        val dt = Harness.coldRun(spark)(fn(spark, sfDir))
        println(f"$name pass$i: $dt%.2f s")
        dt
      }
      println(f"$name MIN: ${times.min}%.2f s")
    }
    spark.stop()
  }
}
