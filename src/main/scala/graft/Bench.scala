package graft

import Harness.jstr

/** Benchmark main. Prints exactly ONE machine-parseable JSON line on stdout:
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}.
  *
  * Measurement discipline (round-1 verdict findings 2-4):
  *   - The action is a full-evaluation xxhash64-sum over every output column,
  *     not count(): under a bare count Catalyst prunes deterministic
  *     projections, so md5/regex/tokenize work was never executed and text
  *     queries benched as pure scan time.
  *   - One untimed warmup pass over every query first (JVM/JIT, codegen,
  *     the session's fixture schemas, resolved once by [[Tables.table]]),
  *     so the first timed query doesn't eat cluster warmup and no timed
  *     run pays for schema inference. [[ops.Caches.release]] before each
  *     run drops cached data, not that per-session metadata. The warm-up
  *     covers the whole registry before any query is timed, so its
  *     generated classes carry over only because the codegen cache holds
  *     the registry's working set ([[Graft.configure]] sizes it to one
  *     registry pass); the full-map line records per query the classes
  *     its timed passes still compiled (`compiles`).
  *   - Failures are not swallowed into small timings: a failing query records
  *     value -1 and an "errors" entry, and the process exits non-zero after
  *     still printing the JSON line (so the driver always gets a parse).
  */
object Bench {

  /** Full `toString` + stack trace of a throwable — the artifact record
    * for a FATAL error. The driver's r14 bench crash taught the lesson:
    * a 200-char message tail is not enough to root-cause a context
    * death, and the ROOT exception must survive in the artifact itself
    * (the stderr tail the driver keeps truncated it away).
    */
  def fullTrace(e: Throwable): String = {
    val sw = new java.io.StringWriter
    e.printStackTrace(new java.io.PrintWriter(sw))
    sw.toString
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val (_, queries) = Harness.queries(args.toSeq)
    val spark = Harness.session()

    val errors = scala.collection.mutable.LinkedHashMap[String, String]()

    // Fail-fast discipline (VERDICT r14 #1): when a query kills the
    // SparkContext, every later attempt can only produce "Cannot call
    // methods on a stopped SparkContext" noise — the driver's r14 run
    // recorded 116 such cascade rows, plus misleading PATH_NOT_FOUNDs
    // once shutdown hooks started deleting checkpoints, and the real
    // exception survived only as a truncated stderr tail. Instead: the
    // first error observed with a stopped (or stopping) context is
    // recorded IN FULL (toString + stack), every piece of remaining
    // work is marked skipped with the culprit's name, the artifact is
    // written, and the process exits nonzero immediately.
    var fatal: Option[String] = None
    def record(name: String, e: Throwable): Unit =
      if (spark.sparkContext.isStopped && fatal.isEmpty) {
        fatal = Some(name)
        errors(name) = "FATAL (SparkContext stopped during this query): " + fullTrace(e)
      } else if (!errors.contains(name) || !spark.sparkContext.isStopped)
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)

    // warmup: evaluate everything once, untimed, from released caches
    // like the timed passes; remember what failed so the timed pass skips
    // it (a throw mid-pass would distort neighbors).
    queries.iterator.takeWhile(_ => fatal.isEmpty).foreach { case (name, q) =>
      try Harness.coldRun(spark)(q.build(spark, sfDir))
      catch { case e: Throwable => record(name, e) }
    }

    // Three timed passes, report the min. Shared-host scheduling noise at
    // this scale swings single runs by 2× — and the round-3 artifact
    // showed min-of-2 is not enough: seven queries recorded 4-10× their
    // true cost (r3 bench 50.1s vs 31.4s re-measured quiet, with
    // q_events_rollup 2.56s vs a reproducible 0.25s on unchanged code and
    // plans). Min-of-3 caps a single noisy co-scheduled pass's influence.
    // The pass count is fixed: a run length that grew with measured noise
    // would make two runs of the same code do different amounts of work.
    val TimedPasses = 3

    // every timed number is a cold end-to-end run (CacheManager matches
    // canonicalized plans, so a re-built query would otherwise read the
    // previous pass's cache and under-report). Inside the try: releasing
    // caches on a stopped context throws too, and must route through the
    // same fatal path.
    def timedRun(name: String, q: Query): Option[Double] =
      try Some(Harness.coldRun(spark)(q.build(spark, sfDir)))
      catch { case e: Throwable => record(name, e); None }

    val timed = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    val compiled = scala.collection.mutable.LinkedHashMap[String, Long]()
    queries.iterator.takeWhile(_ => fatal.isEmpty).foreach { case (name, q) =>
      if (!errors.contains(name)) {
        val c0 = Harness.compiles()
        timed(name) = (1 to TimedPasses).iterator
          .takeWhile(_ => fatal.isEmpty).flatMap(_ => timedRun(name, q)).toSeq
        compiled(name) = Harness.compiles() - c0
      }
    }
    // a fatal context death marks every query that never completed as
    // SKIPPED with the culprit's name — the artifact then reads as one
    // root cause plus its shadow, never a hundred-row cascade
    fatal.foreach { fq =>
      queries.foreach { case (name, _) =>
        if (!errors.contains(name) && !timed.get(name).exists(_.nonEmpty))
          errors(name) = s"skipped: SparkContext stopped during $fq"
      }
    }
    val results = queries.map { case (name, _) =>
      val ts = timed.getOrElse(name, Nil)
      name -> (if (ts.isEmpty) (-1.0, -1.0) else (ts.min, ts.max))
    }

    val qs = results.map { case (k, (mn, _)) => s"${jstr(k)}:$mn" }.mkString("{", ",", "}")
    // per-query spread (max/min over the timed passes):
    // the reader's per-row confidence — a spread near 1 means the min is
    // reproducible, a high one flags residual contention on that row
    val spreadJson = results
      .map { case (k, (mn, mx)) =>
        s"${jstr(k)}:${if (mn > 0) f"${mx / mn}%.2f" else "-1"}" }
      .mkString("{", ",", "}")
    // generated classes each query's timed passes compiled (-1: not timed)
    val compilesJson = queries
      .map { case (name, _) => s"${jstr(name)}:${compiled.getOrElse(name, -1L)}" }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, (mn, _)) if mn >= 0 => mn }.sum
    // Host-contention telltale: the median across queries of max/min over
    // the timed passes. On a quiet host this sits near 1.0-1.3; a
    // co-scheduled noisy neighbor inflates EVERY pass and the artifact
    // should say so itself rather than look like a code regression
    // (BENCH_r04's 2x total came with unchanged plans — min-of-3 cannot
    // defend against contention lasting the whole run).
    val spreads = results.collect { case (_, (mn, mx)) if mn > 0 => mx / mn }.sorted
    val noise = if (spreads.isEmpty) -1.0 else spreads(spreads.length / 2)
    val errJson =
      if (errors.isEmpty) ""
      else s""","errors":${errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")}"""
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","pass_spread_median":$noise,"queries":$qs,"spreads":$spreadJson,"compiles":$compilesJson,"sf":${jstr(sfDir)}$errJson}"""
    // The driver's stdout capture keeps only a tail, which truncated
    // BENCH_r06.json to 61 of 85 queries and left r9's first ~75 queries
    // unreadable. The FULL line (per-query, spreads, compiles) goes to a
    // file; the one printed line stays compact — aggregate, the slowest
    // queries, and a pointer at the file — so the captured artifact
    // parses end-to-end at any registry size. Path overridable for tests;
    // failures to write must not fail the bench.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_out.json")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(outFile),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: java.io.IOException =>
      System.err.println(s"bench: could not write $outFile: ${e.getMessage}")
    }
    val slowest = results.filter(_._2._1 >= 0).sortBy(-_._2._1).take(15)
      .map { case (k, (mn, _)) => s"${jstr(k)}:$mn" }.mkString("{", ",", "}")
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","pass_spread_median":$noise,"n_queries":${results.length},"queries":$slowest,"queries_note":"slowest 15 of ${results.length}; full per-query map + spreads in queries_full","queries_full":${jstr(outFile)},"sf":${jstr(sfDir)}$errJson}""")
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
