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
  *   - One untimed warmup pass per query first (JVM/JIT + codegen + parquet
  *     footer caching), so the first timed query doesn't eat cluster warmup.
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

  /** Round-over-round drift alarm: a query whose cold min exceeds this
    * multiple of its min in the LAST COMMITTED artifact gets an extra
    * re-measure and a `drift` entry in the output — so a closing run
    * can never again ship an un-adjudicated regression (the r10
    * artifact carried the IVF trio at 2-3× on untouched code).
    */
  val DriftLimit = 2.0

  /** Pull the per-query min map out of a prior artifact line — the
    * FIRST `"queries":{...}` block (the full-file artifact carries the
    * complete map there; `spreads`/`drift` blocks come later and must
    * not be swept in). Dependency-free by design: no JSON library in
    * the unmanaged classpath.
    */
  def parseQueriesBlock(json: String): Map[String, Double] = {
    val start = json.indexOf("\"queries\":{")
    if (start < 0) return Map.empty
    val open = json.indexOf('{', start + 10)
    val close = json.indexOf('}', open)
    if (open < 0 || close < 0) return Map.empty
    val body = json.substring(open + 1, close)
    val Pair = "\"((?:[^\"\\\\]|\\\\.)*)\"\\s*:\\s*(-?[0-9.eE+]+)".r
    Pair.findAllMatchIn(body).flatMap { m =>
      try Some(Harness.unjstr(m.group(1)) -> m.group(2).toDouble)
      catch { case _: NumberFormatException => None }
    }.toMap
  }

  /** Names whose current min drifted past `limit` × the previous min.
    * Errored (< 0) and previously-errored rows never flag; new queries
    * (absent from prev) have no reference and never flag.
    */
  def driftedQueries(prev: Map[String, Double], cur: Map[String, Double],
                     limit: Double): Seq[String] =
    cur.toSeq.sortBy(_._1).collect {
      case (name, t) if t > 0 && prev.get(name).exists(p => p > 0 && t > p * limit) =>
        name
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

    // warmup: evaluate everything once, untimed; remember what failed so the
    // timed pass skips it (a throw mid-pass would distort neighbors).
    queries.iterator.takeWhile(_ => fatal.isEmpty).foreach { case (name, fn) =>
      try Harness.fullEval(fn(spark, sfDir))
      catch { case e: Throwable => record(name, e) }
    }

    // Three timed passes, report the min. Shared-host scheduling noise at
    // this scale swings single runs by 2× — and the round-3 artifact
    // showed min-of-2 is not enough: seven queries recorded 4-10× their
    // true cost (r3 bench 50.1s vs 31.4s re-measured quiet, with
    // q_events_rollup 2.56s vs a reproducible 0.25s on unchanged code and
    // plans). Min-of-3 caps a single noisy co-scheduled pass's influence.
    val TimedPasses = 3

    /** A query's pass spread (max/min) above this marks its measurement
      * contended: it gets one extra cold re-measure at the end of the
      * run, when whatever co-tenant inflated it has often moved on. The
      * round-7 artifact carried three queries at 2-4× their isolated
      * cost; the re-measure pass bounds that in the artifact itself.
      */
    val SpreadLimit = 2.0

    // round-over-round drift reference: the LAST COMMITTED full-run
    // artifact, read BEFORE this run overwrites it. In-run spread alone
    // cannot catch a contended query whose every pass was inflated —
    // the r10 artifact shipped the IVF trio at 2-3× their r9 cost with
    // pass spreads near 1 (unchanged code, contended closing run).
    val prevFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_PREV",
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_out.json"))
    val prev: Map[String, Double] =
      try parseQueriesBlock(new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(prevFile)),
        java.nio.charset.StandardCharsets.UTF_8))
      catch { case scala.util.control.NonFatal(_) => Map.empty }

    // every timed number is a cold end-to-end run (CacheManager matches
    // canonicalized plans, so a re-built query would otherwise read the
    // previous pass's cache and under-report). Inside the try: releasing
    // caches on a stopped context throws too, and must route through the
    // same fatal path.
    def timedRun(name: String, fn: Harness.Query): Option[Double] =
      try Some(Harness.coldRun(spark)(fn(spark, sfDir)))
      catch { case e: Throwable => record(name, e); None }

    val timed = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    queries.iterator.takeWhile(_ => fatal.isEmpty).foreach { case (name, fn) =>
      if (!errors.contains(name))
        timed(name) = (1 to TimedPasses).iterator
          .takeWhile(_ => fatal.isEmpty).flatMap(_ => timedRun(name, fn)).toSeq
    }
    // automatic re-measure: one more cold run for every contended query,
    // taken AFTER the whole sweep (temporal distance from the noise burst)
    val remeasured = queries.collect {
      case (name, fn) if fatal.isEmpty && timed.get(name).exists(ts =>
          ts.nonEmpty && ts.min > 0 && ts.max / ts.min > SpreadLimit) =>
        timedRun(name, fn).foreach(t => timed(name) = timed(name) :+ t)
        name
    }
    // drift re-measure (VERDICT r10 #1): any query whose min exceeds
    // DriftLimit × its last-committed min gets one more cold run too —
    // whole-run contention shows up HERE even when in-run spread is
    // flat. The artifact then records prev/after for every drifted
    // query so a regression ships adjudicated, never silently.
    val driftBefore = if (fatal.nonEmpty) Seq.empty[String] else driftedQueries(prev,
      timed.map { case (k, ts) => k -> ts.filter(_ > 0) }
        .collect { case (k, ts) if ts.nonEmpty => k -> ts.min }.toMap,
      DriftLimit)
    driftBefore.foreach { name =>
      queries.find(_._1 == name).foreach { case (_, fn) =>
        timedRun(name, fn).foreach(t => timed(name) = timed(name) :+ t)
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
    val driftJson = driftBefore.map { name =>
      val ts = timed.getOrElse(name, Nil).filter(_ > 0)
      val after = if (ts.isEmpty) -1.0 else ts.min
      s"${jstr(name)}:{\"prev\":${prev(name)},\"min\":$after,\"still_drifted\":${after > prev(name) * DriftLimit}}"
    }.mkString("{", ",", "}")
    val results = queries.map { case (name, _) =>
      val ts = timed.getOrElse(name, Nil)
      name -> (if (ts.isEmpty) (-1.0, -1.0) else (ts.min, ts.max))
    }

    val qs = results.map { case (k, (mn, _)) => s"${jstr(k)}:$mn" }.mkString("{", ",", "}")
    // per-query spread (max/min over all passes, re-measure included):
    // the reader's per-row confidence — a spread near 1 means the min is
    // reproducible, a high one flags residual contention on that row
    val spreadJson = results
      .map { case (k, (mn, mx)) =>
        s"${jstr(k)}:${if (mn > 0) f"${mx / mn}%.2f" else "-1"}" }
      .mkString("{", ",", "}")
    val remeasuredJson = remeasured.map(jstr).mkString("[", ",", "]")
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
      s"""{"metric":"total","value":$total,"unit":"sec","pass_spread_median":$noise,"queries":$qs,"spreads":$spreadJson,"remeasured":$remeasuredJson,"drift":$driftJson,"sf":${jstr(sfDir)}$errJson}"""
    // The driver's stdout capture keeps only a tail, which truncated
    // BENCH_r06.json to 61 of 85 queries and left r9's first ~75 queries
    // unreadable. The FULL line (per-query + spreads) goes to a file; the
    // one printed line stays compact — aggregate, the slowest queries,
    // and a pointer at the file — so the captured artifact parses
    // end-to-end at any registry size. Path overridable for tests;
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
      s"""{"metric":"total","value":$total,"unit":"sec","pass_spread_median":$noise,"n_queries":${results.length},"queries":$slowest,"queries_note":"slowest 15 of ${results.length}; full per-query map + spreads in queries_full","queries_full":${jstr(outFile)},"remeasured":$remeasuredJson,"drift":$driftJson,"sf":${jstr(sfDir)}$errJson}""")
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
