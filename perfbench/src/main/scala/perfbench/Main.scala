package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, count, lit, struct, xxhash64}

import graft.{Graft, SparkEntry}
import graft.pipelines.Preprocess
import graft.sources.Sinks

/** One benchmark process: a closed loop with one client over graft's public
  * entry points. `run.py` chooses the steps and their order and starts this
  * process; it prints `READY` once the session has answered its first
  * trivial action, so the caller can time set-up from JVM start.
  *
  *   java perfbench.Main --data DIR --work DIR --cpus N --steps s1,s2,...
  *     --seconds S --trace 0|1 --result FILE
  *
  * A step is `q:<registry query>` or one of the reference pipelines:
  * `etl:distinct_upsert_merge:<digit>` (the upsert merged into a fresh
  * table, then an update batch of the keys ending in `digit` merged into
  * it) or `etl:preprocess_all_months` (written month-partitioned).
  * The run is a cold pass, a settling pass, then warm passes until
  * `--seconds` have gone by. With `--trace 1` the warm passes alternate
  * traced and untraced, so the same process also measures the tracing
  * overhead.
  */
object Main {

  final case class Opts(data: String, work: String, cpus: Int,
                        steps: Seq[String], seconds: Double, trace: Boolean,
                        result: String)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    Opts(kv("data"), kv("work"), kv("cpus").toInt, kv("steps").split(',').toSeq.filter(_.nonEmpty),
      kv("seconds").toDouble, kv("trace") == "1", kv("result"))
  }

  def session(cpus: Int, localDir: String): SparkSession = {
    val spark = Graft.configure(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The fold `graft.Bench.fullEval` evaluates (xxhash64 of every column,
    * XOR over rows), plus the row count, in one aggregate.
    */
  def fold(df: DataFrame): (Long, Long) = {
    val cols = df.columns.toIndexedSeq.map(c => col("`" + c.replace("`", "``") + "`"))
    val r = df.select(bit_xor(xxhash64(struct(cols: _*))), count(lit(1))).head()
    (if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1))
  }

  /** CPU time of the whole process: task, driver, JIT and GC threads. */
  private val processCpu = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Times the phases of one step under a job group `<step key>/<phase>`. */
  final class Phases(spark: SparkSession, key: String, tracer: Option[Tracer]) {
    val seconds: mutable.LinkedHashMap[String, Double] =
      mutable.LinkedHashMap("build" -> 0.0, "execute" -> 0.0, "sink" -> 0.0)
    def apply[T](phase: String)(body: => T): T = {
      val group = s"$key/$phase"
      spark.sparkContext.setJobGroup(group, group)
      tracer.foreach(_.begin(group))
      val t0 = System.nanoTime()
      try body
      finally {
        seconds(phase) += (System.nanoTime() - t0) / 1e9
        cpuEnd = processCpu.getProcessCpuTime
        tracer.foreach(_.end(group))
      }
    }
    /** Process CPU time (ns) when the last timed phase ended. */
    var cpuEnd = 0L
    /** Untimed work under its own group (`check`), so no layer counts it. */
    def check[T](body: => T): T = {
      spark.sparkContext.setJobGroup(s"$key/check", s"$key/check")
      body
    }
  }

  /** Runs one step; returns the folds of its outputs. Sink outputs are read
    * back from disk after the timed phases, so checking costs no step time.
    */
  def runStep(spark: SparkSession, data: String, out: String, step: String,
              ph: Phases): Seq[(String, (Long, Long))] = {
    def readBack(path: String) = ph.check(fold(spark.read.parquet(path)))
    step.split(':').toList match {
      case "q" :: name :: Nil =>
        val fn = SparkEntry.queries(name)
        val df = ph("build")(fn(spark, data))
        Seq(step -> ph("execute")(fold(df)))
      case "etl" :: "distinct_upsert_merge" :: digit :: Nil =>
        val df = ph("build")(Graft.runDistinctUpsert(spark, data))
        ph("sink") {
          Sinks.writeMerged(spark, df, "incident_number", "last_modified", out)
          // second batch: the keys ending in `digit` change status on a later date
          val updates = df.filter(col("incident_number").endsWith(digit))
            .withColumn("status", lit("U")).withColumn("last_modified", lit("2002-01-01"))
          Sinks.writeMerged(spark, updates, "incident_number", "last_modified", out)
        }
        Seq(step -> readBack(out))
      case "etl" :: "preprocess_all_months" :: Nil =>
        val df = ph("build")(Preprocess.preprocessAllMonths(spark, data))
        ph("sink")(Preprocess.writeMonthPartitioned(df, out))
        Seq(step -> readBack(out))
      case _ => throw new IllegalArgumentException(s"unknown step '$step'")
    }
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }

  /** Driver peak resident set (VmHWM) in kB. */
  def peakRssKb(): Long = {
    val lines = scala.io.Source.fromFile("/proc/self/status")
    try lines.getLines().collectFirst { case l if l.startsWith("VmHWM:") =>
      l.split("\\s+")(1).toLong }.getOrElse(-1L)
    finally lines.close()
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val work = Paths.get(o.work).toAbsolutePath
    Files.createDirectories(work)
    val spark = session(o.cpus, work.resolve("spark-local").toString)
    spark.range(1).count()
    println("READY")
    System.out.flush()

    val data = Paths.get(o.data).toAbsolutePath.toString
    val records = mutable.ArrayBuffer[Json.Raw]()
    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    var passNo = 0

    def pass(kind: String, traced: Boolean): Unit = {
      val p = passNo
      passNo += 1
      val t = if (traced) tracer else None
      t.foreach(_.attach())
      val passStart = System.currentTimeMillis()
      val done = o.steps.zipWithIndex.map { case (step, i) =>
        val key = s"p$p/$i"
        val out = work.resolve(s"out-$p-$i")
        val ph = new Phases(spark, key, t)
        val stepStart = System.currentTimeMillis()
        val cpu0 = processCpu.getProcessCpuTime
        val (folds, error) =
          try {
            if (p > 0) spark.catalog.clearCache()
            (runStep(spark, data, out.toString, step, ph), None)
          } catch {
            case NonFatal(e) =>
              (Nil, Some(Option(e.getMessage).getOrElse(e.toString).take(300)))
          } finally spark.sparkContext.clearJobGroup()
        t.foreach(_.stepSpan(key, s"p$p", step, stepStart, System.currentTimeMillis()))
        val persisted = t.map(_ => Tracer.persisted(spark))
        deleteTree(out)
        val fields = Seq(
          "pass" -> p, "kind" -> kind, "traced" -> traced, "index" -> i, "step" -> step,
          "build_s" -> ph.seconds("build"), "execute_s" -> ph.seconds("execute"),
          "sink_s" -> ph.seconds("sink"), "wall_s" -> ph.seconds.values.sum,
          "cpu_s" -> math.max(0L, ph.cpuEnd - cpu0) / 1e9,
          "folds" -> folds.map { case (label, (f, rows)) =>
            Json.obj("label" -> label, "fold" -> f.toString, "rows" -> rows) },
          "error" -> error.orNull)
        (key, fields, persisted)
      }
      t.foreach(_.detach())
      t.foreach(_.addSpan(s"p$p", "run", s"$kind pass", passStart, System.currentTimeMillis()))
      records ++= done.map { case (key, fields, persisted) =>
        Json.obj(fields :+ ("layers" -> t.map(_.stepLayers(key, persisted.get)).orNull): _*)
      }
    }

    val runStart = System.currentTimeMillis()
    pass("cold", traced = false)
    // The first pass after the cold one still runs partly JIT-compiled code
    // (20-50 % slower than the passes after it), so it only settles the
    // JVM. Warm passes then fill `--seconds`, counted from the settling
    // pass: another starts only if one more of the last pass's length still
    // fits, and there are at least two. Traced runs alternate traced and
    // untraced warm passes.
    val warmStart = System.nanoTime()
    def elapsed = (System.nanoTime() - warmStart) / 1e9
    pass("settle", traced = false)
    var warm = 0
    var last = elapsed
    while (warm < 2 || elapsed + last <= o.seconds) {
      val t0 = elapsed
      pass("warm", traced = o.trace && warm % 2 == 0)
      last = elapsed - t0
      warm += 1
    }
    tracer.foreach(_.addSpan("run", null, "run", runStart, System.currentTimeMillis()))

    val result = Json.obj(
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "cpus" -> o.cpus,
      "peak_rss_kb" -> peakRssKb(),
      "steps" -> records,
      "spans" -> tracer.map(t => Json.Raw(t.spansJson)).orNull)
    Files.write(Paths.get(o.result), result.s.getBytes("UTF-8"))
    Runtime.getRuntime.halt(0)
  }
}

/** Minimal JSON writer: the Spark classpath carries no JSON library the
  * harness may rely on across Spark versions.
  */
object Json {
  final case class Raw(s: String)
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def value(v: Any): String = v match {
    case null => "null"
    case Raw(s) => s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case o: Option[_] => o.map(value).getOrElse("null")
    case other => str(other.toString)
  }
  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}"))
}
