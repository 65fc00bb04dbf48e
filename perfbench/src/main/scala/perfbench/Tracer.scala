package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Traced mode: spans (run → pass → step → phase → job → stage) and the
  * per-phase layer counters, all recorded from outside graft.
  *
  * Job and task events carry the job group `<pass>/<step>/<phase>` that
  * [[Main.Phases]] sets, so they are attributed by group, not by arrival
  * time; one marker job per pass makes sure every event of the pass has
  * been delivered before the counters are read. Operator counters come from
  * the executed plan's SQLMetrics of each SQL execution that ends in a group.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val FlushGroup = "perfbench/flush"

  private final class StageRec(val group: String, val jobId: Int) {
    var name = ""; var submitted = 0L; var completed = 0L; var tasks = 0
    val runMs = mutable.ArrayBuffer[Long]()
    val counters = mutable.Map[String, Double]().withDefaultValue(0.0)
  }
  private final class JobRec(val group: String, val start: Long, var end: Long)

  // written by the listener-bus thread, read by the driver thread
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stages = mutable.LinkedHashMap[(Int, Int), StageRec]()
  private val stageGroup = mutable.Map[Int, (String, Int)]()
  private val taskSpans = mutable.Map[String, mutable.ArrayBuffer[(Long, Long)]]()
  private val sqlGroup = mutable.Map[Long, String]()
  private val sqlCounters = mutable.Map[String, mutable.Map[String, Double]]()
  private var flushed = 0

  // driver thread only
  private val phaseTimes = mutable.Map[String, (Long, Long)]()
  private val spans = mutable.ArrayBuffer[String]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      jobs(e.jobId) = new JobRec(group, e.time, 0L)
      e.stageIds.foreach(s => stageGroup.getOrElseUpdate(s, (group, e.jobId)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach { j =>
        j.end = e.time
        if (j.group == FlushGroup) flushed += 1
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      stageGroup.get(i.stageId).foreach { case (g, job) =>
        val s = stages.getOrElseUpdate((i.stageId, i.attemptNumber()), new StageRec(g, job))
        s.name = i.name
        s.submitted = i.submissionTime.getOrElse(0L)
        s.completed = i.completionTime.getOrElse(0L)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      stageGroup.get(e.stageId).foreach { case (g, job) =>
        val s = stages.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageRec(g, job))
        s.tasks += 1
        taskSpans.getOrElseUpdate(g, mutable.ArrayBuffer()) += (e.taskInfo.launchTime -> e.taskInfo.finishTime)
        if (m != null) {
          s.runMs += m.executorRunTime
          val c = s.counters
          c("run_s") += m.executorRunTime / 1e3
          c("cpu_s") += m.executorCpuTime / 1e9
          c("gc_s") += m.jvmGCTime / 1e3
          c("input_bytes") += m.inputMetrics.bytesRead
          c("input_rows") += m.inputMetrics.recordsRead
          val r = m.shuffleReadMetrics
          c("shuffle_read_bytes") += r.localBytesRead + r.remoteBytesRead
          c("shuffle_read_records") += r.recordsRead
          c("fetch_wait_s") += r.fetchWaitTime / 1e3
          if (r.recordsRead > 0) c("reduce_tasks") += 1
          val w = m.shuffleWriteMetrics
          c("shuffle_write_bytes") += w.bytesWritten
          c("shuffle_write_records") += w.recordsWritten
          c("shuffle_write_s") += w.writeTime / 1e9
          c("spill_bytes") += m.diskBytesSpilled
          c("peak_mem_bytes") = math.max(c("peak_mem_bytes"), m.peakExecutionMemory.toDouble)
          c("output_bytes") += m.outputMetrics.bytesWritten
          c("output_rows") += m.outputMetrics.recordsWritten
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        Tracer.this.synchronized { s.jobGroupId.foreach(g => sqlGroup(s.executionId) = g) }
      case end: SparkListenerSQLExecutionEnd =>
        val group = Tracer.this.synchronized(sqlGroup.get(end.executionId))
        group.foreach { g =>
          Tracer.executedPlan(end).foreach { plan =>
            val m = Tracer.planCounters(plan)
            Tracer.this.synchronized {
              val acc = sqlCounters.getOrElseUpdate(g, mutable.Map[String, Double]().withDefaultValue(0.0))
              m.foreach { case (k, v) => acc(k) += v }
            }
          }
        }
      case _ =>
    }
  }

  def attach(): Unit = sc.addSparkListener(listener)

  /** Waits until the listener has seen every event posted so far. */
  def detach(): Unit = {
    val target = synchronized(flushed) + 1
    sc.setJobGroup(FlushGroup, FlushGroup)
    sc.parallelize(Seq(0), 1).count()
    sc.clearJobGroup()
    val deadline = System.nanoTime() + 30e9.toLong
    while (synchronized(flushed) < target && System.nanoTime() < deadline) Thread.sleep(1)
    sc.removeSparkListener(listener)
  }

  def begin(group: String): Unit = phaseTimes(group) = (System.currentTimeMillis(), 0L)
  def end(group: String): Unit =
    phaseTimes(group) = (phaseTimes(group)._1, System.currentTimeMillis())

  def addSpan(id: String, parent: String, name: String, start: Long, end: Long): Unit =
    spans += Json.obj("id" -> id, "parent" -> parent, "name" -> name,
      "start_ms" -> start, "end_ms" -> end).s

  def stepSpan(key: String, pass: String, step: String, start: Long, end: Long): Unit = {
    addSpan(key, pass, step, start, end)
    phaseTimes.foreach { case (g, (s, e)) if g.startsWith(key + "/") =>
      addSpan(g, key, g.substring(key.length + 1), s, e)
    case _ => }
  }

  /** Layer counters of one step, by phase. Call after [[detach]]. */
  def stepLayers(key: String, persisted: (Int, Double)): Json.Raw = synchronized {
    val phases = phaseTimes.keys.filter(_.startsWith(key + "/")).toSeq.sorted.map { g =>
      val (t0, t1) = phaseTimes(g)
      val js = jobs.filter(_._2.group == g)
      js.foreach { case (id, j) =>
        addSpan(s"job$id", g, s"job $id", j.start, j.end)
      }
      val ss = stages.filter(_._2.group == g)
      ss.foreach { case ((id, att), s) =>
        addSpan(s"stage$id.$att", s"job${s.jobId}", s.name, s.submitted, s.completed)
      }
      val c = mutable.Map[String, Double]().withDefaultValue(0.0)
      ss.values.foreach(_.counters.foreach { case (k, v) =>
        c(k) = if (k == "peak_mem_bytes") math.max(c(k), v) else c(k) + v })
      val skew = ss.values.filter(_.runMs.size >= 4).map { s =>
        val sorted = s.runMs.sorted
        val med = sorted(sorted.size / 2)
        if (med > 0) sorted.last.toDouble / med else 1.0
      }.foldLeft(1.0)(math.max)
      g.substring(key.length + 1) -> Json.obj(
        "jobs" -> js.size, "stages" -> ss.size, "tasks" -> ss.values.map(_.tasks).sum,
        "busy_s" -> Tracer.covered(taskSpans.getOrElse(g, Nil).toSeq, t0, t1) / 1e3,
        "skew" -> skew,
        "counters" -> c.toMap,
        "sql" -> sqlCounters.get(g).map(_.toMap).getOrElse(Map.empty[String, Double]))
    }.toMap
    Json.obj("phases" -> phases, "persist_rdds" -> persisted._1, "persist_mb" -> persisted._2)
  }

  def spansJson: String = spans.mkString("[", ",", "]")
}

object Tracer {
  private lazy val qeField = classOf[SparkListenerSQLExecutionEnd].getMethod("qe")

  /** The end event carries its QueryExecution (`private[sql]`, public in
    * bytecode).
    */
  def executedPlan(e: SparkListenerSQLExecutionEnd): Option[SparkPlan] =
    try Option(qeField.invoke(e)).map(
      _.asInstanceOf[QueryExecution].executedPlan)
    catch { case scala.util.control.NonFatal(_) => None }

  /** Milliseconds of [t0, t1] covered by at least one of the intervals. */
  def covered(iv: Seq[(Long, Long)], t0: Long, t1: Long): Long = {
    var total = 0L; var curS = -1L; var curE = -1L
    iv.map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** Seconds of a timing SQLMetric, whatever its unit. */
  private def secs(p: SparkPlan, name: String): Double = p.metrics.get(name).map { m =>
    if (m.metricType == "nsTiming") m.value / 1e9 else m.value / 1e3
  }.getOrElse(0.0)
  private def num(p: SparkPlan, name: String): Double =
    p.metrics.get(name).map(_.value.toDouble).getOrElse(0.0)

  /** Operator counters of an executed plan, walking into adaptive query
    * stages and subqueries; a reused exchange counts where it first ran. A
    * command's plan is not walked from its `CommandResultExec`: the command
    * runs as a nested execution that reports it.
    */
  def planCounters(root: SparkPlan): Map[String, Double] = {
    val c = mutable.Map[String, Double]().withDefaultValue(0.0)
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _: ReusedExchangeExec =>
      case _ =>
        val cls = p.getClass.getSimpleName
        cls match {
          case "FileSourceScanExec" | "BatchScanExec" =>
            c("scan_s") += secs(p, "scanTime"); c("scan_files") += num(p, "numFiles")
            c("scan_bytes") += num(p, "filesSize"); c("scan_rows") += num(p, "numOutputRows")
          case "WholeStageCodegenExec" => c("codegen_s") += secs(p, "pipelineTime")
          case "ShuffleExchangeExec" => c("exchange_nodes") += 1
          case "InMemoryTableScanExec" => c("inmem_scan_rows") += num(p, "numOutputRows")
          case "SortExec" => c("sort_s") += secs(p, "sortTime")
          case "DataWritingCommandExec" =>
            c("sink_files") += num(p, "numFiles"); c("sink_bytes") += num(p, "numOutputBytes")
            c("sink_rows") += num(p, "numOutputRows")
            c("sink_commit_s") += secs(p, "taskCommitTime") + secs(p, "jobCommitTime")
          case n if n.contains("Aggregate") => c("agg_s") += secs(p, "aggTime")
          case n if n.contains("Join") || n == "CartesianProductExec" =>
            c("join_rows_out") += num(p, "numOutputRows")
          case _ =>
        }
        p.children.foreach(walk)
        p.subqueries.foreach(walk)
    }
    walk(root)
    c.toMap
  }

  /** Persisted RDDs and their stored size, read at a step's end. */
  def persisted(spark: SparkSession): (Int, Double) = {
    val sc = spark.sparkContext
    val mb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0)
    (sc.getPersistentRDDs.size, mb)
  }
}
