package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the jobs each job group starts on `spark`'s context. Listener
  * events arrive asynchronously: [[drain]] runs one marker job and waits
  * for its start event, after which every job started before it has been
  * counted (one listener sees its events in order). Call [[close]] when
  * done.
  */
final class JobCounter(spark: SparkSession) extends SparkListener {
  private val Marker = "graft/job-counter/drain"
  private val started = mutable.Map.empty[String, Int].withDefaultValue(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach(g => started(g) += 1)
  }

  spark.sparkContext.addSparkListener(this)

  /** Runs `body` with every job it starts on this thread in `group`. */
  def under[T](group: String)(body: => T): T = {
    spark.sparkContext.setJobGroup(group, group)
    try body finally spark.sparkContext.clearJobGroup()
  }

  /** Waits until every job started so far has been counted. */
  def drain(): Unit = {
    val target = synchronized(started(Marker)) + 1
    under(Marker)(spark.range(1).count())
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (synchronized(started(Marker)) < target) {
      assert(System.nanoTime() < deadline, "listener bus did not drain within 60 s")
      Thread.sleep(1)
    }
  }

  /** Jobs counted in `group`; [[drain]] first. */
  def jobs(group: String): Int = synchronized(started(group))

  def close(): Unit = spark.sparkContext.removeSparkListener(this)
}
