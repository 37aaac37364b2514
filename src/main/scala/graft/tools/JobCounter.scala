package graft.tools

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graftbridge.bridge

/** Counts the Spark jobs one block of driver code starts — the per-op job
  * budget behind `LakeOpsBench`'s `jobs` object and the lake job-budget
  * spec. Only jobs of the calling thread's job group count, so a
  * streaming query or another suite running beside the block adds
  * nothing. */
final class JobCounter(spark: SparkSession) extends SparkListener {
  private val group = s"graft-jobcounter-${java.util.UUID.randomUUID}"
  // one call site per counted job
  private val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]
  // SQL execution id -> the first graft frame of its call site
  private val execSites =
    new java.util.concurrent.ConcurrentHashMap[String, String]
  spark.sparkContext.addSparkListener(this)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      s.details.linesIterator.map(_.trim)
        .find(l => l.contains("graft.") && !l.contains("JobCounter"))
        .foreach(execSites.put(s.executionId.toString, _))
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
      sites.add(Option(e.properties.getProperty("spark.sql.execution.id"))
        .flatMap(id => Option(execSites.get(id)))
        .getOrElse(e.stageInfos.lastOption.map(_.name).getOrElse("?")))

  /** Call sites of every job counted so far: the first `graft` frame of
    * the SQL execution that ran it, else its final stage's name. */
  def callSites: Seq[String] = sites.asScala.toSeq

  /** `body`'s result and the number of Spark jobs it started. */
  def count[A](body: => A): (A, Long) = {
    val (a, _, n) = time(body)
    (a, n)
  }

  /** `body`'s result, its wall seconds and the number of Spark jobs it
    * started. The listener-bus drains that make the count exact run
    * outside the timed interval. */
  def time[A](body: => A): (A, Double, Long) = {
    val sc = spark.sparkContext
    bridge.drainListeners(spark)
    val before = sites.size
    sc.setJobGroup(group, "job count", interruptOnCancel = false)
    val (a, secs) =
      try {
        val t0 = System.nanoTime()
        val a = body
        (a, (System.nanoTime() - t0) / 1e9)
      } finally sc.clearJobGroup()
    bridge.drainListeners(spark)
    (a, secs, (sites.size - before).toLong)
  }

  def close(): Unit = spark.sparkContext.removeSparkListener(this)
}
