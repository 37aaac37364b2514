package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Call counters for [[CountingLocalFileSystem]]. `probes` are the
  * metadata lookups (`getFileStatus`, which `exists` goes through);
  * `lists` are directory listings, which globs expand into. */
object FsCounts {
  val probes = new AtomicLong
  val lists = new AtomicLong
  val opens = new AtomicLong
  val creates = new AtomicLong
  val renames = new AtomicLong
  val deletes = new AtomicLong
  val mkdirs = new AtomicLong

  def snapshot(): Map[String, Long] = {
    val bytes = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    Map(
      "fs_probes" -> probes.get, "fs_lists" -> lists.get,
      "fs_opens" -> opens.get, "fs_creates" -> creates.get,
      "fs_renames" -> renames.get, "fs_deletes" -> deletes.get,
      "fs_mkdirs" -> mkdirs.get,
      "fs_bytes_read" -> bytes.map(_.getBytesRead).sum,
      "fs_bytes_written" -> bytes.map(_.getBytesWritten).sum)
  }
}

/** The `file:` file system with every storage call counted. Traced runs
  * install it as `fs.file.impl`; untraced runs keep Hadoop's own class. */
class CountingLocalFileSystem extends LocalFileSystem {
  override def getFileStatus(f: Path): FileStatus = {
    FsCounts.probes.incrementAndGet(); super.getFileStatus(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    FsCounts.lists.incrementAndGet(); super.listStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    FsCounts.opens.incrementAndGet(); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    FsCounts.creates.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    FsCounts.renames.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    FsCounts.deletes.incrementAndGet(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    FsCounts.mkdirs.incrementAndGet(); super.mkdirs(f, permission)
  }
}

/** One traced interval. `kind` is workload, stage, op, job or
  * spark_stage; times are milliseconds since the benchmark's entry. */
final case class Span(id: Int, parent: Int, kind: String, layer: String,
                      name: String, startMs: Double, endMs: Double,
                      attrs: Map[String, Double])

/** Spark-side events collected by [[Trace]]'s listeners, keyed for
  * attribution to the op span that was open when they happened. */
final case class JobRec(jobId: Int, span: Int, startMs: Long, var endMs: Long)
final case class StageRec(stageId: Int, span: Int, var jobId: Int,
                          var startMs: Long, var endMs: Long, var tasks: Int,
                          var runMs: Long, var shuffleRead: Long,
                          var shuffleWrite: Long, var spill: Long,
                          var schedDelayMs: Long)
final case class PlanRec(startMs: Long, planMs: Long, execMs: Double)
final case class BatchRec(batchId: Long, durationMs: Long, rows: Long,
                          rowsPerS: Double)

/**
 * Spans kept in memory, written once at the end. Op spans are always
 * recorded (the end-to-end metrics are built from them); the listeners
 * that attribute Spark jobs, stages, planning phases, streaming batches
 * and file-system calls to those spans run only when tracing is on.
 *
 * Ops run one at a time on one thread, so a job belongs to the op
 * whose span id it carries as a local property, and a planning phase or
 * streaming batch to the op whose interval contains it.
 */
final class Trace(val enabled: Boolean) {
  val epochMs: Long = System.currentTimeMillis()
  private val epochNs = System.nanoTime()
  def nowMs: Double = (System.nanoTime() - epochNs) / 1e6
  def wallToRel(ms: Long): Double = (ms - epochMs).toDouble

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  def current: Int = stack.headOption.getOrElse(0)

  /** Set once the session exists: spans tag the jobs they start. */
  var sc: org.apache.spark.SparkContext = null
  private def tagJobs(id: Int): Unit =
    if (sc != null) sc.setLocalProperty("perfbench.span",
      if (id == 0) null else id.toString)

  val jobs = mutable.Map.empty[Int, JobRec]
  val stages = mutable.Map.empty[Int, StageRec]
  val plans = mutable.ArrayBuffer.empty[PlanRec]
  val batches = mutable.ArrayBuffer.empty[BatchRec]
  private val stageJob = mutable.Map.empty[Int, Int]

  /** Open a span, run `body`, close it; returns the body's value and the
    * closed span. */
  def span[T](kind: String, layer: String, name: String)(body: => T): (T, Span) = {
    val id = nextId; nextId += 1
    val parent = current
    stack = id :: stack
    tagJobs(id)
    val fs0 = if (enabled) FsCounts.snapshot() else Map.empty[String, Long]
    val t0 = nowMs
    try {
      val v = body
      (v, close(id, parent, kind, layer, name, t0, fs0, Map.empty))
    } catch {
      case e: Throwable =>
        close(id, parent, kind, layer, name, t0, fs0, Map("failed" -> 1.0))
        throw e
    } finally {
      stack = stack.tail
      tagJobs(parent)
    }
  }

  private def close(id: Int, parent: Int, kind: String, layer: String,
                    name: String, t0: Double, fs0: Map[String, Long],
                    extra: Map[String, Double]): Span = {
    val t1 = nowMs
    val fsDelta =
      if (!enabled) Map.empty[String, Double]
      else FsCounts.snapshot().map { case (k, v) => k -> (v - fs0(k)).toDouble }
    val s = Span(id, parent, kind, layer, name, t0, t1, fsDelta ++ extra)
    spans.synchronized(spans += s)
    s
  }

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  // ------------------------------------------------------------ listeners

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val span = Option(e.properties).flatMap(p =>
        Option(p.getProperty("perfbench.span"))).map(_.toInt).getOrElse(0)
      jobs(e.jobId) = JobRec(e.jobId, span, e.time, e.time)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Trace.this.synchronized {
        val span = Option(e.properties).flatMap(p =>
          Option(p.getProperty("perfbench.span"))).map(_.toInt).getOrElse(0)
        val id = e.stageInfo.stageId
        stages(id) = StageRec(id, span, stageJob.getOrElse(id, -1),
          e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()),
          0L, e.stageInfo.numTasks, 0L, 0L, 0L, 0L, 0L)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val m = e.taskMetrics
      if (m != null) stages.get(e.stageId).foreach { s =>
        val i = e.taskInfo
        val busy = m.executorRunTime + m.executorDeserializeTime +
          m.resultSerializationTime + i.gettingResultTime
        s.schedDelayMs += math.max(0L, i.duration - busy)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        val i = e.stageInfo
        stages.get(i.stageId).foreach { s =>
          s.endMs = i.completionTime.getOrElse(System.currentTimeMillis())
          s.tasks = i.numTasks
          val m = i.taskMetrics
          if (m != null) {
            s.runMs = m.executorRunTime
            s.shuffleRead = m.shuffleReadMetrics.totalBytesRead
            s.shuffleWrite = m.shuffleWriteMetrics.bytesWritten
            s.spill = m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = {
      val phases = qe.tracker.phases.values
      val end = System.currentTimeMillis()
      val start =
        if (phases.isEmpty) end - durationNs / 1000000L
        else phases.map(_.startTimeMs).min
      Trace.this.synchronized {
        plans += PlanRec(start, phases.map(_.durationMs).sum, durationNs / 1e6)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      if (p.numInputRows > 0) Trace.this.synchronized {
        batches += BatchRec(p.batchId, d, p.numInputRows,
          p.processedRowsPerSecond)
      }
    }
  }

  /** Spark job and stage spans, children of the op that ran them. */
  def sparkSpans(): Seq[Span] = synchronized {
    val js = jobs.values.toSeq.map { j =>
      Span(100000000 + j.jobId, j.span, "job", "spark", s"job ${j.jobId}",
        wallToRel(j.startMs), wallToRel(j.endMs), Map.empty)
    }
    val ss = stages.values.toSeq.map { s =>
      val parent = if (s.jobId >= 0) 100000000 + s.jobId else s.span
      Span(200000000 + s.stageId, parent, "spark_stage", "spark",
        s"stage ${s.stageId}", wallToRel(s.startMs), wallToRel(s.endMs),
        Map("tasks" -> s.tasks.toDouble, "task_ms" -> s.runMs.toDouble,
          "sched_delay_ms" -> s.schedDelayMs.toDouble,
          "shuffle_read_bytes" -> s.shuffleRead.toDouble,
          "shuffle_write_bytes" -> s.shuffleWrite.toDouble,
          "spill_bytes" -> s.spill.toDouble))
    }
    js ++ ss
  }

  /** Spark counters of one op span: its jobs and stages (by property) and
    * the planning phases that started inside its interval. */
  def sparkCounters(op: Span): Map[String, Double] = synchronized {
    val js = jobs.values.filter(_.span == op.id)
    val ss = stages.values.filter(_.span == op.id)
    val lo = op.startMs; val hi = op.endMs
    val ps = plans.filter { p => val t = wallToRel(p.startMs); t >= lo && t <= hi }
    Map(
      "jobs" -> js.size.toDouble,
      "stages" -> ss.size.toDouble,
      "tasks" -> ss.map(_.tasks).sum.toDouble,
      "task_s" -> ss.map(_.runMs).sum / 1e3,
      "sched_delay_s" -> ss.map(_.schedDelayMs).sum / 1e3,
      "shuffle_read_bytes" -> ss.map(_.shuffleRead).sum.toDouble,
      "shuffle_write_bytes" -> ss.map(_.shuffleWrite).sum.toDouble,
      "spill_bytes" -> ss.map(_.spill).sum.toDouble,
      "plan_s" -> ps.map(_.planMs).sum / 1e3,
      "exec_s" -> ps.map(_.execMs).sum / 1e3,
      "queries" -> ps.size.toDouble)
  }

  /** Durations (s) of the Spark stages that ran inside ops. */
  def stageSeconds(): Seq[Double] = synchronized {
    stages.values.filter(s => s.span != 0 && s.endMs >= s.startMs)
      .map(s => (s.endMs - s.startMs) / 1e3).toSeq
  }
}
