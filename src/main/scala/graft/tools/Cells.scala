package graft.tools

import java.lang.management.ManagementFactory

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * The one cell harness: the session `graft.Bench`, [[ProfileCell]] and
 * [[ScaleSweep]] time catalog cells in, the sf0.001 JIT warm-up, the shared
 * warm-up builds and the timed pass. A cell timed by any of them is timed
 * the same way, so their numbers compare.
 */
object Cells {

  /** Local threads; `SPARK_GRAFT_CPUS`, the one session setting. */
  private val Cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** Data dir of the JIT warm-up pass. */
  val WarmupDir = "/root/testdata/sf0.001"

  /** The bench session. Shuffle, default and leaf parallelism are sized to
    * the DATA, min(cpus, 8), not to the thread count: local[32] with 32-wide
    * shuffles on a ~600k-row SF loses +14 s of catalog wall to tiny map
    * tasks, and a 32-wide leaf parallelism drives FilePartition's
    * maxSplitBytes down to openCostInBytes (4 MB) on sub-GB inputs, so every
    * scan becomes ≥32 tiny tasks (measured: 539 CPU-s at cpus=32 vs 279 at
    * cpus=4 for the same 40 s value). Threads above the cap still
    * parallelize scans and independent stages. AQE is on (`Conf.local`).
    * FAIR scheduling stays so the session matches the recorded runs. */
  def session(): SparkSession = {
    val width = math.min(Cpus, 8).toString
    val spark = graft.Conf.local(SparkSession.builder(), Cpus)
      .config("spark.sql.shuffle.partitions", width)
      .config("spark.default.parallelism", width)
      .config("spark.sql.leafNodeDefaultParallelism", width)
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run each named cell once on the tiny `dir`, so plan, codegen and JIT
    * one-time costs (~5 s) do not land in whichever timed cell runs first.
    * A failed warm-up is reported, not skipped silently. */
  def warmup(spark: SparkSession, names: Iterable[String], dir: String): Unit = {
    val qs = graft.SparkEntry.queries
    names.foreach { n =>
      try qs(n)(spark, dir).count() catch {
        case NonFatal(e) => System.err.println(s"[cells] warmup $n failed: ${e.getMessage}")
      }
    }
  }

  /** The families that materialize shared intermediates (LSH candidate
    * pairs, normalized embeddings, centroids, ...) in `graft.ops.Warmed`. */
  private val SharedFamilies: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "TextLlm" -> graft.catalog.TextLlm.warmShared,
    "Vectors" -> graft.catalog.Vectors.warmShared,
    "CoPurchase" -> graft.catalog.CoPurchase.warmShared,
    "Search" -> graft.catalog.Search.warmShared,
    "Media" -> graft.catalog.MediaCatalog.warmShared)

  /** Build every shared family on the timed `sfDir` before the clock starts:
    * the timed cells then measure the materialize-once deployment shape.
    * Each family builds in its own `try`, since one failure must not
    * un-warm the others (their cells would re-pay the build and show up as
    * phantom regressions). Returns family → build seconds of the builds
    * that succeeded. */
  def warmShared(spark: SparkSession, sfDir: String): Seq[(String, Double)] =
    SharedFamilies.flatMap { case (family, build) =>
      val t0 = System.nanoTime()
      try { build(spark, sfDir); Some(family -> (System.nanoTime() - t0) / 1e9) }
      catch { case NonFatal(e) =>
        System.err.println(s"[cells] shared warm FAILED for $family " +
          s"(its family's cells will re-pay the build): ${e.getMessage}")
        None
      }
    }

  /** One timed pass: wall, process CPU and GC seconds, result rows. */
  final case class Pass(wall: Double, cpu: Double, gc: Double, rows: Long)

  /** `passes` timed passes of `build`, fastest first. The frame is built
    * inside the clock: iterative cells (BPE, PageRank, components) do
    * distributed work while building it, so timing only `count()` would
    * under-report them. */
  def time(passes: Int)(build: => DataFrame): Seq[Pass] =
    Seq.fill(passes) {
      val t0 = System.nanoTime(); val c0 = cpuSec(); val g0 = gcSec()
      val rows = build.count()
      Pass((System.nanoTime() - t0) / 1e9, cpuSec() - c0, gcSec() - g0, rows)
    }.sortBy(_.wall)

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuSec(): Double = os.getProcessCpuTime / 1e9

  def gcSec(): Double = {
    var t = 0L
    ManagementFactory.getGarbageCollectorMXBeans.forEach(b => t += math.max(0L, b.getCollectionTime))
    t / 1e3
  }

  def loadAvg(): Double = math.max(0.0, os.getSystemLoadAverage)
}
