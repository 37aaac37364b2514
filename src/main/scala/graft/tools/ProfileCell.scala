package graft.tools

import org.apache.spark.sql.SparkSession

/** Optimization-round profiling main — times named catalog cells under the
  * EXACT Bench session shape (same master/shuffle/AQE/FAIR knobs, same
  * sf0.001 warmup, same shared-spine warm, same count() action) so per-cell
  * numbers are comparable with `graft.Bench` cells, and dumps each cell's
  * `explain("formatted")` to a file when `--plans <dir>` is given (the
  * plans/r18 before/after artifacts).
  *
  * Usage: runMain graft.tools.ProfileCell <sfDir> <query>...
  *          [--repeat N] [--plans <dir>] [--suffix before|after]
  * Env: SPARK_GRAFT_CPUS / SPARK_GRAFT_SHUFFLE as in Bench.
  */
object ProfileCell {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // positional parse: consume flag+value PAIRS, everything else is a
    // query name — filtering out any arg that merely EQUALS a flag value
    // silently dropped queries whose name collided with one
    var repeat = 3
    var plansDir = Option.empty[String]
    var suffix = "before"
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    def value(i: Int): String =
      if (i + 1 < args.length) args(i + 1)
      else sys.error(s"${args(i)} requires a value")
    var i = 1
    while (i < args.length) {
      args(i) match {
        case "--repeat" => repeat = value(i).toInt; i += 2
        case "--plans" => plansDir = Some(value(i)); i += 2
        case "--suffix" => suffix = value(i); i += 2
        case f if f.startsWith("--") =>
          sys.error(s"unknown flag $f (expected --repeat/--plans/--suffix)")
        case q => names += q; i += 1
      }
    }

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE",
      math.min(cpus.toInt, 8).toString)
    val spark = graft.Conf.local(SparkSession.builder(), cpus.toInt)
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.default.parallelism", shuffle)
      .config("spark.sql.leafNodeDefaultParallelism", shuffle)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val qs = graft.SparkEntry.queries
    val unknown = names.filterNot(qs.contains)
    require(unknown.isEmpty,
      s"unknown queries: ${unknown.mkString(", ")} (see SparkEntry.queries)")
    // Bench-parity warmup: JIT/codegen on the tiny SF, then shared spines
    // on the timed SF.
    names.foreach { n =>
      try qs(n)(spark, "/root/testdata/sf0.001").count()
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[profile] warmup $n failed: ${e.getMessage}") }
    }
    graft.catalog.TextLlm.warmShared(spark, sfDir)
    graft.catalog.Vectors.warmShared(spark, sfDir)
    graft.catalog.CoPurchase.warmShared(spark, sfDir)
    graft.catalog.Search.warmShared(spark, sfDir)
    graft.catalog.MediaCatalog.warmShared(spark, sfDir)

    names.foreach { n =>
      var best = Double.MaxValue
      var rows = 0L
      (1 to repeat).foreach { _ =>
        val t0 = System.nanoTime()
        rows = qs(n)(spark, sfDir).count()
        val w = (System.nanoTime() - t0) / 1e9
        if (w < best) best = w
      }
      printf("PROFILE %-34s %8.3f s  (%d rows, min of %d)%n", n, best, rows, repeat)
      plansDir.foreach { dir =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
        val plan = qs(n)(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$dir/${n}_$suffix.txt"), plan)
      }
    }
    spark.stop()
  }
}
