package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Optimization-round profiling main: times named catalog cells through
  * [[Cells]] (the `graft.Bench` session, sf0.001 warm-up of the named
  * cells, shared warm-up builds and timed pass), so per-cell numbers are
  * comparable with Bench cells.
  *
  *  - `--plans <dir>` writes each cell's `explain("formatted")` to
  *    `<dir>/<cell>_<suffix>.txt` (the plans/r18 before/after artifacts).
  *  - `--dump <dir>` writes each cell's result as parquet plus the matching
  *    `oracle_sql.json` subset, so `tools/compare.py <sfDir> <dir>`
  *    oracle-checks just those cells.
  *
  * Usage: runMain graft.tools.ProfileCell <sfDir> <query>...
  *          [--repeat N] [--plans <dir>] [--suffix before|after] [--dump <dir>]
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
    var dumpDir = Option.empty[String]
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
        case "--dump" => dumpDir = Some(value(i)); i += 2
        case f if f.startsWith("--") =>
          sys.error(s"unknown flag $f (expected --repeat/--plans/--suffix/--dump)")
        case q => names += q; i += 1
      }
    }

    val spark = Cells.session()
    val qs = graft.SparkEntry.queries
    val unknown = names.filterNot(qs.contains)
    require(unknown.isEmpty,
      s"unknown queries: ${unknown.mkString(", ")} (see SparkEntry.queries)")
    // before the shared builds, so the dump runs the standalone plans
    dumpDir.foreach(dump(spark, sfDir, names.toSeq, _))
    Cells.warmup(spark, names, Cells.WarmupDir)
    Cells.warmShared(spark, sfDir)
    names.foreach { n =>
      val best = Cells.time(repeat)(qs(n)(spark, sfDir)).head
      printf("PROFILE %-34s %8.3f s  (%d rows, min of %d)%n", n, best.wall, best.rows, repeat)
      plansDir.foreach { dir =>
        Files.createDirectories(Paths.get(dir))
        val plan = qs(n)(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$dir/${n}_$suffix.txt"), plan)
      }
    }
    spark.stop()
  }

  /** Write each named cell's result on `sfDir` to `outDir/<cell>` as one
    * parquet file, and the cells' oracle SQL to `outDir/oracle_sql.json`,
    * as `graft.Verify` does for the whole catalog. Call it while the
    * `graft.ops.Warmed` registry is empty, so the standalone plans run. */
  def dump(spark: SparkSession, sfDir: String, names: Seq[String], outDir: String): Unit = {
    names.foreach { n =>
      graft.SparkEntry.queries(n)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$n")
    }
    val json = graft.SparkEntry.oracleSql
      .filter { case (k, _) => names.contains(k) }
      .map { case (k, v) => s"${graft.Jsons.quote(k)}: ${graft.Jsons.quote(v)}" }
      .mkString("{", ",", "}")
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
