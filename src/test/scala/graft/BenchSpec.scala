package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** Bench's stdout contract, on synthetic cells (no session): one JSON
  * line of at most [[Bench.LineBudget]] chars, costliest cells first. */
class BenchSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  // 205 cells, as many as the catalog: distinct costs, three failed
  private val cells = (0 until 205).map { i =>
    val failed = i % 70 == 3
    Bench.Cell(f"cell_$i%03d", if (failed) 0.0 else 0.05 + (i * 37 % 205) * 0.013,
      cpu = 0.1, gc = 0.01, failed = failed, escalated = i == 10)
  }
  private val failed = cells.filter(_.failed).map(_.name)
  private val totals = Bench.Totals(wall = 120.0, cpu = 300.0, gc = 1.5,
    loadStart = 0.5, loadEnd = 1.25)
  private val (stdout, full) = Bench.lines(cells, "/data/sf0.1", totals,
    retried = Seq("cell_007"), shared = Seq("TextLlm" -> 2.5, "Vectors" -> 1.0))

  private def keys(n: JsonNode) = n.fieldNames().asScala.toSeq

  test("the stdout line fits the budget and parses as JSON, keys in their fixed order") {
    assert(stdout.length <= Bench.LineBudget)
    assert(!stdout.contains("\n"))
    val j = mapper.readTree(stdout)
    assert(keys(j) == Seq("metric", "value", "unit", "wall", "cpu", "gc", "load_start",
      "load_end", "repeat", "queries", "queries_omitted", "queries_full", "sf",
      "parallelism", "errors"))
    assert(j.get("metric").asText == "total" && j.get("unit").asText == "sec")
    assert(j.get("repeat").asInt == 2 && j.get("parallelism").asInt == 1)
    assert(j.get("sf").asText == "/data/sf0.1")
    assert(j.get("queries_full").asText == "target/bench_last.json")
  }

  test("stdout keeps the costliest cells first and counts the dropped ones") {
    val j = mapper.readTree(stdout)
    val kept = keys(j.get("queries"))
    val expected = cells.sortBy(-_.sec).map(_.name)
    assert(kept.nonEmpty && kept == expected.take(kept.size))
    assert(j.get("queries_omitted").asInt == cells.size - kept.size)
    // the line is full: no room was left for one more ~17-char cell
    assert(stdout.length > Bench.LineBudget - 20)
  }

  test("value is the sum of per-cell minimums") {
    val j = mapper.readTree(stdout)
    assert(math.abs(j.get("value").asDouble - cells.map(_.sec).sum) < 0.005)
    assert(j.get("wall").asDouble == 120.0)
  }

  test("failed cells appear in errors") {
    val errs = mapper.readTree(stdout).get("errors").elements().asScala.map(_.asText).toSeq
    assert(failed.size == 3 && errs == failed)
  }

  test("bench_last.json holds every cell, the per-cell extras and the shared build seconds") {
    val j = mapper.readTree(full)
    assert(keys(j) == Seq("metric", "value", "unit", "wall", "cpu", "gc", "load_start",
      "load_end", "repeat", "queries", "sf", "parallelism", "errors", "queries_cpu",
      "queries_gc", "escalated", "budget_retried", "shared_build_s"))
    assert(keys(j.get("queries")).toSet == cells.map(_.name).toSet)
    assert(keys(j.get("queries_cpu")).size == cells.size - failed.size)
    assert(j.get("escalated").elements().asScala.map(_.asText).toSeq == Seq("cell_010"))
    assert(j.get("budget_retried").elements().asScala.map(_.asText).toSeq == Seq("cell_007"))
    val shared = j.get("shared_build_s")
    assert(keys(shared) == Seq("TextLlm", "Vectors") && shared.get("TextLlm").asDouble == 2.5)
    assert(!stdout.contains("shared_build_s"))
  }

  test("a catalog that fits the budget omits nothing") {
    val few = cells.take(5)
    val (out, all) = Bench.lines(few, "/data/sf0.1", totals, Nil, Seq("Media" -> 0.5))
    val j = mapper.readTree(out)
    assert(keys(j.get("queries")).size == 5 && !j.has("queries_omitted"))
    assert(all.startsWith(out.dropRight(1) + ",") && all.endsWith(""","shared_build_s":{"Media":0.5}}"""))
  }
}
