package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.lake.Tables

class PrefixSpec extends SparkSpec {

  import spark.implicits._

  private lazy val t = Tables.documents(spark, sf001)
    .select($"doc_id", size(split($"text", " ")).cast("long").as("n_tokens"))

  test("two-phase runningSum == single global window, row for row") {
    val twoPhase = Prefix.runningSum(t, "doc_id", "n_tokens", "cum", partitions = 7)
      .select($"doc_id", $"cum")
    val w = Window.orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val plain = t.withColumn("cum", sum($"n_tokens").over(w))
      .select($"doc_id", $"cum")
    assert(twoPhase.exceptAll(plain).isEmpty && plain.exceptAll(twoPhase).isEmpty)
  }

  test("runningSum never funnels data through one reducer") {
    val out = Prefix.runningSum(t, "doc_id", "n_tokens", "cum", partitions = 7)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // the only sort/window partitioning is range over the key — no
    // single-partition Exchange (the global-window shape) anywhere
    assert(!plan.contains("Exchange SinglePartition"), plan)
  }

  test("globalRankSum: distributed arm == window arm, desc order with tiebreak") {
    val d = t.withColumn("grp", $"doc_id" % 17)
    // NULL values: the first 10 rows of the global order (an all-NULL
    // global prefix) and a 250-row block that spans a range-partition
    // boundary, so some partition's local prefix is all NULL
    val withNulls = t.withColumn("n_tokens",
      when($"doc_id" < 10 || $"doc_id".between(150, 399), lit(null))
        .otherwise($"n_tokens"))
    // coalescing off pins several range partitions, so the NULL block
    // meets a partition boundary
    val coalesceConf = "spark.sql.adaptive.coalescePartitions.enabled"
    val was = spark.conf.get(coalesceConf)
    spark.conf.set(coalesceConf, "false")
    try for ((in, order) <- Seq(d -> Seq($"n_tokens".desc, $"doc_id".asc),
        withNulls -> Seq($"doc_id".asc))) {
      val dist = Prefix.globalRankSum(in, order, Some("n_tokens"), "rn", "cum",
          distributed = true)
        .select($"doc_id", $"rn", $"cum")
      val plain = Prefix.globalRankSum(in, order, Some("n_tokens"), "rn", "cum",
          distributed = false)
        .select($"doc_id", $"rn", $"cum")
      assert(dist.exceptAll(plain).isEmpty && plain.exceptAll(dist).isEmpty)
      assert(dist.schema == plain.schema)
    } finally spark.conf.set(coalesceConf, was)
  }

  test("scratch-column names in the input are rejected, not clobbered") {
    for (name <- Seq("_pid", "_PID", "_grn")) {
      val in = t.withColumn(name, lit(1L))
      for (distributed <- Seq(true, false)) {
        val e = intercept[IllegalArgumentException](
          Prefix.globalNtile(in, Seq($"doc_id"), 3, "b", distributed))
        assert(e.getMessage.contains(name.toLowerCase), e.getMessage)
      }
    }
    for (distributed <- Seq(true, false))
      intercept[IllegalArgumentException](Prefix.globalRankSum(
        t.withColumn("_pid", lit(1)), Seq($"doc_id"), Some("n_tokens"), "rn",
        "cum", distributed))
    intercept[IllegalArgumentException](
      Prefix.runningSum(t.withColumn("_pid", lit(1)), "doc_id", "n_tokens", "cum"))
  }

  test("globalNtile: distributed arm == window arm, including remainder buckets") {
    // 500 docs % 7 != 0 exercises the first-buckets-take-the-extra rule;
    // also check a k larger than n (every bucket gets <= 1 row)
    for (k <- Seq(7, 10, 1, 600)) {
      val dist = Prefix.globalNtile(t, Seq($"n_tokens", $"doc_id"), k, "b",
          distributed = true)
        .select($"doc_id", $"b")
      val plain = Prefix.globalNtile(t, Seq($"n_tokens", $"doc_id"), k, "b",
          distributed = false)
        .select($"doc_id", $"b")
      assert(dist.exceptAll(plain).isEmpty && plain.exceptAll(dist).isEmpty, s"k=$k")
      assert(dist.schema == plain.schema, s"k=$k")
    }
  }

  test("globalRankSum distributed arm never funnels data through one reducer") {
    val out = Prefix.globalRankSum(t, Seq($"n_tokens".desc, $"doc_id"),
      Some("n_tokens"), "rn", "cum", distributed = true)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("Exchange SinglePartition"), plan)
  }

  test("packBins: bins fill to budget in key order; straddlers stay with their start") {
    val df = Seq((1L, 900L), (2L, 900L), (3L, 900L), (4L, 100L), (5L, 3000L))
      .toDF("doc_id", "n_tokens")
    val bins = Prefix.packBins(df, "doc_id", "n_tokens", budget = 1000L)
      .select($"doc_id", $"bin_id").as[(Long, Long)].collect().toMap
    // doc1 starts at 0 -> bin 0; doc2 starts at 900 -> bin 0 (straddles);
    // doc3 starts at 1800 -> bin 1; doc4 at 2700 -> bin 2; doc5 at 2800 -> bin 2
    assert(bins == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 2L, 5L -> 2L))
  }
}
