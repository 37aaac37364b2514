package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.bronze.{Gold, Lake, Runner}
import graft.lake.{Dv, MatView, Versioned}

/**
 * The benchmark's JVM side. `--mode prepare` builds the shared inputs
 * (the x16 replicas) and lists every cell's oracle SQL; `--mode run` runs
 * one workload and writes its raw record (ops with their Spark and
 * file-system counters, passes, set-up parts, heap, spans) as JSON for
 * `perfbench/run.py`, which checks cell outputs against the DuckDB oracle
 * and computes and prints the metrics.
 *
 * Load is one closed-loop client: one thread runs one op at a time.
 */
object Main {

  /** Catalog cells timed on sf0.1: a fixed slice across the families
    * (graph, dedup, ann, lake, lm, search, text, agg, TPC-H, events), so
    * planning, stage count and the shared warm-up builds dominate. */
  val CatalogCells: Seq[String] = Seq(
    "graph_kcore_parts", "dedup_embedding_cosine", "ann_cosine_topk_brute",
    "lake_mv_rewrite", "lake_mv_rewrite_join", "lake_skip_dpp",
    "lm_pmi_bigrams", "search_bm25_topk", "text_quality_scores",
    "agg_pivot_status_revenue", "q6_forecast_revenue",
    "events_markov_transitions")

  /** The shared warm-up builds of `graft.Bench` whose consumers are among
    * [[CatalogCells]] (the text, co-purchase and media builds serve none). */
  val CatalogWarmups: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "Vectors" -> graft.catalog.Vectors.warmShared,
    "Search" -> graft.catalog.Search.warmShared)

  /** The gold analytics the pipeline serves over the same events. */
  val GoldCells: Seq[String] = Seq("events_daily_kpis")

  val SetupRounds = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    a("mode") match {
      case "prepare" => prepare(a)
      case "run" => new Run(a).run()
    }
  }

  def session(cores: Int, work: String, trace: Boolean): SparkSession = {
    val shuffle = math.min(cores, 8).toString
    val b = graft.Conf.local(SparkSession.builder().appName("perfbench"), cores)
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.default.parallelism", shuffle)
      .config("spark.sql.leafNodeDefaultParallelism", shuffle)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    if (trace)
      b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Build the replicas (once) and write every benchmark cell's oracle
    * SQL. Runs in its own JVM, so a run's set-up is the same whether or
    * not its inputs were made just before. */
  def prepare(a: Map[String, String]): Unit = {
    val spark = session(a("cores").toInt, a("work"), trace = false)
    Inputs.replicateEvents(spark, a("sf"), a("x16"), 16)
    val oracle = graft.SparkEntry.oracleSql
    val cells = Map("catalog_sf0.1" -> CatalogCells, "pipeline_x16" -> GoldCells)
    val json = Json.obj(cells.map { case (w, cs) =>
      w -> Json.obj(cs.map(c => c -> oracle.get(c).map(Json.str).getOrElse("null")))
    })
    Files.writeString(Paths.get(a("out")), json)
    spark.stop()
  }

  /** Order-sensitive fingerprint of collected rows. */
  def rowsHash(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r.toString + "\n").getBytes("UTF-8")))
    md.digest().take(12).map("%02x".format(_)).mkString
  }

  /** (rows, exact sum of row hashes) of a frame: equal multisets give
    * equal prints. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val h = xxhash64(df.columns.toIndexedSeq.map(col): _*).cast("decimal(38,0)")
    val r = df.agg(count(lit(1)), sum(h).cast("string")).head()
    (r.getLong(0), String.valueOf(r.getString(1)))
  }
}

/** One recorded op: a timed call into a layer's public function. */
final case class OpRec(name: String, layer: String, stage: String, pass: Int,
                       span: Span, ok: Boolean, error: String,
                       var check: String = "")

final class Run(a: Map[String, String]) {
  import Main._

  val workload: String = a("workload")
  val seed: Long = a("seed").toLong
  val seconds: Double = a("seconds").toDouble
  val cores: Int = a("cores").toInt
  val work: String = a("work")
  val trace = new Trace(a("trace") == "1")
  val skipped: Map[String, String] = a.get("skip").filter(_.nonEmpty)
    .map(p => Files.readAllLines(Paths.get(p)).asScala.toSeq
      .filter(_.contains("\t")).map { l =>
        val Array(c, r) = l.split("\t", 2); c -> r }.toMap)
    .getOrElse(Map.empty)

  val ops = mutable.ArrayBuffer.empty[OpRec]
  val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuS: Double = osBean.getProcessCpuTime / 1e9
  def gcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Heap in use right after a full collection, MB. A collection hands
    * Spark's cleaner the blocks of unreachable broadcasts and frames, which
    * it frees in the background, so collect until the figure settles. */
  def liveHeapMb(): Double = {
    def afterGc(): Double = {
      System.gc()
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
    }
    var last = afterGc()
    var i = 0
    var settled = false
    while (i < 8 && !settled) {
      Thread.sleep(250)
      val now = afterGc()
      settled = math.abs(last - now) < 1.0
      last = now
      i += 1
    }
    last
  }

  var spark: SparkSession = _

  def op[T](layer: String, stage: String, name: String, pass: Int)
           (body: => T): Option[T] = {
    val (r, s) = trace.span("op", layer, name)(Try(body))
    System.err.println(f"[perfbench] pass $pass ${s.endMs / 1e3}%8.2f s  $name " +
      f"${(s.endMs - s.startMs) / 1e3}%.3f s")
    r match {
      case Success(v) =>
        ops += OpRec(name, layer, stage, pass, s, ok = true, ""); Some(v)
      case Failure(e) =>
        val msg = (e.getClass.getSimpleName + ": " + e.getMessage).take(300)
        System.err.println(s"[perfbench] $name FAILED: $msg")
        ops += OpRec(name, layer, stage, pass, s, ok = false, msg); None
    }
  }

  def fail(o: OpRec, why: String): Unit = {
    System.err.println(s"[perfbench] ${o.name} check FAILED: $why")
    ops(ops.indexOf(o)) = o.copy(ok = false, error = why)
  }

  def run(): Unit = {
    val (s, sessionSpan) = trace.span("setup", "spark", "session") {
      session(cores, work, trace.enabled)
    }
    spark = s
    trace.sc = spark.sparkContext
    val fsClass =
      if (!trace.enabled) "" else {
        spark.sparkContext.addSparkListener(trace.sparkListener)
        spark.listenerManager.register(trace.queryListener)
        spark.streams.addListener(trace.streamListener)
        // a file system cached before the session would bypass the counter
        val conf = spark.sparkContext.hadoopConfiguration
        if (!FileSystem.get(new java.net.URI("file:///"), conf)
            .isInstanceOf[CountingLocalFileSystem]) FileSystem.closeAll()
        FileSystem.get(new java.net.URI("file:///"), conf).getClass.getName
      }
    val w: Workload = workload match {
      case "catalog_sf0.1" => new CatalogWorkload
      case "pipeline_x16" => new PipelineWorkload
    }
    val rounds = if (!w.repeatedSetup) Nil else (0 until SetupRounds).map { r =>
      trace.span("setup", "workload", s"setup round $r")(w.setupRound())._2
    }
    val passes = mutable.ArrayBuffer.empty[Map[String, Double]]
    val (_, timed) = trace.span("workload", "workload", workload) {
      val t0 = trace.nowMs
      var p = 0
      while (p == 0 || trace.nowMs - t0 < seconds * 1000) {
        val c0 = cpuS; val g0 = gcS
        val (_, ps) = trace.span("pass", "workload", s"pass $p")(w.pass(p))
        val c1 = cpuS; val g1 = gcS
        passes += Map("wall_s" -> (ps.endMs - ps.startMs) / 1e3,
          "cpu_s" -> (c1 - c0), "gc_s" -> (g1 - g0),
          "live_heap_mb" -> liveHeapMb())
        p += 1
      }
    }
    w.check()
    if (trace.enabled) org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    val record = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "trace" -> (if (trace.enabled) "1" else "0"),
      "session_s" -> Json.num((sessionSpan.endMs - sessionSpan.startMs) / 1e3),
      "setup_rounds_s" -> Json.arr(rounds.map(r => Json.num((r.endMs - r.startMs) / 1e3))),
      "timed_s" -> Json.num((timed.endMs - timed.startMs) / 1e3),
      "passes" -> Json.arr(passes.toSeq.map(m => Json.obj(m.toSeq.map { case (k, v) => k -> Json.num(v) }))),
      "ops" -> Json.arr(ops.toSeq.map(opJson)),
      "skipped" -> Json.obj(skipped.toSeq.map { case (c, r) => c -> Json.str(r) }),
      "fs_class" -> Json.str(fsClass),
      "spark_version" -> Json.str(spark.version),
      "warm_s" -> Json.obj(trace.allSpans.filter(s => s.kind == "setup" && s.layer == "ops")
        .groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
          n -> Json.arr(ss.map(s => Json.num((s.endMs - s.startMs) / 1e3))) }),
      "stream_batches" -> Json.arr(trace.batches.toSeq.map(b => Json.obj(Seq(
        "batch" -> b.batchId.toString, "duration_s" -> Json.num(b.durationMs / 1e3),
        "rows" -> b.rows.toString, "rows_per_s" -> Json.num(b.rowsPerS))))),
      "stage_s" -> Json.arr(trace.stageSeconds().map(Json.num)),
      "java_version" -> Json.str(System.getProperty("java.version")),
      "max_heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "extra" -> Json.obj(w.extra.toSeq.map { case (k, v) => k -> Json.num(v) })))
    Files.writeString(Paths.get(a("out")), record)
    if (trace.enabled) writeSpans(a("spans"))
    spark.stop()
  }

  def opJson(o: OpRec): String = Json.obj(Seq(
    "name" -> Json.str(o.name), "layer" -> Json.str(o.layer),
    "stage" -> Json.str(o.stage), "pass" -> o.pass.toString,
    "wall_s" -> Json.num((o.span.endMs - o.span.startMs) / 1e3),
    "ok" -> o.ok.toString, "error" -> Json.str(o.error),
    "check" -> Json.str(o.check),
    "attrs" -> Json.obj((if (trace.enabled) trace.sparkCounters(o.span) else Map.empty[String, Double])
      .++(o.span.attrs).toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })))

  def writeSpans(path: String): Unit = {
    val all = trace.allSpans ++ trace.sparkSpans()
    val lines = all.map { s =>
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "kind" -> Json.str(s.kind), "layer" -> Json.str(s.layer),
        "name" -> Json.str(s.name), "start_ms" -> Json.num(s.startMs),
        "end_ms" -> Json.num(s.endMs),
        "attrs" -> Json.obj(s.attrs.toSeq.map { case (k, v) => k -> Json.num(v) })))
    }
    Files.writeString(Paths.get(path), lines.mkString("", "\n", "\n"))
  }

  // ------------------------------------------------------------ workloads

  /** Set-up is the session, then [[setupRound]] [[SetupRounds]] times
    * where the workload has a repeatable step. No pass is run untimed: on
    * these inputs a pass is JIT-bound, a warm-up would cost as much as the
    * timed pass, and the reference job runs as a fresh process each day. */
  trait Workload {
    def repeatedSetup: Boolean = false
    def setupRound(): Unit = ()
    def pass(p: Int): Unit
    def check(): Unit
    def extra: Map[String, Double] = Map.empty
  }

  /** Catalog cells run one after another in a fixed order; each op is a
    * full `collect()` of the cell's result. Set-up builds the shared
    * intermediates its cells consume, as `graft.Bench` does before timing. */
  final class CatalogWorkload extends Workload {
    private val dir = a("sf")
    private val fns = graft.SparkEntry.queries
    // a fixed order: in a cold JVM a cell's time depends on its position
    // (the first cells pay the JIT), so a seeded order would add seed noise
    private val order = CatalogCells.filter(c => !skipped.contains(c))
    private val last = mutable.Map.empty[String, (Array[Row], StructType)]
    private val hashes = mutable.Map.empty[String, mutable.Set[String]]

    override def repeatedSetup: Boolean = true
    override def setupRound(): Unit = {
      graft.ops.Warmed.clear()
      CatalogWarmups.foreach { case (fam, build) =>
        trace.span("setup", "ops", s"warm.$fam")(build(spark, dir))
      }
    }

    def pass(p: Int): Unit = order.foreach { c =>
      op("catalog", "cells", c, p) {
        val df = fns(c)(spark, dir)
        (df.collect(), df.schema)
      }.foreach { case (rows, schema) =>
        last(c) = (rows, schema)
        hashes.getOrElseUpdate(c, mutable.Set.empty) += rowsHash(rows)
      }
    }

    def check(): Unit = {
      val out = a("outputs")
      ops.toList.filter(_.ok).foreach { o =>
        if (hashes(o.name).size > 1) fail(o, "output differs between passes")
        else o.check = s"$out/${o.name}"
      }
      last.foreach { case (c, (rows, schema)) =>
        spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$out/$c")
      }
    }

    override def extra: Map[String, Double] =
      if (!trace.enabled) Map.empty
      else {
        // MV rewrite: did the rewrite cells read the view, not the base?
        val mvCells = order.filter(_.startsWith("lake_mv_rewrite"))
        val hits = mvCells.count(c =>
          fns(c)(spark, dir).inputFiles.exists(_.contains("_mv/")))
        val cached = spark.sparkContext.getRDDStorageInfo
          .map(i => i.memSize + i.diskSize).sum
        Map("mv_rewrite_hits" -> hits.toDouble,
          "mv_rewrite_attempts" -> mvCells.size.toDouble,
          "warm_cached_bytes" -> cached.toDouble)
      }
  }

  /**
   * The reference job end to end: day-by-day bronze backfill with
   * sidecars, an idempotent rerun, the one-job backfill into a second
   * root, reconciliation, gold refresh, lake publish, a CDC stream, a
   * materialized view, a zero-copy purge, snapshot and time-travel reads,
   * SQL history and an MV-answerable SELECT, then the gold cells.
   */
  final class PipelineWorkload extends Workload {
    private val src = a("x16")
    private val fns = graft.SparkEntry.queries
    private val cols = Seq("event_id", "ts_us", "user_id", "event_type",
      "value", "prop_k").map(col)
    private val goldRows = mutable.Map.empty[String, (Array[Row], StructType)]
    private val goldHashes = mutable.Map.empty[String, mutable.Set[String]]
    private var lastRoot = ""
    private var lastCdcPrint = (0L, "")
    private var purgedRows = 0L
    private var mvHits = 0
    private var mvAttempts = 0
    private val days = a("days").split(",").toSeq
    // written by perfbench/gen.py: "<CDC rows> <purge user>"
    private val (cdcRows, purgeUser) = {
      val Array(n, u) = Files.readString(Paths.get(a("cdc"), "_READY")).trim.split(" ")
      (n.toLong, u.toLong)
    }

    def pass(p: Int): Unit = {
      flow(p)
      GoldCells.foreach { c =>
        op("catalog", "cells", c, p) {
          val df = fns(c)(spark, src)
          (df.collect(), df.schema)
        }.foreach { case (rows, schema) =>
          goldRows(c) = (rows, schema)
          goldHashes.getOrElseUpdate(c, mutable.Set.empty) += rowsHash(rows)
        }
      }
    }

    /** One pipeline run of pass `p` into fresh roots. */
    private def flow(p: Int): Unit = {
      val cdc = a("cdc")
      val root = s"$work/pipeline/p$p"
      val bronze = s"$root/bronze"
      val unified = s"$root/unified"
      val goldRoot = s"$root/gold"
      val table = s"$root/lake/events"
      val mv = s"$root/lake/events_mv"
      val extract = (d: String) => Runner.extractEvents(spark, src, d)
      def step[T](layer: String, stage: String, name: String)(body: => T): Option[T] =
        op(layer, stage, name, p)(body)

      days.foreach { d =>
        step("bronze", "backfill", s"day $d") {
          val r = Runner.runDaily(spark, bronze, "events", d, extract)
          require(r.success && !r.skipped, s"day $d: ${r.error.getOrElse("skipped")}")
          r.recordsExtracted
        }
      }
      step("bronze", "rerun", "rerun") {
        val r = Runner.backfill(spark, bronze, "events", days.head, days.last, extract)
        require(r.skippedDays.size == days.size,
          s"rerun wrote ${r.successfulDays.size} days, expected all skipped")
      }
      step("bronze", "unified", "unified") {
        Runner.backfillUnified(spark, unified, "events", days.head, days.last,
          Runner.extractEvents0(spark, src))
      }
      step("bronze", "reconcile", "reconcile") {
        val da = Lake.listAvailableDates(spark, bronze, "events")
        val db = Lake.listAvailableDates(spark, unified, "events")
        require(da.size == days.size && Lake.missingDates(da, db).isEmpty &&
          Lake.missingDates(db, da).isEmpty, s"roots disagree: $da vs $db")
      }
      step("bronze", "gold_refresh", "gold_refresh") {
        Gold.refreshDailyKpis(spark, bronze, goldRoot)
      }
      step("lake", "publish", "publish") {
        Versioned.publish(spark.read.parquet(s"$bronze/events").select(cols: _*), table)
      }
      step("lake", "mv", "mv_create") {
        MatView.create(spark, table, "event_id", mv, Seq("event_type"), Seq("value"))
      }
      step("streaming", "cdc", "cdc_stream") {
        val schema = spark.read.parquet(s"$cdc/stream").schema
        val q = graft.streaming.CdcSink.into(
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
              .parquet(s"$cdc/stream"),
            table, "event_id", seqCol = Some("seq"))
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", s"$root/checkpoint")
          .start()
        q.awaitTermination()
        q.exception.foreach(e => throw e)
      }
      val vCdc = Versioned.currentVersion(spark, table).getOrElse(0L)
      val printCdc = fingerprint(Versioned.read(spark, table))
      step("lake", "dv", "dv_purge") {
        // forget a user: their event keys, then a zero-copy delete on
        // the key column (a purge on user_id would record change-feed
        // deletes without event_id, which the view's catch-up rejects)
        val keys = Versioned.read(spark, table).filter(col("user_id") === purgeUser)
          .select("event_id").collect().map(_.getLong(0)).toSeq
        Dv.purge(spark, table, "event_id", keys)
      }
      step("lake", "mv", "mv_catchup") { MatView.catchUp(spark, mv) }
      val live = step("lake", "read", "snapshot_read") {
        fingerprint(Versioned.read(spark, table))
      }
      step("lake", "read", "time_travel") {
        val got = fingerprint(Versioned.readVersion(spark, table, vCdc))
        require(got == printCdc, s"readVersion($vCdc) $got != $printCdc at v$vCdc")
      }
      val name = s"pb_events_p$p"
      step("sql", "sql", "history") {
        graft.SqlDml.register(spark, name, table, "event_id")
        val h = graft.Sql.describe(spark, s"DESCRIBE HISTORY $name").collect()
        val n = Versioned.versions(spark, table).size
        require(h.length == n, s"history lists ${h.length} of $n versions")
      }
      step("sql", "sql", "rewrite_select") {
        graft.SqlDml.registerMv(spark, s"${name}_mv", mv)
        val df = graft.Sql.sql(spark, s"SELECT event_type, count(*) AS n " +
          s"FROM $name GROUP BY event_type ORDER BY event_type")
        df.collect()
        mvAttempts += 1
        if (df.inputFiles.exists(_.contains("events_mv"))) mvHits += 1
      }
      lastRoot = root; lastCdcPrint = printCdc
      purgedRows = printCdc._1 - live.map(_._1).getOrElse(printCdc._1)
    }

    def check(): Unit = {
      val out = a("outputs")
      def failAll(pred: OpRec => Boolean, why: String): Unit =
        ops.toList.filter(o => o.ok && pred(o)).foreach(fail(_, why))
      val p = ops.map(_.pass).max
      def last(stage: String): OpRec => Boolean = o => o.pass == p && o.stage == stage
      val bronze = s"$lastRoot/bronze"
      val table = s"$lastRoot/lake/events"
      val source = Inputs.bronzeRows(spark, src).filter(col("day").isin(days: _*))
        .cache()
      val perDay = source.groupBy("day").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      days.foreach { d =>
        val got = spark.read.parquet(Lake.dayDir(bronze, "events", d)).count()
        if (got != perDay.getOrElse(d, -1L))
          failAll(o => last("backfill")(o) && o.name == s"day $d",
            s"bronze day $d has $got rows, source has ${perDay.get(d)}")
      }
      val ra = spark.read.parquet(s"$bronze/events").select(cols: _*)
      val rb = spark.read.parquet(s"$lastRoot/unified/events").select(cols: _*)
      if (fingerprint(ra) != fingerprint(rb))
        failAll(last("unified"), "backfill and backfillUnified roots hold different rows")
      // the snapshot after the CDC stream, computed directly
      val changes = spark.read.parquet(s"${a("cdc")}/stream")
      val lastOp = changes.withColumn("_r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("event_id")
          .orderBy(col("seq").desc))).filter(col("_r") === 1)
      val base = source.drop("day")
      val expected = base.join(lastOp.select("event_id"), Seq("event_id"), "left_anti")
        .unionByName(lastOp.filter(col("op") =!= "D").select(cols: _*))
      if (fingerprint(expected) != lastCdcPrint)
        failAll(last("cdc"), s"snapshot after CDC ${lastCdcPrint} != expected ${fingerprint(expected)}")
      val live = Versioned.read(spark, table)
      if (fingerprint(live) != fingerprint(expected.filter(col("user_id") =!= purgeUser)))
        failAll(o => last("dv")(o), "snapshot after purge differs from expected")
      // the view against a full recompute of the live snapshot
      val want = live.groupBy("event_type").agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(38,6)")).as("s"))
      val have = Versioned.read(spark, s"$lastRoot/lake/events_mv")
        .select(col("event_type"), col("n_rows").as("n"), col("sum_value").cast("decimal(38,6)").as("s"))
      if (fingerprint(want) != fingerprint(have))
        failAll(o => last("mv")(o) && o.name == "mv_catchup", "view differs from a full recompute")
      ops.toList.filter(o => o.ok && o.stage == "cells").foreach { o =>
        if (goldHashes(o.name).size > 1) fail(o, "output differs between passes")
        else o.check = s"$out/${o.name}"
      }
      goldRows.foreach { case (c, (rows, schema)) =>
        spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$out/$c")
      }
    }

    override def extra: Map[String, Double] = {
      val f = FileSystem.get(new java.net.URI("file:///"),
        spark.sparkContext.hadoopConfiguration)
      def bytes(p: String) = {
        val path = new org.apache.hadoop.fs.Path(p)
        if (f.exists(path)) f.getContentSummary(path).getLength.toDouble else 0.0
      }
      val live = Versioned.read(spark, s"$lastRoot/lake/events").inputFiles
      val liveBytes = live.map(p => f.getFileStatus(new org.apache.hadoop.fs.Path(p)).getLen).sum
      Map("output_bytes" -> bytes(lastRoot),
        "bronze_bytes" -> bytes(s"$lastRoot/bronze"),
        "lake_bytes" -> bytes(s"$lastRoot/lake"),
        "live_snapshot_bytes" -> liveBytes.toDouble,
        "space_amp" -> bytes(lastRoot) / math.max(1.0, liveBytes.toDouble),
        "changed_rows" -> (cdcRows + purgedRows).toDouble,
        "mv_rewrite_hits" -> mvHits.toDouble,
        "mv_rewrite_attempts" -> mvAttempts.toDouble)
    }
  }
}

/** Minimal JSON writing: values arrive pre-rendered. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}
