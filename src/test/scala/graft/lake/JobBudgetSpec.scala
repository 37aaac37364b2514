package graft.lake

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.SparkSpec
import graft.streaming.CdcSink
import graft.tools.JobCounter

/**
 * Spark jobs per lake commit, pinned on fixed small data: a CDC
 * micro-batch, a view catch-up, a zero-copy purge, a rewriting purge, a
 * SQL DELETE and a snapshot read each run within a job budget, because the questions they ask about
 * metadata (is the batch empty, is it valid, which keys, which schema)
 * are answered by one changeset summary and by driver-side footer reads
 * instead of Spark jobs. Also pins the two replacements themselves: the
 * driver-side schema equals Spark's inference wherever the lake reads,
 * and the one-pass Bloom sidecar build writes the old build's bytes.
 */
class JobBudgetSpec extends SparkSpec {

  import spark.implicits._

  private lazy val root = Files.createTempDirectory("graft-jobbudget").toString

  private def events(n: Long) = spark.range(0, n).select($"id".as("event_id"),
    ($"id" % 97).as("user_id"), ($"id" % 5).cast("string").as("event_type"),
    ($"id" % 13).cast("double").as("value"))

  test("a CDC micro-batch, an MV catch-up, a DV purge and a read stay within their job budgets") {
    val t = s"$root/budget"
    val mv = s"$root/budget_mv"
    Versioned.publish(events(20000).repartition(4), t)
    MatView.create(spark, t, "event_id", mv, Seq("event_type"), Seq("value"))
    // intra-batch churn on a sequence column, as the reference's feed has
    val batch = (0 until 40).map { i =>
      val k = i.toLong * 487
      (if (i % 5 == 0) "D" else "U", k, k % 97, (k % 5).toString, 1.0 * i,
        i.toLong)
    } ++ Seq(("I", 30000L, 1L, "1", 2.0, 100L), ("U", 30000L, 1L, "1", 3.0, 101L))
    val cdc = batch.toDF("op", "event_id", "user_id", "event_type", "value",
      "seq")
    val counter = new JobCounter(spark)
    try {
      val (_, cdcJobs) = counter.count(
        CdcSink.applyBatch(spark, t, "event_id", cdc, batchId = 0L,
          seqCol = Some("seq")))
      val (_, purgeJobs) = counter.count(
        Dv.purge(spark, t, "event_id", Seq(487L * 3, 487L * 7)))
      val (_, catchUpJobs) = counter.count(MatView.catchUp(spark, mv))
      val (n, readJobs) = counter.count(Versioned.read(spark, t).count())
      info(s"jobs: cdc batch $cdcJobs, dv purge $purgeJobs, " +
        s"mv catch-up $catchUpJobs, read $readJobs; call sites " +
        counter.callSites.mkString(", "))
      // the work is still done
      assert(n == 20000L - 8 + 1 - 2)
      val want = Versioned.read(spark, t).groupBy("event_type")
        .agg(count(lit(1)).as("n")).as[(String, Long)].collect().toSet
      assert(Versioned.read(spark, mv).select("event_type", "n_rows")
        .as[(String, Long)].collect().toSet == want)
      // budgets. CDC: the summary (the window's exchange, the reduced
      // rows' cache, the collect), the rewrite (range sample, exchange,
      // write), the Bloom sidecars and the change feed. Purge: the victim
      // count, the vector and the feed. Catch-up: the summary and the
      // view's one signed aggregate, join and write. Read: the vector's
      // broadcast and the count's two stages.
      assert(cdcJobs <= 8, s"CDC micro-batch took $cdcJobs jobs")
      assert(purgeJobs <= 3, s"DV purge took $purgeJobs jobs")
      assert(catchUpJobs <= 6, s"MV catch-up took $catchUpJobs jobs")
      assert(readJobs <= 3, s"snapshot count took $readJobs jobs")
    } finally counter.close()
  }

  test("a rewriting purge and a SQL DELETE stay within their job budgets") {
    val t = s"$root/rewrite"
    val plain = s"$root/rewrite_plain"
    Forget.publishIndexed(events(20000), t, nFiles = 4, keyCol = "event_id",
      stats = true)
    graft.SqlDml.register(spark, "budget_del", t, "event_id")
    Versioned.publish(events(20000).repartition(4), plain)
    val counter = new JobCounter(spark)
    try {
      val keys = Seq(487L * 3, 487L * 7)
      val (_, keyed) = counter.count(Forget.purge(spark, t, "event_id", keys))
      // no index names a key here, so the feed records whole rows
      val (_, unkeyed) =
        counter.count(Forget.purge(spark, plain, "event_id", keys))
      val (_, delete) = counter.count(graft.Sql.execute(spark,
        "DELETE FROM budget_del WHERE user_id = 5 AND event_id < 2000"))
      info(s"jobs: purge $keyed, unkeyed purge $unkeyed, SQL DELETE " +
        s"$delete; call sites ${counter.callSites.mkString(", ")}")
      assert(Versioned.read(spark, t).count() == 20000L - 2 - 21)
      assert(Versioned.read(spark, plain).count() == 20000L - 2)
      // budgets. Purge: the rewrite (range sample, exchange, write), the
      // Bloom sidecars and the change feed; without a table key no
      // sidecars, and one exchange-free count of the victims. SQL
      // DELETE: the one summary of the matched keys, then the purge.
      assert(keyed <= 5, s"purge took $keyed jobs")
      assert(unkeyed <= 5, s"unkeyed purge took $unkeyed jobs")
      assert(delete <= 6, s"SQL DELETE took $delete jobs")
    } finally counter.close()
  }

  test("the driver-side schema equals Spark's inference: plain, evolved, DV, change feed, s3l") {
    val t = s"$root/schemas"
    Forget.publishIndexed(events(2000), t, nFiles = 4, keyCol = "event_id")
    def inferred(dir: String) = spark.read.parquet(dir).schema
    val v1 = s"$t/v=1"
    assert(Versioned.schemaOf(spark, v1) == inferred(v1))
    assert(Versioned.filesSchema(spark, Versioned.dataFilePaths(spark, v1)) ==
      spark.read.parquet(Versioned.dataFilePaths(spark, v1): _*).schema)
    // a change-feed dir
    Upsert.applyCdc(spark, t, "event_id",
      Seq(("U", 3L, 3L, "3", 9.0), ("D", 4L, 4L, "4", 0.0))
        .toDF("op", "event_id", "user_id", "event_type", "value"))
    val feed = s"$t/v=2/_changes"
    assert(Versioned.schemaOf(spark, feed) == inferred(feed))
    // a DV version: its data dir and its fixed-schema vector
    val v3 = Dv.purge(spark, t, "event_id", Seq(5L))
    val data3 = Versioned.dataDir(spark, t, v3)
    assert(Versioned.schemaOf(spark, data3) == inferred(data3))
    assert(Dv.deletedRows(spark, t, v3) == 1L)
    assert(spark.read.parquet(s"$t/v=$v3/_dv").schema ==
      org.apache.spark.sql.types.StructType.fromDDL(
        "file STRING, row_index BIGINT"))
    // an evolved version: the marker wins over any one footer
    val e = s"$root/evolved"
    Forget.publishIndexed(events(100), e, nFiles = 2, keyCol = "event_id")
    Upsert.merge(spark, e, "event_id",
      Seq((1L, 1L, "1", 1.0, "x")).toDF("event_id", "user_id", "event_type",
        "value", "extra"), evolveSchema = true)
    val ev = s"$e/v=2"
    val marker = Versioned.readSchemaMarker(
      new Path(ev).getFileSystem(spark.sparkContext.hadoopConfiguration), ev)
    assert(marker.isDefined && Versioned.schemaOf(spark, ev) == marker.get)
    assert(Versioned.read(spark, e).schema == marker.get)
    // an object-store path (S3LiteFileSystem over the in-process stub)
    val stub = new S3Stub
    val port = stub.start()
    try {
      val hc = spark.sparkContext.hadoopConfiguration
      hc.set("fs.s3l.impl", classOf[S3LiteFileSystem].getName)
      hc.set("fs.s3l.endpoint", s"http://127.0.0.1:$port")
      val conn = new java.net.URL(s"http://127.0.0.1:$port/schemas")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("PUT")
      assert(conn.getResponseCode == 200)
      val s3 = "s3l://schemas/t"
      events(500).coalesce(2).write.parquet(s3)
      assert(Versioned.schemaOf(spark, s3) == inferred(s3))
    } finally stub.stop()
  }

  test("the one-pass Bloom sidecar build writes the old shuffle build's bytes") {
    val t = s"$root/bloom"
    // several row groups per file and small splits, so files reach the
    // build in pieces and the driver-side OR is exercised
    events(60000).repartition(3).write
      .option("parquet.block.size", 64 * 1024).parquet(t)
    val fp = "spark.sql.files.maxPartitionBytes"
    val prior = spark.conf.getOption(fp)
    spark.conf.set(fp, 64 * 1024)
    try BloomIndex.indexExisting(spark, t, "event_id")
    finally prior.fold(spark.conf.unset(fp))(spark.conf.set(fp, _))
    // the previous build: count-sized, one (file -> keys) shuffle
    val written = spark.read.parquet(t)
    val nFiles = new java.io.File(t).listFiles()
      .count(f => f.isFile && f.getName.startsWith("part-"))
    val expected = math.max(1000L, written.count() / nFiles * 2)
    val old = written
      .select(input_file_name().as("f"), $"event_id".cast("long").as("k"))
      .where($"k".isNotNull).as[(String, Long)]
      .groupByKey(_._1)
      .mapGroups { (f, it) =>
        val bf = BloomFilter.create(expected, 0.01)
        it.foreach(x => bf.putLong(x._2))
        val bos = new ByteArrayOutputStream()
        bf.writeTo(bos)
        (new Path(f).getName, bos.toByteArray)
      }.collect().toMap
    assert(old.size == nFiles)
    old.foreach { case (name, bytes) =>
      val got = Files.readAllBytes(Paths.get(s"$t/_bloom/$name.bloom"))
      assert(got.sameElements(bytes), s"sidecar bytes differ for $name")
    }
  }
}
