package graft.lake

import java.nio.file.Files
import java.util.concurrent.{CyclicBarrier, Executors}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Sql, SqlDml, SparkSpec}

/**
 * One deletion through every commit path that can express it:
 * [[Forget.purge]], [[Dv.purge]], SQL DELETE in both modes, and a
 * delete-only CDC batch through [[Upsert.applyCdc]] and [[Dv.applyCdc]].
 * Run by the table key and by another column, on an indexed table (whose
 * indexes name the key) and on a plain one (no index names a key). Every
 * path must publish the same snapshot and name the same deleted keys in
 * its change feed; where the match column is the table key the feeds are
 * equal row for row, so a purge's feed is a merge's. A view over each
 * table catches up to a full recompute. A purge racing a merge on other
 * files rebases over it, as two merges do.
 */
class PurgePathsSpec extends SparkSpec {

  import spark.implicits._

  private lazy val root = Files.createTempDirectory("graft-purgepaths").toString

  private def events = spark.range(0, 4000).select($"id".as("event_id"),
    ($"id" % 97).as("user_id"), ($"id" % 5).cast("string").as("event_type"),
    ($"id" % 13).cast("double").as("value"))

  // the named rows, whole, as a delete-only CDC batch keyed by event_id
  private def deletesOf(t: String, c: String, ks: Seq[Long]): DataFrame = {
    val named = Versioned.read(spark, t).filter(col(c).isin(ks: _*))
      .withColumn("op", lit("D"))
    spark.createDataFrame(named.collectAsList(), named.schema)
  }

  private def inList(ks: Seq[Long]) = ks.mkString("(", ", ", ")")

  // (name, run(table, SQL name, match column, values))
  private val paths: Seq[(String, (String, String, String, Seq[Long]) => Any)] =
    Seq(
      ("Forget.purge", (t, _, c, ks) => Forget.purge(spark, t, c, ks)),
      ("Dv.purge", (t, _, c, ks) => Dv.purge(spark, t, c, ks)),
      ("SQL DELETE", (_, n, c, ks) =>
        Sql.execute(spark, s"DELETE FROM $n WHERE $c IN ${inList(ks)}")),
      ("SQL DELETE, zero-copy", (_, n, c, ks) =>
        Sql.execute(spark, s"DELETE FROM $n WHERE $c IN ${inList(ks)}",
          zeroCopyDelete = true)),
      ("Upsert.applyCdc", (t, _, c, ks) =>
        Upsert.applyCdc(spark, t, "event_id", deletesOf(t, c, ks))),
      ("Dv.applyCdc", (t, _, c, ks) =>
        Dv.applyCdc(spark, t, "event_id", deletesOf(t, c, ks))))

  private val cols = Seq("event_id", "user_id", "event_type", "value")

  private def rows(df: DataFrame) =
    df.select((cols :+ "_op").filter(df.columns.contains).map(col): _*)
      .collect().map(_.toSeq).toSet

  private def viewRows(mv: String) =
    Versioned.read(spark, mv).select("user_id", "n_rows", "sum_value",
      "cnt_value", "min_value", "max_value").collect().map(_.toSeq).toSet

  private def recompute(t: String) =
    Versioned.read(spark, t).groupBy("user_id").agg(count(lit(1)),
      sum($"value".cast("decimal(38,6)")), count($"value"), min($"value"),
      max($"value")).collect().map(_.toSeq).toSet

  private def check(indexed: Boolean, c: String, ks: Seq[Long]): Unit = {
    val kind = if (indexed) "indexed" else "plain"
    val results = paths.zipWithIndex.map { case ((name, run), i) =>
      val t = s"$root/${kind}_${c}_$i"
      val mv = s"${t}_mv"
      if (indexed)
        Forget.publishIndexed(events, t, nFiles = 4, keyCol = "event_id",
          stats = true)
      else Versioned.publish(events.repartition(4), t)
      val sqlName = s"purge_paths_${kind}_${c}_$i"
      SqlDml.register(spark, sqlName, t, "event_id")
      MatView.create(spark, t, "event_id", mv, Seq("user_id"), Seq("value"),
        minMaxCols = Seq("value"))
      run(t, sqlName, c, ks)
      assert(Versioned.currentVersion(spark, t).contains(2L), name)
      MatView.catchUp(spark, mv)
      assert(viewRows(mv) == recompute(t), s"$name: view")
      val feed = Cdf.changesSince(spark, t, 1L)
      assert(feed.filter($"_op" =!= "D").isEmpty, name)
      (name, rows(Versioned.read(spark, t)), rows(feed),
        feed.select("event_id").as[Long].collect().toSet)
    }
    val (_, snapshot, feed, deleted) = results.head
    val want = rows(events.filter(!col(c).isin(ks: _*)))
    assert(snapshot == want)
    assert(deleted.size == 4000 - want.size)
    results.foreach { case (name, s, f, d) =>
      assert(s == snapshot, s"$name: snapshot differs from ${results.head._1}")
      assert(d == deleted, s"$name: feed names other keys")
      if (indexed && c == "event_id")
        assert(f == feed, s"$name: feed differs from ${results.head._1}")
    }
  }

  test("by the table key on an indexed table: same snapshot, same feed on every path") {
    check(indexed = true, "event_id", Seq(3L, 500L, 2024L, 3999L))
  }

  test("by another column on an indexed table: same snapshot and deleted keys on every path") {
    check(indexed = true, "user_id", Seq(42L, 7L))
  }

  test("by event_id on a plain table: same snapshot and deleted keys on every path") {
    check(indexed = false, "event_id", Seq(3L, 500L, 2024L, 3999L))
  }

  test("by another column on a plain table: same snapshot and deleted keys on every path") {
    check(indexed = false, "user_id", Seq(42L, 7L))
  }

  test("a purge racing a merge on other files rebases instead of re-deriving") {
    val t = s"$root/rebase"
    // range-clustered: the purge's and the merge's keys sit in different
    // files
    Forget.publishClustered((0L until 2000L).map(k => (k, 0L)).toDF("k",
      "stamp"), t, nFiles = 8, keyCol = "k", stats = true)
    val d0 = Upsert.derivations.get
    val r0 = Upsert.rebases.get
    implicit val ec: scala.concurrent.ExecutionContextExecutorService =
      ExecutionContext.fromExecutorService(Executors.newFixedThreadPool(2))
    try {
      var round = 0
      var purged = Seq.empty[Long]
      // barrier-synced rounds collide with near-certainty; loop until a
      // rebase is seen so the assertion never passes on a serial schedule
      while (round < 12 && (Upsert.rebases.get == r0 || round < 3)) {
        round += 1
        val keys = (round * 20L until round * 20L + 20L)
        val changes = (1800L + round * 10 until 1810L + round * 10)
          .map(k => (k, round.toLong)).toDF("k", "stamp")
        val barrier = new CyclicBarrier(2)
        Await.result(Future.sequence(Seq(
          Future { barrier.await(); Forget.purge(spark, t, "k", keys) },
          Future { barrier.await(); Upsert.merge(spark, t, "k", changes) })),
          5.minutes)
        purged ++= keys
      }
      assert(Upsert.rebases.get > r0,
        s"no rebase observed in $round barrier-synced rounds")
      // every purge and every merge derived once: each conflict was
      // absorbed by a rebase, the purge's included
      assert(Upsert.derivations.get - d0 == 2L * round,
        s"${Upsert.derivations.get - d0} derivations for ${2 * round} commits")
      val after = Versioned.read(spark, t)
      assert(after.filter($"k".isin(purged: _*)).isEmpty)
      assert(after.count() == 2000L - purged.size)
      assert(after.filter($"k" >= 1810L && $"k" < 1810L + round * 10)
        .filter($"stamp" === 0L).isEmpty, "a merge was lost")
      val vs = Versioned.versions(spark, t)
      assert(vs == (1L to vs.max), s"non-contiguous: $vs")
    } finally ec.shutdown()
  }
}
