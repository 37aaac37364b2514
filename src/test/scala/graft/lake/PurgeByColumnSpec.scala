package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/**
 * A purge that names rows by a column OTHER than the table's key (forget
 * a user of an event-keyed table): admission must not probe the key's
 * Bloom sidecars or stats manifest with the other column's values, the
 * named rows must all be gone, and the change feed must name each
 * deleted row by the table key, so a materialized view's catch-up still
 * equals a full recompute. On a table whose key no index names, the feed
 * carries the deleted rows whole, so a consumer keyed on any column can
 * name them.
 */
class PurgeByColumnSpec extends SparkSpec {

  import spark.implicits._

  private lazy val root = Files.createTempDirectory("graft-purgebycol").toString

  // 20k events, user_id = event_id % 97, one CDC merge that rewrites files
  // and builds event_id Bloom and stats sidecars, and a view over it
  private def fresh(name: String): (String, String) = {
    val t = s"$root/$name"
    val mv = s"$root/${name}_mv"
    val df = spark.range(0, 20000).select($"id".as("event_id"),
      ($"id" % 97).as("user_id"), ($"id" % 13).cast("double").as("value"))
    Forget.publishIndexed(df, t, nFiles = 8, keyCol = "event_id", stats = true)
    Upsert.applyCdc(spark, t, "event_id",
      Seq(("U", 7L, 7L % 97, 100.0), ("U", 9001L, 9001L % 97, 200.0),
        ("D", 555L, 0L, 0.0)).toDF("op", "event_id", "user_id", "value"))
    MatView.create(spark, t, "event_id", mv, Seq("user_id"), Seq("value"))
    (t, mv)
  }

  private def recompute(t: String) =
    Versioned.read(spark, t).groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum($"value".cast("decimal(38,6)")).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1), BigDecimal(r.getDecimal(2))))
      .toSet

  private def viewRows(mv: String) =
    Versioned.read(spark, mv).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_rows"),
        BigDecimal(r.getAs[java.math.BigDecimal]("sum_value"))))
      .toSet

  private def check(purge: (String, String, Seq[Long]) => Long,
                    name: String): Unit = {
    val (t, mv) = fresh(name)
    val before = Versioned.read(spark, t)
    val named = before.filter($"user_id" === 42L).count()
    val total = before.count()
    assert(named == 206L)
    val v = purge(t, "user_id", Seq(42L))
    val after = Versioned.read(spark, t)
    assert(after.filter($"user_id" === 42L).count() == 0L)
    assert(after.count() == total - named)
    // the feed names every deleted row by the table key
    val feed = Cdf.changesSince(spark, t, v - 1).filter($"_op" === "D")
    assert(feed.filter($"event_id".isNull).isEmpty)
    assert(feed.select("event_id").distinct().count() == named)
    // the indexes still describe the table key
    val dir = Versioned.dataDir(spark, t, v)
    assert(BloomIndex.keyOf(spark, dir).contains("event_id"))
    assert(StatsIndex.keyOf(spark, dir).contains("event_id"))
    MatView.catchUp(spark, mv)
    assert(viewRows(mv) == recompute(t))
    // a later purge by the table key still finds its rows
    Dv.purge(spark, t, "event_id", Seq(43L, 140L))
    assert(Versioned.read(spark, t).filter($"event_id".isin(43L, 140L)).isEmpty)
    MatView.catchUp(spark, mv)
    assert(viewRows(mv) == recompute(t))
  }

  test("Dv.purge on a non-key column deletes every named row; the view catches up exactly") {
    check((t, c, ks) => Dv.purge(spark, t, c, ks), "dv")
  }

  test("Forget.purge on a non-key column deletes every named row; the view catches up exactly") {
    check((t, c, ks) => Forget.purge(spark, t, c, ks), "forget")
  }

  test("a purge on a table whose key no index names records whole rows; the view catches up exactly") {
    for ((name, purge) <- Seq[(String, (String, String, Seq[Long]) => Long)](
        ("plain_dv", (t, c, ks) => Dv.purge(spark, t, c, ks)),
        ("plain_forget", (t, c, ks) => Forget.purge(spark, t, c, ks)))) {
      val t = s"$root/$name"
      val mv = s"$root/${name}_mv"
      Versioned.publish(spark.range(0, 20000).select($"id".as("event_id"),
        ($"id" % 97).as("user_id"), ($"id" % 13).cast("double").as("value"))
        .repartition(4), t)
      assert(Dv.tableKey(spark, Versioned.dataDir(spark, t, 1L)).isEmpty)
      MatView.create(spark, t, "event_id", mv, Seq("user_id"), Seq("value"))
      val v = purge(t, "user_id", Seq(42L))
      val after = Versioned.read(spark, t)
      assert(after.filter($"user_id" === 42L).isEmpty, name)
      assert(after.count() == 20000L - 206L, name)
      // the feed's deletes carry whole rows, so the view's key is there
      val feed = Cdf.changesSince(spark, t, v - 1).filter($"_op" === "D")
      assert(feed.filter($"event_id".isNull || $"user_id" =!= 42L).isEmpty,
        name)
      assert(feed.select("event_id").distinct().count() == 206L, name)
      // and no index now names user_id the table key
      assert(Dv.tableKey(spark, Versioned.dataDir(spark, t, v)).isEmpty, name)
      MatView.catchUp(spark, mv)
      assert(viewRows(mv) == recompute(t), name)
      Dv.purge(spark, t, "event_id", Seq(43L, 141L))
      assert(Versioned.read(spark, t).filter($"event_id".isin(43L, 141L))
        .isEmpty, name)
      MatView.catchUp(spark, mv)
      assert(viewRows(mv) == recompute(t), name)
    }
  }

  test("a non-key purge whose rows have a NULL table key rejects loudly") {
    val t = s"$root/nullkey"
    val df = Seq((Some(1L), 5L), (None, 5L), (Some(2L), 6L))
      .toDF("event_id", "user_id")
    Forget.publishIndexed(df, t, nFiles = 1, keyCol = "event_id")
    val live = Versioned.currentVersion(spark, t)
    for (purge <- Seq[() => Long](() => Dv.purge(spark, t, "user_id", Seq(5L)),
        () => Forget.purge(spark, t, "user_id", Seq(5L)))) {
      val e = intercept[IllegalArgumentException](purge())
      assert(e.getMessage.contains("NULL event_id"))
      assert(Versioned.currentVersion(spark, t) == live)
    }
  }
}
