package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The x-N replica of the sf0.1 events, the scheme of
 * `graft.tools.ScaleSweep` (v5): event and user keys offset per copy, so
 * every copy is a disjoint set of users. The seeded CDC batches are made
 * by `perfbench/gen.py`.
 */
object Inputs {

  /** Replicate `base`'s events `factor`-fold into `dir`. Idempotent: a
    * finished directory carries `_READY`. */
  def replicateEvents(spark: SparkSession, base: String, dir: String,
                      factor: Int): Unit =
    if (!Files.exists(Paths.get(dir, "_READY"))) {
      val t = spark.read.parquet(s"$base/events.parquet")
      (0 until factor).map { i =>
        t.withColumn("event_id", col("event_id") + i.toLong * 1000000000L)
          .withColumn("user_id", col("user_id") + i.toLong * 10000000L)
      }.reduce(_ unionByName _)
        .repartition(math.max(1, factor / 2))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      Files.writeString(Paths.get(dir, "_READY"), "")
    }

  /** The bronze projection of the source events (what the extract
    * writes), computed here without the program's extract. */
  def bronzeRows(spark: SparkSession, src: String): DataFrame =
    graft.lake.Tables.events(spark, src).select(
      col("event_id"), unix_micros(col("ts")).as("ts_us"), col("user_id"),
      col("event_type"), col("value"),
      get_json_object(col("props"), "$.k").try_cast("int").as("prop_k"),
      to_date(col("ts")).cast("string").as("day"))
}
