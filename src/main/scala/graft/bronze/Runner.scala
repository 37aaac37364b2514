package graft.bronze

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.Tables

/**
 * Daily / backfill orchestration: the reference's pipeline driver
 * (/root/reference/src/pipeline/pipeline.py:76-206) on Spark.
 *
 * Semantics preserved:
 *   - idempotent day runs (skip when the sink partition is committed,
 *     pipeline.py:108-112);
 *   - empty-day guard (pipeline.py:118-121);
 *   - per-day error capture — no exception escapes a day (pipeline.py:133-136);
 *   - backfill = fold over the inclusive date range (pipeline.py:174-200)
 *     with success/fail/skip ledgers and a record total.
 *
 * Spark upgrades: the extraction itself is a distributed query (the
 * reference materialized each day into driver RAM), and
 * [[backfillUnified]] offers the cluster-native alternative — ONE job over
 * the whole range writing every day partition at once, which a 1000-executor
 * cluster prefers over a day-at-a-time loop. `backfill(a, b)` and
 * `backfillUnified(a, b)` produce identical lake contents (property-tested).
 */
object Runner {

  final case class DayResult(
      date: String,
      success: Boolean,
      skipped: Boolean,
      recordsExtracted: Long,
      path: Option[String],
      error: Option[String])

  final case class BackfillResult(
      successfulDays: Seq[String],
      failedDays: Seq[(String, String)],
      skippedDays: Seq[String],
      totalRecords: Long)

  /** The bronze projection of both extract forms: microsecond event time,
    * the JSON prop flattened to `prop_k`. */
  private def bronzeColumns = Seq(
    col("event_id"), unix_micros(col("ts")).as("ts_us"), col("user_id"),
    col("event_type"), col("value"),
    get_json_object(col("props"), "$.k").try_cast("int").as("prop_k"))

  /** The reference's extraction query (extract_events.sql:5-99 semantics) on
    * the testdata events schema: project, flatten the JSON prop, filter to
    * one day, order by event time. */
  def extractEvents(spark: SparkSession, sfDir: String, date: String): DataFrame =
    Tables.events(spark, sfDir)
      .filter(to_date(col("ts")) === lit(date).cast("date"))
      .select(bronzeColumns: _*)
      .orderBy(col("ts_us"), col("event_id"))

  /** All-days form of [[extractEvents]] (same projection, no day filter) —
    * the input for [[backfillUnified]]'s single-pass range write. */
  def extractEvents0(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir).select(bronzeColumns: _*)

  /** One idempotent day run (pipeline.py:76-137). */
  def runDaily(spark: SparkSession, root: String, dataType: String, date: String,
               extract: String => DataFrame, skipExisting: Boolean = true): DayResult =
    try {
      if (skipExisting && Lake.checkExists(spark, root, dataType, date)) {
        DayResult(date, success = true, skipped = true, 0L, None, None)
      } else {
        val df = extract(date)
        if (df.isEmpty) {
          DayResult(date, success = false, skipped = false, 0L, None,
            Some(s"no records for $date"))
        } else {
          val n = Lake.writeDay(spark, df, root, dataType, date)
          DayResult(date, success = true, skipped = false, n,
            Some(Lake.dayDir(root, dataType, date)), None)
        }
      }
    } catch {
      case e: Exception =>
        DayResult(date, success = false, skipped = false, 0L, None,
          Some(e.toString))
    }

  /** Inclusive ISO-date range, oldest first (pipeline.py:156-174). */
  def dateRange(start: String, end: String): Seq[String] = {
    val s = java.time.LocalDate.parse(start)
    val e = java.time.LocalDate.parse(end)
    require(!s.isAfter(e), s"start $start must be <= end $end")
    Iterator.iterate(s)(_.plusDays(1)).takeWhile(!_.isAfter(e))
      .map(_.toString).toSeq
  }

  /** Sequential day-loop backfill with per-day ledgers (pipeline.py:139-206). */
  def backfill(spark: SparkSession, root: String, dataType: String,
               start: String, end: String, extract: String => DataFrame,
               skipExisting: Boolean = true): BackfillResult = {
    val results = dateRange(start, end)
      .map(d => runDaily(spark, root, dataType, d, extract, skipExisting))
    BackfillResult(
      successfulDays = results.filter(r => r.success && !r.skipped).map(_.date),
      failedDays = results.filter(!_.success).map(r => r.date -> r.error.getOrElse("")),
      skippedDays = results.filter(_.skipped).map(_.date),
      totalRecords = results.map(_.recordsExtracted).sum)
  }

  /**
   * Cluster-native backfill: one distributed job over the whole range,
   * writing every day partition in a single pass via dynamic partition
   * overwrite — the shape a real cluster wants (no per-day job scheduling,
   * one scan of the source). Produces the same lake LAYOUT as [[backfill]]
   * (zero-padded `year=/month=/day=` directory names and a per-day
   * `_SUCCESS` marker, so checkExists/listAvailableDates/runDaily interop
   * and stay idempotent across the two writers) minus the sidecars.
   */
  def backfillUnified(spark: SparkSession, root: String, dataType: String,
                      start: String, end: String, slice: DataFrame): Unit = {
    val s = lit(start).cast("date")
    val e = lit(end).cast("date")
    slice
      .withColumn("_d", to_date(timestamp_micros(col("ts_us"))))
      .filter(col("_d") >= s && col("_d") <= e)
      // string-typed, zero-padded partition values: the directory names must
      // match Lake.partitionPath (month=01, not month=1) or the two writers
      // would create sibling dirs that read back as duplicate partitions
      .withColumn("year", date_format(col("_d"), "yyyy"))
      .withColumn("month", date_format(col("_d"), "MM"))
      .withColumn("day", date_format(col("_d"), "dd"))
      .drop("_d")
      .repartition(col("year"), col("month"), col("day"))
      .write
      .partitionBy("year", "month", "day")
      // dynamic: replace only the partitions present in this range; a static
      // overwrite would wipe every OTHER day already in the lake.
      .option("partitionOverwriteMode", "dynamic")
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$root/$dataType")
    // day-level commit markers (partitionBy only writes a root _SUCCESS):
    // metadata-only touch per non-empty day, same idempotence signal as S7
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    dateRange(start, end).foreach { d =>
      val dir = new org.apache.hadoop.fs.Path(Lake.dayDir(root, dataType, d))
      if (fs.exists(dir))
        fs.create(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"), true).close()
    }
  }
}
