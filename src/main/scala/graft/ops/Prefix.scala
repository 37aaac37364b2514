package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Distributed prefix sums — the primitive behind sequence packing (assign
 * documents to fixed token-budget training bins in a stable order). The
 * naive form is `sum(x) OVER (ORDER BY key)`: an un-partitioned window that
 * funnels the ENTIRE corpus through one reducer — the single worst plan
 * shape at 100 TB.
 *
 * Two-phase shape instead (the classic scan algorithm, Blelloch 1990):
 *   1. range-repartition by `key` (total order across partitions; this is
 *      the one shuffle, same as any global sort),
 *   2. per-partition running sums (parallel, no cross-partition traffic),
 *   3. per-partition TOTALS — #partitions rows, metadata-sized — collected,
 *      prefix-summed on the driver, and broadcast back as offsets.
 * Result is row-for-row identical to the global window (spec-checked).
 */
object Prefix {

  /**
   * Adds `cumCol` = running sum of `valueCol` in ascending `key` order
   * (inclusive of the current row). `df` must have unique keys.
   */
  def runningSum(df: DataFrame, key: String, valueCol: String,
                 cumCol: String, partitions: Int = 0): DataFrame = {
    // offsets are summed as exact int64 — a fractional valueCol would get
    // floor-truncated offsets while in-partition sums stayed fractional
    require({
      import org.apache.spark.sql.types._
      Set[DataType](ByteType, ShortType, IntegerType, LongType)
        .contains(df.schema(valueCol).dataType)
    }, s"runningSum requires an integral $valueCol (token counts, bytes, rows)")
    requireFree(df, "_pid")
    val parts =
      if (partitions > 0) df.repartitionByRange(partitions, col(key))
      else df.repartitionByRange(col(key))
    // MUST materialize before the two consumers below: RangePartitioner
    // seeds its boundary sampling from the rdd id, so re-executing the
    // repartition in a second job can shift boundaries — offsets computed
    // against job 1's partitions would then be applied to job 2's, silently
    // corrupting every cumulative sum after a moved boundary
    val withPid = org.apache.spark.sql.graftbridge.bridge.freshFrame(
      parts.withColumn("_pid", spark_partition_id()).localCheckpoint(true))
    // per-partition totals: one row per partition — metadata, not data
    // (null values count as 0 so a null-bearing partition can't null the
    // offset chain; the window sum below skips nulls the same way)
    val offsets = withPid.groupBy(col("_pid"))
      .agg(sum(coalesce(col(valueCol), lit(0L))).as("_ptot"))
      .collect()
      .map(r => r.getInt(0) -> r.getAs[Number]("_ptot").longValue())
      .sortBy(_._1)
    // offset of partition i = sum of the totals of partitions before it.
    // Dense ARRAY indexed by _pid (pids are 0..P-1; empty partitions carry
    // the running value and are never referenced): element_at on an array
    // literal is O(1) per row, where the previous map literal was a linear
    // scan over P entries per row — P is thousands at cluster widths.
    val sumArr = denseOffsets(withPid.rdd.getNumPartitions,
      offsets.map { case (p, t) => (p, t) })
    val inPartW = Window.partitionBy(col("_pid")).orderBy(col(key))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withPid
      .withColumn(cumCol,
        sum(col(valueCol)).over(inPartW) +
          element_at(typedlit(sumArr), col("_pid") + 1))
      .drop("_pid")
  }

  /** The operators below add and drop fixed scratch columns; a caller
    * column of the same name (Spark resolves names case-insensitively)
    * would be silently overwritten or dropped. */
  private def requireFree(df: DataFrame, names: String*): Unit =
    names.foreach(n => require(!df.columns.exists(_.equalsIgnoreCase(n)),
      s"input already has a column named $n, which Prefix uses internally; rename it"))

  /** Dense prefix-offset array over partition ids 0..P-1: entry p = sum of
    * the totals of partitions before p (empty partitions contribute 0). */
  private def denseOffsets(numPartitions: Int,
                           totals: Seq[(Int, Long)]): Seq[Long] = {
    val byPid = totals.toMap
    val out = new Array[Long](numPartitions)
    var running = 0L
    var p = 0
    while (p < numPartitions) {
      out(p) = running
      running += byPid.getOrElse(p, 0L)
      p += 1
    }
    out.toSeq
  }

  /** Dial for the exact global-order operators below: inputs whose SOURCE
    * table scan is under this many bytes keep the plain single-partition
    * window (two extra jobs and a range shuffle cost more than they save on
    * a dimension-sized frame); past it the distributed two-phase path
    * engages. BOTH arms produce row-identical results (spec-checked), so
    * the dial is purely a latency choice — at 100 TB the single-reducer
    * window would serialize on one task, which is what this removes. */
  val SingleWindowMaxBytes: Long = 1L << 30

  /** Distributed global rank (+ optional running sum): one range shuffle,
    * partition-local window, per-partition (count, sum) offsets collected
    * (one row per partition — metadata) and prefix-summed on the driver.
    * Returns the frame and the driver-known total row count. */
  private def distRankSum(df: DataFrame, orderCols: Seq[Column],
                          valueCol: Option[String], rnCol: String,
                          cumCol: String): (DataFrame, Long) = {
    valueCol.foreach { v =>
      require({
        import org.apache.spark.sql.types._
        Set[DataType](ByteType, ShortType, IntegerType, LongType)
          .contains(df.schema(v).dataType)
      }, s"globalRankSum requires an integral $v (cents, counts, bytes)")
    }
    // same determinism requirement as runningSum: pin the range
    // boundaries before the two consumers (offsets job + final plan)
    val withPid = org.apache.spark.sql.graftbridge.bridge.freshFrame(
      df.repartitionByRange(orderCols: _*)
        .withColumn("_pid", spark_partition_id()).localCheckpoint(true))
    // per partition: rows, non-NULL values, and their sum
    val offsets = withPid.groupBy(col("_pid"))
      .agg(count(lit(1)).as("_pcnt"),
        valueCol.map(v => count(col(v))).getOrElse(lit(0L)).as("_pnn"),
        valueCol.map(v => sum(coalesce(col(v), lit(0L))))
          .getOrElse(sum(lit(0L))).as("_ptot"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        Option(r.getAs[Number]("_ptot")).map(_.longValue()).getOrElse(0L)))
      .sortBy(_._1)
    // dense arrays indexed by _pid — O(1) per-row lookup (see denseOffsets)
    val nParts = withPid.rdd.getNumPartitions
    val cntArr = denseOffsets(nParts, offsets.map { case (p, c, _, _) => (p, c) })
    // SQL sum semantics: the offset is NULL while every earlier value is
    // NULL, so a partition whose local prefix is all NULL gets the earlier
    // partitions' sum — or NULL when the whole global prefix is NULL —
    // exactly as the single-window arm does
    val sumArr = denseOffsets(nParts, offsets.map { case (p, _, _, t) => (p, t) })
      .zip(denseOffsets(nParts, offsets.map { case (p, _, nn, _) => (p, nn) }))
      .map { case (t, nn) => Option.when(nn > 0)(t) }
    val inPartW = Window.partitionBy(col("_pid")).orderBy(orderCols: _*)
    val ranked = withPid.withColumn(rnCol,
      row_number().over(inPartW).cast("long") +
        element_at(typedlit(cntArr), col("_pid") + 1))
    val out = valueCol match {
      case Some(v) =>
        val local = sum(col(v)).over(inPartW.rowsBetween(
          Window.unboundedPreceding, Window.currentRow))
        val offset = element_at(typedlit(sumArr), col("_pid") + 1)
        ranked.withColumn(cumCol, coalesce(local + offset, local, offset))
      case None => ranked
    }
    (out.drop("_pid"), offsets.map(_._2).sum)
  }

  /**
   * Adds `rnCol` = row_number() and (when `valueCol` is set) `cumCol` =
   * inclusive running sum of `valueCol`, both over the GLOBAL `orderCols`
   * order. `orderCols` must be a total order (full tiebreak) — ties could
   * otherwise straddle a range-partition boundary and rank differently
   * than the window arm. `distributed = false` is the plain un-partitioned
   * window; `true` is the two-phase [[distRankSum]] shape.
   */
  def globalRankSum(df: DataFrame, orderCols: Seq[Column],
                    valueCol: Option[String], rnCol: String, cumCol: String,
                    distributed: Boolean): DataFrame = {
    requireFree(df, "_pid")
    if (!distributed) {
      val w = Window.orderBy(orderCols: _*)
      // long rank in both arms: the distributed arm must not truncate past
      // 2^31 rows, and the arms must stay schema-identical
      val ranked = df.withColumn(rnCol, row_number().over(w).cast("long"))
      valueCol match {
        case Some(v) => ranked.withColumn(cumCol, sum(col(v)).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        case None => ranked
      }
    } else distRankSum(df, orderCols, valueCol, rnCol, cumCol)._1
  }

  /**
   * Adds `outCol` = NTILE(k) over the GLOBAL `orderCols` order (SQL rule:
   * with n rows the first n mod k buckets take ceil(n/k) rows). The
   * distributed arm derives the bucket arithmetically from the two-phase
   * global rank — bucket sizes need only the total row count, which the
   * offsets collect already carries to the driver. `orderCols` must be a
   * total order, as in [[globalRankSum]].
   */
  def globalNtile(df: DataFrame, orderCols: Seq[Column], k: Int,
                  outCol: String, distributed: Boolean): DataFrame = {
    require(k > 0)
    requireFree(df, "_pid", "_grn")
    if (!distributed)
      df.withColumn(outCol, ntile(k).over(Window.orderBy(orderCols: _*)))
    else {
      val (ranked, n) = distRankSum(df, orderCols, None, "_grn", "")
      val base = n / k
      val rem = n % k
      val split = rem * (base + 1)
      // exact long floor-division via DIV (rank and n can pass 2^53, where
      // double-division floor would drift); base=0 (n < k) never reaches
      // the otherwise-branch because rn <= n = split there
      val bucket = when(col("_grn") <= split,
        expr(s"(_grn - 1) DIV ${base + 1}") + 1)
        .otherwise(lit(rem) +
          expr(s"(_grn - 1 - $split) DIV ${math.max(base, 1L)}") + 1)
      // the branches cover every rank, so the coalesce default is never
      // taken — it only restores ntile()'s non-nullable output schema
      ranked.withColumn(outCol, coalesce(bucket.cast("int"), lit(-1)))
        .drop("_grn")
    }
  }

  /**
   * Sequence packing: assign each document to the token-budget bin its
   * FIRST token lands in, filling bins in ascending `key` order (documents
   * may straddle a boundary — the deterministic streaming-pack rule, SQL-
   * expressible, unlike closed-bin first-fit which is inherently serial).
   */
  def packBins(df: DataFrame, key: String, tokensCol: String,
               budget: Long): DataFrame = {
    require(budget > 0)
    runningSum(df, key, tokensCol, "_cum")
      .withColumn("bin_id", floor((col("_cum") - col(tokensCol)) / lit(budget)))
      .drop("_cum")
  }
}
