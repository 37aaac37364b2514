package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

/**
 * The edge-side set-up shared by the iterative graph loops ([[PageRank]],
 * [[Lpa]]): materialize the static edge frame once and, past one
 * partition's worth of rows, hash-partition it by the loop's join key into
 * a row-count-sized number of partitions.
 *
 * The rows are placed by key, but under AQE (on in every session profile)
 * the checkpointed frame reports UnknownPartitioning to the planner, so
 * each round's keyed join still exchanges the edge side
 * (`Exchange hashpartitioning` over `Scan ExistingRDD`); making the
 * placement visible to the planner is still open.
 */
private[ops] object Partitioned {

  /** Rows per partition of the pre-partitioned frame, and the dial: below
    * it the extra repartition + checkpoint measured slower (+0.15 s per
    * LPA cell at sf0.1), so the plain checkpoint is returned. */
  val RowsPerPartition = 500000L

  /** `df` checkpointed; past [[RowsPerPartition]] rows, hash-partitioned
    * on `key` into min(shuffle partitions, rows / RowsPerPartition + 1)
    * partitions — a small graph's rounds don't pay conf-many near-empty
    * tasks, a large one keeps full parallelism. The row count reads the
    * materialized checkpoint, not the upstream derivation. */
  def byKey(df: DataFrame, key: String): DataFrame = {
    val plain = df.localCheckpoint()
    val rows = plain.count()
    if (rows < RowsPerPartition) plain
    else {
      val parts = math.min(
        df.sparkSession.sessionState.conf.numShufflePartitions.toLong,
        rows / RowsPerPartition + 1).toInt
      val keyed = plain.repartition(parts, col(key)).localCheckpoint()
      // the eager checkpoint above has materialized `keyed`, so the plain
      // copy's blocks are never read again
      plain.queryExecution.logical.foreach {
        case l: LogicalRDD => l.rdd.unpersist(blocking = false)
        case _ =>
      }
      keyed
    }
  }
}
