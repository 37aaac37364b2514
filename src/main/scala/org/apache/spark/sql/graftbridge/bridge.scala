package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/**
 * Minimal bridge to Spark's `private[sql]` Column <-> catalyst Expression
 * converters (org.apache.spark.sql.classic.ExpressionUtils — Spark 4 moved
 * Column to a backend-agnostic node model, leaving no public constructor
 * from an Expression). Lives under the org.apache.spark.sql package solely
 * to satisfy the access scope; nothing else of Spark's internals is touched.
 */
object bridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /**
   * Re-wrap a materialized (checkpointed) frame's InternalRow RDD in a
   * fresh LogicalRDD WITHOUT the inherited size statistics. `Dataset
   * .localCheckpoint` copies the originating plan's stats onto its
   * LogicalRDD; in an iterative algorithm each round's join then MULTIPLIES
   * the previous round's estimate, and after ~12 rounds the driver stalls
   * for minutes inside BigInteger math in SizeInBytesOnlyStatsPlanVisitor
   * (stats digits grow geometrically). A stats-free LogicalRDD resets the
   * estimate to `defaultSizeInBytes` each round — constant-size arithmetic,
   * zero data movement (the RDD is reused as-is, no Row conversion).
   */
  def freshFrame(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    spark.internalCreateDataFrame(ds.queryExecution.toRdd, df.schema)
  }

  /**
   * The schema Spark's parquet inference job would derive from ONE data
   * file, computed on the driver: the file's footer is read without its
   * row groups and converted by the same `ParquetFileFormat
   * .readSchemaFromFooter` + session-configured converter the inference
   * job runs per footer, then made nullable as every file-source read is.
   */
  def footerSchema(session: org.apache.spark.sql.SparkSession,
                   file: org.apache.hadoop.fs.Path)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.execution.datasources.parquet._
    val state = session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState
    val input = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(file, state.newHadoopConf())
    val footer = new org.apache.parquet.hadoop.Footer(file,
      ParquetFooterReader.readFooter(input, org.apache.parquet.format
        .converter.ParquetMetadataConverter.SKIP_ROW_GROUPS))
    ParquetFileFormat.readSchemaFromFooter(footer,
      new ParquetToSparkSchemaConverter(state.conf)).asNullable
  }

  /** Block until the listener bus has delivered every event posted so
    * far — a job count read right after an action is then complete. */
  def drainListeners(session: org.apache.spark.sql.SparkSession): Unit =
    session.sparkContext.listenerBus.waitUntilEmpty()
}
