package graft.lake

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/**
 * Per-file Bloom-filter index for point lookups on a HIGH-CARDINALITY key —
 * the file-skipping dimension parquet min/max statistics cannot provide:
 * [[Cluster]]/[[ZOrder]] skip on RANGE predicates because each file covers a
 * compact key interval, but a hash-distributed key (user id, order key,
 * document hash) spans the full domain in every file, so footer min/max
 * prunes nothing. A per-file Bloom sidecar answers "might this file contain
 * key k?" in a few hash probes — the same design as Delta/Iceberg
 * bloom-filter indexes and Parquet's own optional bloom pages, expressed
 * over the open FileSystem layout this lake already uses.
 *
 * Layout: `<table>/part-*.parquet` + `<table>/_bloom/<file>.bloom`, one
 * serialized `org.apache.spark.util.sketch.BloomFilter` per data file.
 *
 * Build shape: ONE shuffle-free job over the written files. Each task
 * folds the keys it reads into one filter per file it touches; only the
 * finished ~100 KB bitsets reach the driver, which ORs the pieces of a
 * file split across tasks (the same bits one filter over all its keys
 * holds) and writes the sidecars. The filters are sized from the files'
 * footer row counts, so neither a schema inference nor a count runs. At
 * a 100 TB table the sidecars total `nFiles x bitset`, metadata-sized; a
 * production deployment would keep them in a stats table instead of
 * per-file objects, same contract.
 *
 * Read shape: sidecars load once (driver, metadata-sized), the candidate
 * file list shrinks by the Bloom answer, and ONLY surviving files are
 * handed to the parquet reader — false positives cost one extra file scan,
 * false negatives are impossible (spec-pinned), so the pruned read is
 * exactly the full scan's result.
 */
object BloomIndex {

  private def fs(spark: SparkSession, table: String): FileSystem =
    new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def bloomDir(table: String) = new Path(s"$table/_bloom")

  private[lake] def sidecar(table: String, fileName: String): Path =
    new Path(bloomDir(table), s"$fileName.bloom")

  /** Write `df` hash-distributed into `nFiles` files on `keyCol` (long),
    * then build one Bloom sidecar per data file. */
  def writeIndexed(df: DataFrame, table: String, nFiles: Int, keyCol: String,
                   fpp: Double = 0.01): Unit = {
    require(nFiles > 0)
    df.repartition(nFiles, col(keyCol))
      .write.mode("overwrite").parquet(table)
    indexExisting(df.sparkSession, table, keyCol, fpp)
  }

  /** Build one Bloom sidecar per `part-*` data file already in `table` —
    * the post-hoc arm [[writeIndexed]] shares, and what a rewrite op
    * ([[Forget]], [[Upsert]]) calls on just-rewritten files. One
    * shuffle-free Spark job (see the object doc): the filters are sized
    * from footer row counts and the scan's schema comes from a footer, so
    * no count or schema-inference job runs; the sidecar bytes are those a
    * per-file build over all of a file's keys writes. */
  def indexExisting(spark: SparkSession, table: String, keyCol: String,
                    fpp: Double = 0.01): Unit = {
    val f = fs(spark, table)
    val conf = spark.sparkContext.hadoopConfiguration
    val parts = f.listStatus(new Path(table)).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
      .map(_.getPath)
    // size the filters from the WRITTEN files' footer row counts (what a
    // parquet count() reads): rows per file, doubled, at least 1000
    val rows = parts.map { p =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
      try r.getRecordCount finally r.close()
    }.sum
    val expected = math.max(1000L, rows / math.max(1, parts.size) * 2)
    import spark.implicits._
    // NULL keys are excluded from the filters (a Long key probe can never
    // name them); a file of ONLY null keys then has no sidecar, and a
    // missing sidecar admits — conservative either way
    val pieces = spark.read.schema(Versioned.schemaOf(spark, table))
      .parquet(table)
      .select(input_file_name().as("f"), col(keyCol).cast("long").as("k"))
      .where(col("k").isNotNull)
      .as[(String, Long)]
      .mapPartitions { it =>
        val byFile = scala.collection.mutable.LinkedHashMap
          .empty[String, BloomFilter]
        it.foreach { case (file, k) =>
          byFile.getOrElseUpdate(file, BloomFilter.create(expected, fpp))
            .putLong(k)
        }
        byFile.iterator.map { case (file, bf) =>
          val bos = new ByteArrayOutputStream()
          bf.writeTo(bos)
          (file, bos.toByteArray)
        }
      }
      .collect() // finished bitsets, about one per file — metadata-sized
    pieces.groupBy(_._1).foreach { case (file, ps) =>
      val bf = ps.map(p => BloomFilter.readFrom(new ByteArrayInputStream(p._2)))
        .reduce(_ mergeInPlace _)
      val name = new Path(file).getName
      val out = f.create(new Path(bloomDir(table), s"$name.bloom"), true)
      try bf.writeTo(out) finally out.close()
    }
    // `_bloom/_key` names the indexed column — the sidecars are
    // otherwise anonymous, and the planning-time consumer ([[SkipScan]])
    // needs to know WHICH column's point probes they answer without
    // being told (same contract as `_stats/_key`)
    require(!keyCol.contains("\n"), s"unsafe column name $keyCol")
    val km = f.create(new Path(bloomDir(table), "_key"), true)
    try km.write(keyCol.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally km.close()
  }

  /** The column the `_bloom` sidecars describe; None when `table` has no
    * sidecars or they predate the key marker. */
  def keyOf(spark: SparkSession, table: String): Option[String] =
    Versioned.readSmallFile(fs(spark, table),
      new Path(bloomDir(table), "_key"))

  /** Load one file's Bloom sidecar; None when absent (advisory — a
    * missing sidecar admits). Driver-side, ~100 KB. */
  private[lake] def loadFilter(f: FileSystem, table: String,
                               fileName: String): Option[BloomFilter] = {
    val side = sidecar(table, fileName)
    if (!f.exists(side)) None
    else {
      val in = f.open(side)
      try Some(BloomFilter.readFrom(in)) finally in.close()
    }
  }

  /** Does `file`'s sidecar admit ANY of `keys`? Missing sidecar = true
    * (the index is advisory, never a correctness dependency). The filter
    * loads once and serves every key probe. */
  private[lake] def mightContainAny(f: FileSystem, table: String,
                                    fileName: String,
                                    keys: Seq[Long]): Boolean = {
    val side = sidecar(table, fileName)
    !f.exists(side) || {
      val in = f.open(side)
      try {
        val bf = BloomFilter.readFrom(in)
        keys.exists(bf.mightContainLong)
      } finally in.close()
    }
  }

  /** Data files whose Bloom sidecar admits `key` (no sidecar = keep: the
    * index is advisory, never a correctness dependency). */
  def candidateFiles(spark: SparkSession, table: String, key: Long): Seq[String] = {
    val f = fs(spark, table)
    f.listStatus(new Path(table)).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
      .map(_.getPath)
      .filter(p => mightContainAny(f, table, p.getName, Seq(key)))
      .map(_.toString)
  }

  /** Point lookup reading ONLY Bloom-admitted files. Result is exactly the
    * full scan's (the residual key filter removes false-positive rows). */
  def lookup(spark: SparkSession, table: String, keyCol: String,
             key: Long): DataFrame = {
    val files = candidateFiles(spark, table, key)
    if (files.isEmpty)
      spark.read.parquet(table).filter(lit(false)) // schema-stable empty
    else
      spark.read.parquet(files: _*).filter(col(keyCol) === key)
  }
}
