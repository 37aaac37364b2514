package graft.lake

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Targeted delete (right-to-be-forgotten) over a [[Versioned]] table — the
 * governance operator a 100 TB training-data lake needs when a deletion
 * request names a key set (user ids, document ids): remove every row for
 * those keys by REWRITING ONLY THE FILES THAT CAN CONTAIN THEM, copying
 * every other file byte-identically, and exposing the purged snapshot in
 * one atomic manifest swap. The reference lake has no deletion story at
 * all (its S3 loader is append-only, `s3_loader.py`); this is the missing
 * compliance leg.
 *
 * Why file-targeted: an in-place full-table rewrite at 100 TB is both a
 * multi-hour job and a reader hazard. Candidates are pruned by BOTH
 * available indexes, each conservative so their intersection is safe:
 * [[BloomIndex]] sidecars on the key column (hash-distributed keys defeat
 * min/max stats — the Bloom sidecar is exactly the skipping dimension
 * that survives) shrink the candidate set to ~`|keys| x fpp`-bounded
 * files, and parquet FOOTER min/max covers [[Cluster]]/[[ZOrder]] range
 * layouts with no sidecars at all (~1 admitted file per key when ranges
 * are disjoint). Untouched files are transferred with a raw
 * byte copy — no decode/re-encode, no row-group rewrite, bitwise-equal
 * output (on S3 a server-side copy; on HDFS a block copy) — so the rewrite
 * cost scales with the AFFECTED fraction, not the table.
 *
 * One commit: a purge is a delete-only changeset ([[Changeset.deleting]])
 * and commits through the rewrite commit every merge uses
 * ([[Upsert.applyChanges]]) — admission, rewrite, byte copies, sidecars,
 * `_stats`, tag, schema marker, change feed and commit record are that
 * commit's. The table key ([[Dv.tableKey]]) decides the one thing a
 * purge's commit does differently: a purge on that key records the
 * named keys in the feed, any other purge the deleted rows whole. This
 * object keeps the indexed publishes and the admission and byte-copy
 * helpers the lake's commits use.
 *
 * Versioning contract: the purged snapshot becomes `v=N+1` behind
 * [[Versioned]]'s manifest swap — readers never see a half-purged table,
 * and the pre-purge version stays readable (time travel) until
 * [[Versioned.vacuum]] drops it. COMPLIANCE NOTE: the purge is not
 * physically complete until vacuum removes the old version dirs; a
 * deployment runs `purge` then `vacuum(keep = 0)` inside its deletion-SLA
 * window.
 *
 * Sidecar maintenance: untouched files keep their sidecars (copied
 * byte-identically alongside); rewritten files get freshly built ones.
 * A deletion only shrinks a file's key set, so even a stale copied filter
 * stays a superset — false positives only, never a missed file.
 *
 * Key-set dial: `keys` is driver-resident (a deletion request batch —
 * thousands, not billions). Each candidate file costs one sidecar load and
 * `|keys|` hash probes. A key set large enough to admit most files has
 * degenerated to a full rewrite anyway — at that point publish
 * `read().join(keys, "left_anti")` via [[Versioned.publish]] instead.
 */
object Forget {

  private def fs(spark: SparkSession, table: String): FileSystem =
    new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Publish `df` as the first/next version of `table`, hash-distributed
    * into `nFiles` files on `keyCol` with Bloom sidecars — the layout
    * [[purge]] prunes against. `stats = true` also births the
    * [[StatsIndex]] manifest, which every later [[purge]]/[[Upsert]]
    * rewrite then maintains incrementally. */
  def publishIndexed(df: DataFrame, table: String, nFiles: Int,
                     keyCol: String, fpp: Double = 0.01,
                     stats: Boolean = false): Long = {
    Constraints.enforce(df.sparkSession, table, df, "publishIndexed")
    Versioned.publishWith(df.sparkSession, table) { dir =>
      BloomIndex.writeIndexed(df, dir, nFiles, keyCol, fpp)
      if (stats) StatsIndex.build(df.sparkSession, dir, keyCol)
      Cdf.recordBreak(df.sparkSession, dir, df.schema) // wholesale replace
    }
  }

  /** Publish `df` range-clustered on `keyCol` ([[Cluster]] layout, no
    * sidecars): every file covers a disjoint key range, so [[purge]]
    * prunes candidates from parquet FOOTER min/max alone — ~1 admitted
    * file per key. `stats = true` additionally births the [[StatsIndex]]
    * manifest so that pruning costs one metadata read instead of
    * per-file footer opens. */
  def publishClustered(df: DataFrame, table: String, nFiles: Int,
                       keyCol: String, stats: Boolean = false): Long = {
    Constraints.enforce(df.sparkSession, table, df, "publishClustered")
    Versioned.publishWith(df.sparkSession, table) { dir =>
      Cluster.writeClustered(df, dir, nFiles, col(keyCol))
      if (stats) StatsIndex.build(df.sparkSession, dir, keyCol)
      Cdf.recordBreak(df.sparkSession, dir, df.schema) // wholesale replace
    }
  }

  /** Does any row group of `file` have [min,max] admitting ANY of `keys`?
    * Missing/absent stats admit (conservative, like a missing sidecar).
    * One footer open per candidate file, driver-side and metadata-sized —
    * a production deployment keeps the same stats in a manifest table
    * (Delta/Iceberg style) and prunes without touching the files. */
  private[lake] def rangeAdmitsAny(conf: org.apache.hadoop.conf.Configuration,
                                   file: Path, keyCol: String,
                                   keys: Seq[Long]): Boolean = {
    import scala.jdk.CollectionConverters._
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    try {
      r.getFooter.getBlocks.asScala.exists { b =>
        b.getColumns.asScala.find(_.getPath.toDotString == keyCol) match {
          case None => true
          case Some(cc) =>
            val st = cc.getStatistics
            if (st == null || !st.hasNonNullValue) true
            else (st.genericGetMin, st.genericGetMax) match {
              case (mn: java.lang.Long, mx: java.lang.Long) =>
                keys.exists(k => k >= mn && k <= mx)
              case (mn: java.lang.Integer, mx: java.lang.Integer) =>
                keys.exists(k => k >= mn.longValue && k <= mx.longValue)
              case _ => true // unexpected physical type: admit
            }
        }
      }
    } finally r.close()
  }

  /** The file-admission test every keyed DML shares: a `part-` file of
    * `dir` may hold one of `keys` in `keyCol` unless its Bloom sidecar or
    * its range stats (`stats`, the `_stats` manifest, when it covers the
    * file; the file's footer otherwise) rule that out. Sidecars and
    * manifest count only when they describe `keyCol` (their `_key`
    * marker; unmarked legacy sidecars are taken to): probing an
    * `event_id` index with `user_id` values would skip files that hold
    * the named rows. */
  private[lake] def admitter(spark: SparkSession, dir: String,
                             keyCol: String, keys: Seq[Long],
                             stats: Option[Map[String, FileKeyStats]])
      : Path => Boolean = {
    val f = fs(spark, dir)
    val conf = spark.sparkContext.hadoopConfiguration
    def describes(k: Option[String]) = k.forall(_.equalsIgnoreCase(keyCol))
    val bloom = describes(BloomIndex.keyOf(spark, dir))
    val manifest = stats.filter(_ => describes(StatsIndex.keyOf(spark, dir)))
    p => (!bloom || BloomIndex.mightContainAny(f, dir, p.getName, keys)) &&
      (manifest.flatMap(_.get(p.getName)) match {
        case Some(st) => st.admitsAny(keys)
        case None => rangeAdmitsAny(conf, p, keyCol, keys)
      })
  }

  /** Byte-copy the untouched files + their sidecars into `newDir`,
    * IN PARALLEL across a driver thread pool: the copies are independent
    * I/O (server-side on S3), and a 100 TB table's carried-file count is
    * thousands — serializing them would make the COPY loop, not the
    * rewrite, the wall-clock floor. Shared by [[purge]] and
    * [[Upsert.applyChanges]]. */
  private[lake] def copyUntouched(f: FileSystem,
                                  conf: org.apache.hadoop.conf.Configuration,
                                  liveDir: String, newDir: String,
                                  untouched: Seq[Path]): Unit = {
    import scala.collection.parallel.CollectionConverters._
    untouched.par.foreach { p =>
      require(FileUtil.copy(f, p, f, new Path(newDir, p.getName),
        false, conf), s"copy failed: $p")
      val side = BloomIndex.sidecar(liveDir, p.getName)
      if (f.exists(side))
        require(FileUtil.copy(f, side,
          f, BloomIndex.sidecar(newDir, p.getName), false, conf),
          s"sidecar copy failed: $side")
      val tok = TokenBloom.sidecar(liveDir, p.getName)
      if (f.exists(tok))
        require(FileUtil.copy(f, tok,
          f, TokenBloom.sidecar(newDir, p.getName), false, conf),
          s"token sidecar copy failed: $tok")
    }
  }

  /** Delete every row whose `keyCol` is in `keys`, rewriting only the
    * admitted files; returns the new live version (or the current one
    * unchanged when no file can contain any key — an idempotent no-op,
    * e.g. a re-submitted deletion request). The purge is a delete-only
    * changeset ([[Changeset.deleting]]) committed by the rewrite commit
    * every merge uses ([[Upsert.applyChanges]]), with the table key
    * ([[Dv.tableKey]]) deciding how the feed names the deleted rows and
    * how the rewritten files are laid out; exempt from CHECK constraints
    * (a delete adds no row), and rebased over a disjoint concurrent
    * commit like a merge. */
  def purge(spark: SparkSession, table: String, keyCol: String,
            keys: Seq[Long]): Long = {
    require(keys.nonEmpty, "purge needs a non-empty key set")
    Versioned.withWriteRetry() {
      val live = Versioned.currentVersion(spark, table).getOrElse(
        throw new IllegalStateException(s"no published version at $table"))
      require(!Versioned.isShallowRef(spark, table, live),
        s"$table v$live is a shallow-clone reference (no data of its own) " +
          "— Clone.materialize(...) first, then purge")
      val dir = s"$table/v=$live"
      val cs = Changeset.deleting(spark, Versioned.schemaOf(spark, dir),
        keyCol, keys)
      // the key count is the driver budget: a deletion request's keys
      // are driver-resident already
      Upsert.applyChanges(spark, table, cs, Dv.tableKey(spark, dir),
        maxDriverKeys = cs.nKeys.toInt)
    }
  }
}
