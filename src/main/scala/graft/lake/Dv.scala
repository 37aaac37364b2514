package graft.lake

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Deletion vectors — Delta's DV story on this layout: a delete that
 * rewrites NO data file. [[Forget.purge]] rewrites every index-admitted
 * file (touched-fraction cost); at 100 TB even that is hours of parquet
 * encode for a deletion request naming a handful of users. [[purge]] here
 * publishes a ZERO-COPY version instead:
 *
 *  - `_ref` points at the live version's data dir (the shallow-clone
 *    pointer — [[Versioned.dataDir]] resolves it transparently, and the
 *    referenced dir is PINNED against vacuum by the same `_clones/`
 *    back-pointer machinery [[Clone]] uses);
 *  - `_dv/` is a deletion-sized parquet of (file, row_index) pairs — the
 *    rows this version considers deleted (CUMULATIVE: a re-purge on a DV
 *    version unions into it, so every version dir is self-describing and
 *    time travel needs no replay);
 *  - `_changes` records the deletions, so the change feed and replica
 *    sync see a DV purge exactly like a rewriting one.
 *
 * Reads: [[Versioned.readVersion]] (and so [[Versioned.read]], time
 * travel, [[Upsert.diff]], [[MatView]], SQL views, Cdf seeds) anti-join
 * the scan against the version's vector on the parquet metadata columns
 * (`_metadata.file_name`, `_metadata.row_index`) — a broadcast anti-join
 * against a deletion-sized set, no data rewrite ever. Row indexes are
 * stable per immutable parquet file, which the versioned layout
 * guarantees.
 *
 * Write cost: ONE column-pruned scan of the index-admitted files to
 * locate victim row indexes + one metadata-sized parquet write + the
 * pointer files. Nothing else moves.
 *
 * Materialization: a DV version is a shallow ref, so every file-targeted
 * DML op already REJECTS it loudly toward [[Clone.materialize]] — which
 * reads through [[Versioned.readVersion]] and therefore applies the
 * vector while copying: materialize IS the DV compactor. After it, DML
 * proceeds on real files with the deleted rows physically gone.
 *
 * COMPLIANCE NOTE (same as [[Forget.purge]], one step stronger): a DV
 * delete is logical until materialize + vacuum remove the referenced
 * data dir; a deletion-SLA deployment runs purge → materialize →
 * vacuum(keep = 0) inside its window. Dir-level scan utilities that take
 * RAW data-dir paths ([[TokenBloom.search]], [[ZOrder.readBox]],
 * [[StatsIndex.readRange]]) read the data dir beneath the vector and so
 * see pre-delete rows — materialize before relying on them against a
 * DV'd table (the advisory-index posture: never wrong through
 * [[Versioned]] readers, stale only through raw-dir utilities).
 */
object Dv {

  private[lake] def dvDir(versionDir: String) = s"$versionDir/_dv"

  // the vector's fixed schema: read with it, never infer it (inference
  // is a Spark job per read)
  private val vectorSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "file STRING, row_index BIGINT")

  private def readVector(spark: SparkSession, versionDir: String): DataFrame =
    spark.read.schema(vectorSchema).parquet(dvDir(versionDir))

  private def fs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Does version `v` of `table` carry a deletion vector? */
  def hasVector(spark: SparkSession, table: String, v: Long): Boolean =
    fs(spark, table).exists(new Path(dvDir(s"$table/v=$v")))

  /** Deleted (file, row_index) count of version `v` (0 = no vector). */
  def deletedRows(spark: SparkSession, table: String, v: Long): Long =
    if (!hasVector(spark, table, v)) 0L
    else readVector(spark, s"$table/v=$v").count()

  /** Apply version `v`'s deletion vector to a frame READ FROM ITS DATA
    * DIR (the frame must still expose the parquet `_metadata` column —
    * i.e. be the raw scan, before projections). No-op without a vector.
    * Works on STREAMING frames too (a stream-static broadcast anti-join —
    * [[graft.streaming.LakeStream.table]]'s snapshot leg). */
  private[graft] def applyVector(spark: SparkSession, table: String, v: Long,
                                 df: DataFrame): DataFrame = {
    if (!hasVector(spark, table, v)) return df
    val dv = readVector(spark, s"$table/v=$v")
      .withColumnRenamed("file", "_graft_dv_file")
      .withColumnRenamed("row_index", "_graft_dv_ri")
    val keyed = df
      .withColumn("_graft_dv_file", col("_metadata.file_name"))
      .withColumn("_graft_dv_ri", col("_metadata.row_index"))
    keyed.join(broadcast(dv), Seq("_graft_dv_file", "_graft_dv_ri"),
        "left_anti")
      .drop("_graft_dv_file", "_graft_dv_ri")
  }

  /** Zero-copy delete: every row whose `keyCol` is in `keys` becomes
    * invisible behind a new version that REWRITES NOTHING — `_ref` to the
    * live data dir + a deletion-vector sidecar. Key-set dial as
    * [[Forget.purge]] (a deletion request: driver-resident; any key count
    * is accepted). Idempotent: keys no live row matches publish nothing
    * (returns the live version). Works on an already-DV'd live version
    * (vectors accumulate — refs never chain, both versions share one
    * data dir). The purge is a delete-only changeset
    * ([[Changeset.deleting]]) committed by the zero-copy commit
    * [[applyCdc]] and [[merge]] use, with the table key ([[tableKey]])
    * deciding how the feed names the deleted rows: by `keyCol` when it
    * is that key, by their whole rows otherwise. Exempt from CHECK
    * constraints. Returns the live version. */
  def purge(spark: SparkSession, table: String, keyCol: String,
            keys: Seq[Long]): Long = {
    require(keys.nonEmpty, "purge needs a non-empty key set")
    Versioned.withWriteRetry() {
      val live = Versioned.currentVersion(spark, table).getOrElse(
        throw new IllegalStateException(s"no published version at $table"))
      val cs = Changeset.deleting(spark,
        Versioned.schemaAt(spark, table, live), keyCol, keys)
      mergeOnce(spark, table, keyCol,
        tableKey(spark, Versioned.dataDir(spark, table, live)),
        cs.upserts, cs.deletes, 0L, cs.nDeletes, cs.keys.get, None)
    }
  }

  /** Zero-copy MERGE — deletion vectors extended from deletes to the
    * whole CDC triad, so update-heavy CDC stops rewriting admitted files
    * entirely: each changed key's OLD row is vectored out (one
    * column-pruned victim-locating scan of the index-admitted files, as
    * [[purge]]) and the batch's I/U rows land as FRESH changeset-sized
    * files INSIDE the new version dir, beside the `_ref` to the untouched
    * base data dir. [[Versioned.readVersion]] unions base + appended
    * files and anti-joins the vector, so every reader (live, time travel,
    * diff, views, SQL, Cdf seeds) sees exactly what a rewriting
    * [[Upsert.merge]] would have produced — the change feed is recorded
    * identically. Chained zero-copy merges byte-copy the (changeset-
    * sized) prior appends forward so `_ref` never chains; after enough
    * churn, [[Clone.materialize]] compacts appends + vector back into
    * real files, exactly as for a DV purge.
    *
    * Scope dials (reject, don't guess): batches up to
    * [[Upsert.MaxDriverKeysDefault]] keys (this is the CDC-trickle path —
    * a restatement belongs on [[Upsert.merge]]'s distributed path) and NO
    * schema evolution (evolution needs the rewriting merge's marker
    * machinery). Same batch contract as [[Upsert.applyCdc]], enforced by
    * the same validation. */
  def applyCdc(spark: SparkSession, table: String, keyCol: String,
               batch: DataFrame, opCol: String = "op",
               batchTag: Option[String] = None): Long = {
    val cs = Changeset.summarize(batch, keyCol, opCol)
    try {
      cs.requireCdcContract()
      require(cs.nKeys > 0, "empty changeset")
      require(cs.nKeys <= Upsert.MaxDriverKeysDefault,
        s"${cs.nKeys} keys — past the zero-copy merge's driver budget " +
          s"(${Upsert.MaxDriverKeysDefault}); a batch this wide belongs " +
          "on Upsert.merge's distributed path")
      Constraints.enforce(spark, table, cs.upserts, "Dv.applyCdc")
      Versioned.withWriteRetry() {
        mergeOnce(spark, table, keyCol, Some(keyCol), cs.upserts, cs.deletes,
          cs.nKeys - cs.nDeletes, cs.nDeletes, cs.keys.get, batchTag)
      }
    } finally cs.release()
  }

  /** Zero-copy upsert (no deletes): see [[applyCdc]]. `insertOnly`
    * enforces SQL INSERT INTO's live-key contract — a changeset key a
    * live row carries flips the statement into a loud reject, never a
    * silent update; checked INSIDE the OCC retry against each attempt's
    * victim scan (a victim IS a live row with that key). */
  def merge(spark: SparkSession, table: String, keyCol: String,
            changes: DataFrame, insertOnly: Boolean = false): Long = {
    val op = "_graft_merge_op"
    val cs = Changeset.summarize(changes.withColumn(op, lit("U")), keyCol, op)
    try {
      require(cs.nNullKeys == 0L,
        s"changeset has NULL $keyCol keys — a NULL key matches no row")
      require(cs.nDuplicates == 0L,
        s"${cs.nDuplicates} duplicate $keyCol key(s) in the " +
          "changeset — each would insert its own row")
      require(cs.nRows > 0, "empty changeset")
      require(cs.nRows <= Upsert.MaxDriverKeysDefault,
        s"${cs.nRows} keys — past the zero-copy merge's driver budget")
      Constraints.enforce(spark, table, changes, "Dv.merge")
      val empty = spark
        .emptyDataset(org.apache.spark.sql.Encoders.scalaLong).toDF(keyCol)
      Versioned.withWriteRetry() {
        mergeOnce(spark, table, keyCol, Some(keyCol), cs.upserts, empty,
          cs.nRows, 0L, cs.keys.get, None, insertOnly)
      }
    } finally cs.release()
  }

  /** The zero-copy commit every [[applyCdc]], [[merge]] and [[purge]]
    * shares: the changed keys' live rows vectored out, the upserts
    * appended beside a `_ref` to the untouched data dir. `keyCol` is the
    * MATCH column and `tableKey` the key the table's indexes name (a
    * merge passes its match column, a purge [[tableKey]]); the one rule
    * between them is [[Upsert.applyChanges]]'s: appends sort on the table
    * key and get Bloom sidecars only when one is known, and the feed
    * names deleted rows by the match column when it is the table key and
    * by the victims' whole rows (from the victim scan) otherwise. */
  private def mergeOnce(spark: SparkSession, table: String, keyCol: String,
                        tableKey: Option[String],
                        upserts: DataFrame, deletes: DataFrame,
                        nUpserts: Long, nDeletes: Long, ks: Seq[Long],
                        batchTag: Option[String],
                        insertOnly: Boolean = false): Long = {
    val live = Versioned.currentVersion(spark, table).getOrElse(
      throw new IllegalStateException(s"no published version at $table"))
    val liveVDir = s"$table/v=$live"
    val dataDir = Versioned.dataDir(spark, table, live) // one hop, always
    val f = fs(spark, table)
    val conf = spark.sparkContext.hadoopConfiguration

    // schema discipline: version-aware marker resolution — the live
    // version's OWN marker (an [[Evolve.addColumns]] overlay) wins over
    // the base dir's; the zero-copy path refuses FURTHER evolution
    // (scope dial above), but composes with a prior metadata-only one
    val schema = Versioned.schemaAt(spark, table, live)
    // renamed table: logical → physical names for the appends write
    val mapping = Versioned.readColumnMapping(f, liveVDir)
      .getOrElse(Map.empty[String, String])
    val cols = schema.fieldNames.toSeq
    val missing = cols.filterNot(upserts.columns.contains)
    val extra = upserts.columns.toSeq.filterNot(cols.contains)
    require(missing.isEmpty,
      s"changeset schema lacks table column(s) $missing — a merge row " +
        "replaces the WHOLE row")
    require(extra.isEmpty,
      s"changeset adds column(s) $extra — the zero-copy merge does not " +
        "evolve schemas; use Upsert.merge(evolveSchema = true)")
    // TYPE equality on every shared column (same guard as the rewriting
    // merge, [[Upsert]]): the zero-copy merge appends the changeset's
    // files BESIDE the referenced base files, so a mistyped column
    // (decimal(38,6) vs the table's decimal(38,18)) would strand two
    // physical types in one readable version — exactly the
    // footer-inference lottery the rewriting path rejects. NullType
    // (NULL-literal columns) promotes losslessly and stays exempt.
    val mistyped = cols.filter(c =>
      upserts.schema(c).dataType != schema(c).dataType &&
        upserts.schema(c).dataType !=
          org.apache.spark.sql.types.NullType)
    require(mistyped.isEmpty,
      s"changeset column type(s) differ from the table: " +
        mistyped.map(c => s"$c (${upserts.schema(c).dataType.simpleString}" +
          s" vs table ${schema(c).dataType.simpleString})").mkString(", ") +
        " — cast the changeset to the table's types")

    // candidate files: the base data dir AND the live version's own
    // appended files (a prior zero-copy merge) — victims can live in both
    val ownParts =
      if (dataDir == liveVDir) Seq.empty
      else Versioned.dataFilePaths(spark, liveVDir).map(new Path(_))
    val admitted = admit(spark, liveVDir, dataDir, keyCol, ks)
    if (admitted.isEmpty && nUpserts == 0L) return live // nothing to do
    val byKey = tableKey.exists(_.equalsIgnoreCase(keyCol))
    // a non-key delete of a keyed table names its victims by that key
    val otherKey = tableKey.filterNot(_ => byKey)

    // victim locations: ONE column-pruned scan of the admitted files (the
    // victims' whole rows ride along when the feed needs them). Prior-
    // vector rows are excluded so the count below means NEW deletes
    // (re-deleting an already-deleted key stays a no-op).
    val hadVector = hasVector(spark, table, live)
    val prior =
      if (hadVector) readVector(spark, liveVDir)
      else spark
        .emptyDataset(org.apache.spark.sql.Encoders.product[(String, Long)])
        .toDF("file", "row_index")
    val scan =
      if (admitted.isEmpty) prior.limit(0) // an insert-only batch
      else {
        val data =
          Versioned.readFiles(spark, dataDir, admitted.map(_.toString))
        val located = data
          .select(Seq(col("_metadata.file_name").as("file"),
            col("_metadata.row_index").as("row_index"),
            col(keyCol).cast("long").as("_k")) ++
            (if (byKey) Seq.empty
             else Seq(struct(data.columns.toSeq.map(col): _*).as("_row"))): _*)
          .filter(col("_k").isin(ks: _*))
          .drop("_k")
        if (hadVector)
          located.join(broadcast(prior), Seq("file", "row_index"), "left_anti")
        else located
      }
    scan.persist()
    try {
      // new deletes (0 = all named rows already deleted or absent)
      val nNew = countVictims(if (byKey) scan else scan.select(col("_row.*")),
        keyCol, ks.size.toLong, otherKey)
      // insert-only contract (SQL INSERT INTO on a zero-copy base):
      // a victim IS a live row carrying a changeset key — re-checked
      // each OCC attempt, same guarantee as Upsert.merge's guard
      if (insertOnly) require(nNew == 0L,
        s"insert-only merge names $nNew key(s) that already exist in " +
          s"$table — an insert on a live key is an UPDATE (or a " +
          "MERGE); refusing to guess which was meant")
      // nothing vectored AND nothing to upsert: the idempotent no-op
      if (nNew == 0L && nUpserts == 0L) return live
      val victims = scan.select(col("file"), col("row_index"))
      val (feedDeletes, nFeedDeletes) =
        if (byKey) (deletes, nDeletes) else (scan.select(col("_row.*")), nNew)
      // pin the shared data dir BEFORE publishing the ref (Clone.shallow's
      // ordering argument: an orphaned pin blocks reclaim, a missing pin
      // breaks reads silently). An OCC conflict below may abandon the pin
      // — deliberately NOT released here: two concurrent commits share ONE
      // pin file (pinName is (table, dataDir)-keyed), and a loser
      // releasing it can unpin a winner whose rename is still in flight
      // cross-process, silently exposing the live DV version to vacuum.
      // Stale self-pins are instead garbage-collected by the next
      // [[Versioned.vacuum]], whose exclusivity contract makes the
      // no-version-references-this-dir check race-free.
      Clone.pin(spark, dataDir, table)
      Versioned.publishFrom(spark, table, live) { dir =>
        val fd = fs(spark, dir)
        // 1. fresh appends FIRST (the parquet overwrite creates the dir);
        //    key-sorted so later footer admission stays tight. A RENAMED
        //    table's appends are written under PHYSICAL names (the
        //    column-mapping contract: every file in a readable version
        //    agrees on physical names; readVersion maps them back) —
        //    the key column never renames, so sort/Bloom stay untouched
        if (nUpserts > 0L) {
          val parts = math.max(1L, math.min(64L,
            nUpserts / 1000000L + 1)).toInt
          upserts.select(cols.map(c =>
              col(s"`$c`").as(mapping.getOrElse(c, c))): _*)
            .repartitionByRange(parts, col(tableKey.getOrElse(keyCol)))
            .sortWithinPartitions(col(tableKey.getOrElse(keyCol)))
            .write.mode("overwrite").parquet(dir)
          // Bloom sidecars for the appends (only they exist here yet)
          tableKey.foreach(BloomIndex.indexExisting(spark, dir, _))
        } else fd.mkdirs(new Path(dir))
        // 2. carry the prior zero-copy merges' appends forward (byte
        //    copies, changeset-scale) so _ref never chains
        ownParts.foreach { p =>
          require(org.apache.hadoop.fs.FileUtil.copy(
            f, p, fd, new Path(dir, p.getName), false, conf),
            s"append carry failed: $p")
          val bs = BloomIndex.sidecar(liveVDir, p.getName)
          if (f.exists(bs))
            org.apache.hadoop.fs.FileUtil.copy(f, bs, fd,
              BloomIndex.sidecar(dir, p.getName), false, conf)
        }
        // manifests ride the landing: when the base data dir is
        // stats-indexed, mint a `_stats` manifest on its key over the
        // new version's OWN files (fresh appends + carried priors) from
        // their footers — driver-side, changeset-scale — so plan-time
        // skipping ([[SkipScan]]) keeps pruning the landed files with
        // no ANALYZE in between
        StatsIndex.keyOf(spark, dataDir)
          .foreach(StatsIndex.buildFromFooters(spark, dir, _))
        // 3. ref + cumulative vector (prior ∪ new: each version
        //    self-describing) + tag + change feed
        val out = fd.create(new Path(s"$dir/_ref"), true)
        try out.write(dataDir.getBytes(StandardCharsets.UTF_8))
        finally out.close()
        prior.unionByName(victims)
          .coalesce(math.max(1, (nNew / 4000000L).toInt + 1))
          .write.mode("overwrite").parquet(dvDir(dir))
        val tagPath = new Path(s"$liveVDir/_cdc_batch")
        batchTag match {
          case Some(t) =>
            val o = fd.create(new Path(s"$dir/_cdc_batch"), true)
            try o.write(t.getBytes(StandardCharsets.UTF_8))
            finally o.close()
          case None =>
            if (f.exists(tagPath))
              org.apache.hadoop.fs.FileUtil.copy(f, tagPath, fd,
                new Path(s"$dir/_cdc_batch"), false, true, conf)
        }
        // carry an Evolve overlay's OWN schema marker forward — the new
        // ref version must keep resolving the EXTENDED schema
        val sm = new Path(s"$liveVDir/_table_schema")
        if (f.exists(sm))
          org.apache.hadoop.fs.FileUtil.copy(f, sm, fd,
            new Path(s"$dir/_table_schema"), false, true, conf)
        Versioned.carryColumnMapping(f, liveVDir, fd, dir, conf)
        Cdf.record(spark, dir, schema,
          upserts.select(cols.map(col): _*), nUpserts, feedDeletes,
          nFeedDeletes)
      }
    } finally { scan.unpersist(); () }
  }

  /** The `part-` files of a version (its dir `versionDir`, its data dir
    * `dataDir`) that may hold one of `keys` in `keyCol`: the data dir's,
    * admitted with its `_stats` manifest, and the version's own appended
    * files (a zero-copy merge's, beside its `_ref`), admitted by their
    * sidecars and footers. The one DV-aware admission of the lake. */
  private[lake] def admit(spark: SparkSession, versionDir: String,
                          dataDir: String, keyCol: String,
                          keys: Seq[Long]): Seq[Path] = {
    def in(dir: String, stats: Option[Map[String, FileKeyStats]]) =
      Versioned.dataFilePaths(spark, dir).map(new Path(_))
        .filter(Forget.admitter(spark, dir, keyCol, keys, stats))
    in(dataDir, StatsIndex.load(spark, dataDir)) ++
      (if (versionDir == dataDir) Seq.empty else in(versionDir, None))
  }

  /** Rows of a delete's `victims`, counted in ONE job with no exchange.
    * On a non-key delete of a keyed table the feed names each victim by
    * that table key (`otherKey`), so a victim whose key is NULL rejects. */
  private[lake] def countVictims(victims: DataFrame, keyCol: String,
                                 nKeys: Long,
                                 otherKey: Option[String]): Long = {
    val (n, nNull) = victims.select(otherKey.fold(lit(false))(col(_).isNull))
      .queryExecution.toRdd.aggregate((0L, 0L))(
        (a, r) => (a._1 + 1, a._2 + (if (r.getBoolean(0)) 1 else 0)),
        (a, b) => (a._1 + b._1, a._2 + b._2))
    otherKey.foreach { k =>
      require(nNull == 0L,
        s"$nNull row(s) matching the $nKeys $keyCol value(s) have a NULL " +
          s"$k — the change feed could not name their deletion; purge " +
          s"them by $k instead")
    }
    n
  }

  /** The key the table's file indexes describe (`_bloom/_key`, else
    * `_stats/_key`) — what its change feed names rows by. */
  private[lake] def tableKey(spark: SparkSession,
                             dataDir: String): Option[String] =
    BloomIndex.keyOf(spark, dataDir).orElse(StatsIndex.keyOf(spark, dataDir))
}
