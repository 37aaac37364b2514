package graft.lake

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/**
 * Change Data Feed — Delta's CDF re-expressed on this layout: every DML
 * version records ITS OWN changeset as a `_changes` sidecar inside the
 * version dir (changeset-sized, atomic with the manifest swap), so a
 * downstream consumer reads "what changed since version v" at CHANGESET
 * cost — where [[Upsert.diff]] answers the same question by full-outer
 * joining two whole snapshots (table cost, the fallback when history is
 * gone). Writers:
 *
 *  - [[Upsert.applyCdc]]/merge record their upsert rows (`_op` = "U";
 *    I and U both apply as upserts, so one op serves) and delete keys
 *    (`_op` = "D", key column only);
 *  - purges ([[Forget.purge]], [[Dv.purge]]) are delete-only changesets
 *    committed by the same rewrite and zero-copy commits, so they record
 *    their deletions exactly as those commits record a merge's: by key
 *    when the purge is on the table key, as whole rows otherwise;
 *  - layout-only maintenance ([[Compact.compactVersion]],
 *    [[ZOrder.cluster]]) records an explicit `_changes_none` marker —
 *    "this version changed no rows" is a STATEMENT, not an absence;
 *  - a WHOLESALE REPLACE (full [[Versioned.publish]]/
 *    [[Forget.publishIndexed]]/`publishClustered`, [[Clone.shallow]],
 *    [[Restore]], [[seed]]) records an explicit BREAK ([[recordBreak]]:
 *    a `_changes_break` marker plus one `_op` = "B" poison row in the
 *    feed dir) — a replace has no changeset, [[changesSince]] REJECTS
 *    ranges crossing one (resync from a snapshot instead of guessing),
 *    and raw streaming tails DELIVER the poison instead of silently
 *    skipping a version that would otherwise write no feed file;
 *  - a bare absence (internal `publishWith` builds, vacuumed or
 *    crash-skipped numbers) rejects identically.
 *
 * [[sync]] is the replica leg: seed a replica as a snapshot copy, then
 * each sync reads the pending changesets, reduces multi-version churn to
 * the last op per key (`_version` is the sequence column), and applies
 * ONE [[Upsert.applyCdc]] merge tagged `cdf:<version>` — the same
 * batch-tag replay dedup the streaming sink uses, so a crashed sync
 * replays into a no-op. Vacuum discipline: keep source retention longer
 * than the replica's sync lag ([[changesSince]] detects a vacuumed gap
 * and rejects toward reseed — version numbers are contiguous absent a
 * crash-heal skip, which also safely rejects).
 */
object Cdf {

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Record a version's changeset: `upserts` rows land with `_op` = "U",
    * `deletes` with `_op` = "D", the columns `deletes` lacks NULL. The
    * two commits that call this ([[Upsert.applyChanges]] and the
    * zero-copy one behind [[Dv.applyCdc]], each shared by its mode's
    * merges and purges) pass the deleted keys when the match column is
    * the table key and the deleted rows whole otherwise. Called INSIDE the publishing
    * `build` so the sidecar appears atomically with the version.
    * Changeset-sized — one coalesced file per ~1M rows. A DataFrame (not a
    * driver Seq) so oversized batches ([[Upsert]]'s distributed path)
    * never round-trip their keys through the driver. */
  private[lake] def record(spark: SparkSession, newDir: String,
                           schema: StructType,
                           upserts: DataFrame, upsertRows: Long,
                           deletes: DataFrame, deleteRows: Long): Unit = {
    val cols = schema.fieldNames.toSeq
    val ups = upserts.select(cols.map(col): _*)
      .withColumn("_op", lit("U"))
    val dels = deletes.select(cols.map { c =>
      val field = schema(c)
      deletes.columns.find(_.equalsIgnoreCase(c)) match {
        case Some(d) => deletes(d).cast(field.dataType).as(c)
        case None => lit(null).cast(field.dataType).as(c)
      }
    }: _*).withColumn("_op", lit("D"))
    val changes = ups.unionByName(dels)
    // sizing from the caller-known row counts (already on hand from the
    // batch validation) — no extra Spark action in the publish path
    val parts = math.max(1, math.min(64,
      ((upsertRows + deleteRows) / 1000000L + 1).toInt))
    changes.coalesce(parts)
      .write.mode("overwrite").parquet(s"$newDir/${Txn.feedName}")
  }

  /** Record "this version changed no rows" (layout-only maintenance). */
  private[lake] def recordNone(f: FileSystem, newDir: String): Unit = {
    val out = f.create(new Path(s"$newDir/_changes_none"), true)
    try out.write("layout-only".getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Record "this version is a WHOLESALE REPLACE" (full publish, shallow
    * clone seed, [[Restore]]): a `_changes_break` marker — the
    * metadata-only kind [[changesSince]] and [[Checkpoint]] reject on
    * without reading anything — plus ONE all-null poison row (`_op` =
    * "B") in the `_changes` feed dir, so RAW STREAMING consumers
    * ([[graft.streaming.CdfStream.changes]] tails the `v=*&#47;_changes`
    * glob and cannot see a version that writes no file there) receive
    * the break instead of silently skipping the replace and diverging.
    * [[graft.streaming.LakeStream.assemble]] rejects on the row; batch
    * readers never reach it (the marker rejects first). */
  private[lake] def recordBreak(spark: SparkSession, newDir: String,
                                schema: StructType): Unit = {
    val f = fs(spark, newDir)
    val out = f.create(new Path(s"$newDir/_changes_break"), true)
    try out.write("wholesale-replace".getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val cols = schema.fields.toSeq.map(fd =>
      lit(null).cast(fd.dataType).as(fd.name))
    spark.range(1).select(cols: _*)
      .withColumn("_op", lit("B"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$newDir/${Txn.feedName}")
  }

  /** Record "this commit CHANGED THE TABLE SCHEMA" for the streaming
    * tail: one all-null `_op` = "S" poison row appended to the commit's
    * `_changes` dir (under the NEW schema). A raw feed tail
    * ([[graft.streaming.CdfStream.changes]]) runs with the schema it
    * started with — a widened column would silently read as absent in
    * every later change row, assembling a diverged table — so it must
    * DELIVER the schema change and fail loudly toward a restart (which
    * picks up the new schema), exactly Delta's streaming-read behavior.
    * Batch readers never see it: [[changesSince]] filters S rows (the
    * content change, if any, is in the commit's real U/D rows — a
    * metadata-only [[Evolve]] overlay has none, so its feed entry
    * bridges to zero rows). Emitted by [[Evolve.addColumns]]/
    * [[Evolve.dropColumns]] and by [[Upsert]]'s `evolveSchema = true`
    * merges. */
  private[lake] def recordSchemaChange(spark: SparkSession, newDir: String,
                                       schema: StructType): Unit = {
    val cols = schema.fields.toSeq.map(fd =>
      lit(null).cast(fd.dataType).as(fd.name))
    spark.range(1).select(cols: _*)
      .withColumn("_op", lit("S"))
      .coalesce(1)
      .write.mode("append").parquet(s"$newDir/${Txn.feedName}")
  }

  /** Every change after `sinceV` up to `untilV` (the live version when
    * absent — pass an explicit bound when tagging the result with a
    * version read earlier, or a concurrent publish leaks newer changes
    * under the older tag), as one frame
    * with `_op` (U/D) and `_version` columns — U rows carry the row as of
    * THAT version (pre-evolution rows null-fill later columns via
    * unionByName). Rejects loudly when any version in the range carries
    * no change record (full publish, shallow clone, or a vacuumed /
    * crash-skipped version number): the feed cannot represent a wholesale
    * replace — resync from a snapshot. */
  def changesSince(spark: SparkSession, table: String, sinceV: Long,
                   untilV: Option[Long] = None): DataFrame = {
    val live = untilV.getOrElse(
      Versioned.currentVersion(spark, table).getOrElse(
        throw new IllegalStateException(s"no published version at $table")))
    require(sinceV <= live, s"sinceV $sinceV is past the live version $live")
    val f = fs(spark, table)
    // A span crossing a schema change must not assemble a SPLIT column:
    // each version's `_changes` sidecar spells that version's LOGICAL
    // names, so pre-rename frames carry the old name and post-rename
    // frames the new one — a naive unionByName would null-fill each half
    // and every consumer (not just [[sync]], which re-checks against its
    // replica) silently diverges. Two-part answer, Delta's column-mapping
    // posture made batch-readable:
    //  - RENAME bridges: each frame remaps under ITS OWN version's
    //    `_column_mapping` (logical-as-of-v → physical; physical names
    //    never change), then physical → live-logical (`p2l` below) —
    //    re-unifying the column across any rename chain, including
    //    chains that REUSE a freed name (rename y→z then x→y) and
    //    intermediate names a multi-rename span passes through;
    //  - DROP (or a rename the mapping no longer witnesses — e.g. a
    //    mid-span compaction baked it in and dropped the mapping)
    //    REJECTS: a column that exists at sinceV and resolves to nothing
    //    at the until version cannot be one honest frame.
    // Cost-gated like [[sync]]'s guard: every narrowing version writes a
    // schema marker, so two marker-less ends skip the (footer-inferring)
    // compare; a vacuumed sinceV dir has no "since" schema to compare
    // (the feed walk below adjudicates bridgeability version by version).
    val p2l: Map[String, String] =
      Versioned.readColumnMapping(f, s"$table/v=$live")
        .getOrElse(Map.empty).map(_.swap)
    // the live logical column set, for the per-frame stray-name check
    // below (computed once, only when a mapping exists at all)
    lazy val liveLogicalCols: Option[Set[String]] =
      if (p2l.isEmpty) None
      else Some(Versioned.schemaAt(spark, table, live)
        .fieldNames.map(_.toLowerCase).toSet)
    // the guard compares the FIRST IN-SPAN version's schema (sinceV + 1 —
    // the span is exclusive of sinceV, so its schema describes no frame;
    // using it would wrongly reject a sub-span that STARTS at the
    // schema-change version) against the until version's
    val firstV = sinceV + 1
    if (firstV >= 1 && live >= firstV &&
        (Versioned.schemaMarkerAt(spark, table, firstV).isDefined ||
          Versioned.schemaMarkerAt(spark, table, live).isDefined) &&
        f.exists(new Path(s"$table/v=$firstV"))) {
      val firstDir = Versioned.dataDir(spark, table, firstV)
      if (f.exists(new Path(firstDir))) {
        val liveCols = Versioned.schemaAt(spark, table, live)
          .fieldNames.map(_.toLowerCase).toSet
        val narrowed = Versioned.schemaAt(spark, table, firstV)
          .fieldNames.filterNot(c =>
            liveCols(p2l.getOrElse(c, c).toLowerCase))
        if (narrowed.nonEmpty)
          throw new IllegalStateException(
            s"$table column(s) ${narrowed.toSeq.sorted} present at " +
              s"v$firstV resolve to nothing at v$live (a DROP, or a " +
              "rename no longer witnessed by the column mapping) — the " +
              "change feed cannot express a narrowing as one frame; " +
              "resync from a snapshot (Cdf.seed) or read the sub-spans " +
              "on each side of the schema change")
      }
    }
    def unbridgeable(v: Long) = new IllegalStateException(
      s"$table v$v has no change record (full publish, shallow clone, " +
        "RESTORE, vacuumed, or a crash-skipped number) — the change feed " +
        "cannot bridge it; resync from a snapshot (Cdf.seed)")
    // change-record KIND per version: one checkpoint read covers versions
    // at/below its floor (no per-version existence probes — the walk
    // stays O(uncheckpointed tail) at long histories); reads of the
    // actual `_changes` data are inherent to the answer either way
    val kinds = Checkpoint.read(f, table)
      .map(_.feed).getOrElse(Map.empty[Long, Char])
    val frames = ((sinceV + 1) to live).flatMap { v =>
      val dir = s"$table/v=$v"
      // `_changes_txn` is a cross-table-txn participant's feed awaiting
      // its finalize rename ([[graft.lake.Txn]]): this version is only in
      // range because currentVersion already adjudicated it COMMITTED (or
      // it is the reading thread's own pending write), so the staged name
      // reads as the real feed
      val kind = kinds.getOrElse(v,
        if (f.exists(new Path(s"$dir/_changes_break"))) 'b'
        else if (f.exists(new Path(s"$dir/_changes")) ||
                 f.exists(new Path(s"$dir/_changes_txn"))) 'c'
        else if (f.exists(new Path(s"$dir/_changes_none"))) 'n'
        else 'x')
      kind match {
        case 'c' =>
          // a checkpointed 'c' whose dir was since vacuumed must reject
          // with the SAME resync message the probe path gives. S rows
          // (schema-change poison for the STREAMING tail — see
          // recordSchemaChange) are metadata, not changes: filtered
          // here, so a metadata-only Evolve overlay bridges to zero
          // rows and an evolving merge contributes only its real U/Ds.
          val feedDir =
            if (f.exists(new Path(s"$dir/_changes"))) s"$dir/_changes"
            else s"$dir/_changes_txn"
          try {
            val frame = spark.read
              .schema(Versioned.schemaOf(spark, feedDir)).parquet(feedDir)
              .filter(col("_op") =!= "S")
            // logical-as-of-v → physical → live-logical remap (see the
            // span guard above): each frame spells ITS OWN version's
            // logical names, so it remaps under ITS OWN version's
            // `_column_mapping` (logical_v → physical) and only then
            // through the live p2l. A flat physical→live remap of every
            // frame corrupts rename chains that REUSE a freed name
            // (rename y→z then x→y: a post-rename frame's 'y' is live y,
            // but 'y' is also pre-rename z's physical name — flat p2l
            // would relabel it 'z', a duplicate column the stray check
            // cannot see). Under the per-version mapping the post-rename
            // frame round-trips to itself, and an intermediate-name frame
            // (renamed more than once in the span) resolves through its
            // witnessed physical name instead of rejecting.
            val unified =
              if (p2l.isEmpty) frame
              else {
                val l2pAtV = Versioned.readColumnMapping(f, s"$table/v=$v")
                  .getOrElse(Map.empty[String, String])
                def toLive(c: String): String = {
                  val phys = l2pAtV.getOrElse(c, c)
                  p2l.getOrElse(phys, phys)
                }
                val mapped = frame.select(frame.columns.toSeq.map(c =>
                  col(s"`$c`").as(toLive(c))): _*)
                // a frame whose then-logical spelling resolves to nothing
                // live (its version's mapping was dropped by a mid-span
                // compaction baking a rename in) cannot re-unify — reject
                // loudly instead of letting unionByName split it. The
                // endpoint guard above can't see this: it compares only
                // the sinceV and live schemas.
                val stray = mapped.columns
                  .filterNot(c => c == "_op" ||
                    liveLogicalCols.exists(_(c.toLowerCase)))
                if (stray.nonEmpty)
                  throw new IllegalStateException(
                    s"$table v$v feed column(s) ${stray.toSeq.sorted} " +
                      s"resolve to nothing at v$live (a rename's mapping " +
                      "dropped mid-span?) — read the sub-spans on each " +
                      "side of the schema change, or resync (Cdf.seed)")
                mapped
              }
            Some(unified.withColumn("_version", lit(v)))
          } catch {
            case e: org.apache.spark.sql.AnalysisException
              if e.getMessage.contains("does not exist") =>
                throw unbridgeable(v)
          }
        case 'n' => None
        case _ => throw unbridgeable(v)
      }
    }
    frames.reduceOption((a, b) =>
        a.unionByName(b, allowMissingColumns = true))
      .getOrElse(Versioned.read(spark, table).limit(0)
        .withColumn("_op", lit("U")).withColumn("_version", lit(0L)))
  }

  private def syncTag(v: Long) = s"cdf:$v"

  /** The source version a replica last synced to (its live version's
    * `cdf:` batch tag). None when never seeded by [[seed]]/[[sync]]. */
  def syncedVersion(spark: SparkSession, replica: String): Option[Long] =
    Upsert.lastBatchTag(spark, replica)
      .filter(_.startsWith("cdf:"))
      .flatMap(_.stripPrefix("cdf:").toLongOption)

  /** Seed `replica` as a full snapshot copy of the source's live version,
    * watermarked for [[sync]]. */
  def seed(spark: SparkSession, source: String, replica: String): Long = {
    val v = Versioned.currentVersion(spark, source).getOrElse(
      throw new IllegalStateException(s"no published version at $source"))
    Versioned.publishWith(spark, replica) { dir =>
      val snap = Versioned.readVersion(spark, source, v)
      snap.write.mode("overwrite").parquet(dir)
      val out = fs(spark, dir).create(new Path(s"$dir/_cdc_batch"), true)
      try out.write(syncTag(v).getBytes(StandardCharsets.UTF_8))
      finally out.close()
      recordBreak(spark, dir, snap.schema) // a seed is a replace
    }
  }

  /** Catch the replica up to the source's live version by applying the
    * pending changesets as ONE merge (multi-version churn reduced to the
    * last op per key by `_version`). Idempotent under replay: the merge
    * carries the `cdf:<live>` batch tag, and an already-applied tag
    * no-ops. A PURELY-VACUOUS pending range (e.g. deletes of keys the
    * replica never had) publishes nothing and therefore does not advance
    * the watermark — harmless, the re-scan re-vacuouses. Returns the
    * replica's live version. */
  def sync(spark: SparkSession, source: String, replica: String,
           keyCol: String): Long = {
    val since = syncedVersion(spark, replica).getOrElse(
      throw new IllegalStateException(
        s"$replica carries no cdf watermark — Cdf.seed it first"))
    val srcLive = Versioned.currentVersion(spark, source).getOrElse(
      throw new IllegalStateException(s"no published version at $source"))
    val replicaLive = Versioned.currentVersion(spark, replica).get
    if (srcLive == since) return replicaLive
    if (Upsert.recentBatchTags(spark, replica).contains(syncTag(srcLive)))
      return replicaLive // crashed sync replay: already applied
    // a NARROWING schema change (drop, or rename via column mapping)
    // cannot cross the feed: post-change rows simply LACK the old
    // column, so an evolveSchema apply would keep it on the replica —
    // old rows with stale values, new rows with nulls — silently
    // diverging from a source that no longer has the column at all.
    // Additive evolution is fine (the replica grows the same column);
    // anything the replica has that the source dropped rejects toward
    // reseed, the same loud posture changesSince takes on a break.
    // Cost-gated on the schema MARKERS (two small-file reads): every
    // evolve/rename/drop writes one, so two marker-less sides have
    // never narrowed and the replication hot path skips the (footer-
    // inferring) full schema compare entirely.
    val anyMarker =
      Versioned.schemaMarkerAt(spark, source, srcLive).isDefined ||
        Versioned.schemaMarkerAt(spark, replica, replicaLive).isDefined
    if (anyMarker) {
      val srcCols = Versioned.schemaAt(spark, source, srcLive)
        .fieldNames.map(_.toLowerCase).toSet
      val repExtra = Versioned.schemaAt(spark, replica, replicaLive)
        .fieldNames.filterNot(c => srcCols(c.toLowerCase))
      require(repExtra.isEmpty,
        s"replica $replica carries column(s) ${repExtra.toSeq.sorted} " +
          "the source no longer has (a DROP or RENAME happened at the " +
          "source) — the change feed cannot express a narrowing; " +
          "reseed the replica (Cdf.seed)")
    }
    // bounded at the srcLive the tag names: a concurrent source publish
    // between the version read and here must NOT leak post-watermark
    // changes into a merge tagged with the older version
    val pending = changesSince(spark, source, since, untilV = Some(srcLive))
    // one summary: last op per key by `_version`, emptiness and keys
    val cs = Changeset.summarize(pending, keyCol, "_op",
      seqCol = Some("_version"))
    try
      if (cs.isEmpty) replicaLive
      else Upsert.applySummarized(spark, replica, cs,
        batchTag = Some(syncTag(srcLive)), evolveSchema = true)
    finally cs.release()
  }
}
