package graft.lake

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.SparkSession

/**
 * RESTORE TABLE — Delta's `RESTORE TABLE t TO VERSION AS OF n`
 * re-expressed on this layout as a ZERO-COPY publish: the new live
 * version is a `_ref` to the target version's data dir (pinned against
 * vacuum by the same `_clones/` back-pointer machinery [[Clone]] and
 * [[Dv]] use), so restoring a 100 TB table is metadata writes, not a
 * table copy. History is preserved, not rewound: the restore COMMITS a
 * new version whose content equals the target's, so time travel across
 * the bad-data window still works and concurrent readers never see a
 * version number reused (the reference's audience gets the same
 * "undo a bad load" lever `bigquery_extractor.py`-style reruns provide
 * by re-extracting — here it is one commit).
 *
 * Target-shape handling mirrors [[Dv]]'s publish discipline:
 *  - plain data version → `_ref` to its dir, nothing else moves;
 *  - shallow/DV target → `_ref` re-points at the target's RESOLVED base
 *    dir (refs never chain), its changeset-sized appended files are
 *    byte-copied forward, and its `_dv` vector travels so the restored
 *    content matches the target EXACTLY;
 *  - the target's `_cdc_batch` replay-dedup tag travels too: content
 *    rewinds, so the CDC watermark must rewind with it (a sink replaying
 *    the next batch re-applies it, which is precisely what a restore
 *    asks for).
 *
 * Change feed: a restore is a WHOLESALE REPLACE — it records no
 * `_changes` sidecar, so [[Cdf.changesSince]] rejects ranges crossing it
 * toward a snapshot resync (the documented Cdf contract for
 * snapshot-semantics versions; guessing a row-level diff here would cost
 * a full two-snapshot join and still be wrong for consumers mid-stream).
 *
 * Concurrency: first-committer-wins via [[Versioned.publishFrom]] under
 * [[Versioned.withWriteRetry]]. A lost race after the pin lands leaves a
 * stale self-pin, garbage-collected by the next [[Versioned.vacuum]] —
 * the same deliberate posture as [[Dv.purge]] (releasing eagerly could
 * unpin a concurrent winner's in-flight ref).
 */
object Restore {

  private def fs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Restore `table` to the content of version `toV` by publishing a new
    * zero-copy version. No-op (returns the live version) when `toV` IS
    * the live version; rejects loudly when `toV` was vacuumed or never
    * existed. Returns the new live version. */
  def restore(spark: SparkSession, table: String, toV: Long): Long =
    Versioned.withWriteRetry() { restoreOnce(spark, table, toV) }

  private def restoreOnce(spark: SparkSession, table: String,
                          toV: Long): Long = {
    val live = Versioned.currentVersion(spark, table).getOrElse(
      throw new IllegalStateException(s"no published version at $table"))
    if (toV == live) return live
    require(Versioned.versions(spark, table).contains(toV),
      s"version $toV of $table does not exist (never published, or " +
        "vacuumed — a vacuumed version's data is gone; restore cannot " +
        "resurrect it)")
    val tgtVDir = s"$table/v=$toV"
    val dataDir = Versioned.dataDir(spark, table, toV) // one hop, never chains
    val f = fs(spark, table)
    val conf = spark.sparkContext.hadoopConfiguration
    // a restore rewinds CONTENT, so ingest history must not survive it:
    // a COPY INTO ledger still naming files whose rows the rewind
    // removed would silently refuse to re-land them. Cleared BEFORE the
    // publish — a crash after the clear merely re-considers landing
    // files (key-idempotent), where the reverse order's crash window
    // resurrects the stale-ledger bug.
    CopyInto.clearLedger(spark, table)
    // pin BEFORE publishing the ref (Clone.shallow's ordering argument:
    // an orphaned pin blocks reclaim until vacuum GC; a missing pin
    // breaks reads silently)
    Clone.pin(spark, dataDir, table)
    Versioned.publishFrom(spark, table, live) { dir =>
      val fd = fs(spark, dir)
      fd.mkdirs(new Path(dir))
      // a zero-copy-merge target keeps its changeset-sized appends in its
      // OWN version dir — byte-copy them forward (their rows are part of
      // the restored snapshot; _ref names only the base dir)
      if (dataDir != tgtVDir)
        Versioned.dataFilePaths(spark, tgtVDir).map(new Path(_)).foreach { p =>
          require(FileUtil.copy(f, p, fd, new Path(dir, p.getName),
            false, conf), s"append carry failed: $p")
        }
      val out = fd.create(new Path(s"$dir/_ref"), true)
      try out.write(dataDir.getBytes(StandardCharsets.UTF_8))
      finally out.close()
      // the target's deletion vector is part of its content
      val dv = new Path(Dv.dvDir(tgtVDir))
      if (f.exists(dv))
        require(FileUtil.copy(f, dv, fd, new Path(Dv.dvDir(dir)),
          false, conf), s"deletion-vector carry failed: $dv")
      // replay-dedup watermark rewinds with the content
      val tag = new Path(s"$tgtVDir/_cdc_batch")
      if (f.exists(tag))
        FileUtil.copy(f, tag, fd, new Path(s"$dir/_cdc_batch"), false,
          true, conf)
      // the target's OWN schema marker (an Evolve overlay) is part of
      // its content — carry it so the restored snapshot keeps the
      // EXTENDED schema (Versioned.schemaMarkerAt resolves it first)
      val sm = new Path(s"$tgtVDir/_table_schema")
      if (f.exists(sm))
        FileUtil.copy(f, sm, fd, new Path(s"$dir/_table_schema"),
          false, true, conf)
      // the target's column mapping (a rename overlay) rewinds with it
      Versioned.carryColumnMapping(f, tgtVDir, fd, dir, conf)
      // wholesale replace: batch feed readers reject on the break
      // marker, raw streaming tails get the poison row — never a
      // silent skip (Cdf.recordBreak's contract)
      val schema = Versioned.readSchemaMarker(f, tgtVDir)
        .getOrElse(Versioned.schemaOf(spark, dataDir))
      Cdf.recordBreak(spark, dir, schema)
    }
  }
}
