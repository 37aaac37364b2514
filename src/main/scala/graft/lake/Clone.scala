package graft.lake

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/**
 * Shallow clone of a [[Versioned]] table — Delta's `CLONE ... SHALLOW` on
 * this layout: the clone's published version is a one-file `_ref` POINTER
 * at the source's live data directory, so cloning a 100 TB table costs one
 * metadata write, not a copy. Readers resolve the pointer transparently
 * ([[Versioned.dataDir]]); the clone then versions INDEPENDENTLY — a
 * republish/materialize on the clone writes real data dirs on top and the
 * source never sees it.
 *
 * Contract (the same one Delta's shallow clones carry):
 *  - the pointer names the source's RESOLVED data dir, so cloning a clone
 *    still points at real data — refs never chain;
 *  - a ref version owns no data: file-targeted DML ([[Upsert]],
 *    [[Forget.purge]], [[Compact.compactVersion]]) REJECTS it loudly —
 *    [[materialize]] first (copy-on-write escalation), then merge away;
 *  - a clone PINS its referenced version against the source's vacuum:
 *    [[shallow]] registers a `_clones/` back-pointer at the source, and
 *    [[Versioned.vacuum]] skips pinned version dirs — the Delta
 *    shallow-clone hazard (vacuum breaks clones) closed at the layout
 *    level. Pins live per (clone, referenced dir) for as long as ANY
 *    clone version references that dir — the clone's own
 *    [[Versioned.vacuum]] releases them as ref versions drop; a clone
 *    deleted by raw `rm` leaks its pins until [[detach]] is called
 *    (documented trade: a leaked pin blocks space reclaim loudly, a
 *    missed pin breaks reads silently).
 *
 * Reference provenance: the reference pipeline re-uploads whole day
 * partitions to stage experiments (`s3_loader.py`); a shallow clone is the
 * zero-copy version of that staging story (dev/test sandboxes over prod
 * data, experiment pinning, blue/green cutover).
 */
object Clone {

  // one pin PER (clone, referenced data dir): a clone's HISTORY can hold
  // refs at several source versions (re-clones, materialized-over refs
  // still readable via time travel) and each needs its own protection —
  // a single per-clone pin released on re-clone/materialize would let a
  // source vacuum silently break every non-live ref version of the clone
  private def pinName(dst: String, dataDir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s"$dst\n$dataDir".getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** Publish the source's LIVE snapshot (or, with `asOf`, a specific
    * published version — Delta's `CLONE src VERSION AS OF n`) as the
    * next version of `dst` — zero data movement — and pin the referenced
    * version against the source's vacuum (`_clones/` back-pointer: line
    * 1 the referenced data dir, line 2 the clone path, for diagnostics
    * and [[detach]]'s content match). The pin is written BEFORE the
    * clone publishes: the reverse order leaves a window where a
    * concurrent source vacuum deletes the referenced dir under a
    * just-published clone; a pin orphaned by a crash between the two
    * steps merely blocks reclaim loudly ([[detach]] releases it) — the
    * safe failure direction. Returns the clone's new version. */
  def shallow(spark: SparkSession, src: String, dst: String,
              asOf: Option[Long] = None): Long = {
    val srcV = asOf match {
      case Some(v) =>
        require(Versioned.versions(spark, src).contains(v),
          s"version $v of $src does not exist (never published or " +
            "vacuumed) — cannot clone it")
        v
      case None => Versioned.currentVersion(spark, src).getOrElse(
        throw new IllegalStateException(s"no published version at $src"))
    }
    require(!Dv.hasVector(spark, src, srcV),
      s"$src v$srcV carries a deletion vector — a ref-only clone would " +
        "resurrect the deleted rows; Clone.materialize the source first")
    // resolve through any existing ref so the pointer is always one hop
    val dataDir = Versioned.dataDir(spark, src, srcV)
    require(new Path(dataDir).isAbsolute,
      s"shallow clone needs an absolute source path, got $dataDir")
    // NOTE: a re-clone does NOT release the pins of earlier ref versions —
    // those versions stay time-travel readable until the CLONE's own
    // vacuum drops them, which is also what releases their pins
    // ([[Versioned.vacuum]] calls [[releasePin]] for refs no surviving
    // version names). Re-cloning the same (dst, dataDir) just rewrites
    // the same pin file.
    pin(spark, dataDir, dst)
    val fSrc = new Path(dataDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // version-aware: the source version's OWN marker (an Evolve
    // overlay's EXTENDED schema) wins over the base dir's
    val srcVDir = s"$src/v=$srcV"
    val ownMarker = Versioned.readSchemaMarker(fSrc, srcVDir)
    val schema = ownMarker.getOrElse(Versioned.schemaOf(spark, dataDir))
    Versioned.publishWith(spark, dst) { dir =>
      val fd = new Path(dir).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      fd.mkdirs(new Path(dir))
      val out = fd.create(new Path(s"$dir/_ref"), true)
      try out.write(dataDir.getBytes(StandardCharsets.UTF_8))
      finally out.close()
      // an overlay source's extended schema travels as the clone's own
      // marker (the shared data dir's marker, when any, stays narrower);
      // so does a rename overlay's column mapping — without it the clone
      // would read the PHYSICAL names
      ownMarker.foreach(Versioned.writeSchemaMarker(fd, dir, _))
      Versioned.carryColumnMapping(fSrc, srcVDir, fd, dir,
        spark.sparkContext.hadoopConfiguration)
      Cdf.recordBreak(spark, dir, schema) // a clone seed is a replace
    }
  }

  /** Register `dst`'s pin on `dataDir` at the dir's owning table —
    * write-before-publish (see [[shallow]]'s ordering argument). Shared
    * with [[Dv.purge]], whose ref versions pin their own table's data
    * dir through exactly this mechanism. */
  private[lake] def pin(spark: SparkSession, dataDir: String,
                        dst: String): Unit = {
    val owner = new Path(dataDir).getParent
    val f = owner.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = f.create(
      new Path(s"$owner/_clones/${pinName(dst, dataDir)}"), true)
    try out.write(s"$dataDir\n$dst".getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Release the ONE pin `dst` holds on `refDir` (at refDir's owning
    * table) — called by [[Versioned.vacuum]] when it drops the last clone
    * version referencing that dir. Matches by pin filename AND by content
    * (line 1 the data dir, line 2 the clone path, both path-normalized),
    * so a spelling drift between registration and release still finds it.
    * Safe no-op when none exists. */
  private[lake] def releasePin(spark: SparkSession, refDir: String,
                               dst: String): Unit = {
    val owner = new Path(refDir).getParent
    val f = owner.getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new Path(s"$owner/_clones/${pinName(dst, refDir)}"), false)
    val dir = new Path(s"$owner/_clones")
    if (f.exists(dir)) {
      val dstQ = f.makeQualified(new Path(dst))
      val refQ = f.makeQualified(new Path(refDir))
      f.listStatus(dir).toSeq.filter(_.isFile).foreach { s =>
        val lines = Versioned.readSmallFile(f, s.getPath)
          .map(_.linesIterator.toSeq).getOrElse(Seq.empty)
        if (lines.headOption.exists(p =>
              f.makeQualified(new Path(p)) == refQ) &&
            lines.lift(1).exists(p => f.makeQualified(new Path(p)) == dstQ))
          f.delete(s.getPath, false)
      }
    }
  }

  /** Release EVERY pin `dst` holds at `src` — the hand-cleanup for a
    * clone deleted by raw `rm` (its leaked pins block the source's space
    * reclaim loudly until released — and this works even when the clone
    * dir is already gone, which is exactly the leak case). Matches by the
    * recorded clone path (line 2), path-normalized. Safe no-op when none
    * exists. Do NOT call on a LIVE clone: its ref versions lose their
    * vacuum protection (their pins release naturally when the clone
    * vacuums those versions away). */
  def detach(spark: SparkSession, src: String, dst: String): Unit = {
    val f = new Path(src).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val dir = new Path(s"$src/_clones")
    if (f.exists(dir)) {
      val dstQ = f.makeQualified(new Path(dst))
      f.listStatus(dir).toSeq.filter(_.isFile).foreach { s =>
        val lines = Versioned.readSmallFile(f, s.getPath)
          .map(_.linesIterator.toSeq).getOrElse(Seq.empty)
        if (lines.lift(1).exists(p => f.makeQualified(new Path(p)) == dstQ))
          f.delete(s.getPath, false)
      }
    }
  }

  /** Copy-on-write escalation: republish the clone's live snapshot as
    * REAL data files, after which DML applies. No-op (returns the live
    * version) when already materialized. The source pin is NOT released
    * here: the ref version stays time-travel readable, so its protection
    * must outlive the copy — the pin releases when the clone's own
    * [[Versioned.vacuum]] drops that ref version.
    *
    * LAYOUT-ONLY maintenance, like [[Compact.compactVersion]]: the
    * content is row-identical to the base version, so it records
    * `_changes_none` (feed consumers bridge it, never a break/poison),
    * skips the table-constraint audit (same rows — nothing new to
    * gate), and derives via [[Versioned.publishFrom]] so a concurrent
    * DML commit is never silently shadowed by the copy. */
  def materialize(spark: SparkSession, table: String): Long =
    Versioned.withWriteRetry() {
      val live = Versioned.currentVersion(spark, table).getOrElse(
        throw new IllegalStateException(s"no published version at $table"))
      if (!Versioned.isShallowRef(spark, table, live)) live
      else Versioned.publishFrom(spark, table, live) { dir =>
        Versioned.readVersion(spark, table, live)
          .write.mode("overwrite").parquet(dir)
        val f = new Path(dir).getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        // carry the CDC replay-dedup tag: materialize changes the
        // layout, not the applied-batch watermark (Compact's rule)
        val tag = new Path(s"$table/v=$live/_cdc_batch")
        if (f.exists(tag))
          org.apache.hadoop.fs.FileUtil.copy(f, tag, f,
            new Path(s"$dir/_cdc_batch"), false, true,
            spark.sparkContext.hadoopConfiguration)
        Cdf.recordNone(f, dir) // layout-only: no row changed
      }
    }
}
