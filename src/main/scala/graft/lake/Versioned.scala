package graft.lake

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Versioned table publishes — the "poor-man's table format": every publish
 * writes a COMPLETE new version directory (`v=N/`), then atomically swaps a
 * one-line manifest pointing at it. Readers resolve the manifest first, so
 * they only ever see fully-written snapshots — no partial reads during a
 * republish (the failure mode of in-place `mode("overwrite")` on a live
 * table) — and any historical version stays readable until vacuumed
 * (time travel).
 *
 * Commit protocol (round 14 — optimistic concurrency): a writer BUILDS
 * into a private hidden staging dir (`.stage-<uuid>`, completion marker
 * `_commit_ts` inside), then CLAIMS its version number by
 * `create("_claims/<N>", overwrite = false)` — namenode-atomic on HDFS, a
 * conditional PUT on S3; the local FS's is exists-then-create, so
 * same-JVM claimants additionally serialize on a per-table lock and a
 * cross-process local-FS race is caught by the move-into backstop in the
 * commit step (surfaced as the retryable conflict) — and only the claim
 * holder renames the stage to `v=N`. The rename delivers a COMPLETE dir
 * (marker already inside), so the commit point is one atomic metadata op
 * and readers never see a half-published version. The `_manifest` is now
 * a POINTER CACHE: updated best-effort after each commit (monotone-
 * guarded), while [[currentVersion]] probes FORWARD from it through
 * committed `v=N+1` dirs — claim exclusivity plus no-skip numbering keep
 * versions contiguous, so the probe is sound and a crash between rename
 * and pointer update costs readers one extra existence check, never a
 * wrong answer. The tmp/bak swap and [[recover]] survive for the cache
 * file itself.
 *
 * Concurrency contract: ANY number of concurrent writers. Blind publishes
 * ([[publish]]/[[publishWith]]) retry internally on a taken version —
 * their content is version-independent, so the staged data re-claims the
 * next number without a rebuild. DERIVED publishes ([[publishFrom]] —
 * merge/purge/compact/cluster/view refresh) claim exactly `base + 1` and
 * throw [[ConcurrentWriteException]] when it is taken: committing the
 * derivation under a higher number would silently drop the competitor's
 * changes (the lost update OCC exists to prevent). Their public entry
 * points re-derive-and-retry ([[withWriteRetry]]) — first-committer-wins
 * serializability, Delta's commit semantics on this layout. A crash
 * BETWEEN claim and rename orphans the claim and blocks that number:
 * writers fail loudly toward [[healClaims]] (the claim-layer [[recover]];
 * also run by [[vacuum]]) rather than guess whether the claimant is
 * alive. Maintenance ops (vacuum/healClaims/recover) remain exclusive —
 * run them with no writers active.
 *
 * Scale posture: the pointer cache is one small file read once per query
 * plan (+1 existence probe when a competitor's pointer update is in
 * flight); data paths are immutable-once-published, so caches and
 * speculative re-reads stay consistent by construction.
 */
object Versioned {

  /** A derived publish lost the race for `base + 1`: the table moved
    * under the writer. `orphaned = false` is PLAIN CONTENTION (a
    * competitor committed — re-derive from the new live version and
    * retry; [[withWriteRetry]] does exactly that for the DML entry
    * points). `orphaned = true` means the number's claim is older than
    * the liveness grace with no committed dir — a claimant crashed
    * between claim and rename, and the number stays blocked until
    * [[healClaims]] (retrying cannot resolve it). */
  final class ConcurrentWriteException(table: String, version: Long,
                                       val orphaned: Boolean = false,
                                       val txnPending: Boolean = false)
    extends RuntimeException(
      if (txnPending)
        s"version $version of $table belongs to a cross-table " +
          "transaction still PENDING past the txn grace " +
          s"(graft.txn.graceMs = ${Txn.txnGraceMs} ms) — either a live " +
          "txn running longer than the grace (raise it) or a claimant " +
          "crashed before its commit flip; run Versioned.healClaims " +
          "with no writers active to adjudicate, then retry"
      else if (orphaned)
        s"the claim for version $version of $table is ORPHANED (older " +
          "than the liveness grace with no committed dir — a claimant " +
          "crashed between claim and rename); run Versioned.healClaims " +
          "with no writers active, then retry"
      else
        s"version $version of $table was committed by a concurrent " +
          "writer (plain write contention); re-derive from the new live " +
          "version and retry — Versioned.withWriteRetry does this")

  /** Re-run `op` on [[ConcurrentWriteException]] — the rebase loop for
    * derived DML (each attempt re-reads the live version, so re-running
    * IS the rebase). A small randomized backoff de-synchronizes herding
    * writers (two retriers re-colliding every round otherwise burn
    * attempts in lockstep). Gives up after `attempts`; an ORPHANED
    * claim is rethrown immediately — it never resolves by retrying,
    * only [[healClaims]] clears it. */
  def withWriteRetry[T](attempts: Int = 10)(op: => T): T = {
    var tried = 0
    while (true) {
      try return op
      catch {
        case e: ConcurrentWriteException =>
          // neither resolves by retrying: an orphan blocks its number
          // until healClaims, and a txn-pending timeout already WAITED
          // the full grace inside the attempt
          if (e.orphaned || e.txnPending) throw e
          tried += 1
          if (tried >= attempts) throw e
          Thread.sleep(20L * tried + java.util.concurrent.ThreadLocalRandom
            .current().nextLong(80L))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** How long an uncommitted claim is presumed LIVE (its holder
    * mid-rename) before [[commitStage]] adjudicates it orphaned. On an
    * object store a rename-as-copy of a large staged version can run
    * minutes — size the grace to the slowest expected commit rename,
    * via system property `graft.occ.claimGraceMs` (default 10 s; the
    * old fixed 10×50 ms poll misread any >500 ms rename as a crash). */
  private[lake] def claimGraceMs: Long =
    sys.props.get("graft.occ.claimGraceMs").flatMap(_.toLongOption)
      .getOrElse(10000L)

  private def fs(spark: SparkSession, table: String): FileSystem =
    new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifest(table: String) = new Path(s"$table/_manifest")
  private def tmp(table: String) = new Path(s"$table/_manifest.tmp")
  private def bak(table: String) = new Path(s"$table/_manifest.bak")
  private def claim(table: String, v: Long) =
    new Path(s"$table/_claims/$v")

  /** Read a small metadata file to EOF as a trimmed UTF-8 string; None when
    * absent or empty. The ONE reader every pointer file goes through
    * (manifest, `_ref`, `_commit_ts`, clone pins, `_cdc_batch` via
    * [[Upsert]]): a fixed-size buffer would silently truncate a long value
    * and a single `in.read()` is a short-read hazard on FSDataInputStream. */
  private[graft] def readSmallFile(f: FileSystem, p: Path): Option[String] =
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try {
        val buf = new java.io.ByteArrayOutputStream(256)
        val chunk = new Array[Byte](4096)
        var r = in.read(chunk)
        while (r > 0) { buf.write(chunk, 0, r); r = in.read(chunk) }
        val s = new String(buf.toByteArray, StandardCharsets.UTF_8).trim
        if (s.isEmpty) None else Some(s)
      } finally in.close()
    }

  // Pointer-file read, resilient to the LOCAL checksum FS's non-atomic
  // file+crc rename pair: a reader racing a pointer update can observe a
  // fresh `_manifest` beside a stale `.crc` for a moment — retry briefly,
  // then treat as unreadable (bak fallback / probe-forward cover it; the
  // pointer is a cache). HDFS/S3 have no crc sidecars — local-FS-only
  // hazard. FileNotFoundException covers the OTHER race: updatePointer's
  // manifest→bak rename can land between readSmallFile's exists check and
  // its open (pointerLock only serializes same-JVM writers; cross-process
  // swaps and reader threads hit this window on every commit) — same
  // treatment, the swap completes in a beat or the bak/probe path covers
  // it. A non-numeric husk also reads as unreadable (recover() heals).
  private def readVersionFile(f: FileSystem, p: Path): Option[Long] = {
    var attempts = 3
    while (attempts > 0) {
      try return readSmallFile(f, p).flatMap(_.toLongOption)
      catch {
        case _: org.apache.hadoop.fs.ChecksumException |
             _: java.io.FileNotFoundException =>
          attempts -= 1
          if (attempts > 0) Thread.sleep(10)
      }
    }
    None
  }

  // serialize same-JVM pointer-cache updates (a Spark driver's concurrent
  // writers): the tmp/bak/promote dance interleaved from two threads can
  // strand a stale crc sidecar on the local FS. Cross-process writers are
  // covered by the commit protocol itself (the pointer is only a cache).
  // Entries are evicted by [[vacuum]] (exclusive maintenance — no writer
  // can be holding the lock), so a long-lived driver touching many
  // ephemeral tables doesn't accumulate them forever; clearing outside
  // that exclusivity would hand two live writers different lock objects.
  private val pointerLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def pointerLock(f: FileSystem, table: String): Object =
    pointerLocks.computeIfAbsent(
      f.makeQualified(new Path(table)).toString, _ => new Object)
  private[lake] def pointerLockFor(f: FileSystem, table: String): Object =
    pointerLock(f, table)

  /** The live version: the pointer cache (manifest, falling back
    * read-only to the bak a crashed swap may have left, then to the
    * `_checkpoint`'s version floor), probed FORWARD through committed
    * `v=N+1` dirs — a commit whose pointer update was lost (crash,
    * racing writers) is still found, because claim exclusivity + no-skip
    * numbering keep committed versions contiguous. When NO pointer is
    * readable at all, a committed `v=1` still seeds the probe: the very
    * first publish can crash between its rename and the first pointer
    * write, and that committed-but-unpointed version must be found, not
    * reported as "never published". None only when truly never
    * published. */
  def currentVersion(spark: SparkSession, table: String): Option[Long] = {
    val f = fs(spark, table)
    readVersionFile(f, manifest(table))
      .orElse(readVersionFile(f, bak(table)))
      .orElse(Checkpoint.read(f, table).map(_.version))
      .orElse(
        if (f.exists(new Path(s"$table/v=1/_commit_ts"))) Some(1L) else None)
      .map { base =>
        var v = base
        // a dir whose _txn marker is unresolved-PENDING is NOT committed
        // (a cross-table txn mid-flight or crashed pre-flip): the probe
        // stops before it — except for the OWNING thread's txn, which
        // reads its own writes. Markers exist only between a txn
        // participant's rename and its finalize, so the extra resolve is
        // confined to that window.
        while (f.exists(new Path(s"$table/v=${v + 1}/_commit_ts")) &&
               Txn.visible(f, s"$table/v=${v + 1}")) v += 1
        v
      }
  }

  /** Finish an interrupted swap: promote the bak back to live. Write-path
    * only (publish calls it first); see the concurrency contract above.
    * The trigger is an UNREADABLE manifest (absent, empty, or truncated —
    * the rename-without-fsync crash can leave a zero-byte husk), not mere
    * absence: a husk that shadowed a live bak would otherwise restart
    * versioning at 1 and destroy the only good pointer. */
  def recover(spark: SparkSession, table: String): Option[Long] = {
    val f = fs(spark, table)
    pointerLock(f, table).synchronized {
      if (readVersionFile(f, manifest(table)).isEmpty &&
          f.exists(bak(table))) {
        f.delete(manifest(table), false) // drop the unreadable husk, if any
        f.rename(bak(table), manifest(table))
      }
      readVersionFile(f, manifest(table))
    }
  }

  /** All published version dirs, ascending (includes pre-vacuum history). */
  def versions(spark: SparkSession, table: String): Seq[Long] = {
    val f = fs(spark, table)
    val root = new Path(table)
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .map(_.getPath.getName.stripPrefix("v=").toLong)
      .sorted
  }

  /** Publish `df` as the next version; returns the new version number.
    * The data dir is complete before the commit exposes it. Retries the
    * rare transient conflict (a competitor mid-commit) by rebuilding.
    * Gated by the table's registered [[Constraints]] (one audit pass,
    * no-op without any). */
  def publish(df: DataFrame, table: String): Long = {
    Constraints.enforce(df.sparkSession, table, df, "publish")
    withWriteRetry() {
      publishWith(df.sparkSession, table) { dir =>
        df.write.mode("overwrite").parquet(dir)
        // a full publish is a wholesale replace: poison the change feed
        // (batch readers reject on the marker, streaming tails get the
        // break row instead of silently skipping the version)
        Cdf.recordBreak(df.sparkSession, dir, df.schema)
      }
    }
  }

  /** Publish a version whose data dir is COMPOSED by `build` (e.g.
    * [[Forget]]'s mix of byte-copied untouched files and rewritten
    * affected files) rather than written from one DataFrame. `build`
    * receives the new (staged) dir path and must leave it complete; only
    * then does the claim + rename expose it. BLIND-publish semantics: the
    * content must not depend on the live version — on a taken number the
    * SAME staged data re-claims the next one (no rebuild). Derived
    * content goes through [[publishFrom]]. */
  def publishWith(spark: SparkSession, table: String)
                 (build: String => Unit): Long =
    staged(spark, table, build) { (f, stage) =>
      recover(spark, table) // heal a crashed pointer swap (write path only)
      // Double pointer loss (manifest AND bak unreadable) with version
      // dirs still on disk must not rewind the counter to 1 — that would
      // overwrite v=1, which versions()/time travel still expose. Seed
      // past the highest dir instead.
      var next = currentVersion(spark, table)
        .orElse(versions(spark, table).lastOption).getOrElse(0L) + 1
      // opportunistic finalize of a crashed txn's committed-but-staged
      // feed sidecars in the recent window (see [[Txn.tidy]]) — bounds
      // the streaming-feed gap to one subsequent commit, not a manual heal
      Txn.tidy(f, table, next - 1)
      var attempts = 0
      while (true) {
        if (commitStage(f, table, stage, next)) return next
        // taken: by a COMMITTED competitor (re-read live, go past it) —
        // never by an orphaned claim, which commitStage throws on
        attempts += 1
        require(attempts < 1024, s"publish livelock on $table at v$next")
        next = math.max(next + 1,
          currentVersion(spark, table).getOrElse(0L) + 1)
      }
      throw new IllegalStateException("unreachable")
    }

  /** Publish a version DERIVED from `base` (a merge/purge/compact/cluster
    * computed against the live version the caller read): claims exactly
    * `base + 1`, throwing [[ConcurrentWriteException]] when it is taken —
    * committing under a higher number would silently drop the
    * competitor's changes. Entry points wrap the whole derivation in
    * [[withWriteRetry]], so a conflict re-derives against the new live
    * version (first-committer-wins serializability). */
  def publishFrom(spark: SparkSession, table: String, base: Long)
                 (build: String => Unit): Long =
    publishFromRebasing(spark, table, base)(build)((_, _) => false)

  /** [[publishFrom]] with a REBASE hook — Delta's file-level conflict
    * check on this layout: when `base + 1` is already committed by a
    * competitor, `rebase(competitorVersion, stageDir)` may PATCH the
    * staged dir so it is a valid derivation of the competitor's version
    * (byte-level file swaps — no re-derivation) and return true to
    * re-attempt at the next number; returning false falls back to
    * [[ConcurrentWriteException]] and the caller's re-derive loop. The
    * hook owns the safety argument (disjointness of touched files/keys —
    * see [[Upsert]]); this method just drives claim attempts up the
    * version chain, one rebase per committed competitor. */
  def publishFromRebasing(spark: SparkSession, table: String, base: Long)
                         (build: String => Unit)
                         (rebase: (Long, String) => Boolean): Long =
    staged(spark, table, build) { (f, stage) =>
      recover(spark, table)
      Txn.tidy(f, table, base) // see publishWith — same write-path tidy
      var b = base
      while (true) {
        if (commitStage(f, table, stage, b + 1)) return b + 1
        if (!rebase(b + 1, stage.toString))
          throw new ConcurrentWriteException(table, b + 1)
        b += 1
      }
      throw new IllegalStateException("unreachable")
    }

  /** File-level record of what a file-targeted DML commit did to its base
    * version's data files — the conflict-check input for [[Upsert]]'s
    * rebase: `base` (the version derived from), `removed` (base data
    * files NOT carried into this version: the rewritten-away admitted
    * set) and `added` (fresh files this commit wrote). Written by
    * the rewrite commit [[Upsert.applyChanges]] (merges and
    * [[Forget.purge]]) inside the version dir (atomic with
    * the commit rename); absent on blind publishes, layout maintenance
    * and DV versions — which therefore never rebase over. */
  private[lake] final case class CommitInfo(base: Long,
                                            removed: Set[String],
                                            added: Set[String])

  private[lake] def writeCommitInfo(f: FileSystem, dir: String,
                                    info: CommitInfo): Unit = {
    val body = (s"base ${info.base}" +:
      (info.removed.toSeq.sorted.map("r " + _) ++
        info.added.toSeq.sorted.map("a " + _))).mkString("\n")
    val out = f.create(new Path(s"$dir/_commit_info"), true)
    try out.write(body.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  private[lake] def readCommitInfo(f: FileSystem,
                                   dir: String): Option[CommitInfo] =
    readSmallFile(f, new Path(s"$dir/_commit_info")).flatMap { body =>
      val lines = body.linesIterator.toSeq
      lines.headOption.filter(_.startsWith("base "))
        .flatMap(_.stripPrefix("base ").toLongOption).map { base =>
          CommitInfo(base,
            lines.collect { case l if l.startsWith("r ") => l.drop(2) }.toSet,
            lines.collect { case l if l.startsWith("a ") => l.drop(2) }.toSet)
        }
    }

  // build into a private hidden stage dir, hand it to the commit logic,
  // clean the stage on any failure path (success renames it away)
  private def staged(spark: SparkSession, table: String,
                     build: String => Unit)
                    (commit: (FileSystem, Path) => Long): Long = {
    val f = fs(spark, table)
    val stage =
      new Path(s"$table/.stage-${java.util.UUID.randomUUID.toString}")
    try {
      build(stage.toString)
      commit(f, stage)
    } finally {
      if (f.exists(stage)) { f.delete(stage, true); () }
    }
  }

  /** One commit attempt of a COMPLETE stage dir as `v=next`. True = won.
    * False = `next` is committed by a competitor (blind publishes move
    * on). Throws [[ConcurrentWriteException]] on an ORPHANED claim (claim
    * file without a committed dir — a claimant crashed mid-commit, or is
    * mid-rename right now): no-skip numbering keeps versions contiguous,
    * so the number stays blocked until [[healClaims]]. */
  private def commitStage(f: FileSystem, table: String, stage: Path,
                          next: Long): Boolean = {
    // commit timestamp INSIDE the stage (refreshed per attempt so commit
    // times track commit order, not stage-build order): the rename below
    // delivers the version dir atomically COMPLETE — marker included
    val ts = f.create(new Path(stage, "_commit_ts"), true)
    try ts.write(System.currentTimeMillis().toString
      .getBytes(StandardCharsets.UTF_8))
    finally ts.close()
    val dest = new Path(s"$table/v=$next")
    val committed = new Path(dest, "_commit_ts")
    // already committed under this number (its claim may have been pruned
    // by a later vacuum/healClaims): plain conflict, do NOT claim — a
    // "won" claim here would rename INTO the committed dir. A dir whose
    // _txn marker is unresolved-PENDING is a cross-table txn mid-flight:
    // wait for its resolution — flip makes the number stand (plain
    // conflict), abort frees it (claimable again).
    if (f.exists(committed)) Txn.awaitResolution(f, dest.toString) match {
      case Txn.Visible => return false
      case Txn.Gone => () // txn aborted; the number is claimable
      case Txn.StillPending =>
        throw new ConcurrentWriteException(table, next, txnPending = true)
    }
    // same-JVM claimants serialize the CLAIM on the table lock: HDFS
    // create-exclusive is namenode-atomic, but the LOCAL FS's is
    // exists-then-create — two threads can both "win" the TOCTOU window.
    // Only the create itself needs the lock; a same-JVM competitor that
    // won it has already left the critical section, so the lost-race
    // polling below runs UNLOCKED (sleeping under the lock would stall
    // every other writer on the table for the full wait).
    val claimed = pointerLock(f, table).synchronized {
      try {
        val out = f.create(claim(table, next), false) // atomic-exclusive
        out.close()
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
             _: java.nio.file.FileAlreadyExistsException => false
      }
    }
    if (!claimed) {
      // The claimant is either committed, mid-rename, or dead. Adjudicate
      // on the CLAIM FILE'S AGE, not a fixed poll: a live committer whose
      // stage→dest rename runs long (an object store's rename-as-copy of
      // a large staged version) keeps a young claim and is waited out up
      // to [[claimGraceMs]]; a claim older than the grace with no
      // committed dir is an orphan — blocked loudly toward healClaims.
      while (true) {
        if (f.exists(committed)) Txn.awaitResolution(f, dest.toString) match {
          case Txn.Visible => return false
          case Txn.Gone => () // txn aborted; keep polling the claim
          case Txn.StillPending =>
            throw new ConcurrentWriteException(table, next,
              txnPending = true)
        }
        val age =
          try System.currentTimeMillis() -
            f.getFileStatus(claim(table, next)).getModificationTime
          catch {
            // claim vanished without a commit (a healClaims raced us):
            // surface as plain contention — the retry wrapper re-derives
            // and the number is claimable again
            case _: java.io.FileNotFoundException => -1L
          }
        if (age < 0) throw new ConcurrentWriteException(table, next)
        if (age > claimGraceMs)
          throw new ConcurrentWriteException(table, next, orphaned = true)
        Thread.sleep(25)
      }
    }
    // we own v=next. A pre-OCC crash can have left a half-built dir under
    // this number (never exposed — its publish died before the swap):
    // clear it so the rename lands clean instead of moving INTO it.
    if (f.exists(dest) && !f.exists(committed))
      f.delete(dest, true)
    // active cross-table txn: list this participant in the txn record and
    // plant the _txn marker BEFORE the rename (delivered atomically with
    // the data), so a crash after the rename is always adjudicable and
    // the version stays invisible until the txn's one commit flip
    val txn = Txn.current
    txn.foreach(ctx => Txn.prepare(ctx, f, table, next, stage))
    require(f.rename(stage, dest), s"commit rename failed: $stage -> $dest")
    // local-FS/HDFS rename moves INTO an existing dest dir instead of
    // failing; under claim exclusivity dest cannot exist, but verify — a
    // silent move-into would corrupt the competitor's committed version.
    // Surfaced as the RETRYABLE conflict it is (the stage is consumed;
    // the withWriteRetry wrappers re-derive and re-stage).
    val movedInto = new Path(dest, stage.getName)
    if (f.exists(movedInto)) {
      f.delete(movedInto, true) // un-pollute the winner's dir
      throw new ConcurrentWriteException(table, next)
    }
    txn match {
      case Some(ctx) =>
        // pointer + checkpoint defer to the txn's commit flip — the
        // cache must never point at a pending-invisible version
        Txn.registered(ctx, f, table, next)
      case None =>
        updatePointer(f, table, next)
        Checkpoint.maybeWrite(f, table, next) // every Nth commit
    }
    true
  }

  // the pointer file is a CACHE (readers probe forward): update it
  // best-effort with a monotone guard, never fail a committed publish
  // over it
  /** [[Txn]]'s finalize advances pointer caches after its commit flip. */
  private[lake] def pointerUpdate(f: FileSystem, table: String,
                                  next: Long): Unit =
    updatePointer(f, table, next)

  private def updatePointer(f: FileSystem, table: String,
                            next: Long): Unit =
    pointerLock(f, table).synchronized {
      try {
        if (readVersionFile(f, manifest(table)).exists(_ >= next)) return
        val out = f.create(tmp(table), true)
        try out.write(next.toString.getBytes(StandardCharsets.UTF_8))
        finally out.close()
        if (f.exists(manifest(table))) {
          f.delete(bak(table), false)
          f.rename(manifest(table), bak(table))
        }
        if (!f.rename(tmp(table), manifest(table)))
          f.delete(tmp(table), false) // competitor promoted first — fine
        f.delete(bak(table), false)
        ()
      } catch { case _: java.io.IOException => () }
    }

  /** Claim-layer [[recover]]: drop every `_claims/` entry. Any claim is
    * either SERVED (its version dir committed — the claim only serializes
    * the commit) or ORPHANED by a crash between claim and rename; with no
    * writer active both are safe to clear, and orphans must be, or their
    * number blocks writers forever. EXCLUSIVE maintenance — run with no
    * writers active (a live claimant healed away would race its own
    * commit; the move-into verify in the commit path catches even that,
    * loudly). Also run by [[vacuum]]. Returns the number of claims
    * cleared. */
  def healClaims(spark: SparkSession, table: String): Int = {
    require(Txn.current.isEmpty,
      "healClaims inside an active cross-table transaction would " +
        "adjudicate the txn's own pending versions as crashed — run " +
        "maintenance outside the txn")
    // adjudicate cross-table txns FIRST ([[Txn.heal]]): a crashed txn's
    // pending dirs must abort (or its committed flip finalize) before the
    // claims clear, or the dirs would block the probe forever while their
    // numbers became claimable — the same exclusive-maintenance contract
    Txn.heal(spark, table)
    val f = fs(spark, table)
    val dir = new Path(s"$table/_claims")
    if (!f.exists(dir)) return 0
    val n = f.listStatus(dir).length
    f.delete(dir, true)
    n
  }

  /** Read the live snapshot. */
  def read(spark: SparkSession, table: String): DataFrame = {
    val v = currentVersion(spark, table).getOrElse(
      throw new IllegalStateException(s"no published version at $table"))
    readVersion(spark, table, v)
  }

  /** Time travel: read a specific published version — under the version's
    * schema marker when it carries one (see [[readSchemaMarker]]), minus
    * the version's deletion vector when it carries one ([[Dv]]): a
    * zero-copy purge's version reads its shared data dir through a
    * broadcast anti-join on the parquet metadata columns, so EVERY
    * Versioned reader (live reads, time travel, diff, views, SQL) sees
    * deletes without any file rewrite. A ref version that ALSO carries
    * its own `part-` files (a zero-copy [[Dv.applyCdc]] merge: base dir
    * untouched, updated/inserted rows appended beside the vector) scans
    * the union of both, under the base dir's schema discipline. */
  def readVersion(spark: SparkSession, table: String, v: Long): DataFrame = {
    val own = s"$table/v=$v"
    // explicit version reads (time travel) must not serve a version whose
    // cross-table txn has not committed — that would be a dirty read of a
    // flip that may never happen
    require(Txn.visible(fs(spark, table), own),
      s"version $v of $table belongs to an uncommitted cross-table " +
        "transaction (pending or crashed pre-flip) — not readable; if no " +
        "txn is live, run Versioned.healClaims to adjudicate")
    val data = dataDir(spark, table, v)
    // a renamed table's mapping: files stay under PHYSICAL names; the
    // scan reads the physical schema and the logical rename is applied
    // AFTER the deletion-vector anti-join (applyVector needs the scan's
    // `_metadata` columns, which a projection would sever)
    val mapping = readColumnMapping(fs(spark, own), own)
      .getOrElse(Map.empty[String, String])
    val df =
      if (data == own) readDataDir(spark, own)
      else {
        // a ref version's OWN `_table_schema` marker (a metadata-only
        // [[Evolve.addColumns]] overlay) EXTENDS the base dir's schema —
        // it wins; the base data dir's marker otherwise
        val ownMarker = readSchemaMarker(fs(spark, own), own)
        val ownParts = dataFilePaths(spark, own)
        ownMarker match {
          case Some(s) =>
            spark.read.schema(physicalSchema(s, mapping))
              .parquet(dataFilePaths(spark, data) ++ ownParts: _*)
          case None =>
            if (ownParts.isEmpty) readDataDir(spark, data)
            else readFiles(spark, data, dataFilePaths(spark, data) ++ ownParts)
        }
      }
    val vectored = Dv.applyVector(spark, table, v, df)
    if (mapping.isEmpty) vectored
    else {
      val logical = schemaMarkerAt(spark, table, v).getOrElse(
        throw new IllegalStateException(
          s"$table v$v carries a _column_mapping but no _table_schema " +
            "marker — the mapping cannot resolve; the version dir is " +
            "corrupt"))
      vectored.select(logical.fields.toSeq.map { fd =>
        org.apache.spark.sql.functions
          .col(s"`${mapping.getOrElse(fd.name, fd.name)}`").as(fd.name)
      }: _*)
    }
  }

  /** Version-aware schema-marker resolution: version `v`'s OWN
    * `_table_schema` (a metadata-only [[Evolve.addColumns]] overlay
    * publishes a ref version whose own marker EXTENDS the base data
    * dir's) wins over the resolved data dir's marker. */
  private[graft] def schemaMarkerAt(
      spark: SparkSession, table: String,
      v: Long): Option[org.apache.spark.sql.types.StructType] = {
    val f = fs(spark, table)
    readSchemaMarker(f, s"$table/v=$v")
      .orElse(readSchemaMarker(f, dataDir(spark, table, v)))
  }

  /** The authoritative schema of version `v`: the version-aware marker
    * ([[schemaMarkerAt]]), parquet footer inference over the resolved
    * data dir when no marker exists (an unevolved table — all files
    * agree). */
  private[graft] def schemaAt(spark: SparkSession, table: String,
      v: Long): org.apache.spark.sql.types.StructType =
    schemaMarkerAt(spark, table, v)
      .getOrElse(schemaOf(spark, dataDir(spark, table, v)))

  /** The schema of a data dir with no Spark job: its `_table_schema`
    * marker when present ([[readSchemaMarker]]), otherwise the footer of
    * the one file Spark's inference would pick, read on the driver
    * ([[filesSchema]]). Every marker-or-inference read of the lake goes
    * through here. */
  private[graft] def schemaOf(
      spark: SparkSession, dir: String): org.apache.spark.sql.types.StructType =
    readSchemaMarker(fs(spark, dir), dir).getOrElse {
      val f = fs(spark, dir)
      val top = if (f.exists(new Path(dir))) f.listStatus(new Path(dir)).toSeq
        else Seq.empty
      val visible = top.filterNot { s =>
        val n = s.getPath.getName; n.startsWith("_") || n.startsWith(".") }
      // a partitioned tree or an empty dir: Spark's own inference
      if (visible.isEmpty || visible.exists(_.isDirectory))
        spark.read.parquet(dir).schema
      else filesSchema(spark, visible.map(_.getPath.toString))
    }

  /** Footer inference over an explicit file list, as Spark runs it (no
    * schema merging: the first file by path string is the one footer
    * read), but on the driver instead of in a one-task job. */
  private[graft] def filesSchema(
      spark: SparkSession,
      paths: Seq[String]): org.apache.spark.sql.types.StructType = {
    require(paths.nonEmpty, "filesSchema needs at least one path")
    val f = fs(spark, paths.head)
    org.apache.spark.sql.graftbridge.bridge.footerSchema(spark,
      paths.map(p => f.makeQualified(new Path(p))).minBy(_.toString))
  }

  /** `part-` data files of one dir, as full path strings. */
  private[graft] def dataFilePaths(spark: SparkSession,
                                  dir: String): Seq[String] = {
    val f = fs(spark, dir)
    if (!f.exists(new Path(dir))) Seq.empty
    else f.listStatus(new Path(dir)).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
      .map(_.getPath.toString)
  }

  // ------------------------------------------------------- column mapping

  /** The `_column_mapping` sidecar of a version dir: logical column name
    * → PHYSICAL name (the name in the parquet footers), one
    * tab-separated pair per line. Written by [[Evolve.renameColumn]]
    * (Delta's column-mapping "name" mode on this layout: a rename is a
    * metadata overlay — the files keep their original column names
    * forever, and readers resolve logical→physical at scan). Columns
    * absent from the map are identity-mapped. Carried forward by every
    * zero-copy DML ([[Dv]]), [[Restore]], [[Clone.shallow]] and
    * [[Evolve]] overlay; a materialize/compaction REWRITES files under
    * the logical names and drops the mapping (rename baked in). */
  private[graft] def readColumnMapping(
      f: FileSystem, dir: String): Option[Map[String, String]] =
    readSmallFile(f, new Path(s"$dir/_column_mapping")).map {
      _.linesIterator.filter(_.nonEmpty).map { l =>
        val i = l.indexOf('\t')
        require(i > 0, s"malformed _column_mapping line '$l' in $dir")
        l.substring(0, i) -> l.substring(i + 1)
      }.toMap
    }

  private[lake] def writeColumnMapping(
      f: FileSystem, dir: String, m: Map[String, String]): Unit = {
    val out = f.create(new Path(s"$dir/_column_mapping"), true)
    try out.write(m.toSeq.sortBy(_._1)
      .map { case (l, p) => s"$l\t$p" }.mkString("\n")
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Byte-copy `srcDir`'s `_column_mapping` (if any) into `dstDir` — the
    * one carry every zero-copy publish over a renamed table shares. */
  private[lake] def carryColumnMapping(
      fSrc: FileSystem, srcDir: String,
      fDst: FileSystem, dstDir: String,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    val m = new Path(s"$srcDir/_column_mapping")
    if (fSrc.exists(m))
      org.apache.hadoop.fs.FileUtil.copy(fSrc, m, fDst,
        new Path(s"$dstDir/_column_mapping"), false, true, conf)
    ()
  }

  /** The schema as the parquet FOOTERS spell it: `logical` with every
    * field renamed through the mapping (identity when absent). */
  private[lake] def physicalSchema(
      logical: org.apache.spark.sql.types.StructType,
      m: Map[String, String]): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      logical.fields.map(f => f.copy(name = m.getOrElse(f.name, f.name))))

  /** Read a version DATA dir, honoring its `_table_schema` marker. Once a
    * table has schema-evolved ([[Upsert]] `evolveSchema=true`), its version
    * dirs hold MIXED parquet schemas — byte-copied pre-evolution files lack
    * the new columns — and a plain `spark.read.parquet` would take ONE
    * file's footer as the dir schema (which file is timing-dependent, so
    * the new columns would appear or vanish at random). The marker pins the
    * authoritative schema; parquet schema-on-read null-fills columns a file
    * lacks, deterministically. */
  private[lake] def readDataDir(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(schemaOf(spark, dir)).parquet(dir)

  /** Read an EXPLICIT file list under `dir`'s `_table_schema` marker when
    * one exists (footer inference otherwise) — the one definition of
    * "marker-aware pruned read" every skipping index (ZOrder boxes, token
    * Blooms, MatView's old-row lookups) shares, so the marker contract
    * evolves in one place. NOTE: [[Upsert]]'s rewrite path deliberately
    * does NOT use this — it reads under the batch's EVOLVED output schema,
    * which may extend the marker. */
  private[lake] def readFiles(spark: SparkSession, dir: String,
                              paths: Seq[String]): DataFrame = {
    require(paths.nonEmpty, "readFiles needs at least one path")
    val schema = readSchemaMarker(fs(spark, dir), dir)
      .getOrElse(filesSchema(spark, paths))
    spark.read.schema(schema).parquet(paths: _*)
  }

  /** The `_table_schema` marker of a version DATA dir: the table's
    * authoritative [[org.apache.spark.sql.types.StructType]] (as Spark
    * schema JSON), written by the first schema-EVOLVING merge and carried
    * forward by every later file-targeted rewrite: the rewrite commit
    * ([[Upsert.applyChanges]], which merges and [[Forget.purge]] share),
    * [[Compact.compactVersion]], and the zero-copy commit's carry. Absent on
    * tables that never evolved — their files all agree, inference is
    * safe. */
  private[lake] def readSchemaMarker(
      f: FileSystem, dir: String): Option[org.apache.spark.sql.types.StructType] =
    readSmallFile(f, new Path(s"$dir/_table_schema")).map(
      org.apache.spark.sql.types.DataType.fromJson(_)
        .asInstanceOf[org.apache.spark.sql.types.StructType])

  private[lake] def writeSchemaMarker(
      f: FileSystem, dir: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val out = f.create(new Path(s"$dir/_table_schema"), true)
    try out.write(schema.json.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The directory a version's DATA actually lives in: the version dir
    * itself, or — for a [[Clone.shallow]] version — the source data dir
    * its `_ref` pointer names. Always one hop: shallow publishes resolve
    * their source through this first, so refs never chain. */
  def dataDir(spark: SparkSession, table: String, v: Long): String = {
    val dir = s"$table/v=$v"
    val f = fs(spark, table)
    readSmallFile(f, new Path(s"$dir/_ref")).getOrElse(dir)
  }

  /** True when version `v` is a shallow-clone REFERENCE (no data of its
    * own) — file-targeted DML must materialize first ([[Clone]]). */
  def isShallowRef(spark: SparkSession, table: String, v: Long): Boolean =
    fs(spark, table).exists(new Path(s"$table/v=$v/_ref"))

  /** Commit timestamps (version → epoch millis) for every EXISTING version
    * that carries a `_commit_ts` marker, ascending by version. Versions
    * published before the marker existed are absent (and so invisible to
    * [[readAsOf]] — documented migration caveat, not a failure). Versions
    * at or below the [[Checkpoint]] floor resolve from ONE checkpoint
    * read; only the uncheckpointed tail opens per-version files — at a
    * 10⁴-version history this is one listing + one small read + a
    * ≤interval-sized tail, not 10⁴ file opens. */
  def commitTimes(spark: SparkSession, table: String): Seq[(Long, Long)] = {
    val f = fs(spark, table)
    val ckpt = Checkpoint.read(f, table)
      .map(_.commitTs).getOrElse(Map.empty[Long, Long])
    // an uncommitted cross-table txn's pending dirs must not resolve as
    // commit times — versionAsOf would hand timestamp travel a version
    // readVersion then rejects. Pending dirs always sit ABOVE the live
    // version (the probe stops before them), so only the tail pays the
    // marker resolve; committed-unfinalized markers at/below live read
    // as visible.
    val live = currentVersion(spark, table).getOrElse(return Seq.empty)
    versions(spark, table)
      .filter(v => v <= live || Txn.visible(f, s"$table/v=$v"))
      .flatMap { v =>
        ckpt.get(v)
          .orElse(readSmallFile(f, new Path(s"$table/v=$v/_commit_ts"))
            .map(_.toLong))
          .map(v -> _)
      }
  }

  /** The newest version committed at or before `tsMillis` — the ONE
    * definition of timestamp resolution ([[readAsOf]] and the SQL
    * surface's `registerAsOfTimestamp` both go through it). Throws when
    * nothing was committed by then (reading "before the table existed" is
    * a caller bug, not an empty frame). */
  def versionAsOf(spark: SparkSession, table: String, tsMillis: Long): Long = {
    val at = commitTimes(spark, table).filter(_._2 <= tsMillis)
    require(at.nonEmpty,
      s"no version of $table committed at or before $tsMillis")
    at.map(_._1).max
  }

  /** Timestamp travel: Delta's `timestampAsOf` read on this layout. */
  def readAsOf(spark: SparkSession, table: String, tsMillis: Long): DataFrame =
    readVersion(spark, table, versionAsOf(spark, table, tsMillis))

  /** Version dirs of THIS table that a registered shallow clone still
    * references (`_clones/` back-pointers, written by [[Clone.shallow]]).
    * Matching is PATH-normalized (`FileSystem.makeQualified` on both the
    * pin target's parent and this table), not raw-string: a trailing
    * slash, `file:` scheme, or relative spelling on either side must not
    * silently unpin a version — that would be exactly the vacuum-breaks-
    * clones hazard the pin exists to close. */
  private[lake] def clonePinnedVersions(spark: SparkSession,
                                        table: String): Set[Long] = {
    val f = fs(spark, table)
    val dir = new Path(s"$table/_clones")
    if (!f.exists(dir)) Set.empty
    else {
      val tableQ = f.makeQualified(new Path(table))
      f.listStatus(dir).toSeq.filter(_.isFile).flatMap { s =>
        readSmallFile(f, s.getPath)
          .map(_.linesIterator.next())
          .flatMap { target =>
            val tp = new Path(target)
            val name = tp.getName
            if (name.startsWith("v=") &&
                f.makeQualified(tp.getParent) == tableQ)
              name.stripPrefix("v=").toLongOption
            else None
          }
      }.toSet
    }
  }

  /** Drop all version dirs older than the live one minus `keep` — EXCEPT
    * versions a registered shallow clone still references
    * ([[Clone.shallow]]'s `_clones/` back-pointers): deleting those would
    * break the clone's reads, the Delta shallow-clone hazard this layout
    * closes. When a DROPPED version of THIS table was itself a shallow
    * ref, its pin at the source releases here — but only once no
    * SURVIVING version still names the same data dir (a materialized-over
    * or re-cloned-over ref keeps older siblings readable until they too
    * vacuum away). Pins therefore live exactly as long as a referencing
    * version exists; [[Clone.detach]] stays the manual cleanup for clones
    * deleted by raw `rm`. */
  /** What [[vacuum]]'s FIRST sweep would drop, without touching anything
    * (SQL `VACUUM t [RETAIN n VERSIONS] DRY RUN`): versions older than
    * live−keep whose dirs no clone pin protects. CONSERVATIVE on chained
    * zero-copy histories: the real vacuum loops to a fixpoint (dropping a
    * ref version releases its pin and can unlock the data version it
    * referenced), so it may reclaim MORE than this plan lists — never
    * less, and never a version this plan omits for a pin that holds. */
  def vacuumPlan(spark: SparkSession, table: String,
                 keep: Int = 1): Seq[Long] = {
    val live = currentVersion(spark, table).getOrElse(return Seq.empty)
    val pinned = clonePinnedVersions(spark, table)
    versions(spark, table).filter(v => v < live - keep && !pinned.contains(v))
  }

  /** TIME-based retention: the versions [[vacuumOlderThan]] would drop.
    * The keep set is Delta's `RETAIN n HOURS` contract on this layout:
    * the LIVE version, every version committed AT/AFTER the cutoff, and
    * the NEWEST version committed before it (the as-of-cutoff anchor —
    * `TIMESTAMP AS OF` any instant inside the window must still
    * resolve). Versions with no `_commit_ts` marker (pre-marker
    * migration) are conservatively KEPT — reclaiming what cannot be
    * dated is how retention policies delete the wrong data. The change
    * feed shares this window by construction: each version's `_changes`
    * sidecar lives INSIDE its version dir, so feed retention == version
    * retention, and a `changesSince` spanning a dropped version rejects
    * toward reseed exactly as for count-based vacuum. */
  def vacuumPlanOlderThan(spark: SparkSession, table: String,
                          cutoffMillis: Long): Seq[Long] = {
    val live = currentVersion(spark, table).getOrElse(return Seq.empty)
    val pinned = clonePinnedVersions(spark, table)
    val times = commitTimes(spark, table).toMap
    val anchor = times.filter(_._2 < cutoffMillis).keys
      .filter(_ <= live) // a pending-tail version cannot anchor travel
      .maxOption.getOrElse(Long.MinValue)
    versions(spark, table).filter { v =>
      v != live && v != anchor && !pinned.contains(v) &&
        times.get(v).exists(_ < cutoffMillis)
    }
  }

  /** [[vacuum]] under the TIME-based criterion of
    * [[vacuumPlanOlderThan]] — Delta's `VACUUM ... RETAIN n HOURS`
    * (resolve `cutoffMillis = now - hours`, callers do the clock
    * arithmetic so specs can pin synthetic histories). Same exclusivity
    * contract, claim heal, pin fixpoint and checkpoint refresh as the
    * count-based form. */
  def vacuumOlderThan(spark: SparkSession, table: String,
                      cutoffMillis: Long): Seq[Long] =
    vacuumCore(spark, table,
      dropped => vacuumPlanOlderThan(spark, table, cutoffMillis)
        .filterNot(dropped.contains).toSet)

  def vacuum(spark: SparkSession, table: String, keep: Int = 1): Seq[Long] = {
    val live = currentVersion(spark, table).getOrElse(return Seq.empty)
    vacuumCore(spark, table, { _ =>
      val pinned = clonePinnedVersions(spark, table)
      versions(spark, table)
        .filter(v => v < live - keep && !pinned.contains(v)).toSet
    })
  }

  // the shared sweep machinery; `candidates(alreadyDropped)` re-evaluates
  // the drop set each sweep (dropping a ref version releases its pin and
  // can unlock the pinned data version it referenced — the fixpoint)
  private def vacuumCore(spark: SparkSession, table: String,
                         candidatesOf: Seq[Long] => Set[Long]): Seq[Long] = {
    require(Txn.current.isEmpty,
      "vacuum inside an active cross-table transaction would heal away " +
        "the txn's own pending versions — run maintenance outside the txn")
    val f = fs(spark, table)
    val live = currentVersion(spark, table).getOrElse(return Seq.empty)
    // vacuum is exclusive maintenance: clear served/orphaned claims and
    // crashed writers' stage dirs alongside the old versions
    healClaims(spark, table)
    f.listStatus(new Path(table)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(".stage-"))
      .foreach(s => f.delete(s.getPath, true))
    def refOf(v: Long): Option[String] =
      readSmallFile(f, new Path(s"$table/v=$v/_ref"))
    def qual(p: String): String = f.makeQualified(new Path(p)).toString
    // garbage-collect stale SELF-pins: a Dv.purge that lost an OCC race
    // after registering its pin leaves a (this-table, own-version-dir)
    // pin no version references. Only vacuum may release it — its
    // exclusivity contract is what makes "no version references this
    // dir" race-free (a live writer could be mid-commit otherwise).
    // Pins registered BY OTHER TABLES (real clones) are never touched.
    locally {
      val clones = new Path(s"$table/_clones")
      if (f.exists(clones)) {
        val tableQ = qual(table)
        val refd = versions(spark, table).flatMap(refOf).map(qual).toSet
        f.listStatus(clones).toSeq.filter(_.isFile).foreach { s =>
          val lines = readSmallFile(f, s.getPath)
            .map(_.linesIterator.toSeq).getOrElse(Seq.empty)
          val selfOwned = lines.lift(1).exists(o => qual(o) == tableQ)
          val target = lines.headOption
          val ownDir = target.exists(t =>
            f.makeQualified(new Path(t)).getParent.toString == tableQ)
          if (selfOwned && ownDir && target.exists(t => !refd.contains(qual(t))))
            f.delete(s.getPath, false)
        }
      }
    }
    // one sweep; looped to a FIXPOINT below, because dropping a ref
    // version releases its pin and can unlock the pinned data version it
    // referenced — the purge→materialize→vacuum(0) compliance sequence
    // must physically reclaim in ONE vacuum, not two. Only versions whose
    // delete actually SUCCEEDED count as dropped (Hadoop delete returns
    // false rather than throwing), both for the returned list and for the
    // pin release — and so the loop terminates even when a dir is stuck.
    def sweep(dropped0: Seq[Long]): Seq[Long] = {
      val candidates = candidatesOf(dropped0).toSeq.sorted
      // refs the candidates hold (on this or other tables' data) —
      // resolve BEFORE deleting (the _ref files are about to go). All
      // sets are compared PATH-QUALIFIED: two refs to the same dir under
      // different spellings (file: scheme vs bare path, from re-clones)
      // must cancel, or the subtraction passes a dir a SURVIVING version
      // still needs to releasePin — whose own qualified content scan
      // would then delete the survivor's pin too, reopening the
      // vacuum-breaks-clones hazard.
      val refs = candidates.flatMap(v => refOf(v).map(v -> _)).toMap
      val dropped = candidates
        .filter(v => f.delete(new Path(s"$table/v=$v"), true))
      val droppedRefs = dropped.flatMap(refs.get).map(r => qual(r) -> r).toMap
      if (droppedRefs.nonEmpty) {
        val survivingRefs =
          versions(spark, table).flatMap(refOf).map(qual).toSet
        (droppedRefs -- survivingRefs).values.foreach(
          Clone.releasePin(spark, _, table))
      }
      dropped
    }
    var all = Seq.empty[Long]
    var more = sweep(all)
    while (more.nonEmpty) { all ++= more; more = sweep(all) }
    // the checkpoint cache must not keep naming vacuumed dirs (its version
    // is a probe-forward FLOOR — a floor at a dropped dir would stall the
    // double-pointer-loss recovery path): rebuild it against what exists.
    // Exclusive-maintenance context also makes this the one safe place to
    // evict the table's pointer-lock entry (no writer can hold it) — a
    // long-lived driver over many ephemeral tables stays bounded.
    Checkpoint.refresh(f, table, live, versions(spark, table))
    pointerLocks.remove(f.makeQualified(new Path(table)).toString)
    all
  }
}
