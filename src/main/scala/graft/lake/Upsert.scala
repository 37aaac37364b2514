package graft.lake

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * MERGE (CDC apply) over a [[Versioned]] table — the write-side sibling of
 * [[Forget]]: apply a keyed changeset (inserts + updates + deletes) by
 * REWRITING ONLY THE FILES THAT CAN CONTAIN THE CHANGED KEYS, byte-copying
 * every other file, and exposing the merged snapshot in one atomic manifest
 * swap. Completes the lake's DML triad: [[Versioned.publish]] (full
 * snapshot), [[Forget.purge]] (targeted delete), and this (targeted
 * upsert/merge) — the Delta/Iceberg `MERGE INTO` shape over the same open
 * layout. The reference lake is append-only (`s3_loader.py` re-uploads
 * whole day partitions); this is what replaces its "re-extract the whole
 * day to fix one record" story.
 *
 * Pruning: identical to [[Forget]] — a file rewrites only when BOTH
 * available indexes admit some changed key ([[BloomIndex]] sidecars for
 * hash layouts, parquet footer min/max for [[Cluster]]/[[ZOrder]] range
 * layouts; each conservative, so the intersection is safe). An UPDATE key
 * always admits the file that holds it (Bloom has no false negatives), so
 * updates can never be silently dropped as inserts of a duplicate key.
 *
 * Rewrite shape: survivors of the affected files (rows whose key is NOT
 * in the changeset — NULL-key rows always survive; a Long key can never
 * name them) UNION the upsert rows, range-repartitioned and sorted on the
 * key; fresh sidecars for the rewritten files; untouched files and their
 * sidecars transfer as raw byte copies. A pure-insert batch (no admitted
 * files) still publishes: the new rows land in fresh files alongside the
 * byte-copied table.
 *
 * Changeset dial: batches up to `maxDriverKeys` distinct keys (default
 * [[MaxDriverKeysDefault]]) take the DRIVER path — the one changeset
 * summary ([[Changeset]]) hands the keys to the driver for per-file
 * Bloom + stats admission (a CDC trickle: thousands of
 * keys, metadata-sized). A larger batch (a restatement, a bulk backfill)
 * would make that collect a driver OOM and the `isin` survivor filter an
 * expression-tree bomb, so it takes the DISTRIBUTED path instead: touched
 * files are found with one COLUMN-PRUNED scan of the live version joined
 * against the batch keys (Delta MERGE's find-touched-files pass — exact
 * admission, no driver key residency), survivors are anti-joined rather
 * than `isin`-filtered, and the change feed records deletes from the
 * frame. Both paths produce identical tables; the distributed path just
 * pays one key-column scan for admission — the honest cost of a merge
 * that touches a large fraction of a 100 TB table.
 *
 * Idempotence: re-applying the same changeset republishes the affected
 * files with identical ROWS (a new version number, byte-identical data
 * content modulo parquet file naming); the table's data is a fixed point.
 */
object Upsert {

  /** Largest changeset (distinct keys) the driver path handles: 200k keys
    * is ~1.6 MB of longs driver-side and a Bloom-probe loop that still
    * beats a table scan; past it the distributed path wins on both driver
    * memory and plan size. */
  val MaxDriverKeysDefault: Int = 200000

  /** Count of merge DERIVATIONS (admission + rewrite planning) actually
    * executed — instrumentation for the rebase contract: two concurrent
    * disjoint-file merges must cost exactly two derivations (the loser
    * REBASES its staged files instead of re-deriving). Test-facing. */
  private[graft] val derivations = new java.util.concurrent.atomic.AtomicLong

  /** Rebases performed in lieu of a re-derivation (see [[derivations]]). */
  private[graft] val rebases = new java.util.concurrent.atomic.AtomicLong

  private def fs(spark: SparkSession, table: String): FileSystem =
    new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Upsert: each row of `changes` replaces the table row with the same
    * `keyCol` value (update) or is added (insert). `changes` must match
    * the table schema; its keys must be non-null (a NULL key matches
    * nothing) and UNIQUE (two rows for one key would each insert) — both
    * enforced, reject rather than guess. Returns the new live version. */
  def merge(spark: SparkSession, table: String, keyCol: String,
            changes: DataFrame, evolveSchema: Boolean = false,
            maxDriverKeys: Int = MaxDriverKeysDefault,
            insertOnly: Boolean = false): Long = {
    Constraints.enforce(spark, table, changes, "merge")
    // every row an upsert: the changeset summary of an all-"U" batch
    val cs = Changeset.summarize(changes.withColumn(MergeOp, lit("U")),
      keyCol, MergeOp, maxDriverKeys = maxDriverKeys)
    try Versioned.withWriteRetry() { // re-derives from the new live on conflict
      // insert-only contract (SQL INSERT INTO): re-checked INSIDE the
      // retry, against the live version each attempt re-reads — a
      // competitor inserting the same key between attempts must flip
      // this statement into a loud reject, never a silent update
      if (insertOnly) {
        val live = Versioned.read(spark, table)
        val n = changes.join(live, changes(keyCol) === live(keyCol),
          "left_semi").count()
        require(n == 0L,
          s"insert-only merge names $n key(s) that already exist in " +
            s"$table — an insert on a live key is an UPDATE (or a " +
            "MERGE); refusing to guess which was meant")
      }
      applyChanges(spark, table, cs, Some(keyCol), mergeContract = true,
        evolveSchema = evolveSchema, maxDriverKeys = maxDriverKeys)
    } finally cs.release()
  }

  // the op column [[merge]] tags its all-upsert changeset with
  private val MergeOp = "_graft_merge_op"

  /** Full CDC apply: `batch` carries an `opCol` of "I"/"U"/"D"; I and U
    * rows upsert, D rows delete (only their key column is read). One
    * file-targeted pass handles all three — a D and a U on keys in the
    * same file cost one rewrite, not two.
    *
    * BATCH CONTRACT (enforced from the one changeset summary,
    * [[Changeset]]): at most ONE op per key per batch, and no NULL keys.
    * Multiple ops per key have no defined order inside a DataFrame — an
    * I then D for the same key would otherwise silently resurrect the
    * row, and two Us would insert a duplicate. A producer with
    * intra-batch churn reduces first with [[lastPerKey]] (needs a
    * sequence column — that is where the order lives), or hands the
    * sequence to [[graft.streaming.CdcSink]], whose summary reduces and
    * checks in the same query. The summary's keys (within
    * `maxDriverKeys`) drive file admission directly: no further key
    * collect, validation or emptiness probe runs. */
  def applyCdc(spark: SparkSession, table: String, keyCol: String,
               batch: DataFrame, opCol: String = "op",
               batchTag: Option[String] = None,
               evolveSchema: Boolean = false,
               maxDriverKeys: Int = MaxDriverKeysDefault): Long = {
    // a caller-held cache is respected (see Changeset.release)
    val cs = Changeset.summarize(batch, keyCol, opCol,
      maxDriverKeys = maxDriverKeys)
    try applySummarized(spark, table, cs, batchTag, evolveSchema,
      maxDriverKeys)
    finally cs.release()
  }

  /** [[applyCdc]] of an already-summarized changeset — the entry the
    * streaming sink and [[Cdf.sync]] use, so the summary their own
    * reduction built is the only probe of the batch. */
  private[graft] def applySummarized(spark: SparkSession, table: String,
                                     cs: Changeset,
                                     batchTag: Option[String] = None,
                                     evolveSchema: Boolean = false,
                                     maxDriverKeys: Int = MaxDriverKeysDefault)
      : Long = {
    cs.requireCdcContract()
    // table CHECK constraints gate the ADDED rows (deletes exempt) —
    // once per statement, before any version claim
    Constraints.enforce(spark, table, cs.upserts, "applyCdc")
    Versioned.withWriteRetry() { // re-derive from the new live on conflict
      applyChanges(spark, table, cs, Some(cs.keyCol), batchTag = batchTag,
        evolveSchema = evolveSchema, maxDriverKeys = maxDriverKeys)
    }
  }

  /** Reduce an intra-batch-churn CDC frame to the LAST op per key, by
    * `seqCol` (a producer offset / LSN — the only place a batch's op
    * order lives). Determinism contract (enforced): `seqCol` must be
    * non-null and UNIQUE per key — two ops for one key at the same
    * sequence mean the producer's ordering is broken, and row_number
    * would pick an arbitrary winner; reject rather than publish
    * run-dependent table contents. The result satisfies [[applyCdc]]'s
    * one-op-per-key contract; `seqCol` is dropped. */
  def lastPerKey(batch: DataFrame, keyCol: String, seqCol: String,
                 opCol: String = "op",
                 rejectOps: Set[String] = Set.empty): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = batch.agg(
      count(when(col(seqCol).isNull, 1)).as("nullseq"),
      count(when(col(keyCol).isNull, 1)).as("nullkey"),
      count(lit(1)).as("n"),
      countDistinct(col(keyCol), col(seqCol)).as("nks"),
      // poison-op detection rides the SAME validation pass — zero extra
      // jobs on the per-micro-batch hot path ([[graft.streaming
      // .LakeStream.assemble]] passes Set("B"))
      count(when(
        if (rejectOps.isEmpty) lit(false)
        else col(opCol).isin(rejectOps.toSeq: _*), 1)).as("nrej")).head()
    require(v.getLong(4) == 0L,
      s"${v.getLong(4)} feed poison row(s) (op in $rejectOps) — a " +
        "wholesale replace (op B: full publish, clone seed, RESTORE) or " +
        "a schema change (op S: ALTER TABLE ADD/DROP COLUMNS, evolving " +
        "merge) landed mid-stream and a fixed-schema consumer cannot " +
        "represent it; stop this consumer and restart from a fresh " +
        "snapshot/checkpoint (the restart picks up the new schema)")
    Changeset.requireSequenced(keyCol, seqCol, v.getLong(0), v.getLong(1),
      v.getLong(2) - v.getLong(3))
    val w = Window.partitionBy(col(keyCol)).orderBy(col(seqCol).desc)
    batch.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", seqCol)
  }

  /** Read one version dir's `_cdc_batch` tag, to EOF
    * ([[Versioned.readSmallFile]] — a fixed-size buffer would silently
    * truncate a long caller-supplied tag, and a truncated tag never
    * matches on replay, silently defeating the dedup). */
  private def readTag(f: FileSystem, table: String, v: Long): Option[String] =
    Versioned.readSmallFile(f, new Path(s"$table/v=$v/_cdc_batch"))

  /** The `batchTag` the LIVE version was published under, if any — the
    * replay-dedup handle for [[graft.streaming.CdcSink]]: the tag file is
    * written INSIDE the version dir before the manifest swap, so tag and
    * data become visible in the same atomic step. */
  def lastBatchTag(spark: SparkSession, table: String): Option[String] = {
    val f = fs(spark, table)
    Versioned.currentVersion(spark, table).flatMap(readTag(f, table, _))
  }

  /** Batch tags across the most recent `lookback` EXISTING versions (not
    * just the live one). This is the replay-dedup probe that survives
    * interleaved DML: a compact/purge/merge published between a CDC
    * batch's publish and its checkpoint commit replaces the LIVE version,
    * but the batch's own tagged version dir is still on disk until a
    * vacuum, so a crash-replay of that batch still sees its tag here and
    * no-ops. Cost: `lookback` metadata probes — no data reads. */
  def recentBatchTags(spark: SparkSession, table: String,
                      lookback: Int = 16): Set[String] = {
    val f = fs(spark, table)
    // skip versions of an UNCOMMITTED cross-table txn ([[Txn]]): a
    // crashed txn's pending dir carries its batch tag, and counting it
    // would make a replay of that batch no-op against a version heal is
    // about to abort — the one way tag-dedup could LOSE a batch
    // visibility BEFORE the window cut: pending dirs sort last, and
    // letting them consume lookback slots would silently shrink the
    // dedup window below its contract. Pending dirs only sit ABOVE the
    // live version, so versions at/below it skip the marker probe — the
    // filter stays O(lookback + in-flight tail), not O(history)
    val live = Versioned.currentVersion(spark, table).getOrElse(-1L)
    Versioned.versions(spark, table).sorted
      .filter(v => v <= live || Txn.visible(f, s"$table/v=$v"))
      .takeRight(lookback)
      .flatMap(readTag(f, table, _)).toSet
  }

  /** Row-level changeset BETWEEN two published versions — CDC derived from
    * snapshots, the inverse of [[applyCdc]]: `applyCdc(diff(v1, v2))` on a
    * replica at v1 reproduces v2 (spec-pinned), which is how a downstream
    * mirror syncs from time-travel reads without a change log. Emits
    * `opCol` ∈ I (key only in `toV`), D (key only in `fromV`, key column
    * populated, other columns NULL), U (key in both, any non-key column
    * differing — struct inequality, so NULL vs value counts as a change).
    * NULL-key rows are unkeyed and undiffable: ignored here, exactly as
    * [[merge]]/[[Forget.purge]] leave them untouched.
    *
    * Scale shape: one key-shuffle full-outer join of the two snapshots —
    * inherent to snapshot diffing; the per-batch tags ([[lastBatchTag]])
    * are the cheaper path when the upstream IS this lake's CDC. */
  def diff(spark: SparkSession, table: String, fromV: Long, toV: Long,
           keyCol: String, opCol: String = "op"): DataFrame = {
    val a = Versioned.readVersion(spark, table, fromV)
      .filter(col(keyCol).isNotNull)
    val b = Versioned.readVersion(spark, table, toV)
      .filter(col(keyCol).isNotNull)
    val cols = a.columns.toSeq
    require(cols.sorted.sameElements(b.columns.sorted),
      s"schema changed between v$fromV and v$toV — diff needs like schemas")
    require(!cols.contains(opCol),
      s"table already has a column named '$opCol' — pass a different opCol" +
        " (the emitted frame would carry a duplicate column name)")
    val others = cols.filterNot(_ == keyCol)
    val af = a.select(struct(cols.map(col): _*).as("a"))
    val bf = b.select(struct(cols.map(col): _*).as("b"))
    val j = af.join(bf, af("a")(keyCol) === bf("b")(keyCol), "full_outer")
    j.select(
        when(col("a").isNull, lit("I"))
          .when(col("b").isNull, lit("D"))
          .otherwise(lit("U")).as(opCol),
        col("a"), col("b"))
      // U rows where nothing changed are not changes
      .filter(col(opCol) =!= "U" ||
        struct(others.map(c => col("a")(c)): _*) =!=
          struct(others.map(c => col("b")(c)): _*))
      .select(col(opCol) +: cols.map { c =>
        if (c == keyCol)
          coalesce(col("b")(c), col("a")(c)).as(c)
        else // D rows carry only the key; I/U carry the target values
          when(col(opCol) === "D", lit(null)).otherwise(col("b")(c)).as(c)
      }: _*)
  }

  /** The rewrite commit every merge and [[Forget.purge]] share: one
    * version derived from the live one, its admitted files rewritten
    * without the changeset's keys and with its upsert rows, every other
    * file byte-copied.
    *
    * `cs.keyCol` is the MATCH column; `tableKey` is the key the table's
    * indexes name (a merge passes its match column, a purge
    * [[Dv.tableKey]]). One rule follows from the two: the rewritten files
    * are range-laid out on the table key (the match column when none is
    * known) and get Bloom sidecars only when a table key is known; the
    * `_stats` manifest keeps its own key. The change feed names deleted
    * rows by the match column when it is the table key, and by the
    * victims' whole rows otherwise, so a consumer keyed on any column
    * can name each deletion; a victim whose table key is NULL could not
    * be named there and rejects.
    *
    * `mergeContract`: [[merge]]'s NULL-key and duplicate-key rejects,
    * checked after the schema checks as they always were; a CDC batch
    * was held to its contract before the retry. */
  private[lake] def applyChanges(spark: SparkSession, table: String,
                                 cs: Changeset, tableKey: Option[String],
                                 mergeContract: Boolean = false,
                                 batchTag: Option[String] = None,
                                 evolveSchema: Boolean = false,
                                 maxDriverKeys: Int = MaxDriverKeysDefault)
      : Long = {
    import spark.implicits._
    val keyCol = cs.keyCol
    val upserts = cs.upserts
    val deletes = cs.deletes
    val nDeletes = cs.nDeletes
    val live = Versioned.currentVersion(spark, table).getOrElse(
      throw new IllegalStateException(s"no published version at $table"))
    require(!Versioned.isShallowRef(spark, table, live),
      s"$table v$live is a shallow-clone reference (no data of its own) — " +
        "Clone.materialize(...) first, then merge")
    val liveDir = s"$table/v=$live"
    val fMeta = fs(spark, table)
    // ONE schema read serves the requires and the column-align: the
    // `_table_schema` marker when the table has evolved before (footer
    // inference would be ambiguous over mixed-schema files), footer
    // inference otherwise
    val hadMarker = Versioned.readSchemaMarker(fMeta, liveDir)
    val liveSchema = hadMarker.getOrElse(Versioned.schemaOf(spark, liveDir))
    val tableCols = liveSchema.fieldNames.toSeq
    val missing = tableCols.filterNot(upserts.columns.contains)
    val extra = upserts.columns.toSeq.filterNot(tableCols.contains)
    require(missing.isEmpty,
      s"changeset schema lacks table column(s) $missing — a merge row " +
        "replaces the WHOLE row, so it must carry every column (a " +
        "partial-column update is a read-modify-write the caller does first)")
    require(extra.isEmpty || evolveSchema,
      s"changeset adds column(s) $extra the table schema lacks — pass " +
        "evolveSchema=true for additive evolution (rows the changeset " +
        "does not touch read NULL in the new columns)")
    // TYPE equality on every shared column, not just presence: a
    // changeset whose column type differs (decimal(38,6) vs the table's
    // decimal(38,18) is the classic) would silently COERCE the
    // survivors-union-upserts write — Spark's decimal widening can even
    // LOWER the scale — leaving the new version's rewritten files at a
    // different physical type than its byte-copied ones, and a plain
    // read of that dir then explodes (or silently truncates) depending
    // on which file's footer wins inference. Delta enforces write-time
    // schema; so does this layout.
    // NullType (a NULL-literal column, delete-only batches) is exempt:
    // it promotes to ANY other type losslessly in the union
    val mistyped = tableCols.filter(c =>
      upserts.schema(c).dataType != liveSchema(c).dataType &&
        upserts.schema(c).dataType !=
          org.apache.spark.sql.types.NullType)
    require(mistyped.isEmpty,
      s"changeset column type(s) differ from the table: " +
        mistyped.map(c => s"$c (${upserts.schema(c).dataType.simpleString}" +
          s" vs table ${liveSchema(c).dataType.simpleString})")
          .mkString(", ") +
        " — cast the changeset to the table's types (a silent coercion " +
        "would write mixed-schema files into one version dir)")
    // additive evolution: new columns append AFTER the table's, nullable
    // (byte-copied pre-evolution files null-fill them at read)
    val outSchema =
      if (extra.isEmpty) liveSchema
      else org.apache.spark.sql.types.StructType(liveSchema.fields ++
        extra.map(c => upserts.schema(c).copy(nullable = true)))
    val outCols = outSchema.fieldNames.toSeq
    // the distributed path's key frame — persisted there, released in the
    // outer finally so the publish block can reference it lazily
    var keyFrame: Option[DataFrame] = None
    try {
      if (mergeContract) {
        require(cs.nNullKeys == 0L,
          s"changeset has NULL $keyCol keys — a NULL key matches no row")
        require(cs.nDuplicates == 0L,
          s"${cs.nDuplicates} duplicate $keyCol key(s) in the " +
            "changeset — each would insert its own row; reduce to one row " +
            "per key first")
      }
      val nKeys = cs.nKeys
      require(nKeys > 0, "empty changeset")
      val nUpserts = nKeys - nDeletes

      val f = fs(spark, table)
      val conf = spark.sparkContext.hadoopConfiguration
      val parts = f.listStatus(new Path(liveDir)).toSeq
        .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
        .map(_.getPath)
      // range source: StatsIndex manifest when present (one metadata read),
      // per-file footer opens otherwise — same discipline as Forget.purge
      val stats = StatsIndex.load(spark, liveDir)

      // admission + survivor filter, by changeset size (scaladoc dial):
      //  - DRIVER path: the summary's keys (budget-bounded), per-file
      //    Bloom + range admission, `isin` survivor filter — metadata-cost, no
      //    scan, right for CDC trickles;
      //  - DISTRIBUTED path: touched files from ONE column-pruned scan of
      //    the live version joined against the batch keys (exact
      //    admission), anti-join survivor filter — no key ever resides on
      //    the driver, right for restatement-sized batches.
      val (affected, untouched, keepSurvivors, victimsOf, driverKeys) =
        cs.keys.filter(_ => nKeys <= maxDriverKeys) match {
        case Some(ks) =>
          val (aff, unt) =
            parts.partition(Forget.admitter(spark, liveDir, keyCol, ks, stats))
          // NULL-key guard: `!isin` is NULL for NULL keys, and filter
          // drops NULL predicates — NULL-key rows always survive (no key
          // names them)
          (aff, unt, (df: DataFrame) =>
            df.filter(col(keyCol).isNull || !col(keyCol).isin(ks: _*)),
            (df: DataFrame) => df.filter(col(keyCol).isin(ks: _*)),
            Some(ks))
        case None =>
          val keys = upserts.select(col(keyCol).cast("long").as("_k"))
            .union(deletes.select(col(keyCol).cast("long").as("_k")))
            .distinct().persist()
          keyFrame = Some(keys)
          // find-touched-files pass: column-pruned to the key alone
          val affNames = Versioned.readDataDir(spark, liveDir)
            .select(col(keyCol).cast("long").as("_k"),
              input_file_name().as("_f"))
            .join(keys, "_k")
            .select(element_at(split(col("_f"), "/"), -1))
            .distinct().as[String].collect().toSet
          val (aff, unt) = parts.partition(p => affNames.contains(p.getName))
          // anti-join survivors: NULL keys never match a join key, so
          // NULL-key rows survive exactly as under the driver path
          def on(df: DataFrame) = df(keyCol).cast("long") === keys("_k")
          (aff, unt, (df: DataFrame) => df.join(keys, on(df), "left_anti"),
            (df: DataFrame) => df.join(keys, on(df), "left_semi"), None)
      }
      // vacuous batch (e.g. a delete-only replay or a re-submitted purge
      // whose keys no file can hold, nothing to insert): the idempotent
      // no-op — a publish here would byte-copy the WHOLE table for nothing
      if (affected.isEmpty && nUpserts == 0L) return live
      // affected files are read under the OUTPUT schema: they may predate
      // an evolution (new columns null-fill), and explicit-schema reads
      // are exactly the plain read when no evolution ever happened
      def affectedRows =
        spark.read.schema(outSchema).parquet(affected.map(_.toString): _*)
      val layoutKey = tableKey.getOrElse(keyCol)
      val statsKey = stats.flatMap(_ => StatsIndex.keyOf(spark, liveDir))
        .getOrElse(layoutKey)
      val (feedDeletes, nFeedDeletes) =
        if (tableKey.exists(_.equalsIgnoreCase(keyCol)) || affected.isEmpty)
          (deletes, nDeletes)
        else {
          val victims = victimsOf(affectedRows)
          (victims, Dv.countVictims(victims, keyCol, nKeys, tableKey))
        }

      derivations.incrementAndGet()
      val ourRemoved = affected.map(_.getName).toSet
      var builtAdded = Set.empty[String] // fresh files, captured by build
      // data files our stage CARRIES from the base (byte copies) — updated
      // per rebase so a second competitor's removed set resolves against
      // what the stage actually holds by then
      var carried = untouched.map(_.getName).toSet

      // File-level conflict check (Delta's, on this layout): a competitor
      // committed at the number we claimed. When its commit provably
      // touched DISJOINT files AND none of its fresh files can contain any
      // of our changeset keys, our staged version is patched into a valid
      // derivation of the competitor's (delete its removed files from our
      // byte-copied set, copy in its added files + sidecars, remint the
      // stats manifest) and re-claims the next number — NO re-derivation.
      // Any doubt returns false: the withWriteRetry wrapper re-derives,
      // which is always correct, just costlier.
      def tryRebase(conflictV: Long, stage: String): Boolean = driverKeys match {
        case None => false // distributed-path keys never reside driver-side
        case Some(ks) =>
          val compDir = s"$table/v=$conflictV"
          // DV/clone versions share data dirs — file identity doesn't
          // compose; evolution changes the read schema — bail on any marker
          if (f.exists(new Path(s"$compDir/_ref")) ||
              f.exists(new Path(s"$compDir/_dv")) ||
              extra.nonEmpty || hadMarker.isDefined ||
              Versioned.readSchemaMarker(f, compDir).isDefined) return false
          val info = Versioned.readCommitInfo(f, compDir) match {
            case Some(i) if i.base == conflictV - 1 => i
            case _ => return false // blind publish / maintenance / unknown
          }
          // file-level disjointness: the competitor must not have touched
          // any file our derivation read (and rewrote away)
          if (info.removed.exists(ourRemoved.contains)) return false
          if (!info.removed.subsetOf(carried)) return false
          // replay-dedup tags must agree, or the carried watermark could
          // go backward relative to the competitor's
          val ourTag = batchTag.orElse(readTag(f, table, live))
          if (readTag(f, table, conflictV) != ourTag) return false
          // key-level check on the competitor's FRESH files (its changeset
          // + survivors): Bloom/stats prefilter, then an EXACT key scan of
          // the admitted few — a false positive here would only force a
          // re-derivation, but the exact pass keeps rebase effective for
          // wide changesets (100 keys × fpp 0.01 would spuriously admit)
          val compStats = StatsIndex.load(spark, compDir)
          val admits = Forget.admitter(spark, compDir, keyCol, ks, compStats)
          val candidates = info.added.toSeq
            .filter(n => admits(new Path(s"$compDir/$n")))
          if (candidates.nonEmpty && !spark.read
              .parquet(candidates.map(n => s"$compDir/$n"): _*)
              .filter(col(keyCol).cast("long").isin(ks: _*))
              .isEmpty) return false
          // ---- patch the stage: swap byte copies, never recompute ----
          info.removed.foreach { n =>
            require(f.delete(new Path(s"$stage/$n"), false),
              s"rebase: failed dropping $n from the stage")
            f.delete(BloomIndex.sidecar(stage, n), false)
            f.delete(TokenBloom.sidecar(stage, n), false)
          }
          info.added.foreach { n =>
            require(org.apache.hadoop.fs.FileUtil.copy(f,
              new Path(s"$compDir/$n"), f, new Path(s"$stage/$n"),
              false, conf), s"rebase: copy failed for $n")
            val bs = BloomIndex.sidecar(compDir, n)
            if (f.exists(bs))
              org.apache.hadoop.fs.FileUtil.copy(f, bs, f,
                BloomIndex.sidecar(stage, n), false, conf)
            val tk = TokenBloom.sidecar(compDir, n)
            if (f.exists(tk))
              org.apache.hadoop.fs.FileUtil.copy(f, tk, f,
                TokenBloom.sidecar(stage, n), false, conf)
          }
          if (StatsIndex.exists(spark, stage))
            StatsIndex.rebuildAfterRewrite(spark, compDir, stage, statsKey,
              preloaded = compStats)
          carried = carried -- info.removed ++ info.added
          Versioned.writeCommitInfo(f, stage,
            Versioned.CommitInfo(conflictV, ourRemoved, builtAdded))
          rebases.incrementAndGet()
          true
      }

      // derived from `live`: claims exactly live+1; on a concurrent
      // commit, rebases when provably disjoint (above) and otherwise
      // throws so the retry wrapper re-derives (OCC)
      Versioned.publishFromRebasing(spark, table, live)({ newDir =>
        // survivors: affected-file rows not named by the changeset, plus
        // the upsert rows, column-aligned to the table's order
        val survivors =
          if (affected.isEmpty)
            spark.read.schema(outSchema).parquet(liveDir).limit(0)
          else keepSurvivors(affectedRows)
        // Rewrite width: the affected-file count when files rewrite; for a
        // PURE-INSERT batch (no admitted files) that count is 0 and a
        // backfill-sized insert must not land in ONE oversized file — size
        // from the batch instead: rows (== distinct keys, enforced above)
        // over the live table's average rows-per-file (stats manifest when
        // present, a 1M-row default otherwise).
        val rewriteParts =
          if (affected.nonEmpty) affected.size
          else {
            val rowsPerFile = stats.filter(_.nonEmpty)
              .map(m => math.max(1L, m.values.map(_.rows).sum / m.size))
              .getOrElse(1000000L)
            math.max(1L, math.min(4096L,
              (nUpserts + rowsPerFile - 1) / rowsPerFile)).toInt
          }
        survivors.select(outCols.map(col): _*)
          .unionByName(upserts.select(outCols.map(col): _*))
          .repartitionByRange(rewriteParts, col(layoutKey))
          .sortWithinPartitions(col(layoutKey))
          .write.mode("overwrite").parquet(newDir)
        tableKey.foreach(BloomIndex.indexExisting(spark, newDir, _))
        Forget.copyUntouched(f, conf, liveDir, newDir, untouched)
        StatsIndex.rebuildAfterRewrite(spark, liveDir, newDir, statsKey,
          preloaded = stats)
        // token-Bloom twin: untouched sidecars byte-copied above; rebuild
        // ONLY the rewritten files' from the carried recipe
        TokenBloom.carryMeta(spark, liveDir, newDir)
        TokenBloom.indexMissing(spark, newDir)
        // this batch's tag, or the live version's CARRIED FORWARD: an
        // untagged merge between a CDC batch's publish and its checkpoint
        // commit must not erase the replay-dedup watermark (the same
        // carry compactVersion does — the tag means "latest CDC batch
        // applied ≤ this version", which any rewrite preserves)
        batchTag.orElse(readTag(f, table, live)).foreach { tag =>
          val out = f.create(new Path(s"$newDir/_cdc_batch"), true)
          try out.write(tag.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          finally out.close()
        }
        // schema marker: written at the FIRST evolution, carried forever
        // after — byte-copied pre-evolution files make footer inference
        // ambiguous in every later version (see Versioned.readDataDir)
        if (extra.nonEmpty || hadMarker.isDefined)
          Versioned.writeSchemaMarker(f, newDir, outSchema)
        // change feed: this version's OWN changeset, atomic with the swap
        // (row count == distinct keys, enforced above — no extra action)
        Cdf.record(spark, newDir, outSchema,
          upserts.select(outCols.map(col): _*), nUpserts, feedDeletes,
          nFeedDeletes)
        // an EVOLVING merge also poisons the streaming tail (one _op="S"
        // row — a fixed-schema raw tail would silently drop the new
        // columns from every later change; batch readers filter it)
        if (extra.nonEmpty)
          Cdf.recordSchemaChange(spark, newDir, outSchema)
        // file-level commit record: what this version removed from and
        // added to its base — the rebase hook's conflict-check input
        builtAdded = f.listStatus(new Path(newDir)).toSeq
          .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
          .map(_.getPath.getName).toSet -- carried
        Versioned.writeCommitInfo(f, newDir,
          Versioned.CommitInfo(live, ourRemoved, builtAdded))
      })(tryRebase)
    } finally {
      keyFrame.foreach(_.unpersist())
      ()
    }
  }
}
