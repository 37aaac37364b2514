package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.{BloomIndex, Changeset, Clone, Compact, Dv, Expect, Forget,
  History, MatView, Restore, StatsIndex, Upsert, Versioned, ZOrder}

/**
 * SQL DML statements against registered lake tables — the write-side of
 * the raw-SQL surface ([[Sql]] is the read side): `MERGE INTO`,
 * `UPDATE`, and `DELETE FROM` statement TEXT parsed and routed to the
 * DataFrame DML the lake already serves ([[Upsert.applyCdc]]/
 * [[Upsert.merge]], [[Forget.purge]], [[Dv.purge]]), expectations
 * ([[Expect]]) and OCC retry included. The reference's users are
 * SQL-first (`extract_events.sql`; `bigquery_extractor.py:75` submits
 * statement text) — this closes the "first thing a SQL user reaches
 * for" gap without a second write path: the statement compiles to
 * exactly the Catalyst plan the DataFrame API produces, so admission
 * pruning, the change feed, batch-tag dedup, and first-committer-wins
 * all behave identically however the merge arrives.
 *
 * Supported grammar (ANSI core, case-insensitive; anything else rejects
 * loudly — guessing at SQL semantics is how tables get corrupted):
 *
 * {{{
 * MERGE INTO t [AS a] USING (subquery)|view [AS b] ON <cond>
 *   WHEN MATCHED [AND c] THEN UPDATE SET col = expr, ... | SET *
 *   WHEN MATCHED [AND c] THEN DELETE
 *   WHEN NOT MATCHED [BY TARGET] [AND c] THEN INSERT (cols) VALUES (exprs) | INSERT *
 *   WHEN NOT MATCHED BY SOURCE [AND c] THEN UPDATE SET col = expr, ... | DELETE
 * UPDATE t SET col = expr, ... [WHERE cond]
 * DELETE FROM t [WHERE cond]
 * INSERT INTO t [(cols)] VALUES (exprs), ... | <subquery>
 * VACUUM t [RETAIN n VERSIONS]
 * OPTIMIZE t
 * RESTORE [TABLE] t TO VERSION AS OF n
 * ALTER TABLE t ADD CONSTRAINT name CHECK (pred)
 * ALTER TABLE t DROP CONSTRAINT name
 * DESCRIBE HISTORY t | DESCRIBE DETAIL t   (via [[describe]] — a DataFrame)
 * }}}
 *
 * At most one clause of each WHEN kind; MATCHED clauses apply in the
 * order written (first whose condition passes wins, per the standard).
 * Two source rows matching one target key reject through
 * [[Upsert.applyCdc]]'s one-op-per-key contract — the standard's
 * "multiple source rows matched" error.
 *
 * Concurrency: the statement evaluates against the snapshot live at
 * execution start and commits through the OCC claim protocol — the same
 * read-audit-merge window [[Expect.merge]] has. A conflicting commit
 * during the WRITE re-derives via [[Versioned.withWriteRetry]] inside
 * the routed DML; first-committer-wins holds at the version claim.
 *
 * Scale posture: UPDATE/DELETE predicate evaluation is one column-pruned
 * scan of the live version; the changed-row set must be driver-plannable
 * for the purge path (bounded by [[Upsert.MaxDriverKeysDefault]] keys,
 * loudly rejected past it — a predicate deleting half a 100 TB table is
 * a restatement, not a DELETE; publish the anti-join instead). MERGE
 * routes through the changeset-size dial in [[Upsert]] and so takes the
 * distributed find-touched-files path automatically when large.
 */
object SqlDml {

  /** Registered DML targets: view name → (table path, key column). */
  private val registry = new TrieMap[String, (String, String)]()

  /** The VERSION each registered temp view is currently bound to
    * ([[Sql.registerTable]] records it) — what the session actually
    * READS under that name, as opposed to the table's live version
    * (which may have moved under an un-rebound view). The MV rewrite
    * gates on THIS, so a rewritten query always agrees with every other
    * query on the same registered name. */
  private[graft] val boundVersions = new TrieMap[String, Long]()

  /** READ-ONLY bindings: every name [[Sql.registerTable]] has bound →
    * its table path, so introspection (DESCRIBE TABLE, SHOW CREATE
    * TABLE) resolves key-less registrations too (a key-less CTAS or
    * catalog entry never enters the DML `registry`). DML names appear
    * in both maps; lookups prefer the keyed entry. */
  private[graft] val readOnlyRegistry = new TrieMap[String, String]()

  // the bound-version note for names the session actually registered —
  // synthetic pinned views (`t__asof_vN`, change feeds) stay out
  private[graft] def noteBoundIfRegistered(name: String, v: Long): Unit = {
    val lower = name.toLowerCase
    if (registry.contains(lower) || readOnlyRegistry.contains(lower)) {
      boundVersions.put(lower, v)
      ()
    }
  }

  // name → (path, Some(key) for DML bindings, None for read-only)
  private def lookupAny(name: String): (String, Option[String]) =
    registry.get(name.toLowerCase).map { case (p, k) => (p, Some(k)) }
      .orElse(readOnlyRegistry.get(name.toLowerCase).map(p => (p, None)))
      .getOrElse(throw new IllegalArgumentException(
        s"'$name' is not a registered table — SqlDml.register (DML) or " +
          "Sql.registerTable (read-only) first"))

  // materialized-view bindings: view name -> view table path (the SQL
  // surface of [[graft.lake.MatView]]; session-scoped like `registry`)
  private val mvRegistry = new TrieMap[String, String]()

  // attached durable catalog ([[graft.lake.Metastore]]); None = the
  // registries stay session-only (the pre-catalog behavior, unchanged)
  @volatile private var catalogDir: Option[String] = None

  /** Attach a durable catalog directory ([[graft.lake.Metastore]]) and
    * load every binding it records into this session: tables become
    * registered DML targets (DML-keyed entries; key-less entries bind
    * read-only temp views), materialized views re-bind to their live
    * versions. While attached, `CREATE TABLE` / `CREATE MATERIALIZED
    * VIEW` / `SqlDml.register` RECORD their bindings durably and `DROP
    * TABLE` / `DROP MATERIALIZED VIEW` remove them — so the next
    * session's `useCatalog` discovers exactly the live name set. A
    * recorded table whose path has no published version yet (a COPY INTO
    * bootstrap, or data awaiting restore) binds allowMissing-style:
    * discoverable, readable after its first landing. Returns the number
    * of bindings restored. Also reachable as SQL: `USE CATALOG '<dir>'`. */
  def useCatalog(spark: SparkSession, dir: String): Int = {
    // attach only AFTER the load loop: register() re-records into the
    // attached catalog, and re-claiming |tables| byte-identical entries
    // we just read would pay |tables| redundant claim+verify round trips
    // on every session start
    catalogDir = None
    var restored = 0
    locally {
      graft.lake.Metastore.tables(spark, dir).foreach {
        case graft.lake.Metastore.Binding(name, path, Some(k)) =>
          register(spark, name, path, k, allowMissing = true)
          restored += 1
        case graft.lake.Metastore.Binding(name, path, None) =>
          // a key-less entry binds read-only — and only when readable;
          // an unreadable one is skipped and NOT counted (the return
          // value promises bindings RESTORED, not entries seen)
          if (Versioned.currentVersion(spark, path).isDefined) {
            Sql.registerTable(spark, name, path)
            restored += 1
          }
      }
      graft.lake.Metastore.views(spark, dir).foreach { case (name, path) =>
        Versioned.currentVersion(spark, path).foreach { v =>
          mvRegistry.put(name, path)
          Versioned.readVersion(spark, path, v).createOrReplaceTempView(name)
          restored += 1
        }
      }
    }
    // attach only on a COMPLETE restore: a load loop that threw mid-way
    // must leave the session DETACHED — half the catalog's names bound
    // while subsequent CREATE/DROP silently record into the catalog is
    // the worst state (the session looks attached but isn't consistent
    // with it); the caller retries useCatalog after fixing the fault
    catalogDir = Some(dir)
    restored
  }

  /** Detach the durable catalog (session bindings stay). */
  def detachCatalog(): Unit = catalogDir = None

  /** Spec seam: the "fresh session" state — clear every session binding
    * and detach the catalog, so a following [[useCatalog]] exercises the
    * cold-start discovery path inside one JVM. */
  private[graft] def resetSessionBindings(spark: SparkSession): Unit = {
    (registry.keySet ++ mvRegistry.keySet ++ readOnlyRegistry.keySet)
      .foreach { n =>
        spark.catalog.dropTempView(n)
        ()
      }
    registry.clear()
    mvRegistry.clear()
    readOnlyRegistry.clear()
    boundVersions.clear()
    catalogDir = None
  }

  /** Register a [[Versioned]] lake table for BOTH reads and DML: the live
    * snapshot becomes temp view `name` (as [[Sql.registerTable]]) and
    * `name` becomes addressable by [[execute]] statements, keyed by
    * `keyCol`. Returns the bound live version. A table with no published
    * version rejects — fail-fast on a typo'd path — unless
    * `allowMissing = true` (the `COPY INTO` bootstrap flow: register the
    * not-yet-existing table, land the first file, the view binds at the
    * write's rebind; schema-needing statements reject until then).
    * Returns 0 for an allowed-missing registration. */
  def register(spark: SparkSession, name: String, table: String,
               keyCol: String, allowMissing: Boolean = false,
               durableRecord: Boolean = true): Long = {
    if (Versioned.currentVersion(spark, table).isEmpty) {
      require(allowMissing,
        s"no published version at $table — a typo'd path registers a " +
          "table that can never read; pass allowMissing = true only " +
          "for the COPY INTO bootstrap flow (register, land, rebind)")
      // durable claim BEFORE the session mutation: a catalog re-point
      // reject must leave the session exactly as it was — mutating the
      // registry first would split reads (old view) from writes (new
      // path) on one name (the createStmt ordering argument)
      if (durableRecord) recordInCatalog(spark, name, table, Some(keyCol))
      registry.put(name.toLowerCase, (table, keyCol))
      0L
    } else {
      if (durableRecord) recordInCatalog(spark, name, table, Some(keyCol))
      registry.put(name.toLowerCase, (table, keyCol))
      Sql.registerTable(spark, name, table)
    }
  }

  // durable-catalog record when one is attached (idempotent for an
  // identical binding — Metastore.claim verifies content)
  private def recordInCatalog(spark: SparkSession, name: String,
                              table: String,
                              keyCol: Option[String]): Unit =
    catalogDir.foreach(d =>
      graft.lake.Metastore.recordTable(spark, d, name, table, keyCol))

  /** Re-bind every registered view whose table path is in `tables` to
    * the (re-)resolved live version — [[Sql.executeScript]] heals view
    * bindings after a transaction block aborts or rolls back (a view
    * bound mid-txn points at a pending version the abort just deleted). */
  private[graft] def rebindAll(spark: SparkSession,
                               tables: Set[String]): Unit = {
    registry.foreach { case (name, (table, _)) =>
      if (tables.contains(table)) {
        if (Versioned.currentVersion(spark, table).isDefined) {
          Sql.registerTable(spark, name, table)
          ()
        } else {
          // a plain CREATE TABLE inside the aborted block: its path has
          // no published version left, so the binding can never read —
          // drop it entirely (registry entry, temp view, and any durable
          // catalog record the CREATE wrote) so the session's next use
          // says 'not registered', not vanished-files
          registry.remove(name)
          catalogDir.foreach(d =>
            graft.lake.Metastore.removeTable(spark, d, name))
          spark.catalog.dropTempView(name)
          ()
        }
      }
    }
    // read-only bindings (key-less CTAS): same healing contract — a
    // binding whose path still reads re-binds to live, one whose path
    // has no published version left (the aborted CTAS) drops entirely
    readOnlyRegistry.foreach { case (name, table) =>
      if (tables.contains(table) && !registry.contains(name)) {
        if (Versioned.currentVersion(spark, table).isDefined) {
          Sql.registerTable(spark, name, table)
          ()
        } else {
          readOnlyRegistry.remove(name)
          boundVersions.remove(name)
          catalogDir.foreach(d =>
            graft.lake.Metastore.removeTable(spark, d, name))
          spark.catalog.dropTempView(name)
          ()
        }
      }
    }
    // materialized-view bindings too: a REFRESH inside the aborted block
    // left the view's temp view on a deleted pending dir; a CREATE inside
    // it left a binding whose path has NO published version — re-bind the
    // former, drop the latter entirely (registry entry and temp view)
    mvRegistry.foreach { case (name, path) =>
      if (tables.contains(path)) {
        Versioned.currentVersion(spark, path) match {
          case Some(v) =>
            Versioned.readVersion(spark, path, v)
              .createOrReplaceTempView(name)
            ()
          case None =>
            mvRegistry.remove(name)
            catalogDir.foreach(d =>
              graft.lake.Metastore.removeView(spark, d, name))
            spark.catalog.dropTempView(name)
            ()
        }
      }
    }
  }

  private[graft] def lookup(name: String): (String, String) =
    registry.getOrElse(name.toLowerCase, throw new IllegalArgumentException(
      s"'$name' is not a registered lake table — SqlDml.register(name, " +
        "path, keyCol) first (DML needs the table's key column)"))

  /** Is the table's live version a shallow ref (a DV purge/merge, clone
    * seed, restore or [[graft.lake.Evolve]] overlay)? Statements on such
    * a base route through the ZERO-COPY DML family ([[Dv]]) — the
    * rewriting family's contract is materialize-first, and a SQL user
    * should not have to know which lever the last write pulled. The
    * check is advisory (a concurrent materialize between check and merge
    * just lands the zero-copy path on a real base, which is valid). */
  private def liveIsRef(spark: SparkSession, table: String): Boolean =
    Versioned.currentVersion(spark, table)
      .exists(v => Versioned.isShallowRef(spark, table, v))

  // ---------------------------------------------------------------- lexing

  // index of the first occurrence of word `kw` at paren depth 0, outside
  // single-quoted strings and backticked identifiers; -1 when absent
  private def topIndexOf(s: String, kw: String, from: Int = 0): Int = {
    var i = math.max(from, 0)
    var depth = 0
    var quote = ' ' // ' ' = none, else the active quote char (' or `)
    def wordChar(c: Char) = c.isLetterOrDigit || c == '_'
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != ' ') { if (c == quote) quote = ' ' }
      else c match {
        case '\'' | '`' => quote = c
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
          if (depth == 0 && s.regionMatches(true, i, kw, 0, kw.length) &&
              (i == 0 || !wordChar(s.charAt(i - 1))) &&
              (i + kw.length >= s.length || !wordChar(s.charAt(i + kw.length))))
            return i
      }
      i += 1
    }
    -1
  }

  // split on `sep` at depth 0 (outside quotes/backticks)
  private def splitTop(s: String, sep: Char): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0
    var quote = ' '
    var start = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != ' ') { if (c == quote) quote = ' ' }
      else c match {
        case '\'' | '`' => quote = c
        case '(' => depth += 1
        case ')' => depth -= 1
        case `sep` if depth == 0 => out += s.substring(start, i); start = i + 1
        case _ => ()
      }
      i += 1
    }
    out += s.substring(start)
    out.result().map(_.trim)
  }

  // split on top-level AND, respecting single-quoted literals (an AND
  // inside a string literal is content, not a connective)
  private def splitAndTop(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var inQ = false
    var i = 0
    val up = s.toUpperCase
    while (i < s.length) {
      if (s.charAt(i) == '\'') { inQ = !inQ; cur += s.charAt(i); i += 1 }
      else if (!inQ && i + 5 <= s.length &&
          up.regionMatches(i, " AND ", 0, 5)) {
        out += cur.result(); cur.clear(); i += 5
      } else { cur += s.charAt(i); i += 1 }
    }
    out += cur.result()
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  private def reject(sql: String, why: String): Nothing =
    throw new IllegalArgumentException(
      s"unsupported SQL DML ($why) — supported forms are MERGE INTO ... " +
        "USING ... ON ... WHEN [NOT] MATCHED ..., UPDATE ... SET ... " +
        "[WHERE ...], DELETE FROM ... [WHERE ...], INSERT INTO|OVERWRITE " +
        "t [(cols)] VALUES|<subquery>, CREATE [OR REPLACE] TABLE n [KEY " +
        "k] LOCATION 'p' AS <select>, CREATE TABLE d SHALLOW CLONE s " +
        "[VERSION AS OF n] LOCATION 'p', COPY INTO t FROM '<dir>', " +
        "VACUUM t [RETAIN n VERSIONS], OPTIMIZE t [ZORDER BY (cols)], " +
        "RESTORE [TABLE] t TO VERSION AS OF n, ALTER TABLE t ADD " +
        "COLUMNS (...) | ADD/DROP CONSTRAINT, CREATE MATERIALIZED VIEW " +
        "n LOCATION 'p' AS <grouped select>, REFRESH MATERIALIZED VIEW " +
        "n, ANALYZE TABLE t COMPUTE STATISTICS [FOR BLOOM], DROP TABLE " +
        "t | DROP MATERIALIZED VIEW n (unbind; removes the durable " +
        "catalog entry when one is attached), USE CATALOG '<dir>', " +
        "DESCRIBE HISTORY|DETAIL t. Statement: " +
        sql.linesIterator.mkString(" ").take(200))

  private def stripSemi(sql: String): String = {
    val t = sql.trim
    if (t.endsWith(";")) t.dropRight(1).trim else t
  }

  // `name [AS] [alias]` → (name, alias-or-name)
  private def nameAlias(seg: String, sql: String): (String, String) = {
    val parts = seg.trim.split("\\s+").toSeq.filter(_.nonEmpty)
      .filterNot(_.equalsIgnoreCase("as"))
    parts match {
      case Seq(n) => (n, n)
      case Seq(n, a) => (n, a)
      case _ => reject(sql, s"cannot parse table reference '$seg'")
    }
  }

  // ------------------------------------------------------------- execution

  /** Parse and execute one DML statement. `rules` gates the write through
    * [[Expect]] in the given `mode` (Drop mode quarantines violating
    * payload rows into `quarantine`); deletes are unaudited, as in
    * [[Expect.applyCdc]]. `zeroCopyDelete = true` routes DELETE through
    * the deletion-vector purge ([[Dv.purge]] — no file rewritten) instead
    * of the rewriting [[Forget.purge]]. Returns the live version after
    * the statement (unchanged when it matched nothing), and re-binds the
    * table's registered temp view to it. */
  def execute(spark: SparkSession, sql: String,
              rules: Seq[Expect.Rule] = Nil,
              mode: Expect.Mode = Expect.Mode.Fail,
              quarantine: Option[String] = None,
              zeroCopyDelete: Boolean = false): Long = {
    val s = stripSemi(sql)
    val head = s.trim.split("\\s+").headOption.getOrElse("").toUpperCase
    val v = head match {
      case "MERGE" => merge(spark, s, rules, mode, quarantine)
      case "UPDATE" => update(spark, s, rules, mode, quarantine)
      case "DELETE" => delete(spark, s, zeroCopyDelete)
      case "INSERT" => insert(spark, s, rules, mode, quarantine)
      case "VACUUM" => vacuumStmt(spark, s)
      case "OPTIMIZE" => optimizeStmt(spark, s)
      case "RESTORE" => restoreStmt(spark, s)
      case "ALTER" => alterStmt(spark, s)
      case "CREATE"
        if s.matches("(?is)^CREATE\\s+MATERIALIZED\\s+VIEW\\b.*") =>
        createMvStmt(spark, s)
      case "CREATE" => createStmt(spark, s, rules, mode, quarantine)
      case "REFRESH" => refreshMvStmt(spark, s)
      case "ANALYZE" => analyzeStmt(spark, s)
      case "DROP" => dropStmt(spark, s)
      case "COPY" => copyIntoStmt(spark, s, rules, mode, quarantine)
      case "USE" => useCatalogStmt(spark, s)
      case "DESCRIBE" | "SHOW" => reject(s,
        s"$head returns a DataFrame, not a version — call " +
          "Sql.describe / SqlDml.describe instead of execute")
      case _ => reject(s, s"statement kind '$head'")
    }
    v
  }

  /** Metadata statements that RETURN a frame: `DESCRIBE HISTORY t`
    * ([[graft.lake.History.frame]]: one row per existing version, with
    * commit timestamp, operation kind, zero-copy/DV markers and
    * file-level counts) and `DESCRIBE DETAIL t`
    * ([[graft.lake.History.detail]]: one row of table-level facts). */
  def describe(spark: SparkSession, sql: String): DataFrame = {
    val s = stripSemi(sql)
    val h = "(?is)^DESCRIBE\\s+HISTORY\\s+(\\S+)$".r
    val d = "(?is)^DESCRIBE\\s+DETAIL\\s+(\\S+)$".r
    val dt = "(?is)^DESCRIBE\\s+(?:TABLE\\s+)?(\\S+)$".r
    val sct = "(?is)^SHOW\\s+CREATE\\s+TABLE\\s+(\\S+)$".r
    val vdr = ("(?is)^VACUUM\\s+(\\S+?)(?:\\s+RETAIN\\s+(\\d+)\\s+" +
      "VERSIONS)?\\s+DRY\\s+RUN$").r
    val vdrH = ("(?is)^VACUUM\\s+(\\S+?)\\s+RETAIN\\s+(\\d+)\\s+" +
      "HOURS\\s+DRY\\s+RUN$").r
    val st = "(?is)^SHOW\\s+TABLES$".r
    val smv = "(?is)^SHOW\\s+MATERIALIZED\\s+VIEWS$".r
    s match {
      case h(name) => History.frame(spark, lookupAny(name)._1)
      case d(name) => History.detail(spark, lookupAny(name)._1)
      case vdr(name, k) =>
        val table = lookupAny(name)._1
        vacuumDryRun(spark, table, Versioned.vacuumPlan(spark, table,
          Option(k).map(_.toInt).getOrElse(1)))
      case vdrH(name, h) =>
        val table = lookupAny(name)._1
        vacuumDryRun(spark, table, Versioned.vacuumPlanOlderThan(spark,
          table, System.currentTimeMillis() - hoursToMillis(h)))
      case smv() => showMaterializedViews(spark)
      case st() => showTables(spark)
      case sct(name) => showCreateTable(spark, name)
      case dt(name) => describeTable(spark, name)
      case _ => reject(s, "expected DESCRIBE [TABLE] <table>, DESCRIBE " +
        "HISTORY|DETAIL <table>, VACUUM <table> [RETAIN n VERSIONS | " +
        "RETAIN n HOURS] DRY RUN, SHOW CREATE TABLE <table>, SHOW " +
        "TABLES, or SHOW MATERIALIZED VIEWS")
    }
  }


  // the shared scaffold of every metadata statement that RETURNS a
  // frame: driver rows → one single-partition DataFrame
  private def driverFrame(spark: SparkSession,
                          rows: Seq[org.apache.spark.sql.Row],
                          schema: org.apache.spark.sql.types.StructType)
      : DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)

  // VACUUM ... DRY RUN — Versioned.vacuumPlan's first-sweep list with
  // per-version OWN bytes (a ref version holds no data of its own; the
  // shared dir it references is reclaimed only when the pin-release
  // fixpoint unlocks it, which the plan conservatively omits)
  private def vacuumDryRun(spark: SparkSession, table: String,
                           plan: Seq[Long]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val f = new org.apache.hadoop.fs.Path(table).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val rows = plan.map { v =>
      val dir = s"$table/v=$v"
      // ONE listing per version dir — the statuses already carry the
      // lengths (a per-file getFileStatus would be N+1 RPCs on an
      // object store)
      val own = f.listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
        .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
        .map(_.getLen)
      Row(v, Versioned.isShallowRef(spark, table, v),
        own.size.toLong, own.sum)
    }
    driverFrame(spark, rows,
      StructType(Seq(
        StructField("version", LongType, nullable = false),
        StructField("is_ref", BooleanType, nullable = false),
        StructField("own_files", LongType, nullable = false),
        StructField("own_bytes", LongType, nullable = false))))
  }

  // SHOW MATERIALIZED VIEWS — session-registered MV bindings with their
  // definition facts (source, group/agg columns, sync watermark) read
  // from each view's live spec sidecar
  private def showMaterializedViews(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rows = mvRegistry.toSeq.sortBy(_._1).map { case (name, path) =>
      val sp = scala.util.Try(MatView.spec(spark, path)).toOption
      Row(name, path,
        sp.map(_.source).orNull,
        sp.map(_.groupCols.mkString(",")).orNull,
        sp.map(_.sumCols.mkString(",")).orNull,
        sp.map(_.minMaxCols.mkString(",")).orNull,
        sp.map(s => java.lang.Long.valueOf(s.synced)).orNull,
        Versioned.currentVersion(spark, path)
          .map(java.lang.Long.valueOf).orNull)
    }
    driverFrame(spark, rows,
      StructType(Seq(
        StructField("name", StringType, nullable = false),
        StructField("location", StringType, nullable = false),
        StructField("source", StringType, nullable = true),
        StructField("group_cols", StringType, nullable = true),
        StructField("sum_cols", StringType, nullable = true),
        StructField("minmax_cols", StringType, nullable = true),
        StructField("synced_source_version", LongType, nullable = true),
        StructField("live_version", LongType, nullable = true))))
  }

  // DESCRIBE [TABLE] t — the live schema, with the column-mapping story
  // visible: each LOGICAL column alongside the PHYSICAL name the parquet
  // footers spell (identical unless a rename overlay is live)
  private def describeTable(spark: SparkSession, name: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val (table, _) = lookupAny(name)
    val live = Versioned.currentVersion(spark, table).getOrElse(
      throw new IllegalStateException(s"no published version at $table"))
    val schema = Versioned.schemaAt(spark, table, live)
    val mapping = Versioned.readColumnMapping(
      new org.apache.hadoop.fs.Path(table).getFileSystem(
        spark.sparkContext.hadoopConfiguration), s"$table/v=$live")
      .getOrElse(Map.empty[String, String])
    val rows = schema.fields.toSeq.map { f =>
      Row(f.name, f.dataType.simpleString, f.nullable,
        mapping.getOrElse(f.name, f.name))
    }
    driverFrame(spark, rows,
      StructType(Seq(
        StructField("col_name", StringType, nullable = false),
        StructField("data_type", StringType, nullable = false),
        StructField("nullable", BooleanType, nullable = false),
        StructField("physical_name", StringType, nullable = false))))
  }

  // SHOW CREATE TABLE t — the statement that would re-create this
  // session's binding (name, key, location): what an operator pastes
  // into another session without a durable catalog
  private def showCreateTable(spark: SparkSession,
                              name: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val (table, keyOpt) = lookupAny(name)
    val keyCol = keyOpt.getOrElse("-")
    val apiHint = keyOpt match {
      case Some(k) =>
        s"SqlDml.register(spark, \"$name\", \"$table\", \"$k\")"
      case None => s"Sql.registerTable(spark, \"$name\", \"$table\")"
    }
    val live = Versioned.currentVersion(spark, table)
    val schema = live.map(v => Versioned.schemaAt(spark, table, v))
    val cols = schema.map(_.fields.toSeq
      .map(f => s"${f.name} ${f.dataType.sql}").mkString(", "))
      .getOrElse("<no published version>")
    val keyClause = keyOpt.map(k => s" KEY $k").getOrElse("")
    val stmt = s"-- register the existing lake table (path IS the " +
      s"table):\n-- $apiHint\nCREATE TABLE $name$keyClause LOCATION " +
      s"'$table' AS SELECT ... -- columns: $cols"
    driverFrame(spark, Seq(Row(name, table, keyCol, stmt)),
      StructType(Seq(
        StructField("name", StringType, nullable = false),
        StructField("location", StringType, nullable = false),
        StructField("key_column", StringType, nullable = false),
        StructField("create_statement", StringType, nullable = false))))
  }

  // SHOW TABLES — every binding the session resolves: DML targets with
  // their key, read-only registrations (key '-') — matching what
  // DESCRIBE / SHOW CREATE TABLE / DROP TABLE can address
  private def showTables(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val keyed = registry.toSeq.map { case (n, (p, k)) => (n, p, k) }
    val readOnly = readOnlyRegistry.toSeq
      .filterNot { case (n, _) => registry.contains(n) }
      .map { case (n, p) => (n, p, "-") }
    val rows = (keyed ++ readOnly).sortBy(_._1).map { case (name, path, key) =>
      Row(name, path, key,
        Versioned.currentVersion(spark, path)
          .map(java.lang.Long.valueOf).orNull)
    }
    driverFrame(spark, rows,
      StructType(Seq(
        StructField("name", StringType, nullable = false),
        StructField("location", StringType, nullable = false),
        StructField("key_column", StringType, nullable = false),
        StructField("live_version", LongType, nullable = true))))
  }

  // RETAIN n HOURS → millis, overflow-guarded: an absurd hour count
  // (13+ digits) would overflow the multiplication into a NEGATIVE
  // span, turning "retain forever" into a cutoff in the FUTURE that
  // vacuums nearly the whole history — the worst possible reading of a
  // maximal-retention request. Reject loudly instead.
  private def hoursToMillis(h: String): Long = {
    val hours = h.toLongOption.getOrElse(
      throw new IllegalArgumentException(s"RETAIN $h HOURS — not a number"))
    try Math.multiplyExact(hours, 3600000L)
    catch {
      case _: ArithmeticException => throw new IllegalArgumentException(
        s"RETAIN $hours HOURS overflows the retention window — a span " +
          "that large means 'never vacuum'; simply don't run VACUUM")
    }
  }

  // VACUUM t [RETAIN n VERSIONS | RETAIN n HOURS] — drop version dirs
  // older than live-n, or (time form, Delta's contract) every version
  // outside the n-hour window except the as-of-cutoff anchor
  // (clone/restore-pinned dirs always survive; see Versioned.vacuum /
  // Versioned.vacuumOlderThan — the change feed shares the window by
  // construction, its sidecars living inside the version dirs)
  private def vacuumStmt(spark: SparkSession, sql: String): Long = {
    if (sql.toUpperCase.endsWith("DRY RUN")) reject(sql,
      "VACUUM ... DRY RUN returns a DataFrame, not a version — call " +
        "Sql.describe / SqlDml.describe instead of execute")
    val m = ("(?is)^VACUUM\\s+(\\S+?)(?:\\s+RETAIN\\s+(\\d+)\\s+" +
      "(VERSIONS|HOURS))?$").r
    sql match {
      case m(name, n, unit) =>
        // lookupAny, matching VACUUM ... DRY RUN (Sql.describe): retention
        // is a storage operation, not DML — a read-only binding (key-less
        // CTAS, catalog entry) that can PREVIEW a vacuum must also be able
        // to execute it, instead of a misleading 'not registered' reject
        val (table, _) = lookupAny(name)
        (Option(n), Option(unit).map(_.toUpperCase)) match {
          case (Some(h), Some("HOURS")) =>
            Versioned.vacuumOlderThan(spark, table,
              System.currentTimeMillis() - hoursToMillis(h))
          case (k, _) =>
            Versioned.vacuum(spark, table,
              k.map(_.toInt).getOrElse(1))
        }
        Versioned.currentVersion(spark, table).get // live never vacuumed
      case _ => reject(sql,
        "expected VACUUM <table> [RETAIN n VERSIONS | RETAIN n HOURS]")
    }
  }

  // OPTIMIZE t [ZORDER BY (c1, c2, ...)] — Delta's compaction statement:
  // materialize first when the live version is a zero-copy ref (DV
  // purge/merge/restore/schema overlay — layout work needs real files),
  // then the range-clustering file-count compaction, or — with ZORDER
  // BY — the multi-column z-value re-layout (graft.lake.ZOrder, 2-4
  // interleaved columns, skipping sidecars rebuilt)
  private def optimizeStmt(spark: SparkSession, sql: String): Long = {
    val m = ("(?is)^OPTIMIZE\\s+(\\S+?)" +
      "(?:\\s+ZORDER\\s+BY\\s*\\(([^)]+)\\))?$").r
    val (name, zcols) = sql match {
      case m(n, z) => (n, Option(z).map(splitTop(_, ',')
        .map(_.stripPrefix("`").stripSuffix("`"))).getOrElse(Seq.empty))
      case _ => reject(sql, "expected OPTIMIZE <table> [ZORDER BY (cols)]")
    }
    val (table, keyCol) = lookup(name)
    val live = Versioned.currentVersion(spark, table).getOrElse(
      throw new IllegalStateException(s"no published version at $table"))
    if (Versioned.isShallowRef(spark, table, live))
      Clone.materialize(spark, table)
    val v =
      if (zcols.isEmpty) Compact.compactVersion(spark, table, keyCol)
      else ZOrder.cluster(spark, table, zcols, keyCol)
    rebind(spark, name, table)
    v
  }

  // CREATE [OR REPLACE] TABLE n [KEY k] LOCATION 'p' AS <select>   (CTAS)
  // CREATE TABLE d SHALLOW CLONE s [VERSION AS OF n] LOCATION 'p'
  // No metastore in this sandbox, so LOCATION is required — the path IS
  // the table; the name is the session binding (registerDml semantics).
  // KEY makes the new table DML-addressable (and is enforced unique —
  // this lake's key column is row identity); without it the table
  // registers read-only. A CTAS is a full publish: constraints at the
  // location (if any survive from a replaced table) gate it, and the
  // change feed records the wholesale-replace break.
  private def createStmt(spark: SparkSession, sql: String,
                         rules: Seq[Expect.Rule], mode: Expect.Mode,
                         quarantine: Option[String]): Long = {
    val clone = ("(?is)^CREATE\\s+TABLE\\s+(\\S+)\\s+SHALLOW\\s+CLONE\\s+" +
      "(\\S+?)(?:\\s+VERSION\\s+AS\\s+OF\\s+(\\d+))?\\s+LOCATION\\s+" +
      "'([^']+)'$").r
    val ctas = ("(?is)^CREATE\\s+(OR\\s+REPLACE\\s+)?TABLE\\s+(\\S+?)" +
      "(?:\\s+KEY\\s+(\\S+?))?\\s+LOCATION\\s+'([^']+)'\\s+AS\\s+(.+)$").r
    sql match {
      case clone(dstName, srcName, vOpt, path) =>
        require(rules.isEmpty,
          "expectations do not gate SHALLOW CLONE (zero-copy of already-" +
            "gated content) — pass rules to the DML that writes rows")
        val (srcTable, srcKey) = lookup(srcName)
        // claim the destination NAME before the clone lands — the same
        // claim-before-side-effects discipline as the CTAS arm below: a
        // name already bound elsewhere must reject BEFORE the clone
        // publishes its data dir and pins the source, or the conflict
        // leaves an orphaned clone dir plus a lingering source pin
        val claimedNew = catalogDir.exists { d =>
          graft.lake.Metastore.recordTable(spark, d, dstName, path,
            Some(srcKey))
        }
        try {
          val v = Clone.shallow(spark, srcTable, path,
            Option(vOpt).map(_.toLong))
          register(spark, dstName, path, srcKey, durableRecord = false)
          v
        } catch {
          case t: Throwable =>
            // unwind only a FRESH claim (pre-existing identical entries
            // were verified, not created, and must survive)
            if (claimedNew) catalogDir.foreach(d =>
              graft.lake.Metastore.removeTable(spark, d, dstName))
            throw t
        }
      case ctas(orReplace, name, keyOpt, path, select) =>
        val replacing = orReplace != null
        require(replacing ||
          Versioned.currentVersion(spark, path).isEmpty,
          s"a table already exists at $path — CREATE OR REPLACE TABLE " +
            s"to restate it, or INSERT/MERGE INTO to change it")
        // with a durable catalog attached, claim the NAME before any
        // side effect: a conflict (name bound to another path) must
        // reject BEFORE the publish / ledger clear / registry mutation —
        // validating after would leave this session bound to the new
        // path while the catalog (and every other session) points at
        // the old one. recordTable's return IS the atomic freshness
        // signal (two racing identical CTAS get exactly one true, so a
        // loser's failure-unwind can never delete the winner's entry);
        // a failed CTAS after a FRESH claim removes it.
        val claimedNew = catalogDir.exists { d =>
          graft.lake.Metastore.recordTable(spark, d, name, path,
            Option(keyOpt).map(_.stripPrefix("`").stripSuffix("`")))
        }
        try {
          // a replace is a restatement: ingest history must not survive
          // it (a stale COPY INTO ledger would skip re-landing files the
          // new incarnation never saw)
          if (replacing) graft.lake.CopyInto.clearLedger(spark, path)
        val df = Sql.sql(spark, select.trim)
        // persist: the key audit and the publish must serve from ONE
        // materialization — a non-deterministic select could otherwise
        // pass validation and publish different (violating) content
        df.persist()
        val v = try {
          Option(keyOpt).map(_.stripPrefix("`").stripSuffix("`"))
            .foreach { k =>
              require(df.columns.exists(_.equalsIgnoreCase(k)),
                s"KEY column '$k' is not in the CTAS output " +
                  s"(${df.columns.toSeq})")
              requireKeyIdentity(df, k, "CTAS output")
            }
          if (rules.isEmpty) Versioned.publish(df, path)
          else Expect.publish(df, path, rules, mode, quarantine)
            .version.get // publish always lands a version
        } finally { df.unpersist(); () }
        Option(keyOpt).map(_.stripPrefix("`").stripSuffix("`")) match {
          case Some(k) =>
            // durableRecord = false: the pre-publish claim above already
            // holds the entry — re-claiming it would pay a redundant
            // verify round trip per CTAS (the cost useCatalog's load
            // loop deliberately avoids)
            register(spark, name, path, k, durableRecord = false)
            ()
          case None =>
            Sql.registerTable(spark, name, path)
        }
        v
        } catch {
          case t: Throwable =>
            // unwind a FRESH durable claim when the CTAS itself failed —
            // a name pointing at a table that never published can never
            // read (pre-existing entries were verified-identical and stay)
            if (claimedNew) catalogDir.foreach(d =>
              graft.lake.Metastore.removeTable(spark, d, name))
            throw t
        }
      case _ => reject(sql,
        "expected CREATE [OR REPLACE] TABLE n [KEY k] LOCATION 'p' AS " +
          "<select>, or CREATE TABLE d SHALLOW CLONE s [VERSION AS OF " +
          "n] LOCATION 'p'")
    }
  }

  // one NULL/duplicate-key audit over an already-persisted frame — the
  // key-is-row-identity invariant every full restatement must establish
  private def requireKeyIdentity(df: DataFrame, keyCol: String,
                                 what: String): Unit = {
    val a = df.agg(count(lit(1)).as("n"),
      countDistinct(col(keyCol)).as("nk"),
      count(when(col(keyCol).isNull, 1)).as("nulls")).head()
    require(a.getLong(2) == 0L, s"$what has NULL $keyCol keys")
    require(a.getLong(0) == a.getLong(1),
      s"${a.getLong(0) - a.getLong(1)} duplicate $keyCol key(s) in " +
        s"the $what — the key column is row identity")
  }

  // CREATE MATERIALIZED VIEW name LOCATION 'path' AS
  //   SELECT g1, ..., count(*), sum(a), min(b), max(b)
  //   FROM <registered-src> GROUP BY g1, ...
  // — the SQL surface of graft.lake.MatView: a full compute now, then
  // incremental maintenance at changeset cost (CdcSink.intoWithView, or
  // MatView.refresh from any CDC batch). The supported aggregate shape
  // IS MatView's self-maintainable algebra: count(*)/sum (incrementally
  // exact under inserts+deletes), min/max (least/greatest on inserts,
  // touched-group recompute on deletes). Column names in the stored
  // view are fixed (n_rows, sum_<c>, min_<c>, max_<c>) — aliases
  // reject, pointing there. min(c) or max(c) each materialize BOTH
  // legs (the maintenance algebra needs the pair).
  // Whitelisted DETERMINISTIC bucket expressions usable as MV group
  // keys: `YEAR/MONTH/DAY(col)` and `DATE_TRUNC('unit', col)` — the
  // month/day dashboard grains the reference declares. Returns
  // (storage column name, canonical SQL) — the canonical form is what
  // [[rewriteViaMv]] matches a query's grouping expression against, so
  // spelling/case/whitespace differences never break the match.
  private def groupExprOf(raw: String): Option[(String, String)] = {
    val t = raw.trim.replace("`", "")
    val fn = ("(?i)^(YEAR|MONTH|DAY)\\s*\\(\\s*" +
      "([A-Za-z_][A-Za-z0-9_]*)\\s*\\)$").r
    val dt = ("(?i)^DATE_TRUNC\\s*\\(\\s*'([A-Za-z]+)'\\s*,\\s*" +
      "([A-Za-z_][A-Za-z0-9_]*)\\s*\\)$").r
    t match {
      case fn(f, c) => Some((s"${f.toLowerCase}_${c.toLowerCase}",
        s"${f.toLowerCase}(${c.toLowerCase})"))
      case dt(u, c) => Some((s"dt_${u.toLowerCase}_${c.toLowerCase}",
        s"date_trunc('${u.toLowerCase}', ${c.toLowerCase})"))
      case _ => None
    }
  }

  private def createMvStmt(spark: SparkSession, sql: String): Long = {
    val m = ("(?is)^CREATE\\s+MATERIALIZED\\s+VIEW\\s+(\\S+)\\s+LOCATION" +
      "\\s+'([^']+)'\\s+AS\\s+SELECT\\s+(.+?)\\s+FROM\\s+(\\S+)\\s+" +
      "GROUP\\s+BY\\s+(.+)$").r
    sql match {
      case m(name, path, selectList, srcName, groupByRaw) =>
        val (srcTable, keyCol) = lookup(srcName)
        def clean(c: String) = c.trim.replace("`", "")
        // group keys: plain columns, or whitelisted bucket EXPRESSIONS
        // (year/month/day/date_trunc) — an expression materializes as a
        // derived storage column the maintenance algebra then treats
        // like any group column (MatView.withDerived)
        var groupExprs = Seq.empty[(String, String)]
        val groupCols = splitTop(groupByRaw, ',').map { g =>
          groupExprOf(g) match {
            case Some((storage, canonical)) =>
              require(!spark.table(srcName).columns
                  .exists(_.equalsIgnoreCase(storage)),
                s"derived group column '$storage' collides with a " +
                  "source column — rename the source column")
              groupExprs :+= (storage -> canonical)
              storage
            case None => clean(g)
          }
        }
        var sums = Seq.empty[String]
        var minMax = Seq.empty[String]
        // top-level split, NOT split(",") — a date_trunc('unit', col)
        // select item carries an internal comma
        splitTop(selectList, ',').map(_.trim).filter(_.nonEmpty).foreach {
          item =>
            if (item.matches("(?i).*\\sAS\\s.*"))
              reject(sql, s"alias in '$item' — the stored view's column " +
                "names are fixed by the maintenance algebra (n_rows, " +
                "sum_<c>, min_<c>, max_<c>); query them as such")
            else item match {
              case _ if groupExprOf(item).exists(ge =>
                  groupExprs.exists(_._2 == ge._2)) => () // an expr key
              case cnt() => () // always materialized as n_rows
              // AVG is derived at query time from the sum and count legs
              case agg(fn, c) if !fn.equalsIgnoreCase("AVG") =>
                if (fn.equalsIgnoreCase("SUM")) sums :+= clean(c)
                else if (!minMax.contains(clean(c))) minMax :+= clean(c)
              // SQL identifiers are case-insensitive — match them so
              case bare if groupCols.exists(
                _.equalsIgnoreCase(clean(bare))) => ()
              case other => reject(sql,
                s"select item '$other' — a materialized view supports " +
                  "group columns, count(*), sum(c), min(c), max(c) " +
                  "(the self-maintainable aggregate algebra); anything " +
                  "else belongs in a query over the view")
            }
        }
        val v = MatView.create(spark, srcTable, keyCol, path,
          groupCols, sums.distinct, minMax, groupExprs)
        mvRegistry.put(name.toLowerCase, path)
        catalogDir.foreach(d =>
          graft.lake.Metastore.recordView(spark, d, name, path))
        Versioned.readVersion(spark, path, v).createOrReplaceTempView(name)
        v
      case _ => reject(sql,
        "expected CREATE MATERIALIZED VIEW name LOCATION '<path>' AS " +
          "SELECT <group cols + count(*)/sum/min/max> FROM <table> " +
          "GROUP BY <cols>")
    }
  }

  /** Bind an EXISTING materialized view (its spec sidecar already at
    * `path` — built by a prior CREATE MATERIALIZED VIEW, this session or
    * another) into this session: temp view at the live version +
    * rewrite-registry entry, the MV analog of re-registering a table by
    * path. Returns the bound version. */
  def registerMv(spark: SparkSession, name: String, path: String): Long = {
    MatView.spec(spark, path) // loud reject on a non-MV path
    val v = Versioned.currentVersion(spark, path).getOrElse(
      throw new IllegalStateException(s"no published version at $path"))
    mvRegistry.put(name.toLowerCase, path)
    Versioned.readVersion(spark, path, v).createOrReplaceTempView(name)
    v
  }

  // ------------------------------------------------ MV automatic rewrite

  // The MV grammar, shared by CREATE MATERIALIZED VIEW's select list and
  // the rewrite's select items, WHERE, HAVING, GROUP BY and ORDER BY.
  private val cnt = "(?i)^COUNT\\s*\\(\\s*\\*\\s*\\)$".r
  private val agg = "(?i)^(SUM|MIN|MAX|AVG)\\s*\\(\\s*([^)]+?)\\s*\\)$".r
  private val aliased = "(?is)^(.+?)\\s+AS\\s+([A-Za-z_][A-Za-z0-9_]*)$".r
  // WHERE conjuncts: <ref> (=|!=|<>|<|<=|>|>=) <literal> and <ref> IN
  // (<literal>, ...); literals are numbers or single-quoted strings
  private val literal = "(?:'[^']*'|-?\\d+(?:\\.\\d+)?)"
  private val cmp =
    s"(?is)^(.+?)\\s*(=|!=|<>|<=|>=|<|>)\\s*($literal)$$".r
  private val inList = ("(?is)^(.+?)\\s+IN\\s*\\(\\s*" +
    s"($literal(?:\\s*,\\s*$literal)*)\\s*\\)$$").r
  // HAVING conjuncts: <aggregate> <cmp> <numeric literal>
  private val hcmp =
    "(?is)^(.+?)\\s*(=|!=|<>|<=|>=|<|>)\\s*(-?\\d+(?:\\.\\d+)?)$".r
  private val wrapM = "(?is)^\\s*(ROLLUP|CUBE)\\s*\\((.*)\\)\\s*$".r
  // an ORDER BY item: peel only a trailing ASC/DESC, so an expression
  // head keeps the spaces inside its parens
  private val dirM = "(?is)^(.*?)(?:\\s+(ASC|DESC))?\\s*$".r
  // a function call, for the auto-name of an unaliased select item
  private val call = "(?s)^(\\w+)\\s*\\((.*)\\)$".r
  // SELECT .. FROM <fact> [JOIN <dim> ON a = b]* [WHERE ..] GROUP BY ..
  // [HAVING ..] [ORDER BY ..]
  private val mvShape = ("(?is)^\\s*SELECT\\s+(.+?)\\s+FROM\\s+(\\w+)" +
    "((?:\\s+JOIN\\s+\\w+\\s+ON\\s+[\\w.`]+\\s*=\\s*[\\w.`]+)*)" +
    "(?:\\s+WHERE\\s+(.+?))?\\s+GROUP\\s+BY\\s+(.+?)" +
    "(?:\\s+HAVING\\s+(.+?))?" +
    "(?:\\s+ORDER\\s+BY\\s+(.+?))?\\s*;?\\s*$").r
  private val joinHop =
    "(?i)JOIN\\s+(\\w+)\\s+ON\\s+([\\w.`]+)\\s*=\\s*([\\w.`]+)".r

  /** Try to answer a grouped SELECT from a registered MATERIALIZED VIEW
    * instead of its (100 TB) base table — the consumption half of the MV
    * story ([[createMvStmt]] builds them, this makes plain SQL use them
    * without naming them):
    *
    *   SELECT <keys + count(*)/sum/min/max/avg over FACT columns>
    *   FROM <registered fact> [JOIN <dim> ON a = b]*
    *   [WHERE <conjuncts>] GROUP BY [ROLLUP|CUBE] <keys>
    *   [HAVING <conjuncts>] [ORDER BY <group keys>]
    *
    * A single-table query is a join chain of zero hops. Fires only when
    * ALL of:
    *
    *  - some registered MV has this fact as its source and its group
    *    columns cover every FACT column the query touches: group keys,
    *    WHERE targets and join keys (whitelisted bucket expressions map
    *    onto the MV's derived storage columns, matched by canonical
    *    form). A coarser query re-aggregates the dimension-sized MV: sum
    *    of n_rows/sum_c/cnt_c, min of min_c, max of max_c, avg = sum_c /
    *    cnt_c — the algebra is re-aggregable by construction, so
    *    ROLLUP/CUBE wrappers carry through verbatim (GROUPING() falls
    *    through: not a materialized column);
    *  - every aggregate is over a FACT column the MV materializes, and
    *    SUM/AVG find the view's Decimal(38,6) accumulator EXACT for the
    *    source type (integral, or decimal of scale <= 6 — float/double
    *    sources quantize at 1e-6 and fall through to the base); AVG
    *    needs the `cntCols` leg and an integral source;
    *  - each WHERE conjunct is a comparison / IN list with literals on a
    *    fact MV group column or declared bucket expression (a group
    *    column is materialized verbatim at group grain, so the filter
    *    commutes with the aggregation) or on any dim column (the filter
    *    is row-level on the join's dim side; aggregation follows the
    *    join in both formulations). HAVING conjuncts compare a mappable
    *    aggregate with a numeric literal; ORDER BY names group keys;
    *  - the MV is CURRENT for THIS SESSION: its sync watermark equals
    *    the version the fact's registered temp view is BOUND to (a stale
    *    MV — or one synced ahead of an un-rebound view — answers
    *    nothing; fall back to the base, the always-correct path).
    *
    * Through joins, the rollup COMMUTES because every ON may touch the
    * fact only through MV group columns: all fact rows of one MV group
    * share the same total join multiplicity, so each MV partial row
    * replicates exactly as the base's fact rows would (k matches scale
    * n_rows / sum_c / cnt_c by k on both sides, min/max are idempotent
    * under replication, AVG divides two k-scaled legs). NO uniqueness
    * assumption on any dim key; NULL join keys drop identically. A
    * SNOWFLAKE tail (dim-to-dim hops) joins at dimension scale either
    * way — the reference's declared dashboard shape (funnel /
    * attribution metrics sliced by dimension attributes) at MV cost.
    * Dims need no watermark: the rewritten text references the same
    * registered dim views the original would read.
    *
    * The rewritten scan reads the MV's live version through a pinned
    * temp view, every reference qualified. Ambiguity resolves to the
    * FEWEST-group-columns current MV that covers the query. Unaliased
    * items keep Spark's auto names over the query text (qualifier
    * dropped), so the output schema does not depend on whether the
    * rewrite fired; sums come back in the base's sum type. Returns None
    * when any condition fails — the caller runs the original text.
    * Other fall-throughs: unqualified names more than one relation
    * carries, unregistered names, outer or non-equi joins, chains with
    * no fact linkage. */
  private[graft] def rewriteViaMv(spark: SparkSession,
                                  text: String): Option[String] = {
    val (items, srcName, joinSeg, whereRaw, gbyRaw, havingRaw, obyRaw) =
      text match {
        case mvShape(i, s, j, w, g, h, o) =>
          (i, s, j, Option(w), g, Option(h), Option(o))
        case _ => return None
      }
    val srcPath = registry.get(srcName.toLowerCase).map(_._1)
      .getOrElse(return None)
    val joins = joinHop.findAllMatchIn(joinSeg)
      .map(m => (m.group(1), m.group(2), m.group(3))).toSeq
    val dimNames = joins.map(_._1)
    val allNames = srcName +: dimNames
    // every dim must be registered too (writable or read-only): the
    // rewrite re-references its SESSION view, so an unregistered name
    // has no governed binding to point at
    if (allNames.map(_.toLowerCase).distinct.size != allNames.size ||
        !dimNames.forall(d => registry.contains(d.toLowerCase) ||
          readOnlyRegistry.contains(d.toLowerCase))) return None
    import org.apache.spark.sql.types._
    // Try: an allowMissing-registered name (COPY INTO bootstrap) has a
    // registry entry but no bound view yet — fall through, never throw
    val srcSchema = scala.util.Try(spark.table(srcName).schema)
      .getOrElse(return None)
    val dimSchemas: Seq[(String, StructType)] =
      dimNames.map(d => d -> scala.util.Try(spark.table(d).schema)
        .getOrElse(return None))
    def clean(c: String) = c.trim.replace("`", "")
    // Spark's auto-name for an unaliased item: the query's spelling with
    // qualifiers and literal quotes dropped and functions lower-cased
    // (`SUM(t.Amt)` → `sum(Amt)`, `date_trunc('MONTH', D)` →
    // `date_trunc(MONTH, D)`), so the output schema does not depend on
    // whether the rewrite fired
    def autoName(body: String): String = clean(body) match {
      case cnt() => "count(1)"
      case call(fn, args) => splitTop(args, ',').map(a =>
        autoName(a).stripPrefix("'").stripSuffix("'"))
        .mkString(s"${fn.toLowerCase}(", ", ", ")")
      case ref => ref.split('.').last
    }
    // a grouping / filter / join key: a fact or dim column, or a
    // whitelisted bucket expression ([[groupExprOf]]) over a FACT column
    // — the dashboard's `segment × month` grain
    sealed trait JKey
    case class FactKey(c: String) extends JKey
    case class DimKey(d: String, c: String) extends JKey
    case class BucketKey(can: String) extends JKey
    // resolve a (possibly table-qualified) column ref to its relation
    // and the SCHEMA's spelling, so key comparisons are exact; None = an
    // unknown name, a foreign qualifier, or an unqualified name MORE
    // THAN ONE schema carries (the base parser would reject it too, but
    // the rewrite must never guess)
    def side(raw: String): Option[JKey] = {
      val r = clean(raw)
      val (qual, col) = r.lastIndexOf('.') match {
        case -1 => (None, r)
        case i => (Some(r.substring(0, i)), r.substring(i + 1))
      }
      def inSrc = srcSchema.fieldNames.find(_.equalsIgnoreCase(col))
        .map(FactKey(_))
      def inDim(d: String) = dimSchemas.find(_._1.equalsIgnoreCase(d))
        .flatMap(ds => ds._2.fieldNames.find(_.equalsIgnoreCase(col))
          .map(DimKey(ds._1, _)))
      qual match {
        case Some(q) if q.equalsIgnoreCase(srcName) => inSrc
        case Some(q) => inDim(q)
        case None =>
          val hits = inSrc.toSeq ++ dimNames.flatMap(inDim)
          if (hits.size == 1) hits.headOption else None
      }
    }
    // a dim-side or ambiguous bucket column cannot map onto a fact MV's
    // derived storage column; the canonical's column is the identifier
    // before the closing paren — `year(c)` AND `date_trunc('u', c)`
    def jkey(raw: String): Option[JKey] = side(raw).orElse(
      groupExprOf(raw).flatMap { case (_, can) =>
        "([A-Za-z_][A-Za-z0-9_]*)\\)$".r.findFirstMatchIn(can)
          .flatMap(m => side(m.group(1))).collect {
            case FactKey(_) => BucketKey(can)
          }
      })
    val onSides: Seq[(JKey, JKey)] = joins.map { case (_, l, r) =>
      (side(l).getOrElse(return None), side(r).getOrElse(return None))
    }
    if (joins.nonEmpty && !onSides.exists { case (l, r) =>
        l.isInstanceOf[FactKey] || r.isInstanceOf[FactKey] })
      return None // no fact linkage: not a rollup of this fact
    val (gbyWrap, gbyInner) = gbyRaw.trim match {
      case wrapM(w, inner) => (Some(w.toUpperCase), inner)
      case _ => (None, gbyRaw)
    }
    val gkeys: Seq[JKey] =
      splitTop(gbyInner, ',').map(g => jkey(g).getOrElse(return None))
    // only FACT-side aggregates map onto the view's algebra; a dim-side
    // aggregate has no materialized leg
    case class Agg(fn: String, c: String)
    def aggOf(body: String): Option[Agg] = body.trim match {
      case cnt() => Some(Agg("count", ""))
      case agg(fn, c) => side(c).collect {
        case FactKey(f) => Agg(fn.toLowerCase, f)
      }
      case _ => None
    }
    // (group key | aggregate, output name)
    val parsed: Seq[(Either[JKey, Agg], String)] =
      splitTop(items, ',').map { raw =>
        val (body, alias) = raw.trim match {
          case aliased(b, a) => (b.trim, Some(a))
          case b => (b, None)
        }
        val item: Either[JKey, Agg] = aggOf(body).map(Right(_)).getOrElse(
          Left(jkey(body).filter(gkeys.contains).getOrElse(return None)))
        item -> alias.getOrElse(autoName(body))
      }
    val whereParsed: Seq[(JKey, String)] =
      whereRaw.toSeq.flatMap(splitAndTop).map {
        case cmp(c, op, l) => (jkey(c).getOrElse(return None), s"$op $l")
        case inList(c, ls) => (jkey(c).getOrElse(return None), s"IN ($ls)")
        case _ => return None
      }
    // HAVING over the same fact-side algebra as the select items — the
    // values on both sides of the comparison equal the base's by the
    // exactness gates, so the group filter commutes
    val havingParsed: Seq[(Agg, String, String)] =
      havingRaw.toSeq.flatMap(splitAndTop).map { conj =>
        conj.replace("`", "") match {
          case hcmp(a, op, l) => (aggOf(a).getOrElse(return None), op, l)
          case _ => return None
        }
      }
    val aggs = parsed.collect { case (Right(a), _) => a } ++
      havingParsed.map(_._1)
    // candidate MVs: over this fact, current, covering every fact-side
    // key / bucket expression / WHERE target / join key and every
    // aggregate, smallest first
    val keys = gkeys ++ whereParsed.map(_._1) ++
      onSides.flatMap { case (l, r) => Seq(l, r) }
    val (mvPath, mvSpec) = mvRegistry.values.toSeq.distinct.flatMap { path =>
      scala.util.Try(MatView.spec(spark, path)).toOption.map(path -> _)
    }.filter { case (_, sp) =>
      sp.source == srcPath && keys.forall {
        case FactKey(f) => sp.groupCols.exists(_.equalsIgnoreCase(f))
        case BucketKey(can) => sp.groupExprs.exists(_._2 == can)
        case DimKey(_, _) => true
      } && aggs.forall { a =>
        def has(cols: Seq[String]) = cols.exists(_.equalsIgnoreCase(a.c))
        a.fn match {
          case "count" => true
          case "sum" => has(sp.sumCols)
          // AVG divides the materialized sum by the materialized
          // NON-NULL count — both legs must exist (cntCols is empty on
          // pre-AVG views)
          case "avg" => has(sp.sumCols) && has(sp.cntCols)
          case _ => has(sp.minMaxCols)
        }
      } &&
      // currency is judged against the VERSION the session's temp view
      // is bound to — not the table's live version: if the table moved
      // under an un-rebound view, a live-synced MV would answer from a
      // DIFFERENT snapshot than every other query on this name
      boundVersions.get(srcName.toLowerCase).contains(sp.synced)
    }.sortBy(_._2.groupCols.size).headOption.getOrElse(return None)
    // EXACTNESS gate for the additive aggregates: the view accumulates
    // sums as Decimal(38,6) (MatView.acc), which represents INTEGRAL
    // values and decimals of scale <= 6 exactly but QUANTIZES
    // float/double (a 1e-7 value materializes as 0.000000) and
    // wider-scale decimals. AVG additionally excludes decimal sources
    // (base decimal avg carries Spark-internal rounding the derived
    // division is not guaranteed to reproduce). A rewritten SUM comes
    // back in the type the BASE query would produce (integral sums →
    // BIGINT, decimal follows Spark's sum widening), so e.g. a CTAS over
    // it is not silently re-typed.
    val sumTypes = aggs.filter(a => a.fn == "sum" || a.fn == "avg").map { a =>
      val dt = srcSchema(a.c).dataType
      val integral = dt match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
      val exact = integral || a.fn == "sum" && (dt match {
        case d: DecimalType => d.scale <= 6 && d.precision - d.scale <= 32
        case _ => false
      })
      if (!exact) return None
      a.c -> (if (integral) "BIGINT" else dt match {
        case d: DecimalType =>
          s"DECIMAL(${math.min(38, d.precision + 10)},${d.scale})"
        case other => other.sql
      })
    }.toMap
    // pin the MV's live version under a throwaway view and re-aggregate
    // (exact-match groupings re-aggregate one row per group — same
    // values, one canonical rewrite shape for both cases)
    val mvLive = Versioned.currentVersion(spark, mvPath).getOrElse(
      return None)
    val vn = s"${srcName}__mv_rw_v$mvLive"
    def qcol(k: JKey): String = k match {
      case FactKey(f) => s"$vn.`$f`"
      case DimKey(d, c) => s"$d.`$c`"
      case BucketKey(can) =>
        s"$vn.`${mvSpec.groupExprs.find(_._2 == can).get._1}`"
    }
    // ORDER BY names a group key: a selected one by its output name
    // (matched by alias, column or expression), any other by its
    // qualified rewritten column. Anything else (an aggregate) might not
    // survive the mapping — base path.
    val oby = obyRaw.map(o => splitTop(o, ',').map { seg =>
      val dirM(head, dir) = seg.trim
      val k = jkey(head)
      parsed.collectFirst {
        case (Left(pk), out) if out.equalsIgnoreCase(clean(head)) ||
          k.contains(pk) => s"`$out`"
      }.orElse(k.filter(gkeys.contains).map(qcol)).getOrElse(return None) +
        Option(dir).map(" " + _.toUpperCase).getOrElse("")
    })
    Versioned.readVersion(spark, mvPath, mvLive).createOrReplaceTempView(vn)
    // AVG: DOUBLE division, not decimal — a decimal(38,6)/bigint
    // quotient re-adjusts to scale 6 (Spark's adjustPrecisionScale) and
    // a cast of THAT to double is the 6-dp truncation, not the base
    // avg. nullif keeps an all-NULL group (cnt 0) NULL — what base AVG
    // returns — instead of a 0/0 NaN.
    //
    // AVG exactness contract: the gate above admits only INTEGRAL
    // sources, where the base's double-accumulated sum is EXACT as long
    // as every partial sum stays below 2^53 (integer + integer with a
    // representable result is exact), and the derived
    // exact-decimal-sum → double cast then reproduces it bit-for-bit.
    // Past 2^53 — a group summing >9e15, i.e. ~1e9 rows of ~1e7 values
    // — the BASE's own answer becomes order-dependent (Spark sums
    // partitions in nondeterministic order), so no rewrite decision can
    // be bit-stable against it; the rewrite's answer stays within the
    // same ulp band. DOCUMENTED trade-off, not gated: bounding partial
    // sums would need per-value magnitude legs (min/max of the summed
    // column) most views don't materialize, and the base it would fall
    // back to is itself unstable there.
    def aggSql(a: Agg): String = a.fn match {
      case "count" => s"sum($vn.n_rows)"
      case "sum" => s"CAST(sum($vn.`sum_${a.c}`) AS ${sumTypes(a.c)})"
      case "avg" => s"CAST(CAST(sum($vn.`sum_${a.c}`) AS DOUBLE) / " +
        s"nullif(sum($vn.`cnt_${a.c}`), 0) AS DOUBLE)"
      case fn => s"$fn($vn.`${fn}_${a.c}`)" // min(min_c), max(max_c)
    }
    val sel = parsed.map {
      case (Left(k), out) => s"${qcol(k)} AS `$out`"
      case (Right(a), out) => s"${aggSql(a)} AS `$out`"
    }.mkString(", ")
    val fromSql = joins.zip(onSides).map { case ((d, _, _), (l, r)) =>
      s" JOIN $d ON ${qcol(l)} = ${qcol(r)}"
    }.mkString
    val whereSql =
      if (whereParsed.isEmpty) ""
      else whereParsed.map { case (k, p) => s"${qcol(k)} $p" }
        .mkString(" WHERE ", " AND ", "")
    val havingSql =
      if (havingParsed.isEmpty) ""
      else havingParsed.map { case (a, op, l) => s"${aggSql(a)} $op $l" }
        .mkString(" HAVING ", " AND ", "")
    val gbyOut = gkeys.map(qcol).mkString(", ")
    Some(s"SELECT $sel FROM $vn$fromSql$whereSql " +
      s"GROUP BY ${gbyWrap.map(w => s"$w($gbyOut)").getOrElse(gbyOut)}" +
      s"$havingSql" +
      oby.map(o => s" ORDER BY ${o.mkString(", ")}").getOrElse(""))
  }

  // REFRESH MATERIALIZED VIEW name — bring the view current at
  // CHANGESET cost: MatView.catchUp reduces the source's change-feed
  // span since the view's watermark to its last op per key and applies
  // one incremental refresh; only an unbridgeable feed (wholesale
  // replace, vacuumed version) falls back to the full recompute. Inside
  // a BEGIN...COMMIT block it joins the txn, so MERGE + REFRESH flip
  // together.
  private def refreshMvStmt(spark: SparkSession, sql: String): Long = {
    val m = "(?is)^REFRESH\\s+MATERIALIZED\\s+VIEW\\s+(\\S+)$".r
    sql match {
      case m(name) =>
        val path = mvRegistry.getOrElse(name.toLowerCase,
          reject(sql, s"'$name' is not a registered materialized view — " +
            "CREATE MATERIALIZED VIEW first (the binding is " +
            "session-scoped)"))
        val v = MatView.catchUp(spark, path)
        Versioned.readVersion(spark, path, v).createOrReplaceTempView(name)
        v
      case _ => reject(sql, "expected REFRESH MATERIALIZED VIEW <name>")
    }
  }

  // DROP TABLE t / DROP MATERIALIZED VIEW v — UNBIND the session
  // registration and temp view. Tables here are path-based (external in
  // warehouse terms): the versioned dirs on disk are untouched —
  // re-register to get them back, VACUUM + rm is the operator's data
  // deletion. Returns the live version at unbind (0 when none existed,
  // e.g. an allowMissing bootstrap binding).
  private def dropStmt(spark: SparkSession, sql: String): Long = {
    val mv = "(?is)^DROP\\s+MATERIALIZED\\s+VIEW\\s+(\\S+)$".r
    val tb = "(?is)^DROP\\s+TABLE\\s+(\\S+)$".r
    def unbind(name: String, path: String): Long = {
      spark.catalog.dropTempView(name)
      Versioned.currentVersion(spark, path).getOrElse(0L)
    }
    sql match {
      case mv(name) =>
        val path = mvRegistry.remove(name.toLowerCase).getOrElse(
          reject(sql, s"'$name' is not a registered materialized view"))
        catalogDir.foreach(d =>
          graft.lake.Metastore.removeView(spark, d, name))
        unbind(name, path)
      case tb(name) =>
        val lower = name.toLowerCase
        val path = registry.get(lower).map(_._1)
          .orElse(readOnlyRegistry.get(lower))
          .getOrElse(reject(sql,
            s"'$name' is not a registered table"))
        registry.remove(lower)
        readOnlyRegistry.remove(lower)
        boundVersions.remove(lower)
        catalogDir.foreach(d =>
          graft.lake.Metastore.removeTable(spark, d, name))
        unbind(name, path)
      case _ => reject(sql,
        "expected DROP TABLE <name> or DROP MATERIALIZED VIEW <name>")
    }
  }

  // ANALYZE TABLE t COMPUTE STATISTICS [FOR BLOOM] — build/refresh the
  // skipping indexes of the LIVE version's data dir: the StatsIndex
  // manifest (per-file key min/max/counts in ONE metadata read — range
  // pruning without per-file footer opens on an object store) and, with
  // FOR BLOOM, the per-file key Bloom sidecars (point-lookup pruning
  // where min/max is blind). Metadata-sized artifacts beside immutable
  // data files — no version publish, safe to run anytime (DML carries
  // indexes forward itself; this statement births them on tables
  // published without). Returns the live version analyzed.
  private def analyzeStmt(spark: SparkSession, sql: String): Long = {
    val m = ("(?is)^ANALYZE\\s+TABLE\\s+(\\S+)\\s+COMPUTE\\s+STATISTICS" +
      "(\\s+FOR\\s+BLOOM)?$").r
    sql match {
      case m(name, forBloom) =>
        val (table, keyCol) = lookup(name)
        val live = Versioned.currentVersion(spark, table).getOrElse(
          throw new IllegalStateException(
            s"no published version at $table — land data first, then " +
              "ANALYZE"))
        // TABLE-level stats (graft.lake.TableStats) always: one small
        // root sidecar feeding the SQL surface's cold-plan broadcast
        // decision at registerTable — legal on ANY live version (the
        // zero-copy kinds are exactly where file-size estimation lies)
        graft.lake.TableStats.write(spark, table,
          graft.lake.TableStats.compute(spark, table))
        // skipping indexes only where a data dir of the table's OWN
        // exists — a shallow-ref's _ref points INTO another table (or an
        // older version): writing _stats/_bloom there would mutate, and
        // with a mismatched key column poison, someone else's indexes.
        // Plain COMPUTE STATISTICS on a ref = table stats only; FOR
        // BLOOM explicitly asked for indexes and rejects loudly.
        if (!Versioned.isShallowRef(spark, table, live)) {
          val dir = s"$table/v=$live"
          StatsIndex.build(spark, dir, keyCol)
          if (forBloom != null) BloomIndex.indexExisting(spark, dir, keyCol)
        } else require(forBloom == null,
          s"$table v$live is a shallow-clone/zero-copy reference (no " +
            "data dir of its own) — Bloom sidecars cannot build there; " +
            "ANALYZE the source table, or Clone.materialize first")
        rebind(spark, name, table) // the fresh stats may arm the hint
        live
      case _ => reject(sql,
        "expected ANALYZE TABLE <t> COMPUTE STATISTICS [FOR BLOOM]")
    }
  }

  // COPY INTO t FROM 'dir' [FILEFORMAT = PARQUET] — idempotent
  // file-grain ingest (graft.lake.CopyInto: each landing file loads
  // exactly once across reruns; fresh rows take the standard merge path)
  private def copyIntoStmt(spark: SparkSession, sql: String,
                           rules: Seq[Expect.Rule], mode: Expect.Mode,
                           quarantine: Option[String]): Long = {
    val m = ("(?is)^COPY\\s+INTO\\s+(\\S+)\\s+FROM\\s+'([^']+)'" +
      "(?:\\s+FILEFORMAT\\s*=\\s*(\\S+))?$").r
    val (name, dir, fmt) = sql match {
      case m(n, d, ff) => (n, d, Option(ff).getOrElse("PARQUET"))
      case _ => reject(sql,
        "expected COPY INTO t FROM '<dir>' [FILEFORMAT = PARQUET]")
    }
    require(fmt.equalsIgnoreCase("PARQUET"),
      s"COPY INTO supports FILEFORMAT = PARQUET here, got '$fmt' — " +
        "convert via graft.lake.Formats first")
    val (table, keyCol) = lookup(name)
    val r = graft.lake.CopyInto.load(spark, table, keyCol, dir,
      rules, mode, quarantine)
    rebind(spark, name, table)
    r.version
  }

  // USE CATALOG '<dir>' — attach the durable catalog and restore every
  // binding it records ([[useCatalog]]); returns the binding count (the
  // one statement whose Long is not a version — documented there)
  private def useCatalogStmt(spark: SparkSession, sql: String): Long = {
    val m = "(?is)^USE\\s+CATALOG\\s+'([^']+)'$".r
    sql match {
      case m(dir) => useCatalog(spark, dir).toLong
      case _ => reject(sql, "expected USE CATALOG '<dir>'")
    }
  }

  // ALTER TABLE t ADD CONSTRAINT name CHECK (pred) | DROP CONSTRAINT name
  // — persistent table CHECK constraints (graft.lake.Constraints):
  // ADD validates existing rows first; registered constraints then gate
  // EVERY row-adding write (API and SQL alike) with Fail semantics
  private def alterStmt(spark: SparkSession, sql: String): Long = {
    val add = ("(?is)^ALTER\\s+TABLE\\s+(\\S+)\\s+ADD\\s+CONSTRAINT\\s+" +
      "(\\S+)\\s+CHECK\\s*\\((.+)\\)$").r
    val drop = ("(?is)^ALTER\\s+TABLE\\s+(\\S+)\\s+DROP\\s+CONSTRAINT\\s+" +
      "(\\S+)$").r
    // COLUMN c TYPE and COLUMNS (c1 T1, ...) share one body each — the
    // optional parens normalize away
    val addCols = ("(?is)^ALTER\\s+TABLE\\s+(\\S+)\\s+ADD\\s+COLUMNS?\\s+" +
      "(.+)$").r
    val dropCols = ("(?is)^ALTER\\s+TABLE\\s+(\\S+)\\s+DROP\\s+COLUMNS?\\s+" +
      "(.+)$").r
    def unparen(s: String): String = {
      val t = s.trim
      if (t.startsWith("(") && t.endsWith(")")) t.drop(1).dropRight(1)
      else t
    }
    // RENAME COLUMN old TO new — metadata-only via COLUMN MAPPING
    // ([[graft.lake.Evolve.renameColumn]]: the overlay's marker carries
    // the new logical schema, a `_column_mapping` sidecar maps it to the
    // untouched physical file names; readers resolve at scan, the
    // zero-copy DML family writes appends under physical names, a
    // materialize bakes the rename in). The KEY column cannot rename.
    val rename = ("(?is)^ALTER\\s+TABLE\\s+(\\S+)\\s+RENAME\\s+COLUMN\\s+" +
      "(\\S+)\\s+TO\\s+(\\S+)$").r
    sql match {
      case rename(name, oldC, newC) =>
        val (table, keyCol) = lookup(name)
        val v = graft.lake.Evolve.renameColumn(spark, table,
          oldC.stripPrefix("`").stripSuffix("`"),
          newC.stripPrefix("`").stripSuffix("`"), keyCol)
        rebind(spark, name, table) // the view's schema just changed
        return v
      case _ => ()
    }
    sql match {
      case add(name, cname, pred) =>
        val (table, _) = lookup(name)
        graft.lake.Constraints.add(spark, table, cname, pred.trim)
        Versioned.currentVersion(spark, table).getOrElse(0L)
      case drop(name, cname) =>
        val (table, _) = lookup(name)
        require(graft.lake.Constraints.drop(spark, table, cname),
          s"no constraint '$cname' on $name")
        Versioned.currentVersion(spark, table).getOrElse(0L)
      case addCols(name, ddl) =>
        val (table, _) = lookup(name)
        val v = graft.lake.Evolve.addColumns(spark, table,
          org.apache.spark.sql.types.StructType.fromDDL(unparen(ddl)))
        rebind(spark, name, table) // the view's schema just changed
        v
      case dropCols(name, list) =>
        val (table, keyCol) = lookup(name)
        val v = graft.lake.Evolve.dropColumns(spark, table,
          splitTop(unparen(list), ',')
            .map(_.stripPrefix("`").stripSuffix("`")),
          keyCol)
        rebind(spark, name, table)
        v
      case _ => reject(sql,
        "expected ALTER TABLE t ADD CONSTRAINT name CHECK (pred), " +
          "ALTER TABLE t DROP CONSTRAINT name, ALTER TABLE t ADD " +
          "COLUMNS (c1 TYPE1, ...), or ALTER TABLE t DROP COLUMN[S] — " +
          "metadata-only schema evolution (graft.lake.Evolve)")
    }
  }

  // RESTORE [TABLE] t TO VERSION|TIMESTAMP AS OF — zero-copy content
  // rewind; the timestamp form resolves through Versioned.versionAsOf
  // (the one definition of timestamp resolution, as in Sql.sql)
  private def restoreStmt(spark: SparkSession, sql: String): Long = {
    val m = ("(?is)^RESTORE\\s+(?:TABLE\\s+)?(\\S+)\\s+TO\\s+VERSION\\s+" +
      "AS\\s+OF\\s+(\\d+)$").r
    val mt = ("(?is)^RESTORE\\s+(?:TABLE\\s+)?(\\S+)\\s+TO\\s+TIMESTAMP" +
      "\\s+AS\\s+OF\\s+'([^']+)'$").r
    val (name, toV) = sql match {
      case m(n, v) => (n, v.toLong)
      case mt(n, ts) =>
        val (table, _) = lookup(n)
        val millis = java.sql.Timestamp.valueOf(ts.replace('T', ' '))
          .getTime
        (n, Versioned.versionAsOf(spark, table, millis))
      case _ => reject(sql,
        "expected RESTORE [TABLE] <table> TO VERSION AS OF <n> or TO " +
          "TIMESTAMP AS OF '<ts>'")
    }
    val (table, _) = lookup(name)
    val v = Restore.restore(spark, table, toV)
    rebind(spark, name, table)
    v
  }

  private def rebind(spark: SparkSession, name: String, table: String): Long =
    Sql.registerTable(spark, name, table)

  /** The live snapshot a DML statement reads to locate its victims /
    * guard its keys — routed through the skipping [[graft.lake.SkipScan
    * FileIndex]] when the version carries manifests, exactly like a
    * registered read: a `DELETE`/`UPDATE` whose WHERE names an indexed
    * column (or a MERGE whose ON carries a static target-side conjunct
    * Catalyst pushes below the join) then opens only ADMITTED files for
    * the victim-locating pass, the single table-scale scan in the
    * statement's cost. Admission is conservative-complete, so the frame
    * is result-identical to [[Versioned.read]]; unindexed versions fall
    * back to it outright. */
  private def liveForDml(spark: SparkSession, table: String): DataFrame = {
    val v = Versioned.currentVersion(spark, table).getOrElse(
      throw new IllegalStateException(s"no published version at $table"))
    graft.lake.SkipScan.readVersionAuto(spark, table, v)
  }

  // DELETE FROM t [WHERE cond] — keys under the predicate, then the purge
  private def delete(spark: SparkSession, sql: String,
                     zeroCopy: Boolean): Long = {
    val m = "(?is)^DELETE\\s+FROM\\s+(\\S+)(.*)$".r
    val (name, rest) = sql match {
      case m(n, r) => (n, r.trim)
      case _ => reject(sql, "cannot parse DELETE")
    }
    val cond =
      if (rest.isEmpty) None
      else if (rest.toUpperCase.startsWith("WHERE"))
        Some(rest.substring(5).trim)
      else reject(sql, s"unexpected trailing clause '$rest'")
    val (table, keyCol) = lookup(name)
    val live = liveForDml(spark, table)
    val matched = cond.map(c => live.filter(expr(c))).getOrElse(live)
    // one changeset summary of the matched keys: the NULL-key and row
    // counts and, within the driver budget, the distinct keys
    val op = "_graft_delete_op"
    val cs = Changeset.summarize(
      matched.select(col(keyCol), lit("D").as(op)), keyCol, op)
    val keys = try {
      require(cs.nNullKeys == 0L,
        s"DELETE matches ${cs.nNullKeys} row(s) with NULL $keyCol — " +
          "key-targeted purge cannot name them")
      if (cs.isEmpty)
        return Versioned.currentVersion(spark, table).get // matched nothing
      require(cs.nRows <= Upsert.MaxDriverKeysDefault,
        s"DELETE matches ${cs.nRows} rows — past the driver key " +
          s"budget (${Upsert.MaxDriverKeysDefault}); a predicate this wide " +
          "is a restatement: publish read().filter(!pred) instead")
      cs.keys.get
    } finally cs.release()
    val v =
      if (zeroCopy || liveIsRef(spark, table))
        Dv.purge(spark, table, keyCol, keys)
      else Forget.purge(spark, table, keyCol, keys)
    rebind(spark, name, table)
    v
  }

  // INSERT INTO t [(cols)] VALUES (r1), (r2), ... | <subquery>
  // Routed to Upsert.merge with an EXISTENCE GUARD: this lake's key
  // column is row identity, so an INSERT naming a live key would either
  // duplicate it (ANSI append semantics) or silently update it (merge
  // semantics) — both are surprises. Reject loudly toward MERGE/UPDATE.
  // The guard is one broadcast-able semi-join of the live snapshot
  // against the changeset's keys (changeset-sized result, table-scan
  // cost only in the key column — pruned like every admission pass).
  private def insert(spark: SparkSession, sql: String,
                     rules: Seq[Expect.Rule], mode: Expect.Mode,
                     quarantine: Option[String]): Long = {
    val m = "(?is)^INSERT\\s+(INTO|OVERWRITE)\\s+(\\S+)\\s+(.*)$".r
    val (overwrite, name, body) = sql match {
      case m(kw, n, b) => (kw.equalsIgnoreCase("OVERWRITE"), n, b.trim)
      case _ => reject(sql, "cannot parse INSERT")
    }
    val (table, keyCol) = lookup(name)
    val live = Versioned.read(spark, table)
    val tableCols = live.schema.fieldNames.toSeq

    // optional explicit column list
    val (cols, rest) =
      if (body.startsWith("(")) {
        val close = matchParen(body, sql)
        val listed = splitTop(body.substring(1, close), ',')
          .map(_.stripPrefix("`").stripSuffix("`"))
        listed.foreach(c => require(tableCols.exists(_.equalsIgnoreCase(c)),
          s"INSERT names unknown column '$c' of $name"))
        require(listed.exists(_.equalsIgnoreCase(keyCol)),
          s"INSERT column list must include the key column '$keyCol'")
        (listed, body.substring(close + 1).trim)
      } else (tableCols, body)

    val src: DataFrame =
      if (rest.toUpperCase.startsWith("VALUES")) {
        val rowsSeg = rest.substring(6).trim
        val rows = splitTop(rowsSeg, ',').map { r =>
          require(r.startsWith("(") && r.endsWith(")"),
            reject(sql, s"expected parenthesized VALUES row, got '$r'")
              .toString)
          splitTop(r.substring(1, r.length - 1), ',')
        }
        rows.foreach(r => require(r.size == cols.size,
          s"VALUES row arity ${r.size} != column count ${cols.size}"))
        // one select per row over a single-row range, unioned — tiny by
        // construction (a VALUES list is typed by hand)
        rows.map { r =>
          spark.range(1).select(cols.zip(r).map { case (c, e) =>
            expr(e).as(c)
          }: _*)
        }.reduce(_ unionByName _)
      } else Sql.sql(spark, rest).toDF(cols: _*)

    // missing columns read NULL (ANSI), cast to the table's types
    val changes = src.select(tableCols.map { c =>
      val field = live.schema(live.schema.fieldIndex(c))
      (if (cols.exists(_.equalsIgnoreCase(c))) col(c)
       else lit(null)).cast(field.dataType).as(c)
    }: _*)

    // INSERT OVERWRITE: a wholesale restatement — full publish (the
    // change feed records the break; constraints gate it), with this
    // lake's key-is-row-identity invariant enforced on the new content.
    // Persist: the audit and the publish must serve from ONE
    // materialization (a non-deterministic subquery could otherwise
    // pass validation and publish violating content). Ingest history
    // does not survive a restatement (stale COPY INTO ledger).
    if (overwrite) {
      graft.lake.CopyInto.clearLedger(spark, table)
      changes.persist()
      val v = try {
        requireKeyIdentity(changes, keyCol, "INSERT OVERWRITE content")
        if (rules.isEmpty) Versioned.publish(changes, table)
        else Expect.publish(changes, table, rules, mode, quarantine)
          .version.get // publish always lands a version (Drop publishes
                       // the passing slice, even when empty)
      } finally { changes.unpersist(); () }
      rebind(spark, name, table)
      return v
    }

    // insert-only is enforced INSIDE the merge's OCC retry (re-checked
    // against each attempt's live version), so a concurrent writer
    // landing the same key flips this statement into a loud reject —
    // never a silent update
    val zc = liveIsRef(spark, table)
    val v =
      if (rules.isEmpty) {
        if (zc) Dv.merge(spark, table, keyCol, changes, insertOnly = true)
        else Upsert.merge(spark, table, keyCol, changes, insertOnly = true)
      } else Expect.merge(spark, table, keyCol, changes, rules, mode,
        quarantine, insertOnly = true, zeroCopy = zc).version
        .getOrElse(Versioned.currentVersion(spark, table).get)
    rebind(spark, name, table)
    v
  }

  // index of the ')' closing the '(' at position 0
  private def matchParen(s: String, sql: String): Int = {
    var depth = 0
    var quote = ' '
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != ' ') { if (c == quote) quote = ' ' }
      else c match {
        case '\'' | '`' => quote = c
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) return i
        case _ => ()
      }
      i += 1
    }
    reject(sql, "unbalanced parentheses")
  }

  // UPDATE t SET a = e, ... [WHERE cond] — read-modify-write, then merge
  private def update(spark: SparkSession, sql: String,
                     rules: Seq[Expect.Rule], mode: Expect.Mode,
                     quarantine: Option[String]): Long = {
    val setAt = topIndexOf(sql, "SET")
    if (setAt < 0) reject(sql, "UPDATE without SET")
    val name = sql.substring(6, setAt).trim
    if (name.isEmpty || name.exists(_.isWhitespace))
      reject(sql, s"cannot parse UPDATE target '$name'")
    val whereAt = topIndexOf(sql, "WHERE", setAt)
    val setPart =
      if (whereAt < 0) sql.substring(setAt + 3) else sql.substring(setAt + 3, whereAt)
    val cond = if (whereAt < 0) None else Some(sql.substring(whereAt + 5).trim)
    val (table, keyCol) = lookup(name)
    val assigns = parseAssigns(setPart, sql)
    val live = liveForDml(spark, table)
    val schema = live.schema
    assigns.keys.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"UPDATE SET names unknown column '$c' of $name")
      require(c != keyCol,
        s"UPDATE SET must not assign the key column '$keyCol' — a key " +
          "change is a DELETE + INSERT (write it as a MERGE)")
    }
    val changes = cond.map(c => live.filter(expr(c))).getOrElse(live)
      .select(schema.fields.map { f =>
        assigns.get(f.name)
          .map(e => expr(e).cast(f.dataType).as(f.name))
          .getOrElse(col(f.name))
      }.toSeq: _*)
    if (changes.isEmpty)
      return Versioned.currentVersion(spark, table).get
    val zc = liveIsRef(spark, table)
    val v =
      if (rules.isEmpty) {
        if (zc) Dv.merge(spark, table, keyCol, changes)
        else Upsert.merge(spark, table, keyCol, changes)
      } else Expect.merge(spark, table, keyCol, changes, rules, mode,
        quarantine, zeroCopy = zc).version
        .getOrElse(Versioned.currentVersion(spark, table).get)
    rebind(spark, name, table)
    v
  }

  private def parseAssigns(setPart: String,
                           sql: String): Map[String, String] = {
    val pairs = splitTop(setPart, ',').map { a =>
      val eq = topIndexOf(a, "=") match {
        case -1 => a.indexOf('=')
        case i => i
      }
      if (eq <= 0) reject(sql, s"cannot parse assignment '$a'")
      val rawCol = a.substring(0, eq).trim
      // tolerate a qualified `t.col` target: the table is unambiguous
      val c = rawCol.substring(rawCol.lastIndexOf('.') + 1)
        .stripPrefix("`").stripSuffix("`")
      c -> a.substring(eq + 1).trim
    }
    require(pairs.map(_._1).distinct.size == pairs.size,
      s"duplicate assignment target in SET: ${pairs.map(_._1)}")
    pairs.toMap
  }

  // one parsed WHEN clause
  private sealed trait Clause
  private final case class UpdateClause(cond: Option[String],
                                        assigns: Option[Map[String, String]])
    extends Clause // assigns None = SET *
  private final case class DeleteClause(cond: Option[String]) extends Clause
  private final case class InsertClause(cond: Option[String],
                                        cols: Option[Seq[String]],
                                        vals: Option[Seq[String]])
    extends Clause // cols/vals None = INSERT *
  // WHEN NOT MATCHED BY SOURCE ... — target rows no source row matched
  private final case class SourceUpdateClause(cond: Option[String],
                                              assigns: Map[String, String])
    extends Clause
  private final case class SourceDeleteClause(cond: Option[String])
    extends Clause

  private def merge(spark: SparkSession, sql: String,
                    rules: Seq[Expect.Rule], mode: Expect.Mode,
                    quarantine: Option[String]): Long = {
    require(sql.trim.toUpperCase.startsWith("MERGE INTO"),
      reject(sql, "MERGE must start MERGE INTO").toString)
    val usingAt = topIndexOf(sql, "USING")
    val onAt = topIndexOf(sql, "ON", math.max(usingAt, 0))
    val whenAt = topIndexOf(sql, "WHEN", math.max(onAt, 0))
    if (usingAt < 0 || onAt < 0 || whenAt < 0)
      reject(sql, "MERGE needs USING, ON and at least one WHEN clause")
    val (name, tAlias) = nameAlias(
      sql.substring(sql.toUpperCase.indexOf("INTO") + 4, usingAt), sql)
    val srcSeg = sql.substring(usingAt + 5, onAt).trim
    val onCond = sql.substring(onAt + 2, whenAt).trim
    val (table, keyCol) = lookup(name)

    // source: a parenthesized subquery (alias required) or a view name
    val (srcDf, sAlias) =
      if (srcSeg.startsWith("(")) {
        val close = srcSeg.lastIndexOf(')')
        if (close < 0) reject(sql, "unclosed USING subquery")
        val q = srcSeg.substring(1, close)
        val a = srcSeg.substring(close + 1).trim
        val alias = a.split("\\s+").filterNot(_.equalsIgnoreCase("as"))
          .filter(_.nonEmpty)
        if (alias.length != 1)
          reject(sql, "USING (subquery) needs exactly one alias")
        // Sql.sql, not spark.sql: inline VERSION/TIMESTAMP AS OF travel
        // clauses resolve inside a MERGE source too (repair-from-history)
        (Sql.sql(spark, q), alias(0))
      } else {
        val (vn, a) = nameAlias(srcSeg, sql)
        (spark.table(vn), a)
      }

    // WHEN clauses, in written order
    val clauses = parseWhenClauses(sql.substring(whenAt), sql)
    if (clauses.isEmpty) reject(sql, "no WHEN clause")
    def countKind(p: Clause => Boolean) = clauses.count(p)
    if (countKind(_.isInstanceOf[UpdateClause]) > 1 ||
        countKind(_.isInstanceOf[DeleteClause]) > 1 ||
        countKind(_.isInstanceOf[InsertClause]) > 1 ||
        countKind(_.isInstanceOf[SourceUpdateClause]) > 1 ||
        countKind(_.isInstanceOf[SourceDeleteClause]) > 1)
      reject(sql, "at most one WHEN clause of each kind")
    val hasBySource = clauses.exists(c =>
      c.isInstanceOf[SourceUpdateClause] || c.isInstanceOf[SourceDeleteClause])

    val tgtLive = liveForDml(spark, table)
    val tgtSchema = tgtLive.schema
    val tgt = tgtLive
      .withColumn("_graft_matched", lit(true)).alias(tAlias)
    val src = srcDf.withColumn("_graft_src", lit(true)).alias(sAlias)
    // BY SOURCE clauses need the source-ABSENT target rows in the frame,
    // so only they pay the full-outer; the plain shape keeps the
    // left-outer from the (usually small, broadcastable) source side.
    // NOTE: a NULL-key target row never matches any source row (SQL
    // three-valued equality), so a BY SOURCE clause would name it — and
    // key-targeted DML cannot address a NULL key; Upsert.applyCdc
    // rejects the batch loudly. Exclude them in the clause condition
    // (`AND t.key IS NOT NULL`) when the table tolerates NULL keys.
    val joined =
      if (hasBySource) src.join(tgt, expr(onCond), "full_outer")
      else src.join(tgt, expr(onCond), "left_outer")

    val tgtPresent = col("_graft_matched").isNotNull
    val srcPresent = col("_graft_src").isNotNull
    def condC(c: Option[String]): Column = c.map(expr).getOrElse(lit(true))

    def tcol(c: String) = col(s"$tAlias.`$c`")
    def scol(c: String) = col(s"$sAlias.`$c`")
    def checkCols(cols: Iterable[String], what: String): Unit =
      cols.foreach { c =>
        require(tgtSchema.fieldNames.exists(_.equalsIgnoreCase(c)),
          s"$what names unknown column '$c' of $name")
      }
    // each clause arms (guard, CDC op, per-column assignment); the FIRST
    // armed guard in written order wins, per the standard
    val armed: Seq[(Column, String, String => Column)] = clauses.map {
      case UpdateClause(c, None) => // SET * — key pinned to the TARGET's:
        // an update updates the MATCHED row; sourcing the key from the
        // source side under a non-key ON condition would re-key the row,
        // which the CDC re-expression turns into a silent duplicate
        (tgtPresent && srcPresent && condC(c), "U",
          (n: String) => if (n.equalsIgnoreCase(keyCol)) tcol(n)
                         else scol(n))
      case UpdateClause(c, Some(as)) =>
        checkCols(as.keys, "UPDATE SET")
        require(!as.keys.exists(_.equalsIgnoreCase(keyCol)),
          s"UPDATE SET must not assign the key column '$keyCol' — a key " +
            "change is a DELETE + INSERT (write both arms explicitly)")
        (tgtPresent && srcPresent && condC(c), "U",
          (n: String) => as.get(n).map(expr).getOrElse(tcol(n)))
      case DeleteClause(c) =>
        (tgtPresent && srcPresent && condC(c), "D", tcol _)
      case InsertClause(c, None, None) => // INSERT *
        (!tgtPresent && condC(c), "I", scol _)
      case InsertClause(c, Some(colsL), Some(vals)) =>
        require(colsL.size == vals.size,
          s"INSERT column/value count mismatch: $colsL vs $vals")
        checkCols(colsL, "INSERT")
        val byCol = colsL.map(_.toLowerCase).zip(vals).toMap
        (!tgtPresent && condC(c), "I",
          (n: String) => byCol.get(n.toLowerCase).map(expr)
            .getOrElse(lit(null)))
      case InsertClause(_, _, _) =>
        reject(sql, "INSERT needs (cols) VALUES (exprs) or *")
      case SourceUpdateClause(c, as) =>
        checkCols(as.keys, "NOT MATCHED BY SOURCE UPDATE SET")
        require(!as.keys.exists(_.equalsIgnoreCase(keyCol)),
          s"UPDATE SET must not assign the key column '$keyCol'")
        (!srcPresent && condC(c), "U",
          (n: String) => as.get(n).map(expr).getOrElse(tcol(n)))
      case SourceDeleteClause(c) =>
        (!srcPresent && condC(c), "D", tcol _)
    }
    // first-match clause index; null = row untouched by the statement
    val idxCol = armed.zipWithIndex.tail.foldLeft(
      when(armed.head._1, lit(0))) { case (acc, ((p, _, _), i)) =>
        acc.when(p, lit(i))
      }
    // op via the same when-chain as rowCols — NOT element_at over a
    // literal array: Catalyst's extract-value simplification on a
    // 1-element CreateArray returns the element even for a NULL index,
    // which would tag every untouched row with the clause's op
    val op = armed.zipWithIndex.tail.foldLeft(
      when(idxCol === 0, lit(armed.head._2))) {
        case (acc, ((_, o, _), i)) => acc.when(idxCol === i, lit(o))
      }
    val rowCols = tgtSchema.fields.toSeq.map { f =>
      val chain = armed.zipWithIndex.tail.foldLeft(
        when(idxCol === 0, armed.head._3(f.name))) {
          case (acc, ((_, _, assign), i)) =>
            acc.when(idxCol === i, assign(f.name))
        }
      chain.cast(f.dataType).as(f.name)
    }
    val batch = joined.select((op.as("_graft_op") +: rowCols): _*)
      .filter(col("_graft_op").isNotNull)
    if (batch.isEmpty)
      return Versioned.currentVersion(spark, table).get
    val zc = liveIsRef(spark, table)
    val v =
      if (rules.isEmpty) {
        if (zc) Dv.applyCdc(spark, table, keyCol, batch,
          opCol = "_graft_op")
        else Upsert.applyCdc(spark, table, keyCol, batch,
          opCol = "_graft_op")
      } else Expect.applyCdc(spark, table, keyCol, batch, rules, mode,
        quarantine, opCol = "_graft_op", zeroCopy = zc).version
        .getOrElse(Versioned.currentVersion(spark, table).get)
    rebind(spark, name, table)
    v
  }

  private def parseWhenClauses(text: String, sql: String): Seq[Clause] = {
    // split at every top-level WHEN
    val starts = Iterator.iterate(topIndexOf(text, "WHEN"))(i =>
      topIndexOf(text, "WHEN", i + 4)).takeWhile(_ >= 0).toSeq
    if (starts.isEmpty || starts.head != 0)
      reject(sql, "expected WHEN clauses after ON")
    val segs = starts.zipAll(starts.drop(1), 0, text.length).map {
      case (a, b) => text.substring(a, b).trim
    }
    segs.map { seg =>
      val thenAt = topIndexOf(seg, "THEN")
      if (thenAt < 0) reject(sql, s"WHEN clause without THEN: '$seg'")
      val headPart = seg.substring(4, thenAt).trim // past "WHEN"
      val action = seg.substring(thenAt + 4).trim
      val notMatched = headPart.toUpperCase.startsWith("NOT MATCHED")
      val matched = !notMatched && headPart.toUpperCase.startsWith("MATCHED")
      if (!matched && !notMatched)
        reject(sql, s"WHEN must be MATCHED or NOT MATCHED: '$seg'")
      var afterKw = headPart.substring(if (notMatched) 11 else 7).trim
      // NOT MATCHED [BY TARGET | BY SOURCE]
      val bySource = notMatched &&
        afterKw.toUpperCase.startsWith("BY SOURCE")
      if (bySource) afterKw = afterKw.substring(9).trim
      else if (notMatched && afterKw.toUpperCase.startsWith("BY TARGET"))
        afterKw = afterKw.substring(9).trim
      val cond =
        if (afterKw.isEmpty) None
        else if (afterKw.toUpperCase.startsWith("AND"))
          Some(afterKw.substring(3).trim)
        else reject(sql, s"unexpected text after MATCHED: '$afterKw'")
      val actionU = action.toUpperCase
      if (bySource && actionU == "DELETE") SourceDeleteClause(cond)
      else if (bySource && actionU.startsWith("UPDATE")) {
        val setAt = topIndexOf(action, "SET")
        if (setAt < 0) reject(sql, "UPDATE clause without SET")
        val setBody = action.substring(setAt + 3).trim
        if (setBody == "*")
          reject(sql, "NOT MATCHED BY SOURCE has no source row — " +
            "SET * is undefined; list assignments explicitly")
        SourceUpdateClause(cond, parseAssigns(setBody, sql))
      } else if (bySource)
        reject(sql, s"NOT MATCHED BY SOURCE supports UPDATE SET ... or " +
          s"DELETE, got '$action'")
      else if (matched && actionU == "DELETE") DeleteClause(cond)
      else if (matched && actionU.startsWith("UPDATE")) {
        val setAt = topIndexOf(action, "SET")
        if (setAt < 0) reject(sql, "UPDATE clause without SET")
        val setBody = action.substring(setAt + 3).trim
        if (setBody == "*") UpdateClause(cond, None)
        else UpdateClause(cond, Some(parseAssigns(setBody, sql)))
      } else if (notMatched && actionU.startsWith("INSERT")) {
        val body = action.substring(6).trim
        if (body == "*") InsertClause(cond, None, None)
        else {
          val valuesAt = topIndexOf(body, "VALUES")
          if (valuesAt < 0 || !body.startsWith("("))
            reject(sql, "INSERT needs (cols) VALUES (exprs) or *")
          val colsSeg = body.substring(0, valuesAt).trim
          val valsSeg = body.substring(valuesAt + 6).trim
          def inner(p: String): String = {
            require(p.startsWith("(") && p.endsWith(")"),
              reject(sql, s"expected parenthesized list, got '$p'").toString)
            p.substring(1, p.length - 1)
          }
          val cols = splitTop(inner(colsSeg), ',')
            .map(_.stripPrefix("`").stripSuffix("`"))
          InsertClause(cond, Some(cols), Some(splitTop(inner(valsSeg), ',')))
        }
      } else reject(sql, s"unsupported WHEN action '$action'")
    }
  }
}
