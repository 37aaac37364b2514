package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.lake.{Cdf, Tables, Versioned}

/**
 * The raw-SQL surface: register every testdata table as a temp view so
 * `spark.sql("SELECT ...")` works directly against the same loaders the
 * DataFrame catalog uses ([[graft.lake.Tables.load]] — schema-adaptive
 * events timestamps included), alongside the custom codegen functions
 * [[GraftExtensions]] exposes to SQL (`normalize_text`, `simhash60`,
 * ...). A user of the reference writes SQL against DuckDB/BigQuery;
 * this is the drop-in equivalent entry point on Spark — views are
 * session-scoped metadata, so registration costs no scan and a
 * registered view's reads still push filters and prune columns like the
 * direct loader (same relation underneath).
 */
object Sql {

  /** Register all tables of `sfDir` as session temp views (idempotent —
    * re-registration replaces). Returns the view names. */
  def register(spark: SparkSession, sfDir: String): Seq[String] = {
    Tables.all.foreach { t =>
      Tables.load(spark, sfDir, t).createOrReplaceTempView(t)
    }
    Tables.all
  }

  /** Register, then run one SQL statement — the one-call form for
    * notebook-style use. */
  def query(spark: SparkSession, sfDir: String, sql: String): DataFrame = {
    register(spark, sfDir)
    spark.sql(sql)
  }

  /** Register a [[Versioned]] lake table's LIVE snapshot as temp view
    * `name`. The view BINDS to the version live at registration (the
    * manifest resolves here, once): later DML publishes don't shift an
    * already-registered view under a running session — re-register to see
    * them. Same relation as a direct read, so pushdown/pruning hold. */
  def registerTable(spark: SparkSession, name: String, table: String): Long = {
    val v = Versioned.currentVersion(spark, table).getOrElse(
      throw new IllegalStateException(s"no published version at $table"))
    // a live version carrying a skipping manifest binds through the
    // manifest-backed FileIndex ([[graft.lake.SkipScan]]): every ad-hoc
    // SQL predicate on an indexed column then prunes files at planning
    // time — no special read API. PLAIN versions bind the index
    // directly; OVERLAY versions (ref / vector / mapping — the normal
    // post-DML state) compose pruned listing → DV anti-join → rename;
    // only an unindexed version falls back to the plain read
    val df = graft.lake.SkipScan.readVersionAuto(spark, table, v)
    // ANALYZE-fed cold-plan broadcast ([[graft.lake.TableStats]]): a
    // table analyzed AT THIS live version whose logical bytes fit the
    // broadcast threshold registers with the hint — a DV-heavy
    // dimension's file footprint (what Spark's own estimation sees)
    // can overstate its live rows by orders of magnitude, and the DV
    // anti-join hides the true size until AQE runtime; stale or absent
    // stats leave the view un-hinted (never wrong, merely unaided)
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    val hinted = graft.lake.TableStats.read(spark, table) match {
      case Some(st) if st.version == v && threshold > 0 &&
          st.bytes <= threshold =>
        org.apache.spark.sql.functions.broadcast(df)
      case _ => df
    }
    hinted.createOrReplaceTempView(name)
    SqlDml.readOnlyRegistry.put(name.toLowerCase, table)
    SqlDml.boundVersions.put(name.toLowerCase, v)
    v
  }

  /** Time travel on the SQL surface: register a SPECIFIC published version
    * of a lake table as temp view `name` — Delta's `VERSION AS OF` here.
    * The live view and any number of as-of views of one table coexist
    * (each is just a pinned relation over an immutable version dir).
    * Bound through the same manifest-FileIndex routing as the live view
    * ([[graft.lake.SkipScan.readVersionAuto]]) — an indexed historical
    * version prunes ad-hoc predicates exactly like the live one, and
    * unindexed versions fall back to the plain read. */
  def registerAsOf(spark: SparkSession, name: String, table: String,
                   version: Long): Unit = {
    graft.lake.SkipScan.readVersionAuto(spark, table, version)
      .createOrReplaceTempView(name)
    // re-pinning a REGISTERED name (registerSnapshot does this) must
    // move its bound-version note with it, or the MV rewrite's currency
    // gate would compare against the superseded binding; synthetic
    // pinned views (t__asof_vN) are not registered names and stay out
    SqlDml.noteBoundIfRegistered(name, version)
  }

  /** `TIMESTAMP AS OF`: register the newest version committed at or before
    * `tsMillis` ([[Versioned.versionAsOf]] — the same resolution
    * `readAsOf` uses). Returns the resolved version. */
  def registerAsOfTimestamp(spark: SparkSession, name: String, table: String,
                            tsMillis: Long): Long = {
    val v = Versioned.versionAsOf(spark, table, tsMillis)
    registerAsOf(spark, name, table, v)
    v
  }

  /** Delta's `table_changes(...)` on the SQL surface: register the change
    * feed AFTER `sinceV` up to the live version ([[Cdf.changesSince]] —
    * `_op` U/D + `_version` columns, loud reject across an unbridgeable
    * range) as temp view `name`, bound to the live version at
    * registration like [[registerTable]]. Returns the bound version. */
  def registerChanges(spark: SparkSession, name: String, table: String,
                      sinceV: Long, untilV: Option[Long] = None): Long = {
    val live = Versioned.currentVersion(spark, table).getOrElse(
      throw new IllegalStateException(s"no published version at $table"))
    val until = untilV.getOrElse(live) // pin: a concurrent publish must
    Cdf.changesSince(spark, table, sinceV, untilV = Some(until)) // not
      .createOrReplaceTempView(name)                   // leak newer rows
    until
  }

  /** Consistent multi-table snapshot on the SQL surface: pin every
    * named (registerDml-registered) table's view to versions no
    * cross-table txn flip straddled ([[graft.lake.Txn.snapshot]] — the
    * read-side complement of the BEGIN...COMMIT write side). After
    * this, a session's joins across the named views see one cut of the
    * version history. Returns the pinned versions by view name. */
  def registerSnapshot(spark: SparkSession,
                       names: Seq[String]): Map[String, Long] = {
    val paths = names.map(n => n -> SqlDml.lookup(n)._1).toMap
    val pinned =
      graft.lake.Txn.snapshot(spark, names.map(paths).distinct)
    names.map { n =>
      val v = pinned(paths(n))
      registerAsOf(spark, n, paths(n), v)
      n -> v
    }.toMap
  }

  /** Register a lake table for BOTH reads and SQL DML ([[SqlDml.register]]
    * — DML needs the table's key column). */
  def registerDml(spark: SparkSession, name: String, table: String,
                  keyCol: String): Long =
    SqlDml.register(spark, name, table, keyCol)

  /** Execute one SQL DML statement (`MERGE INTO` / `UPDATE` / `DELETE
    * FROM`) against a [[registerDml]]-registered lake table — parsed and
    * routed to the lake's DataFrame DML, expectations and OCC retry
    * included; see [[SqlDml.execute]] for the grammar and contracts.
    * Returns the live version after the statement. */
  def execute(spark: SparkSession, sql: String,
              rules: Seq[graft.lake.Expect.Rule] = Nil,
              mode: graft.lake.Expect.Mode = graft.lake.Expect.Mode.Fail,
              quarantine: Option[String] = None,
              zeroCopyDelete: Boolean = false): Long =
    SqlDml.execute(spark, sql, rules, mode, quarantine, zeroCopyDelete)

  /** Run a SQL SCRIPT — the reference's users ship statement FILES
    * (`extract_events.sql`), so the text form must accept one: `--`
    * line comments stripped, statements split on `;` OUTSIDE string
    * literals/backticks, blanks skipped, each statement routed through
    * [[execute]] with the same gates. SEQUENTIAL, NOT ATOMIC (like any
    * SQL shell): statement N commits its version before N+1 parses, and
    * a failure stops the script with statements 1..N-1 committed — the
    * version history is the audit trail of how far it got. Returns the
    * per-statement versions, in order.
    *
    * `BEGIN [TRANSACTION]; ...; COMMIT;` marks a CROSS-TABLE ATOMIC
    * block ([[graft.lake.Txn]]): every statement inside runs, and ALL
    * their versions — across however many tables the block touches —
    * flip visible in one atomic step at the COMMIT; any failure inside
    * aborts every half-done version and stops the script with the
    * tables exactly as before the BEGIN. `ROLLBACK` in place of COMMIT
    * executes the block then discards it (a dry run under the real
    * gates — violations still throw); its statements contribute no
    * versions to the returned list. The whole block retries as one
    * unit on write contention. VACUUM inside a block rejects (exclusive
    * maintenance cannot run under the txn's own pending versions);
    * nested BEGIN and a script ending inside an open block reject. */
  def executeScript(spark: SparkSession, script: String,
                    rules: Seq[graft.lake.Expect.Rule] = Nil,
                    mode: graft.lake.Expect.Mode =
                      graft.lake.Expect.Mode.Fail,
                    quarantine: Option[String] = None,
                    zeroCopyDelete: Boolean = false): Seq[Long] = {
    // strip -- comments quote-aware (a literal or backticked name may
    // contain the dashes)
    val noComments = script.linesIterator.map { line =>
      var quote = ' ' // active quote char (' or `), ' ' = none
      var cut = -1
      var i = 0
      while (i < line.length && cut < 0) {
        val c = line.charAt(i)
        if (quote != ' ') { if (c == quote) quote = ' ' }
        else if (c == '\'' || c == '`') quote = c
        else if (c == '-' && i + 1 < line.length &&
          line.charAt(i + 1) == '-') cut = i
        i += 1
      }
      if (cut < 0) line else line.substring(0, cut)
    }.mkString("\n")
    val stmts = splitStatements(noComments)
    def run(s: String): Long =
      execute(spark, s, rules, mode, quarantine, zeroCopyDelete)
    def isTok(s: String, re: String) = s.matches(s"(?is)$re")
    val out = Seq.newBuilder[Long]
    var i = 0
    while (i < stmts.length) {
      val s = stmts(i)
      if (isTok(s, "BEGIN(\\s+(TRANSACTION|TRAN))?")) {
        // collect the block up to its COMMIT/ROLLBACK
        val body = Seq.newBuilder[String]
        var closer: Option[String] = None
        i += 1
        while (i < stmts.length && closer.isEmpty) {
          val b = stmts(i)
          val up = b.trim.toUpperCase
          if (isTok(b, "(COMMIT|ROLLBACK)(\\s+(TRANSACTION|TRAN|WORK))?"))
            closer = Some(b)
          else if (isTok(b, "BEGIN(\\s+(TRANSACTION|TRAN))?"))
            throw new IllegalArgumentException(
              "nested BEGIN — one atomic block cannot contain another")
          else if (up.startsWith("VACUUM"))
            throw new IllegalArgumentException(
              "VACUUM inside BEGIN...COMMIT — exclusive maintenance " +
                "cannot run under the transaction's own pending versions")
          // statements whose effect lives OUTSIDE the versioned dirs
          // cannot be rolled back by the txn's abort — rejecting them
          // keeps the block's all-or-nothing contract honest:
          //  - constraint DDL writes the unversioned _constraints sidecar
          //  - COPY INTO writes the unversioned ingest ledger (an aborted
          //    landing would be remembered as landed — rows lost forever)
          //  - SHALLOW CLONE registers an unversioned pin at the SOURCE
          else if (b.matches("(?is)^ALTER\\s+TABLE\\s+\\S+\\s+" +
              "(ADD|DROP)\\s+CONSTRAINT\\b.*"))
            throw new IllegalArgumentException(
              "constraint DDL inside BEGIN...COMMIT — the _constraints " +
                "sidecar is table property, not versioned content, so an " +
                "abort could not undo it; run it outside the block")
          else if (up.startsWith("COPY INTO"))
            throw new IllegalArgumentException(
              "COPY INTO inside BEGIN...COMMIT — the ingest ledger is " +
                "unversioned, so an aborted landing would be remembered " +
                "as landed and its rows lost; run it outside the block")
          else if (b.matches("(?is)^CREATE\\s+TABLE\\s+.*\\bSHALLOW" +
              "\\s+CLONE\\b.*"))
            throw new IllegalArgumentException(
              "SHALLOW CLONE inside BEGIN...COMMIT — the clone pin at " +
                "the source is unversioned, so an abort would strand it; " +
                "run it outside the block")
          //  - CREATE OR REPLACE TABLE / INSERT OVERWRITE are
          //    restatements: they CLEAR the unversioned COPY INTO ingest
          //    ledger before publishing, and an abort cannot restore it —
          //    the surviving old incarnation would then re-land every
          //    previously-ingested file as duplicate rows
          else if (b.matches("(?is)^CREATE\\s+OR\\s+REPLACE\\s+TABLE\\b.*"))
            throw new IllegalArgumentException(
              "CREATE OR REPLACE TABLE inside BEGIN...COMMIT — a replace " +
                "clears the unversioned COPY INTO ingest ledger, which an " +
                "abort cannot restore (the old incarnation would re-land " +
                "already-ingested files as duplicates); run it outside " +
                "the block")
          else if (b.matches("(?is)^INSERT\\s+OVERWRITE\\b.*"))
            throw new IllegalArgumentException(
              "INSERT OVERWRITE inside BEGIN...COMMIT — a restatement " +
                "clears the unversioned COPY INTO ingest ledger, which an " +
                "abort cannot restore; run it outside the block")
          //  - DROP removes the SESSION binding and (when a durable
          //    catalog is attached) the Metastore entry — neither is
          //    versioned content an abort can restore
          else if (b.matches("(?is)^DROP\\s+(TABLE|MATERIALIZED\\s+" +
              "VIEW)\\b.*"))
            throw new IllegalArgumentException(
              "DROP inside BEGIN...COMMIT — the unbind (and the durable " +
                "catalog entry removal, when one is attached) is not " +
                "versioned content, so an abort could not restore it; " +
                "run it outside the block")
          //  - ANALYZE overwrites the unversioned _table_stats sidecar
          //    (and skipping indexes); USE CATALOG re-binds the session
          else if (b.matches("(?is)^ANALYZE\\s+TABLE\\b.*"))
            throw new IllegalArgumentException(
              "ANALYZE TABLE inside BEGIN...COMMIT — table stats and " +
                "skipping indexes are unversioned sidecars an abort " +
                "cannot restore; run it outside the block")
          else if (b.matches("(?is)^USE\\s+CATALOG\\b.*"))
            throw new IllegalArgumentException(
              "USE CATALOG inside BEGIN...COMMIT — attaching a catalog " +
                "re-binds the whole session, which an abort cannot " +
                "undo; run it outside the block")
          else body += b
          i += 1
        }
        val block = body.result()
        closer match {
          case None => throw new IllegalArgumentException(
            "script ends inside an open BEGIN block — close it with " +
              "COMMIT (or ROLLBACK); nothing from the block was applied")
          case Some(c) if isTok(c, "COMMIT(\\s+(TRANSACTION|TRAN|WORK))?") =>
            // the whole block is ONE unit of write contention: a txn-level
            // conflict re-runs every statement against the new live state.
            // Composed from the txn seams (not atomically) so the abort
            // path still holds the ctx: views bound mid-txn point at
            // versions the abort just deleted and must re-bind to the
            // live state before the script stops, or the session's next
            // read explodes on vanished files.
            out ++= Versioned.withWriteRetry() {
              val ctx = graft.lake.Txn.begin(spark)
              try {
                val vs =
                  try block.map(run)
                  catch {
                    case t: Throwable =>
                      graft.lake.Txn.abort(ctx)
                      SqlDml.rebindAll(spark, ctx.committedVersions.keySet)
                      throw t
                  }
                try graft.lake.Txn.commitOrAbort(ctx)
                catch {
                  case t: Throwable =>
                    // commitOrAbort aborted (flip provably short of the
                    // commit point) or the txn committed with a failed
                    // finalize — either way re-bind the session's views
                    // to whatever is live now, or their next read
                    // explodes on pending dirs a heal will delete
                    SqlDml.rebindAll(spark, ctx.committedVersions.keySet)
                    throw t
                }
                vs
              } finally graft.lake.Txn.detach()
            }
          case Some(_) => // ROLLBACK: execute under the gates, discard
            val ctx = graft.lake.Txn.begin(spark)
            try { block.foreach(run); () }
            finally {
              graft.lake.Txn.abort(ctx)
              graft.lake.Txn.detach()
              SqlDml.rebindAll(spark,
                ctx.committedVersions.keySet)
            }
        }
      } else {
        out += run(s)
        i += 1
      }
    }
    out.result()
  }

  // split on ';' outside single-quoted literals and backticked names
  private[graft] def splitStatements(text: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var quote = ' '
    var start = 0
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (quote != ' ') { if (c == quote) quote = ' ' }
      else c match {
        case '\'' | '`' => quote = c
        case ';' => out += text.substring(start, i); start = i + 1
        case _ => ()
      }
      i += 1
    }
    out += text.substring(start)
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** `DESCRIBE HISTORY t` / `DESCRIBE DETAIL t` against a
    * [[registerDml]]-registered lake table ([[SqlDml.describe]]). */
  def describe(spark: SparkSession, sql: String): DataFrame =
    SqlDml.describe(spark, sql)

  /** Run one SELECT with Delta-style INLINE time travel: each
    * `<table> VERSION AS OF <n>` / `<table> TIMESTAMP AS OF '<ts>'`
    * reference to a [[registerDml]]-registered lake table is rewritten
    * to a pinned as-of temp view (named `<table>__asof_v<n>` — plain
    * parquet relation over the immutable version dir, so pushdown
    * holds) before `spark.sql` runs the statement. Timestamps accept
    * `yyyy-MM-dd HH:mm:ss[.f]` or ISO `T` form and resolve through
    * [[graft.lake.Versioned.versionAsOf]] (the one definition of
    * timestamp resolution). A travel clause on an unregistered name
    * rejects loudly — guessing a table path is how wrong data gets
    * read. Travel-shaped text INSIDE a string literal is left alone
    * (the rewrite is quote-aware). Statements without travel clauses
    * pass through verbatim. Alias placement: write the alias AFTER the
    * clause (`FROM t VERSION AS OF 3 b`) — `FROM t b VERSION AS OF 3`
    * would resolve `b` as the table name and reject. */
  def sql(spark: SparkSession, text: String): DataFrame = {
    val ver = "(?i)\\b(\\w+)\\s+VERSION\\s+AS\\s+OF\\s+(\\d+)".r
    val tsp = "(?i)\\b(\\w+)\\s+TIMESTAMP\\s+AS\\s+OF\\s+'([^']+)'".r
    // Delta's table_changes(t, startV [, endV]) — startV INCLUDED, so it
    // maps to Cdf.changesSince(startV - 1). Rewritten first: its own
    // quoted table name is part of the match, like the timestamp form.
    val tc = ("(?i)\\bTABLE_CHANGES\\s*\\(\\s*'?(\\w+)'?\\s*,\\s*(\\d+)" +
      "(?:\\s*,\\s*(\\d+))?\\s*\\)").r
    var out = rewriteOutsideQuotes(text, tc) { m =>
      val (table, _) = SqlDml.lookup(m.group(1))
      val from = m.group(2).toLong
      val until = Option(m.group(3)).map(_.toLong)
      val view = s"${m.group(1)}__changes_${from}_${until.getOrElse(0L)}"
      registerChanges(spark, view, table, from - 1, until)
      view
    }
    // timestamp form next: its own quoted literal is PART of the match
    // (the quote-mask below would otherwise hide it from the ver pass)
    out = rewriteOutsideQuotes(out, tsp) { m =>
      val (table, _) = SqlDml.lookup(m.group(1))
      val ts = java.sql.Timestamp.valueOf(m.group(2).replace('T', ' '))
      val v = Versioned.versionAsOf(spark, table, ts.getTime)
      val view = s"${m.group(1)}__asof_v$v"
      registerAsOf(spark, view, table, v)
      view
    }
    out = rewriteOutsideQuotes(out, ver) { m =>
      val (table, _) = SqlDml.lookup(m.group(1))
      val view = s"${m.group(1)}__asof_v${m.group(2)}"
      registerAsOf(spark, view, table, m.group(2).toLong)
      view
    }
    // a grouped SELECT a CURRENT materialized view can answer reads the
    // (dimension-sized) MV instead of the base table, directly or rolled
    // up through a fact⋈dim equi-join chain; anything the rewrite cannot
    // prove falls through to the original text ([[SqlDml.rewriteViaMv]]
    // — the staleness and exactness checks live there)
    out = SqlDml.rewriteViaMv(spark, out).getOrElse(out)
    spark.sql(out)
  }

  // Apply `re` replacements only where the match STARTS outside a
  // single-quoted string literal — a travel-shaped phrase INSIDE a
  // literal is data, and rewriting it would silently change the query's
  // results. Positional splice (never a global replace), so identical
  // text inside a literal elsewhere is untouched.
  private def rewriteOutsideQuotes(text: String,
                                   re: scala.util.matching.Regex)
                                  (replace: scala.util.matching.Regex.Match
                                    => String): String = {
    val mask = new Array[Boolean](math.max(text.length, 1))
    var q = false
    var i = 0
    while (i < text.length) {
      if (text.charAt(i) == '\'') q = !q
      mask(i) = q
      i += 1
    }
    val sb = new StringBuilder
    var last = 0
    for (m <- re.findAllMatchIn(text))
      if (m.start >= last && !mask(m.start)) {
        sb.append(text.substring(last, m.start)).append(replace(m))
        last = m.end
      }
    sb.append(text.substring(last)).toString
  }
}
