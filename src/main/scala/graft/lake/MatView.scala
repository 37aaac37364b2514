package graft.lake

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/**
 * Incrementally-maintained materialized aggregate views over [[Versioned]]
 * tables — the lakehouse MV leg (Databricks/Snowflake materialized views,
 * classic self-maintainable-view theory): a grouped count/sum view whose
 * refresh cost tracks the CHANGESET, never the source table.
 *
 * The aggregate core is self-maintainable — COUNT and SUM are closed under
 * inserts AND deletes (averages derive at read as sum/n), so a refresh
 * needs exactly (a) the batch's new rows and (b) the OLD rows of
 * updated/deleted keys. (a) is the batch itself; (b) reads from the
 * PRE-batch source version — whose dir is immutable and still on disk
 * until vacuum — pruned to the files that can hold the touched keys via
 * the same Bloom + stats-manifest admission [[Upsert]] uses, so (b) costs
 * the touched fraction, not a scan.
 *
 * MIN/MAX (`minMaxCols`) are NOT delete-maintainable in general (a deleted
 * max needs a rescan to find the runner-up), so they refresh in two
 * regimes: groups touched only by INSERTS merge incrementally
 * (least/greatest — monotone under insert), while groups that LOST rows
 * (any batch key's old row — a delete, or an update that replaces/migrates
 * it) recompute exactly, from the POST-batch source version restricted to
 * those groups: a GROUP-BOUNDED rescan, never a source rescan. With one
 * group column and a changeset-bounded touched-group set the restriction
 * is an `isin` literal filter — pushdown-eligible, so parquet row-group
 * stats file-prune the rescan on group-clustered layouts; otherwise it is
 * a broadcast semi-join. Refresh cost stays changeset + touched groups.
 *
 * The view itself is a [[Versioned]] table at group grain — usually
 * dimension-sized, so each refresh publishes a full new view version
 * (snapshot isolation, time travel) whose write cost is the view's size,
 * while the expensive side (the 100 TB source) is never rescanned. The
 * view's spec and its sync watermark live in a `_matview` file INSIDE each
 * version dir, so watermark and data appear in one atomic manifest swap —
 * a crash between "view published" and "watermark advanced" cannot happen,
 * and a replayed refresh no-ops on the version guard.
 *
 * Choreography contract (single maintenance writer, like [[CdcSink]]):
 * apply a batch to the source ([[Upsert.applyCdc]]), then [[refresh]] the
 * view with the SAME batch, before any further source DML — refresh
 * verifies the source advanced by exactly one version. Fell behind (bulk
 * maintenance, missed batches)? [[recreate]] catches up with one full
 * recompute. Vacuum discipline: the source's pre-batch version must
 * still exist at refresh time; refresh-then-vacuum, not the reverse.
 */
object MatView {

  /** The view's definition + sync watermark, JSON-persisted per version.
    * `minMaxCols` is empty on views created before the MIN/MAX leg;
    * `cntCols` (columns whose NON-NULL counts are materialized as
    * `cnt_<c>` — what a correct AVG divides by, since `sum_<c>/n_rows`
    * under-counts NULLs) is empty on views created before the AVG leg —
    * the MV rewrite only derives averages when the spec lists the
    * column here. */
  /** `groupExprs` (storage column name → deterministic SQL expression
    * over source columns) backs EXPRESSION group keys — `year(o_col)` /
    * `date_trunc('month', o_col)` bucket grains: the view materializes
    * the derived value under the storage name, every maintenance path
    * derives it on its row-level frames before grouping
    * ([[withDerived]]), and the rewrite matches a query's normalized
    * grouping expression against it. Empty on plain-column views. */
  final case class Spec(source: String, keyCol: String,
                        groupCols: Seq[String], sumCols: Seq[String],
                        synced: Long, minMaxCols: Seq[String] = Seq.empty,
                        cntCols: Seq[String] = Seq.empty,
                        groupExprs: Seq[(String, String)] = Seq.empty)

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // hand-rolled flat JSON (the repo has no JSON lib dependency; names are
  // column identifiers — no escaping needed beyond rejecting quotes)
  private def toJson(s: Spec): String = {
    def arr(xs: Seq[String]) = xs.map(x => s""""$x"""").mkString("[", ",", "]")
    (s.groupCols ++ s.sumCols ++ s.minMaxCols ++ s.cntCols ++ Seq(s.keyCol))
      .foreach(c =>
        require(!c.contains("\"") && !c.contains("\\"),
          s"unsafe column name $c"))
    s.groupExprs.foreach { case (n, e) =>
      require(!n.contains("\"") && !e.contains("\"") &&
        !n.contains("\\") && !e.contains("\\") && !e.contains("}"),
        s"unsafe group expression $n := $e") }
    s"""{"source":"${s.source}","keyCol":"${s.keyCol}",""" +
      s""""groupCols":${arr(s.groupCols)},"sumCols":${arr(s.sumCols)},""" +
      s""""minMaxCols":${arr(s.minMaxCols)},""" +
      s""""cntCols":${arr(s.cntCols)},""" +
      s""""groupExprs":{${s.groupExprs.map { case (n, e) =>
        s""""$n":"$e"""" }.mkString(",")}},""" +
      s""""synced":${s.synced}}"""
  }

  private def fromJson(j: String): Spec = {
    def str(k: String) =
      s""""$k":"([^"]*)"""".r.findFirstMatchIn(j).get.group(1)
    def arr(k: String) = // absent key (pre-minMax spec files) = empty
      s""""$k":\\[([^\\]]*)\\]""".r.findFirstMatchIn(j)
        .map(_.group(1).split(",")
          .map(_.trim.stripPrefix("\"").stripSuffix("\""))
          .filter(_.nonEmpty).toSeq)
        .getOrElse(Seq.empty)
    def num(k: String) =
      s""""$k":(\\d+)""".r.findFirstMatchIn(j).get.group(1).toLong
    // groupExprs: a {"name":"expr",...} object — exprs may contain
    // commas (date_trunc('month', c)), so pairs parse inside the braces
    // (absent on pre-expression spec files = empty)
    val gx = s""""groupExprs":\\{([^}]*)\\}""".r.findFirstMatchIn(j)
      .map(m => """"([^"]+)":"([^"]*)"""".r.findAllMatchIn(m.group(1))
        .map(p => p.group(1) -> p.group(2)).toSeq)
      .getOrElse(Seq.empty)
    Spec(str("source"), str("keyCol"), arr("groupCols"), arr("sumCols"),
      num("synced"), arr("minMaxCols"), arr("cntCols"), gx)
  }

  /** Materialize the spec's derived group columns on a row-level frame
    * — applied before EVERY grouping over source/batch rows so the
    * storage-named columns exist wherever plain group columns would. */
  private def withDerived(df: DataFrame, s: Spec): DataFrame =
    s.groupExprs.foldLeft(df) { case (d, (n, e)) =>
      d.withColumn(n, expr(e)) }

  private def writeSpec(spark: SparkSession, dir: String, s: Spec): Unit = {
    val f = fs(spark, dir)
    val out = f.create(new Path(s"$dir/_matview"), true)
    try out.write(toJson(s).getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The live view version's spec (definition + watermark). */
  def spec(spark: SparkSession, view: String): Spec = {
    val v = Versioned.currentVersion(spark, view).getOrElse(
      throw new IllegalStateException(s"no published view at $view"))
    Versioned.readSmallFile(fs(spark, view),
        new Path(s"$view/v=$v/_matview"))
      .map(fromJson).getOrElse(throw new IllegalStateException(
        s"$view v$v carries no _matview spec — not a MatView table"))
  }

  // exact additive accumulator type: closed under + and - across refreshes
  private val acc = DecimalType(38, 6)

  // the sign column of a refresh's row-level frames: +1 a row that
  // arrives, -1 a row that leaves
  private val Sign = "_mv_sign"

  // One aggregate over row-level rows, each counted with its `Sign` (+1
  // when the frame has none). n_rows, the sums and cntCols' NON-NULL
  // counts (`cnt_<c>`, what AVG divides by) are sums of signed terms, so
  // they subtract cleanly; min_/max_ read the arriving rows only — a
  // removed row's min/max cannot be subtracted, that is exactly what the
  // touched-group recompute handles.
  private def grouped(df: DataFrame, groupCols: Seq[String],
                      sumCols: Seq[String], mmCols: Seq[String],
                      cntCols: Seq[String]): DataFrame = {
    val sign = if (df.columns.contains(Sign)) col(Sign) else lit(1)
    val aggs = sum(sign).as("n_rows") +:
      (sumCols.map(c =>
        sum(col(c).cast(acc) * sign).cast(acc).as(s"sum_$c")) ++
        cntCols.map(c =>
          sum(when(col(c).isNotNull, sign).otherwise(0))
            .cast("long").as(s"cnt_$c")) ++
        mmCols.flatMap(c => Seq(min(when(sign > 0, col(c))).as(s"min_$c"),
          max(when(sign > 0, col(c))).as(s"max_$c"))))
    df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Full compute of the view over the source's LIVE version; publishes
    * view v1 (or a fresh version of an existing view — [[recreate]]).
    * Returns the published view version. */
  def create(spark: SparkSession, source: String, keyCol: String,
             view: String, groupCols: Seq[String],
             sumCols: Seq[String],
             minMaxCols: Seq[String] = Seq.empty,
             groupExprs: Seq[(String, String)] = Seq.empty): Long = {
    require(groupCols.nonEmpty, "a grouped view needs group columns")
    require(groupExprs.forall { case (n, _) => groupCols.contains(n) },
      "every group expression's storage name must be a group column")
    val srcV = Versioned.currentVersion(spark, source).getOrElse(
      throw new IllegalStateException(s"no published version at $source"))
    val s0 = Spec(source, keyCol, groupCols, sumCols, srcV, minMaxCols,
      cntCols = sumCols, groupExprs = groupExprs)
    val df = withDerived(Versioned.readVersion(spark, source, srcV), s0)
    // every sum column also materializes its non-null count (cnt_<c>):
    // the delete-maintainable denominator AVG needs (n_rows over-counts
    // when the column has NULLs) — a few longs per group row, and the
    // rewrite can then answer AVG(<c>) from the view
    val mv = grouped(df, groupCols, sumCols, minMaxCols, cntCols = sumCols)
    Versioned.publishWith(spark, view) { dir =>
      mv.write.mode("overwrite").parquet(dir)
      writeSpec(spark, dir, s0)
    }
  }

  /** Catch-up recompute: same as [[create]] with the definition read from
    * the live view version. */
  def recreate(spark: SparkSession, view: String): Long = {
    val s = spec(spark, view)
    create(spark, s.source, s.keyCol, view, s.groupCols, s.sumCols,
      s.minMaxCols, s.groupExprs)
  }

  private def preBatchDir(spark: SparkSession, source: String,
                          srcV: Long): String = {
    val dir = Versioned.dataDir(spark, source, srcV)
    require(fs(spark, dir).exists(new Path(dir)),
      s"$source v$srcV data dir is gone (vacuumed?) — the incremental " +
        "refresh needs the pre-batch version; MatView.recreate instead")
    dir
  }

  /** Old source rows for `keys`, read from the PRE-batch version's data
    * dir pruned by the same Bloom sidecar + stats-manifest (footer
    * fallback) admission [[Upsert]] uses — touched-fraction cost. MINUS
    * the pre-batch version's deletion vector ([[Dv.applyVector]]): a row
    * a prior zero-copy purge already hid is physically present in the
    * shared dir, and re-subtracting it would silently diverge the view. */
  private def oldRows(spark: SparkSession, source: String, srcV: Long,
                      keyCol: String, keys: Seq[Long]): DataFrame = {
    val dir = preBatchDir(spark, source, srcV)
    // candidates: the data dir, plus a zero-copy MERGE version's own
    // appended files (old rows for re-touched keys can be there)
    val admitted =
      if (keys.isEmpty) Seq.empty
      else Dv.admit(spark, s"$source/v=$srcV", dir, keyCol, keys)
    // evolved sources hold mixed-schema files — pin via the version-aware
    // marker (an Evolve overlay's own marker wins over the data dir's)
    if (admitted.isEmpty) spark.read
      .schema(Versioned.schemaAt(spark, source, srcV)).parquet(dir).limit(0)
    else Dv.applyVector(spark, source, srcV,
      Versioned.readFiles(spark, dir, admitted.map(_.toString)))
      .filter(col(keyCol).isin(keys: _*))
  }

  /** The distributed twin of [[oldRows]] for batches past the driver-key
    * budget ([[Upsert.MaxDriverKeysDefault]]): one scan of the pre-batch
    * version SEMI-JOINED against the batch keys — no key ever resides on
    * the driver, no `isin` expression bomb. A batch that large touches a
    * large source fraction anyway, so the scan is the honest cost (the
    * same dial [[Upsert.applyChanges]] documents). Vector-aware like
    * [[oldRows]]. */
  private def oldRowsJoin(spark: SparkSession, source: String, srcV: Long,
                          keyCol: String, batchKeys: DataFrame): DataFrame = {
    preBatchDir(spark, source, srcV) // vacuum guard (loud reject)
    // readVersion semantics for the pre-batch version: base dir + any
    // zero-copy-merge appends, minus the vector
    val df = Versioned.readVersion(spark, source, srcV)
    df.join(batchKeys, df(keyCol).cast("long") === batchKeys("_k"),
      "left_semi")
  }

  /** Incremental refresh from the I/U/D `batch` just applied to the
    * source ([[Upsert.applyCdc]] semantics and contract: one op per key,
    * non-null keys, I/U rows carry full source rows, D rows need only the
    * key). Publishes a new view version whose `_matview` watermark is the
    * source's live version, atomically with the data. No-op (returns the
    * live view version) when the view is already synced; rejects a source
    * that advanced by more than one version — that's [[recreate]]
    * territory, refusing to guess which changes were missed. */
  def refresh(spark: SparkSession, view: String, batch: DataFrame,
              opCol: String = "op",
              maxDriverKeys: Int = Upsert.MaxDriverKeysDefault): Long = {
    val cs = Changeset.summarize(batch, spec(spark, view).keyCol, opCol,
      maxDriverKeys = maxDriverKeys)
    try refreshSummarized(spark, view, cs, maxDriverKeys)
    finally cs.release()
  }

  /** [[refresh]] from an already-summarized batch — the streaming sink
    * shares the summary its source merge used. */
  private[graft] def refreshSummarized(spark: SparkSession, view: String,
                                       cs: Changeset,
                                       maxDriverKeys: Int =
                                         Upsert.MaxDriverKeysDefault): Long =
    Versioned.withWriteRetry() {
      refreshOnce(spark, view, cs, maxDriverKeys)
    }

  /** Bring the view current from the source's CHANGE FEED at changeset
    * cost — the catch-up lever when refreshes were missed (the SQL
    * `REFRESH MATERIALIZED VIEW` statement routes here): the whole
    * span `synced+1 .. live` reduces to its last op per key
    * ([[Upsert.lastPerKey]] on `_version`) and applies as ONE
    * incremental refresh — old rows read from the `synced` version,
    * min/max touched groups recomputed from the live one, exactly the
    * single-batch algebra stretched over the span. Falls back to
    * [[recreate]] (full recompute) only when the feed cannot bridge
    * the span (a wholesale replace, a vacuumed version) — so a routine
    * catch-up costs the changes, never the table. No-op when already
    * synced. */
  def catchUp(spark: SparkSession, view: String,
              maxDriverKeys: Int = Upsert.MaxDriverKeysDefault): Long =
    Versioned.withWriteRetry() {
      val s = spec(spark, view)
      val srcLive = Versioned.currentVersion(spark, s.source).getOrElse(
        throw new IllegalStateException(
          s"no published version at ${s.source}"))
      if (srcLive == s.synced)
        Versioned.currentVersion(spark, view).get
      else {
        // bridgeability pre-checks the feed probe cannot express as its
        // own exception: a RE-SEEDED source (live below the watermark —
        // deleted and re-published) and a VACUUMED synced version (its
        // data dir is the span's minus side) both mean recompute
        val preDir = Versioned.dataDir(spark, s.source, s.synced)
        val bridgeable = srcLive > s.synced &&
          fs(spark, preDir).exists(new Path(preDir))
        val span =
          if (!bridgeable) None
          else
            try Some(Cdf.changesSince(spark, s.source, s.synced,
              untilV = Some(srcLive)))
            catch { case _: IllegalStateException => None } // unbridgeable
        span match {
          case None => recreate(spark, view)
          case Some(changes) =>
            // one summary reduces the span to its last op per key
            // (sequenced by `_version`) and carries the keys
            val cs = Changeset.summarize(changes, s.keyCol, "_op",
              seqCol = Some("_version"), maxDriverKeys = maxDriverKeys)
            // the span's bound is PINNED through the refresh: a source
            // publish landing after the srcLive read above must not let
            // the watermark jump past changes this span never carried
            try refreshOnce(spark, view, cs, maxDriverKeys,
              spanTo = Some(srcLive))
            finally cs.release()
        }
      }
    }

  /** One incremental refresh from a summarized batch: the summary's
    * NULL-key count gates it and its keys (within `maxDriverKeys`) drive
    * the old-row admission, so no validation aggregate or key collect
    * runs here; past the budget the old rows semi-join the batch. */
  private def refreshOnce(spark: SparkSession, view: String,
                          cs: Changeset, maxDriverKeys: Int,
                          spanTo: Option[Long] = None): Long = {
    val batch = cs.rows
    val opCol = cs.opCol
    val s = spec(spark, view)
    // spanTo is [[catchUp]]'s contract: the batch REDUCES the whole
    // synced+1..spanTo feed span to its last op per key, so the
    // single-step guard does not apply (old rows still read from the
    // synced version, which is exactly the span's minus side) — and the
    // bound is the one catchUp's feed read was built against, NOT a
    // re-read of the live version: a concurrent source publish landing
    // mid-refresh must not advance the watermark past changes this
    // batch never carried (they would be skipped forever).
    val srcLive = spanTo.getOrElse(
      Versioned.currentVersion(spark, s.source).getOrElse(
        throw new IllegalStateException(
          s"no published version at ${s.source}")))
    val viewLive = Versioned.currentVersion(spark, view).get
    if (srcLive == s.synced) return viewLive // replayed refresh: no-op
    require(spanTo.isDefined || srcLive == s.synced + 1,
      s"${s.source} advanced v${s.synced} -> v$srcLive (more than one " +
        "DML publish since the last refresh) — MatView.catchUp (change-" +
        "feed span) or MatView.recreate (full recompute) to catch up")
    var oldCached: Option[DataFrame] = None
    var touchedCached: Option[DataFrame] = None
    try {
      // from the one changeset summary: NULL keys (not addressable) and
      // the keys that pick the driver vs distributed minus-side path
      require(cs.nNullKeys == 0L,
        "NULL-key rows in a CDC batch are not addressable")
      // minus side: OLD rows of EVERY batch key, from the pre-batch
      // version, file-pruned. Including "I" keys is deliberate:
      // Upsert.applyCdc applies I as a full upsert, so an I op on an
      // EXISTING key replaces that row — excluding I keys here would add
      // the new row without subtracting the old one and silently diverge
      // the view forever. A genuinely-new key contributes nothing to the
      // minus side (no old row exists), so the broader key set costs only
      // admission checks. Batches past the driver-key budget never
      // collect: [[oldRowsJoin]] semi-joins instead (same guard as
      // [[Upsert.applyChanges]] — a restatement-sized batch must not be a
      // driver OOM).
      val oldOfBatch = withDerived(
        cs.keys.filter(_ => cs.nKeys <= maxDriverKeys) match {
          case Some(ks) => oldRows(spark, s.source, s.synced, s.keyCol, ks)
          case None => oldRowsJoin(spark, s.source, s.synced, s.keyCol,
            batch.select(col(s.keyCol).cast("long").as("_k")).distinct())
        }, s)
      val mm = s.minMaxCols
      // the min/max leg reads the old rows twice (delta + touched groups)
      // — one materialization serves both
      if (mm.nonEmpty) { oldOfBatch.persist(); oldCached = Some(oldOfBatch) }
      // delta: ONE aggregate over the batch's new rows (I and U carry
      // full rows; the derived group columns materialize on the batch
      // like any source frame, [[withDerived]]) signed +1, and the old
      // rows signed -1
      val used = (s.groupCols ++ s.sumCols ++ s.cntCols ++ mm).distinct
      def signed(df: DataFrame, sign: Int) =
        df.select(used.map(col) :+ lit(sign).as(Sign): _*)
      val delta = grouped(
        signed(withDerived(batch.filter(col(opCol) =!= "D").drop(opCol), s), 1)
          .unionByName(signed(oldOfBatch, -1)),
        s.groupCols, s.sumCols, mm, s.cntCols)
      // merge: view is group-grain, delta is group-grain — full outer on
      // the group key, add, drop emptied groups (n_rows == 0 means every
      // underlying row left; sums are then exact zeros by construction).
      // min/max merge least/greatest — the insert-monotone rule, valid
      // exactly for groups that lost no rows; the recompute below replaces
      // every group that did.
      val sumLegs = ("n_rows" +: s.sumCols.map(c => s"sum_$c")) ++
        s.cntCols.map(c => s"cnt_$c")
      val live = Versioned.read(spark, view)
      val merged = live.join(delta, s.groupCols, "full_outer")
        .select(s.groupCols.map(col) ++ sumLegs.map { c =>
          val summed = coalesce(live(c), lit(0)) + coalesce(delta(c), lit(0))
          (if (c == "n_rows" || c.startsWith("cnt_")) summed.cast("long")
           else summed.cast(acc))
            .as(c)
        } ++ mm.flatMap(c => Seq(
          least(live(s"min_$c"), delta(s"min_$c")).as(s"min_$c"),
          greatest(live(s"max_$c"), delta(s"max_$c")).as(s"max_$c"))): _*)
        .filter(col("n_rows") > 0)
      val result =
        if (mm.isEmpty) merged
        else {
          // groups that LOST rows — the old rows of every batch key —
          // recompute exactly from the POST-batch version, group-bounded.
          // Null-safe group matching throughout (<=>): a NULL group value
          // is a real group to groupBy.
          val touched = oldOfBatch
            .select(s.groupCols.map(col): _*).distinct()
            .toDF(s.groupCols.map(g => s"_tg_$g"): _*)
          // one bounded probe decides the regime: past the budget the
          // touched frame must NOT carry a broadcast hint (the hint
          // bypasses autoBroadcastJoinThreshold and would collect the
          // whole set to the driver — the OOM this branch exists to
          // avoid); a plain shuffle semi/anti join is the honest shape
          touched.persist()
          touchedCached = Some(touched)
          val touchedSmall =
            touched.limit(maxDriverKeys + 1).count() <= maxDriverKeys
          val touchedJ = if (touchedSmall) broadcast(touched) else touched
          val srcNow = withDerived(
            Versioned.readVersion(spark, s.source, srcLive), s)
          val matchCond = (f: DataFrame) => s.groupCols
            .map(g => f(g) <=> touched(s"_tg_$g")).reduce(_ && _)
          // one group column + a driver-bounded touched set: an `isin`
          // literal filter, pushdown-eligible so row-group stats file-prune
          // the rescan on group-clustered layouts; else a semi join
          val touchedRows =
            if (s.groupCols.size == 1 && touchedSmall) {
              val g = s.groupCols.head
              val vs = touched.collect().map(_.get(0))
              val nonNull = vs.filter(_ != null)
              val cond =
                if (nonNull.length == vs.length)
                  col(g).isin(nonNull.toSeq: _*)
                else if (nonNull.isEmpty) col(g).isNull
                else col(g).isNull || col(g).isin(nonNull.toSeq: _*)
              srcNow.filter(cond)
            } else
              srcNow.join(touchedJ, matchCond(srcNow), "left_semi")
          val recomputed =
            grouped(touchedRows, s.groupCols, s.sumCols, mm, s.cntCols)
          merged.join(touchedJ, matchCond(merged), "left_anti")
            .unionByName(recomputed)
        }
      Versioned.publishFrom(spark, view, viewLive) { dir =>
        result.write.mode("overwrite").parquet(dir)
        writeSpec(spark, dir, s.copy(synced = srcLive))
      }
    } finally {
      touchedCached.foreach(_.unpersist())
      oldCached.foreach(_.unpersist())
    }
  }

  /** Read the live view with derived averages (`avg_<c> = sum_<c> /
    * cnt_<c>` as double — the NON-NULL count when the view materializes
    * one, the pre-cntCols `n_rows` fallback otherwise) — the
    * non-self-maintainable aggregates users actually want, computed at
    * read where they're free. */
  def readWithAverages(spark: SparkSession, view: String): DataFrame = {
    val s = spec(spark, view)
    val df = Versioned.read(spark, view)
    s.sumCols.foldLeft(df)((d, c) =>
      d.withColumn(s"avg_$c",
        (col(s"sum_$c") /
          (if (s.cntCols.exists(_.equalsIgnoreCase(c))) col(s"cnt_$c")
           else col("n_rows"))).cast("double")))
  }
}
