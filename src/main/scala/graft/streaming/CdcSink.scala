package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.Row

import graft.lake.{Changeset, Expect, Maintain, Txn, Upsert, Versioned}

/**
 * Streaming CDC sink: apply a change stream (`op` = "I"/"U"/"D" + the
 * table's columns) to a [[graft.lake.Versioned]] lake table, one
 * file-targeted [[Upsert.applyCdc]] merge per micro-batch — the
 * `foreachBatch` pattern that turns Structured Streaming's at-least-once
 * batch replay into EXACTLY-ONCE table state:
 *
 *  - foreachBatch re-delivers a failed micro-batch under the SAME batchId;
 *  - each applied batch publishes its batchId as a tag file INSIDE the new
 *    version dir, so tag and data appear in one atomic manifest swap;
 *  - a replayed batch whose id matches any recent version's tag
 *    ([[Upsert.recentBatchTags]]) is skipped.
 *
 * A crash after the publish but before the checkpoint commit therefore
 * re-sends the batch, sees its own tag, and no-ops — the table never
 * double-applies. (Out-of-order ids cannot occur: foreachBatch delivers
 * ids monotonically per checkpoint.) The probe scans tags across the
 * recent EXISTING version dirs, not just the live one, so maintenance DML
 * (compact / purge / ad-hoc merge) interleaved between a batch's publish
 * and its checkpoint commit does not defeat the dedup — the batch's own
 * tagged version dir is still on disk. The one way to lose the tag is a
 * VACUUM that deletes that version inside the crash window; keep vacuum
 * retention longer than the stream's restart window (the same contract
 * Delta's `logRetentionDuration` carries).
 *
 * Scale posture: the merge cost per micro-batch is [[Upsert]]'s — rewrite
 * only the Bloom/footer-admitted files, byte-copy the rest — so a trickle
 * of CDC against a 100 TB table touches the changed fraction, not the
 * table. Empty micro-batches (idle triggers) publish nothing.
 *
 * Per micro-batch the batch is probed ONCE: one changeset summary query
 * ([[graft.lake.Changeset]]) reduces it by `seqCol`, checks it, says
 * whether it is empty and hands the merge (and, in [[applyBatchWithView]],
 * the view refresh) its keys and counts — no separate emptiness probe,
 * validation aggregate or key collect runs.
 *
 * Intra-batch churn: [[Upsert.applyCdc]] enforces ONE op per key per
 * batch (ops inside a DataFrame are unordered — an I-then-D for one key
 * would silently resurrect the row). A real CDC feed carries a sequence
 * column (Kafka offset, LSN); pass it as `seqCol` and each micro-batch is
 * first reduced to its last op per key ([[Upsert.lastPerKey]]). Without a
 * `seqCol`, a micro-batch with duplicate keys is REJECTED, failing the
 * query rather than corrupting the table.
 */
object CdcSink {

  /** Opt-in post-batch auto-maintenance: every `every`-th micro-batch
    * (by batchId — stable under replay), one [[graft.lake.Maintain.auto]]
    * pass runs on the sink's table with these dials, so a long-running
    * CDC stream self-heals its accumulating small files (and any
    * deferred DV/append state) without an external scheduler. Replay-
    * safe twice over: the batch itself dedups on its tag, and a repeated
    * maintenance pass is a metadata-decided no-op when nothing exceeds
    * the dials. The pass runs AFTER the batch's merge commits, so it
    * never taxes the batch that crossed the threshold — the next
    * trigger pays the (OCC-safe, layout-only) bill. */
  final case class MaintainPolicy(every: Int = 10,
                                  maxDataFiles: Int = 64,
                                  maxAppendedFiles: Int = 8,
                                  maxVectorRows: Long = 1000000L,
                                  materializeRefs: Boolean = false)

  // The sink OWNS its tables (the single-maintenance-writer contract in
  // the object doc), so a txn-pending collision here can only be THIS
  // stream's own crashed transaction (a pre-flip crash left pending dirs
  // holding the next version numbers). Heal and retry ONCE — the
  // restart stays self-healing, as it was before cross-table atomicity;
  // a second txnPending means a genuinely foreign writer and fails
  // loudly as it should. The grace wait before the first throw is the
  // restart's one-time cost. Pass ONLY sink-owned tables: healClaims is
  // exclusive maintenance, and auto-running it on a SHARED table (the
  // quarantine, which Expect documents as often shared across writers)
  // would abort a live foreign txn that is merely slower than
  // graft.txn.graceMs — its later commit flip would then orphan a
  // .commit and pointer-update other tables toward deleted dirs.
  private def selfHealing[T](spark: SparkSession,
                             tables: Seq[String])(op: => T): T =
    try op
    catch {
      case e: Versioned.ConcurrentWriteException if e.txnPending =>
        tables.foreach(Versioned.healClaims(spark, _))
        op
    }

  /** Apply one micro-batch (idempotent under replay). Public so batch
    * backfills and specs can drive the exact sink path. A non-empty
    * `rules` battery gates each micro-batch through
    * [[graft.lake.Expect.applyCdc]]: Drop quarantines a batch's violating
    * payload rows (to `quarantine`, versioned + `_violated`-tagged)
    * instead of merging them; Fail aborts the batch — and with it the
    * QUERY, leaving the table untouched (foreachBatch surfaces the throw)
    * — the streaming analog of a CHECK constraint. */
  def applyBatch(spark: SparkSession, table: String, keyCol: String,
                 batch: DataFrame, batchId: Long, opCol: String = "op",
                 seqCol: Option[String] = None,
                 evolveSchema: Boolean = false,
                 rules: Seq[Expect.Rule] = Seq.empty,
                 expectMode: Expect.Mode = Expect.Mode.Fail,
                 quarantine: Option[String] = None,
                 maintain: Option[MaintainPolicy] = None): Unit =
    if (!Upsert.recentBatchTags(spark, table).contains(batchId.toString)) {
      // ONE summary query reduces (by seqCol) and checks the batch, says
      // whether it is empty and carries the keys the merge admits by
      val cs = Changeset.summarize(batch, keyCol, opCol, seqCol)
      // heal scope: the sink-owned target only — never the (possibly
      // shared) quarantine; a pending collision THERE is a foreign
      // writer's and fails loudly toward a manual, exclusive heal
      try if (!cs.isEmpty) selfHealing(spark, Seq(table)) {
        if (rules.isEmpty)
          Upsert.applySummarized(spark, table, cs,
            batchTag = Some(batchId.toString), evolveSchema = evolveSchema)
        else
          Expect.applyCdc(spark, table, keyCol, cs.rows, rules, expectMode,
            quarantine, opCol, batchTag = Some(batchId.toString),
            evolveSchema = evolveSchema)
      } finally cs.release()
      // post-batch auto-maintenance ([[MaintainPolicy]]): runs only on
      // the dialed cadence, after the merge committed — a replayed
      // batch skips the merge above and this with it (the original
      // application already paid), and an extra pass is a no-op anyway
      maintain.filter(p => !cs.isEmpty && p.every > 0 &&
          batchId % p.every == p.every - 1)
        .foreach { p =>
          Maintain.auto(spark, table, keyCol, p.maxDataFiles,
            p.maxAppendedFiles, p.maxVectorRows, p.materializeRefs)
          ()
        }
      ()
    }

  /** Wire a change stream into `table`; caller sets trigger/checkpoint and
    * starts. Pass the feed's sequence column as `seqCol` whenever one op
    * per key per micro-batch is not guaranteed upstream. `evolveSchema`
    * forwards [[Upsert.applyCdc]]'s additive-evolution dial — a feed that
    * grows a column mid-stream evolves the table at the first batch that
    * carries it instead of failing the query. */
  def into(changes: DataFrame, table: String, keyCol: String,
           opCol: String = "op",
           seqCol: Option[String] = None,
           evolveSchema: Boolean = false,
           maintain: Option[MaintainPolicy] = None): DataStreamWriter[Row] =
    changes.writeStream.foreachBatch {
      (batch: DataFrame, id: Long) =>
        applyBatch(batch.sparkSession, table, keyCol, batch, id, opCol,
          seqCol, evolveSchema, maintain = maintain)
    }

  /** [[applyBatch]] + [[graft.lake.MatView.refresh]] of a view defined
    * over `table`, in one micro-batch body — the streaming leg of
    * incremental view maintenance. Both halves are individually
    * idempotent under replay, which is what makes the PAIR exactly-once
    * without a cross-table transaction: the source merge no-ops on its
    * batch tag, and the view refresh no-ops on its version watermark —
    * so a crash BETWEEN the two (source published, view not yet
    * refreshed) replays into "source skips, view catches up". The view
    * refresh runs on the same seqCol-reduced frame the source applied.
    * Same single-maintenance-writer contract as the tag carry: keep
    * compaction/purge of the SOURCE outside the stream's crash window
    * (an interleaved source publish would advance it two versions past
    * the view's watermark, failing the refresh loudly toward
    * `MatView.recreate`). */
  def applyBatchWithView(spark: SparkSession, table: String, keyCol: String,
                         view: String, batch: DataFrame, batchId: Long,
                         opCol: String = "op",
                         seqCol: Option[String] = None,
                         evolveSchema: Boolean = false,
                         atomic: Boolean = false): Unit = {
    // ONE changeset summary (reduction, checks, emptiness, keys) and one
    // materialization of the reduced batch serve both halves
    val cs = Changeset.summarize(batch, keyCol, opCol, seqCol)
    try if (!cs.isEmpty) {
      def halves(): Unit = {
        if (!Upsert.recentBatchTags(spark, table).contains(batchId.toString))
          Upsert.applySummarized(spark, table, cs,
            batchTag = Some(batchId.toString), evolveSchema = evolveSchema)
        graft.lake.MatView.refreshSummarized(spark, view, cs)
        ()
      }
      selfHealing(spark, Seq(table, view)) {
        if (atomic)
          // ONE cross-table transaction ([[graft.lake.Txn]]): the source
          // version and the view version flip visible in one atomic
          // step, so no reader ever sees the table advanced while the
          // view lags (the replay-idempotence argument above still
          // covers the crash-between-halves window; this closes the
          // LIVE-read skew window too). The refresh inside the txn reads
          // the source version the same txn just published
          // (read-your-own-writes); a crash before the flip aborts both
          // halves and the replay re-applies them — the batch tag of an
          // unflipped txn is invisible to recentBatchTags by design.
          Txn.atomically(spark)(halves())
        else halves()
      }
    } finally cs.release()
  }

  /** Wire a change stream into `table` AND keep `view` (a
    * [[graft.lake.MatView]] over it) refreshed per micro-batch.
    * `atomic = true` runs each micro-batch's pair as one cross-table
    * transaction ([[graft.lake.Txn]]) — table and view flip together. */
  def intoWithView(changes: DataFrame, table: String, keyCol: String,
                   view: String, opCol: String = "op",
                   seqCol: Option[String] = None,
                   evolveSchema: Boolean = false,
                   atomic: Boolean = false): DataStreamWriter[Row] =
    changes.writeStream.foreachBatch {
      (batch: DataFrame, id: Long) =>
        applyBatchWithView(batch.sparkSession, table, keyCol, view, batch,
          id, opCol, seqCol, evolveSchema, atomic)
    }
}
