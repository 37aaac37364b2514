package graft.lake

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/**
 * One summary of a CDC changeset, computed by ONE query, that every lake
 * write consuming the changeset shares: emptiness, op counts, the NULL
 * key/op/seq checks, duplicate and (key, seq) collision counts, the
 * distinct-key and delete counts and — under the `maxDriverKeys` budget —
 * the keys themselves. [[Upsert.applyCdc]], [[Dv.applyCdc]],
 * [[MatView]]'s refresh and catch-up, [[graft.streaming.CdcSink]] and
 * [[Cdf.sync]] read these numbers instead of re-probing the batch with
 * their own aggregates and key collects.
 *
 * Shape: with a sequence column the batch reduces to its last op per key
 * ([[Upsert.lastPerKey]]'s window) and the same window annotates each
 * kept row with its key's raw-row, NULL-seq and distinct-seq counts;
 * without one the batch is taken as is. The summary query then runs ONE
 * job at the batch's own parallelism: each task counts over all of its
 * rows and ships its keys only while they fit its share of the
 * `maxDriverKeys` budget, and the driver adds the counts up. Within the
 * budget the keys come with them (a skewed batch whose keys outgrew one
 * task's share collects them in one more job); past it one global
 * distinct count runs instead and no key reaches the driver (`keys` is
 * None).
 *
 * The reduced rows are persisted (unless the caller already cached the
 * batch) so the merge, the change feed and a view refresh read them once;
 * [[release]] frees them.
 *
 * A purge is a changeset too: [[Changeset.deleting]] builds one whose
 * rows are all deletes on the driver, with no summary query, so
 * [[Forget.purge]] and [[Dv.purge]] commit through the same rewrite and
 * zero-copy commits their storage mode's merge uses.
 */
private[graft] final class Changeset private (
    /** the batch, reduced to its last op per key when sequenced: the
      * payload columns plus `opCol` (the sequence column dropped) */
    val rows: DataFrame,
    val keyCol: String,
    val opCol: String,
    /** rows of [[rows]], NULL-key rows included */
    val nRows: Long,
    /** rows of [[rows]] whose key is NULL */
    val nNullKeys: Long,
    /** distinct non-NULL keys */
    val nKeys: Long,
    /** rows whose op is "D" */
    val nDeletes: Long,
    /** the distinct non-NULL ops */
    val ops: Set[String],
    /** rows whose op is NULL */
    val nNullOps: Long,
    /** the distinct keys (cast to long) when [[rows]] fits the budget */
    val keys: Option[Seq[Long]],
    cached: Option[DataFrame]) {

  def isEmpty: Boolean = nRows == 0L

  /** Rows that would insert twice: every row past the first per key. */
  def nDuplicates: Long = nRows - nNullKeys - nKeys

  /** I and U rows, op column dropped. */
  def upserts: DataFrame = rows.filter(col(opCol) =!= "D").drop(opCol)

  /** The delete keys, one long `keyCol` column. */
  def deletes: DataFrame = rows.filter(col(opCol) === "D")
    .select(col(keyCol).cast("long").as(keyCol))

  /** The CDC BATCH CONTRACT ([[Upsert.applyCdc]]): known, non-NULL ops,
    * no NULL keys, one op per key. */
  def requireCdcContract(): Unit = {
    require(ops.subsetOf(Set("I", "U", "D")),
      s"unknown ops ${ops -- Set("I", "U", "D")} in $opCol")
    require(nNullOps == 0L,
      s"$nNullOps row(s) with NULL $opCol — refusing to guess")
    require(nNullKeys == 0L,
      s"changeset has NULL $keyCol keys — a NULL key matches no row")
    require(nDuplicates == 0L,
      s"$nDuplicates duplicate key(s) in one batch — " +
        s"ops per key are unordered in a DataFrame; reduce with " +
        s"Upsert.lastPerKey first")
  }

  /** Free the persisted reduced rows (a caller-held cache is left). */
  def release(): Unit = cached.foreach { df => df.unpersist(); () }
}

private[graft] object Changeset {

  // the summary's per-row annotations (window counts over the key)
  private val N = "_cs_n"
  private val NSeq = "_cs_nseq"
  private val NullSeq = "_cs_nullseq"

  /** Summarize `batch` in one query. With `seqCol`, reduce to the last op
    * per key first and enforce [[Upsert.lastPerKey]]'s determinism
    * contract (NULL sequences, NULL keys, (key, seq) collisions — its
    * messages, in its order). The CDC batch contract itself is the
    * caller's to require ([[Changeset.requireCdcContract]]): not every
    * consumer holds a batch to it. */
  def summarize(batch: DataFrame, keyCol: String, opCol: String,
                seqCol: Option[String] = None,
                maxDriverKeys: Int = Upsert.MaxDriverKeysDefault): Changeset = {
    val annotated = seqCol match {
      case Some(s) =>
        val byKey = Window.partitionBy(col(keyCol))
        batch
          .withColumn("_cs_rn",
            row_number().over(byKey.orderBy(col(s).desc)))
          .withColumn(N, count(lit(1)).over(byKey))
          .withColumn(NSeq, size(collect_set(col(s)).over(byKey)).cast("long"))
          .withColumn(NullSeq, count(when(col(s).isNull, 1)).over(byKey))
          .filter(col("_cs_rn") === 1)
          .drop("_cs_rn", s)
      case None => batch
    }
    val owned = annotated.storageLevel == StorageLevel.NONE
    if (owned) annotated.persist()
    try summarizeCached(annotated, keyCol, opCol, seqCol, maxDriverKeys,
      if (owned) Some(annotated) else None)
    catch {
      case e: Throwable => if (owned) annotated.unpersist(); throw e
    }
  }

  private def summarizeCached(annotated: DataFrame, keyCol: String,
                              opCol: String, seqCol: Option[String],
                              maxDriverKeys: Int,
                              cached: Option[DataFrame]): Changeset = {
    val sequenced = seqCol.isDefined
    val rows = if (sequenced) annotated.drop(N, NSeq, NullSeq) else annotated
    val perRow = annotated.select(Seq(col(keyCol).as("raw"),
      col(keyCol).cast("long").as("k"), col(opCol).as("op")) ++
      (if (sequenced) Seq(col(N), col(NSeq), col(NullSeq)) else Seq.empty)
      : _*)
    val p = perRow
      .mapPartitions(it => Iterator(part(it, sequenced, maxDriverKeys)))(
        Encoders.javaSerialization(classOf[Part]))
      .collect().foldLeft(NoRows)(_ + _)
    if (sequenced)
      requireSequenced(keyCol, seqCol.get, p.nNullSeq, p.nNullKeys,
        p.nCollisions)
    val (nKeys, keys) =
      if (p.nRows > maxDriverKeys)
        (annotated.agg(countDistinct(col(keyCol))).head().getLong(0), None)
      else {
        val pairs = p.keys.getOrElse(
          perRow.filter(col("raw").isNotNull).select("raw", "k").collect()
            .map(r => (r.get(0), r.getLong(1))).toVector)
        (pairs.map(_._1).distinct.size.toLong, Some(pairs.map(_._2).distinct))
      }
    new Changeset(rows, keyCol, opCol, p.nRows, p.nNullKeys, nKeys,
      p.nDeletes, p.ops, p.nNullOps, keys, cached)
  }

  /** The delete-only changeset of a purge, built on the driver with no
    * Spark job: one "D" row per distinct key of `keys`, the key in
    * `keyCol` and every other column of the table `schema` a typed NULL.
    * Its counts and keys are known, and it holds nothing to release. */
  def deleting(spark: SparkSession, schema: StructType, keyCol: String,
               keys: Seq[Long]): Changeset = {
    val ks = keys.distinct
    val op = "_graft_purge_op"
    val rows = spark.createDataset(ks)(Encoders.scalaLong).toDF("_k")
      .select(schema.fields.toSeq.map(f =>
        (if (f.name.equalsIgnoreCase(keyCol)) col("_k") else lit(null))
          .cast(f.dataType).as(f.name)) :+ lit("D").as(op): _*)
    val n = ks.size.toLong
    new Changeset(rows, keyCol, op, n, 0L, n, n, Set("D"), 0L, Some(ks), None)
  }

  /** [[Upsert.lastPerKey]]'s determinism contract, in its order: NULL
    * sequences, NULL keys, (key, seq) collisions. */
  private[lake] def requireSequenced(keyCol: String, seqCol: String,
                                     nNullSeq: Long, nNullKeys: Long,
                                     nCollisions: Long): Unit = {
    require(nNullSeq == 0L,
      s"$nNullSeq row(s) with NULL $seqCol — an unsequenced op " +
        "cannot be ordered")
    require(nNullKeys == 0L,
      s"changeset has NULL $keyCol keys — a NULL key matches no row")
    require(nCollisions == 0L,
      s"$nCollisions (key, $seqCol) collision(s) — the " +
        "sequence does not order this feed; the last-op winner would be " +
        "arbitrary")
  }

  /** One task's share of the summary: counts over all of its rows, and
    * its non-NULL (key, key as long) pairs while they fit its share of
    * the key budget (None past it). */
  private[lake] final case class Part(nRows: Long, nNullKeys: Long,
                                      nDeletes: Long, ops: Set[String],
                                      nNullOps: Long, nNullSeq: Long,
                                      nCollisions: Long,
                                      keys: Option[Vector[(Any, Long)]]) {
    def +(o: Part): Part = Part(nRows + o.nRows, nNullKeys + o.nNullKeys,
      nDeletes + o.nDeletes, ops ++ o.ops, nNullOps + o.nNullOps,
      nNullSeq + o.nNullSeq, nCollisions + o.nCollisions,
      for (a <- keys; b <- o.keys) yield a ++ b)
  }

  private val NoRows = Part(0L, 0L, 0L, Set.empty, 0L, 0L, 0L,
    Some(Vector.empty))

  // `it` holds (raw key, key as long, op[, N, NSeq, NullSeq]) rows; the
  // tasks split `budget + 1` keys between them, so a batch past the
  // budget sends the driver about that many keys in all, never more
  private def part(it: Iterator[Row], sequenced: Boolean,
                   budget: Int): Part = {
    val tasks = TaskContext.get().numPartitions().toLong
    val share = (budget.toLong + tasks) / tasks
    var nRows, nNullKeys, nDeletes, nNullOps, nNullSeq, nCollisions = 0L
    val ops = scala.collection.mutable.Set.empty[String]
    val keys = Vector.newBuilder[(Any, Long)]
    var nKeys = 0L
    it.foreach { r =>
      nRows += 1
      if (r.isNullAt(0)) nNullKeys += 1
      else {
        nKeys += 1
        if (nKeys <= share) keys += ((r.get(0), r.getLong(1)))
      }
      if (r.isNullAt(2)) nNullOps += 1
      else {
        val op = r.getString(2)
        ops += op
        if (op == "D") nDeletes += 1
      }
      if (sequenced) {
        nNullSeq += r.getLong(5)
        nCollisions += r.getLong(3) - r.getLong(4)
      }
    }
    Part(nRows, nNullKeys, nDeletes, ops.toSet, nNullOps, nNullSeq,
      nCollisions, if (nKeys <= share) Some(keys.result()) else None)
  }
}
