package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.lake.{Clone, Dv, Forget, MatView, Upsert, Versioned}

/** Dev measurement main — not part of the library surface.
  * Puts NUMBERS behind the lake DML scale claims (SCALE.md "lake ops",
  * BASELINE.md "lake DML budget table"): targeted ops track the
  * TOUCHED-FILE fraction, zero-copy ops track the changeset, while a
  * naive full republish tracks table size.
  *
  * Usage: runMain graft.tools.LakeOpsBench [nRows] [nFiles] [nKeys] [stats]
  * Defaults: 4,000,000 rows x 64 files, 5-key changesets, stats=false.
  * With stats=true a [[graft.lake.StatsIndex]] manifest is built after
  * publish, so purge/merge prune from ONE manifest read instead of
  * nFiles footer opens.
  *
  * Arms (each printed human-readable, all collected into ONE final JSON
  * line for programmatic budget capture — tools/budget_table.py style;
  * the line's `jobs` object holds each arm's Spark job count, from a
  * listener on the timed block):
  *   publish, purge (rewriting), merge_driver (Bloom-admission CDC
  *   trickle), republish_full (the naive alternative), dv_purge
  *   (zero-copy delete), dv_merge (zero-copy CDC), materialize (the DV
  *   compactor), merge_distributed (find-touched-files path, forced via
  *   maxDriverKeys=0), copy_into_fresh/copy_into_noop (file-grain
  *   ingest + its ledger no-op rerun), evolve_add/evolve_drop
  *   (metadata-only schema overlay), rename_column/dv_merge_renamed
  *   (column-mapping rename + a DV merge through it), matview_refresh vs
  *   matview_recreate, mv_rewrite_answer/mv_rewrite_base and
  *   mv_rewrite_join_answer/mv_rewrite_join_base (the automatic MV
  *   rewrite, single-table and through a fact⋈dim join, vs the base
  *   recompute), and occ_contention (two
  *   barrier-synced disjoint-range writers on a clustered table — the
  *   conflict-rebase path).
  */
object LakeOpsBench {
  def main(args: Array[String]): Unit = {
    val nRows = args.lift(0).map(_.toLong).getOrElse(4000000L)
    val nFiles = args.lift(1).map(_.toInt).getOrElse(64)
    val nKeys = args.lift(2).map(_.toInt).getOrElse(5)
    val useStats = args.lift(3).exists(_.toBoolean)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Conf.local(SparkSession.builder(), cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val root = Files.createTempDirectory("graft-lakeops").toString
    val t = s"$root/t"
    val arms = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // Spark jobs per arm, counted by a listener on the timed block
    val jobs = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val counter = new JobCounter(spark)
    var lastJobs = 0L

    def timeS[A](f: => A): (A, Double) = {
      val (a, secs, n) = counter.time(f)
      lastJobs = n
      (a, secs)
    }
    def arm(name: String, secs: Double): Unit = {
      arms(name) = secs; jobs(name) = lastJobs
    }
    def partNames(v: Long): Set[String] =
      Option(new java.io.File(s"$t/v=$v").listFiles())
        .map(_.filter(f => f.isFile && f.getName.startsWith("part-"))
          .map(_.getName).toSet).getOrElse(Set.empty)

    val df = spark.range(nRows).select(col("id").as("k"),
      concat(lit("payload-"), col("id")).as("v"))
    val (_, tPub) = timeS(Forget.publishIndexed(df, t, nFiles, "k"))
    arm("publish", tPub)
    println(f"publish   $nRows%,d rows x $nFiles files: $tPub%.2f s")
    if (useStats) {
      val (_, tStats) = timeS(
        graft.lake.StatsIndex.build(spark, s"$t/v=1", "k"))
      arm("stats_build", tStats)
      println(f"stats manifest build: $tStats%.2f s")
    }

    val purgeKeys = (0 until nKeys).map(i => i.toLong * (nRows / nKeys) + 7)
    val (v2, tPurge) = timeS(Forget.purge(spark, t, "k", purgeKeys))
    arm("purge", tPurge)
    val rewrote = partNames(v2).diff(partNames(v2 - 1)).size
    println(f"purge     $nKeys keys: $tPurge%.2f s  " +
      f"(rewrote $rewrote%d of $nFiles files, carried ${nFiles - rewrote}%d)")

    val changes = purgeKeys.map(k => ("I", k, s"restored-$k")) ++
      (0 until nKeys).map(i => ("U", i.toLong * 31 + 1, s"updated-$i"))
    import spark.implicits._
    val (v3, tMerge) = timeS(Upsert.applyCdc(spark, t, "k",
      changes.toDF("op", "k", "v")))
    arm("merge_driver", tMerge)
    val rewroteM = partNames(v3).diff(partNames(v3 - 1)).size
    println(f"merge     ${changes.size} I/U ops (driver path): $tMerge%.2f s  " +
      f"(rewrote $rewroteM%d of $nFiles files)")

    // the naive alternative: full-table anti-join republish, INCLUDING the
    // sidecar rebuild keeping the layout contract (what merge amortizes)
    val (v4, tFull) = timeS {
      val cur = Versioned.read(spark, t)
      val ch = changes.toDF("op", "k", "v").filter(col("op") =!= "D")
        .drop("op")
      Forget.publishIndexed(
        cur.join(ch.select(col("k")), Seq("k"), "left_anti").unionByName(ch),
        t, nFiles, "k")
    }
    arm("republish_full", tFull)
    println(f"republish full table (same changeset): $tFull%.2f s")
    println(f"targeted/full ratio: ${tMerge / tFull}%.2f  " +
      f"(versions $v2%d/$v3%d/$v4%d)")

    // the zero-copy arms: a deletion-vector purge rewrites NOTHING, a
    // deletion-vector MERGE appends changeset-sized files beside a _ref
    val dvKeys = (0 until nKeys).map(i => i.toLong * (nRows / nKeys) + 13)
    val (v5, tDv) = timeS(Dv.purge(spark, t, "k", dvKeys))
    arm("dv_purge", tDv)
    val dvParts = partNames(v5).size
    println(f"dv purge  $nKeys keys (zero-copy): $tDv%.2f s  " +
      f"(wrote $dvParts%d data files; " +
      f"${Dv.deletedRows(spark, t, v5)}%d rows vectored)")

    val dvChanges = (0 until nKeys).map(i =>
      ("U", i.toLong * 37 + 2, s"dv-updated-$i")) :+
      (("I", nRows + 50L, "dv-inserted"))
    val (v6, tDvMerge) = timeS(Dv.applyCdc(spark, t, "k",
      dvChanges.toDF("op", "k", "v")))
    arm("dv_merge", tDvMerge)
    println(f"dv merge  ${dvChanges.size} I/U ops (zero-copy): " +
      f"$tDvMerge%.2f s  (${partNames(v6).size}%d appended files; " +
      f"${Dv.deletedRows(spark, t, v6)}%d rows vectored)")

    val (_, tMat) = timeS(Clone.materialize(spark, t))
    arm("materialize", tMat)
    println(f"materialize (DV compactor, full rewrite): $tMat%.2f s")

    // distributed-path merge: the same trickle FORCED through the
    // find-touched-files scan (maxDriverKeys=0) — the restatement shape
    val distChanges = (0 until nKeys).map(i =>
      ("U", i.toLong * 41 + 3, s"dist-updated-$i"))
    val (_, tDist) = timeS(Upsert.applyCdc(spark, t, "k",
      distChanges.toDF("op", "k", "v"), maxDriverKeys = 0))
    arm("merge_distributed", tDist)
    println(f"merge     ${distChanges.size} ops (distributed path): " +
      f"$tDist%.2f s")

    // COPY INTO: file-grain ingest — cost tracks the LANDED file, the
    // no-op rerun tracks the ledger (metadata)
    val land = s"$root/landing"
    spark.range(nRows, nRows + 10000L).select(col("id").as("k"),
      concat(lit("land-"), col("id")).as("v"))
      .coalesce(1).write.parquet(land)
    val (r1, tCopy) = timeS(
      graft.lake.CopyInto.load(spark, t, "k", land))
    arm("copy_into_fresh", tCopy)
    val (r2, tCopyNoop) = timeS(
      graft.lake.CopyInto.load(spark, t, "k", land))
    arm("copy_into_noop", tCopyNoop)
    println(f"copy into 10,000-row landing file: $tCopy%.2f s " +
      f"(${r1.loaded.size}%d files); rerun no-op: $tCopyNoop%.2f s " +
      f"(${r2.loaded.size}%d files)")

    // metadata-only schema evolution: cost must track METADATA (a pin +
    // a ref + a marker), never the table's rows
    val (_, tEvoAdd) = timeS(graft.lake.Evolve.addColumns(spark, t,
      org.apache.spark.sql.types.StructType.fromDDL("bench_extra DOUBLE")))
    arm("evolve_add", tEvoAdd)
    val (_, tEvoDrop) = timeS(
      graft.lake.Evolve.dropColumns(spark, t, Seq("bench_extra"), "k"))
    arm("evolve_drop", tEvoDrop)
    println(f"evolve    add column $tEvoAdd%.2f s, drop column " +
      f"$tEvoDrop%.2f s ($nRows%,d-row table untouched)")

    // rename via column mapping: metadata-only like evolve (a marker +
    // a mapping sidecar — the table's rows never rewrite), and a DV
    // merge THROUGH the renamed schema stays changeset-cost (appends
    // written under physical names)
    val (_, tRename) = timeS(
      graft.lake.Evolve.renameColumn(spark, t, "v", "v_renamed", "k"))
    arm("rename_column", tRename)
    val renameCh = (0 until nKeys)
      .map(i => (i.toLong * 53 + 11, s"renamed-$i"))
      .toDF("k", "v_renamed")
    val (_, tDvRen) = timeS(Dv.merge(spark, t, "k", renameCh))
    arm("dv_merge_renamed", tDvRen)
    println(f"rename    column (mapping overlay): $tRename%.2f s; " +
      f"dv merge through the renamed schema: $tDvRen%.2f s")
    graft.lake.Evolve.renameColumn(spark, t, "v_renamed", "v", "k")

    // MatView arms: incremental refresh from one CDC batch vs recompute
    val src = s"$root/mvsrc"
    val view = s"$root/mv"
    Forget.publishIndexed(
      spark.range(nRows).select(col("id").as("k"),
        (col("id") % 1024).as("g"), (col("id") % 97).as("amt")),
      src, nFiles, "k")
    MatView.create(spark, src, "k", view, Seq("g"), Seq("amt"))
    val mvBatch = (0 until nKeys).map(i =>
      ("U", i.toLong * 43 + 5, i.toLong % 1024, 7L))
      .toDF("op", "k", "g", "amt")
    Upsert.applyCdc(spark, src, "k", mvBatch)
    val (_, tRefresh) = timeS(MatView.refresh(spark, view, mvBatch))
    arm("matview_refresh", tRefresh)
    val (_, tRecreate) = timeS(MatView.recreate(spark, view))
    arm("matview_recreate", tRecreate)
    println(f"matview   refresh $tRefresh%.2f s vs recreate $tRecreate%.2f s")

    // MV automatic rewrite ([[graft.SqlDml.rewriteViaMv]]): the same
    // grouped SELECT answered from the |groups|-sized view vs recomputed
    // from the nRows-row base — the consumption half of the MV story; at
    // 100 TB the gap IS the point (dimension scan vs table scan). Each
    // arm first requires that the rewrite engages, or it would time the
    // base scan under the view's name.
    graft.SqlDml.register(spark, "lob_src", src, "k")
    graft.Sql.execute(spark,
      s"CREATE MATERIALIZED VIEW lob_mv LOCATION '$root/mv_rw' AS " +
        "SELECT g, count(*), sum(amt) FROM lob_src GROUP BY g")
    val rwQ = "SELECT g, count(*), sum(amt) FROM lob_src GROUP BY g"
    require(graft.SqlDml.rewriteViaMv(spark, rwQ).isDefined,
      "rewrite did not engage — the arm would time the base")
    val (rwRows, tMvAns) = timeS(graft.Sql.sql(spark, rwQ).collect())
    arm("mv_rewrite_answer", tMvAns)
    val (_, tBaseAns) = timeS(spark.sql(rwQ).collect())
    arm("mv_rewrite_base", tBaseAns)
    println(f"mv rewrite: answered from the view in $tMvAns%.2f s " +
      f"(${rwRows.length}%d groups) vs base recompute $tBaseAns%.2f s")

    // the same rollup THROUGH a fact⋈dim equi-join — the |groups|-sized
    // view joins the 1024-row dim instead of the nRows-row fact scanning
    // into the join
    val dimT = s"$root/dim"
    Forget.publishIndexed(
      spark.range(1024).select(col("id").as("dg"),
        concat(lit("seg-"), col("id") % 8).as("seg")),
      dimT, 1, "dg")
    graft.SqlDml.register(spark, "lob_dim", dimT, "dg")
    val rwjQ = "SELECT seg, count(*) AS n, sum(amt) AS s " +
      "FROM lob_src JOIN lob_dim ON g = dg GROUP BY seg"
    require(graft.SqlDml.rewriteViaMv(spark, rwjQ).isDefined,
      "join rewrite did not engage — the arm would time the base")
    val (rwjRows, tMvJoin) = timeS(graft.Sql.sql(spark, rwjQ).collect())
    arm("mv_rewrite_join_answer", tMvJoin)
    val (_, tBaseJoin) = timeS(spark.sql(rwjQ).collect())
    arm("mv_rewrite_join_base", tBaseJoin)
    println(f"mv join rewrite: ${rwjRows.length}%d segments from the " +
      f"view in $tMvJoin%.2f s vs base join $tBaseJoin%.2f s")

    // Cross-table txn arm: the CDC-merge + view-refresh pair committed as
    // ONE atomic flip (Txn.atomically) vs sequentially. The txn adds only
    // metadata ops per participant — a record rewrite, a marker file, the
    // feed-sidecar rename at finalize, and one .commit create — so the
    // delta over the sequential pair IS the protocol overhead, constant
    // in data size.
    val seqBatch = (0 until nKeys).map(i =>
      ("U", i.toLong * 53 + 11, i.toLong % 1024, 9L))
      .toDF("op", "k", "g", "amt")
    val (_, tPairSeq) = timeS {
      Upsert.applyCdc(spark, src, "k", seqBatch)
      MatView.refresh(spark, view, seqBatch)
    }
    arm("pair_sequential", tPairSeq)
    val txnBatch = (0 until nKeys).map(i =>
      ("U", i.toLong * 59 + 13, i.toLong % 1024, 11L))
      .toDF("op", "k", "g", "amt")
    val (_, tPairTxn) = timeS {
      graft.lake.Txn.atomically(spark) {
        Upsert.applyCdc(spark, src, "k", txnBatch)
        MatView.refresh(spark, view, txnBatch)
      }
    }
    arm("pair_txn", tPairTxn)
    println(f"txn pair  merge+refresh sequential $tPairSeq%.2f s vs " +
      f"one atomic flip $tPairTxn%.2f s " +
      f"(overhead ${(tPairTxn - tPairSeq) * 1000}%.0f ms)")

    // OCC contention: two barrier-synced writers on DISJOINT key ranges of
    // a range-clustered table — the file-level rebase path absorbs the
    // claim conflict, so the pair costs ~one derivation each, not a
    // re-derivation cascade. Wall for both to commit.
    val tOcc = s"$root/occ"
    Forget.publishClustered(
      spark.range(nRows).select(col("id").as("k"),
        concat(lit("p-"), col("id")).as("v")),
      tOcc, nFiles, "k", stats = true)

    // big-batch restatement: a contiguous-range changeset LARGER than the
    // driver-key budget (forces the find-touched-files distributed path —
    // no key ever reaches the driver) against the range-clustered copy.
    // The rewrite tracks the touched key RANGE's files, so at a bigger
    // table the SAME batch touches a smaller file fraction; the only
    // table-size-linear piece is the one column-pruned key-column scan of
    // the admission join. This is the SCALE.md "distributed-path knee" row.
    val bigN = math.min(nRows / 4, 500000L)
    val bigLo = nRows / 3
    val bigCh = spark.range(bigLo, bigLo + bigN).select(col("id").as("k"),
      concat(lit("big-"), col("id")).as("v"))
    val (vBig, tBig) = timeS(Upsert.merge(spark, tOcc, "k", bigCh))
    arm("merge_bigbatch", tBig)
    val bigRewrote = Option(new java.io.File(s"$tOcc/v=$vBig").listFiles())
      .map(_.count(f => f.isFile && f.getName.startsWith("part-")))
      .getOrElse(0)
    println(f"merge     $bigN%,d-key contiguous batch (distributed path, " +
      f"budget ${Upsert.MaxDriverKeysDefault}%,d): $tBig%.2f s  " +
      f"(version holds $bigRewrote%d data files)")

    val (_, tOccWall) = timeS {
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        import scala.concurrent._
        import scala.concurrent.duration._
        implicit val ec: ExecutionContextExecutorService =
          ExecutionContext.fromExecutorService(pool)
        val writers = (0 to 1).map { w =>
          Future {
            val lo = w.toLong * (nRows - nKeys.toLong)
            val ch = (0 until nKeys).map(i => (lo + i, s"occ-$w-$i"))
              .toDF("k", "v")
            barrier.await()
            Upsert.merge(spark, tOcc, "k", ch)
          }
        }
        Await.result(Future.sequence(writers), 10.minutes)
      } finally pool.shutdown()
    }
    arm("occ_contention_pair", tOccWall)
    println(f"occ pair  2 barrier-synced disjoint merges: $tOccWall%.2f s " +
      f"(rebases so far: ${Upsert.rebases.get}%d)")

    val armsJson = arms.map { case (k, s) => s""""$k":${f"$s%.3f"}""" }
      .mkString(",")
    val jobsJson = jobs.map { case (k, n) => s""""$k":$n""" }.mkString(",")
    println(s"""{"metric":"lake_ops","rows":$nRows,"files":$nFiles,""" +
      s""""keys":$nKeys,"stats":$useStats,"arms":{$armsJson},""" +
      s""""jobs":{$jobsJson}}""")
    spark.stop()
    // reclaim the bench table: at the default dial the version history
    // holds tens of GB — leaked temp dirs from a few runs fill the disk
    // (observed: two stale runs held 74 GB of /tmp)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    ()
  }
}
