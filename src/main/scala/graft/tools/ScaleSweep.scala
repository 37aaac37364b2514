package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Empirical scale sweep: replicate the sf0.1 tables xN with offset keys
 * (new users/documents/orders per copy — cardinalities scale, texts are
 * unique-ified so near-dup structure doesn't explode quadratically) and
 * time the heavy single-table queries at 1x/4x/16x. Near-linear growth is
 * the evidence that the plan shapes survive scale-up; anything
 * super-linear is a plan bug to fix. Writes SCALE.md. Cells are timed in
 * the [[Cells]] session and timed pass, after a warm pass on the same
 * replica directory.
 *
 * Usage: runMain graft.tools.ScaleSweep [baseSfDir] [outFile]
 */
object ScaleSweep {

  private val queries = Seq(
    "sessionize_30min", "attribution_first_last_touch",
    "window_running_customer_spend", "window_rank_metrics",
    "join_asof_last_purchase", "json_props_histogram",
    "dedup_minhash_lsh_pairs", "dedup_ngram_jaccard", "dedup_normalized",
    "dedup_simhash", "text_fingerprint_rolling", "sample_hash_10pct",
    "dedup_components", "sample_stratified_mix",
    "dedup_embedding_cosine", "dedup_embedding_cosine_scaled",
    "ann_cosine_topk_brute", "ann_int8_topk", "ann_matryoshka_topk",
    "ann_centroid_assign",
    "decontam_overlap", "chunk_overlap", "shard_assign", "corpus_mix",
    "ann_recall", "ann_pq_seeded", "tfidf_top_terms", "dedup_span_8gram",
    "search_postings",
    "search_phrase", "search_bm25_topk", "lm_rare_bigram_ratio",
    "lm_vocab_encode", "search_hybrid_rrf", "lm_bpe_merges", "lm_bpe_encode",
    "graph_pagerank_parts", "events_markov_transitions",
    "sample_train_val_test", "dedup_jw_pairs", "ts_interpolate_linear",
    "copurchase_rules_lift", "graph_kcore_parts",
    "media_image_dhash", "dedup_image_dhash_pairs", "dedup_image_dhash_star",
    "media_audio_energy", "text_pii_redact", "train_user_features",
    "filter_gopher_rules", "filter_source_quality",
    "sample_time_split", "sample_class_balanced",
    "graph_lpa_communities", "lm_kn_bigram_table", "ann_signrp_topk",
    "events_user_burst", "lm_kn_doc_score", "drift_event_mix_chi2",
    "graph_lpa_top_terms", "graph_triangle_counts", "ann_knn_classify",
    "eval_auc_rank", "eval_confusion_threshold", "eval_calibration_bins",
    "eval_kappa_agreement", "cdc_user_day_diff", "train_next_event_pairs",
    "dedup_source_span_matrix", "profile_source_gini",
    "agg_kmv_distinct_spans", "ts_weekday_seasonality",
    "profile_user_diversity", "search_known_item_rank",
    "train_target_encode_loo", "train_hashed_features",
    "dedup_source_overlap_kmv", "ts_autocorr_lag7",
    "ts_spearman_rev_orders", "sessionize_session_window",
    "ts_mann_kendall_trend", "ts_cusum_changepoint", "ann_ivf_pq",
    "agg_grouping_sets", "lm_pmi_bigrams", "ts_stl_weekly",
    "agg_cms_probe_counts", "text_textrank_terms", "train_decile_bins",
    "agg_rollup_region_nation", "dq_benford_prices",
    "profile_revenue_concentration", "q14_promo_revenue",
    "q4_priority_late_ship", "q19_disjunctive_revenue",
    "q10_returned_revenue", "q15_top_supplier", "q17_small_qty_revenue",
    "q18_large_orders", "train_pit_features", "q6_forecast_revenue",
    // r19 serial-vs-floor triage: the 8-vs-32-core ratio≈1 cells from the
    // round-18 scaling block, swept at 16x data to separate genuinely
    // serial plans from floor-bound small cells
    "profile_price_histogram", "sample_pps_systematic", "decontam_bloom")

  /** Replicate one base table `factor`x with per-copy key offsets. */
  private def scaled(spark: SparkSession, base: String, name: String,
                     factor: Int): DataFrame = {
    val t = spark.read.parquet(s"$base/$name.parquet")
    val copies = (0 until factor).map { i =>
      name match {
        case "events" => t
          .withColumn("event_id", col("event_id") + i.toLong * 1000000000L)
          .withColumn("user_id", col("user_id") + i.toLong * 10000000L)
        case "documents" => t
          .withColumn("doc_id", col("doc_id") + i.toLong * 10000000L)
          .withColumn("text", concat(col("text"), lit(s" copytoken$i")))
        case "orders" => t
          .withColumn("o_orderkey", col("o_orderkey") + i.toLong * 1000000000L)
          .withColumn("o_custkey", col("o_custkey") + i.toLong * 10000000L)
        case "customer" => t // same offset as orders' o_custkey, so each
          // replica joins ITS OWN customers — fact⋈dim output scales ×f,
          // never ×f² (c_nationkey stays base: nation/region emit once)
          .withColumn("c_custkey", col("c_custkey") + i.toLong * 10000000L)
        case "part" => t // same offset as lineitem's l_partkey (which must
          // offset per-replica to keep co-purchase graphs disjoint), so
          // part⋈lineitem joins match within every replica — a single-copy
          // part would starve them to replica 0 and a x16 sweep would
          // measure a join whose output never grows
          .withColumn("p_partkey", col("p_partkey") + i.toLong * 10000000L)
        case "lineitem" => t
          // offset BOTH keys: each copy is a disjoint replica of the
          // co-purchase graph (edges x factor, linear). Offsetting only
          // l_orderkey would instead multiply every pair's support by the
          // factor — denser graph, a data artifact the sweep shouldn't
          // measure.
          .withColumn("l_orderkey", col("l_orderkey") + i.toLong * 1000000000L)
          .withColumn("l_partkey", col("l_partkey") + i.toLong * 10000000L)
        case "embeddings" =>
          // rotate each copy's vectors so replicas are NOT mutual near-dups
          // (un-rotated copies would be true duplicate clusters, whose pair
          // output is legitimately quadratic — not what the sweep measures)
          val rot = i % 63 + 1
          val rotated =
            if (i == 0) col("embedding")
            else concat(slice(col("embedding"), rot + 1, 64 - rot),
              slice(col("embedding"), 1, rot))
          t.withColumn("vec_id", col("vec_id") + i.toLong * 10000000L)
            .withColumn("embedding", rotated)
        case _ => null // dims ride along as ONE copy (see below)
      }
    }
    // Dimension tables must be emitted ONCE, never as f identical copies:
    // replicated-unoffset dims multiply every dim join's output by f PER
    // JOIN (measured: the x64 rollup's orders⋈customer⋈nation⋈region blew
    // up 64×64-fold to 39.3e9 rows — a sweep-DATA artifact that read as a
    // catastrophic plan knee and cost a round of misdirected "fixes").
    // Fact/event tables replicate with offset keys as before.
    if (factor == 1 || copies.head == null) t
    else copies.reduce(_ unionByName _)
  }

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("SCALE.md")
    val spark = Cells.session()

    // SPARK_GRAFT_SWEEP_FACTORS (e.g. "1,16,64") and SPARK_GRAFT_SWEEP_ONLY
    // (comma-separated query names) focus a stress run — e.g. an x64 point
    // on the heaviest cells — without re-timing the whole catalog; the
    // default full sweep still owns the SCALE.md table (a focused run
    // prints its table to stdout instead of clobbering it).
    val factors = sys.env.get("SPARK_GRAFT_SWEEP_FACTORS")
      .map(_.split(",").map(_.trim.toInt).toSeq).getOrElse(Seq(1, 4, 16))
    // v5 (round 13: offset part replicas to match lineitem's l_partkey;
    // v4 offset customer replicas, single-copy remaining dims): cache
    // dir is versioned WITH the generation logic — a stale cache
    // from an older generator (e.g. pre-rotation embeddings) would silently
    // sweep the wrong data
    val dirs = factors.map { f =>
      val dir = s"/tmp/graft-scale-v5/x$f"
      graft.lake.Tables.all.foreach { t =>
        val target = s"$dir/$t.parquet"
        if (!Files.exists(Paths.get(target)))
          scaled(spark, base, t, f)
            .repartition(math.max(1, f / 2))
            .write.mode("overwrite").parquet(target)
      }
      f -> dir
    }

    val only = sys.env.get("SPARK_GRAFT_SWEEP_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val focused = only.isDefined || factors != Seq(1, 4, 16)
    val swept = only.fold(queries)(s => queries.filter(s))

    // one warm pass (plan/codegen) on each replica dir, then the timed pass
    def sweep(cell: (Int, String) => DataFrame): Seq[Double] = dirs.map { case (f, dir) =>
      cell(f, dir).count()
      Cells.time(1)(cell(f, dir)).head.wall
    }
    // The extra lm_rare_bigram_ratio row is a threshold∝N dial: the replica
    // generator appends one token per copy, so every bigram's corpus
    // frequency multiplies by the factor — at x16 virtually the whole
    // corpus clears the catalog's fixed freq<=5 dial and the bloom
    // prefilter has no tail to cut (a property of the sweep data, not the
    // plan). Production rarity tracks corpus size; this row scales the
    // threshold with the factor, preserving the head/tail split the
    // operator is designed around.
    val rows = swept.map(q => q -> sweep((_, dir) => graft.SparkEntry.queries(q)(spark, dir))) ++
      (if (only.exists(!_("lm_rare_bigram_ratio"))) Nil
       else Seq("lm_rare_bigram_ratio (threshold 5*factor dial)" ->
         sweep((f, dir) => graft.catalog.Lm.rareBigramRatio(spark, dir, 5L * f))))

    val table = (Seq(
      s"| query | ${factors.map(f => s"${f}x (s)").mkString(" | ")} | x${factors.last}/x${factors.head} |",
      "|" + Seq.fill(factors.size + 2)("---").mkString("|") + "|") ++
      rows.map { case (q, ts) => f"| $q | ${ts.map(t => f"$t%.2f").mkString(" | ")} | ${ts.last / ts.head}%.1f |" })
      .mkString("", "\n", "\n")
    print(table)
    if (focused) { spark.stop(); return } // never clobber the full-sweep SCALE.md

    val sb = new StringBuilder
    sb.append("# SCALE — empirical scale sweep (sf0.1 base, replicated with offset keys)\n\n")
    sb.append("Second (warm) run per cell, `graft.tools.ScaleSweep` in the `graft.Bench` ")
    sb.append("session. `x16/x1` near the data ratio 16 (or below it, while fixed overhead ")
    sb.append("still dominates) means the plan scales linearly; super-linear growth ")
    sb.append("would flag a shape that breaks at 100 TB.\n\n")
    sb.append(table)
    sb.append("\nReading notes:\n")
    sb.append("- `dedup_components` rounds depend on cluster diameter, not size; ")
    sb.append("its growth tracks candidate-pair volume.\n")
    sb.append("- `dedup_embedding_cosine` (catalog row) runs its oracle-pinned ")
    sb.append("FIXED LSH parameters; candidate pairs grow ~n^2/2^bits, hence the ")
    sb.append("super-linear cell. `dedup_embedding_cosine_scaled` is the SAME ")
    sb.append("operator at the PRODUCTION dial — bitsPerBand = ceil(log2(n)), ")
    sb.append("computed from the corpus count inside the query (and its oracle) — ")
    sb.append("collision volume, and the curve, stay near-linear.\n")
    sb.append("- `tfidf_top_terms` shuffles (doc, term) partials whose count grows ")
    sb.append("with the corpus — growth stays under the 16x data ratio (the salted ")
    sb.append("frequency join spreads the Zipf head, so no cell goes hot).\n")
    sb.append("- `lm_rare_bigram_ratio` (round-8 rewrite) bloom-prefilters the ")
    sb.append("provably-rare tail out of its salted frequency join and ")
    sb.append("localCheckpoints the (doc, bigram) spine so the corpus-width ")
    sb.append("explode+aggregate runs ONCE for its three consumers — x16 absolute ")
    sb.append("time halved vs round 7 (7.8x -> ~4.8x growth, sub-linear vs the 16x ")
    sb.append("data ratio; the residual growth is the inherent corpus-linear scan). ")
    sb.append("The `threshold 5*factor dial` row scales rarity with corpus size ")
    sb.append("(the replica generator multiplies every bigram frequency by the ")
    sb.append("factor, so the fixed freq<=5 head/tail split degenerates at x16); ")
    sb.append("its near-identical curve confirms the remaining cost is the linear ")
    sb.append("spine pass, not the join the bloom already cut.\n")
    sb.append("- `lm_bpe_merges` is FLAT across 16x: merge rounds run on the ")
    sb.append("Heaps-bounded word-frequency table, so corpus growth only touches ")
    sb.append("the one-time word-count scan. `lm_bpe_encode` applies the frozen ")
    sb.append("merge table to DISTINCT words and broadcasts the vocab-sized ")
    sb.append("word→symbols map back over the corpus — near-linear.\n")
    sb.append("- `graph_pagerank_parts` (fixed-point, 5 iterations) is O(iters x |E|); ")
    sb.append("its edge side is re-exchanged in every round's join (under AQE the checkpointed edges report no partitioning). Since the round-10 ")
    sb.append("sweep, `lineitem` replicas offset BOTH l_orderkey and l_partkey, so ")
    sb.append("the co-purchase graph (pagerank, `graph_kcore_parts`, ")
    sb.append("`copurchase_rules_lift`) scales as FACTOR DISJOINT replicas — edge ")
    sb.append("count x factor, per-node degrees constant — the honest shape for a ")
    sb.append("graph sweep (earlier sweeps left lineitem fixed, so graph cells ")
    sb.append("measured only overhead).\n")
    sb.append("- `media_image_dhash` / `media_audio_energy` decode REAL PNG/WAV ")
    sb.append("payloads per row (mapPartitions kernels) — embarrassingly parallel, ")
    sb.append("expected at or under the data ratio. `dedup_image_dhash_pairs` ")
    sb.append("generates candidates via 4x16-bit band buckets (pigeonhole-exact ")
    sb.append("for hamming<=3) then confirms exactly — but its OUTPUT is the full ")
    sb.append("pair set, and the fixture's motif clusters (doc_id mod 97, shared ")
    sb.append("across sweep replicas) grow linearly with the corpus, so true-pair ")
    sb.append("volume — and this cell — grows quadratically BY CONSTRUCTION, not ")
    sb.append("by plan fault (the same reason the embedding sweep rotates its ")
    sb.append("replicas). `dedup_image_dhash_star` is the production dial: the ")
    sb.append("same banding confirms each doc only against its bucket's min-doc ")
    sb.append("canonical — O(4n) candidates AND output regardless of cluster ")
    sb.append("width — and its near-linear curve is the evidence the banded plan ")
    sb.append("itself scales; keep the full-pairs row for oracle-checkable ")
    sb.append("completeness at test SFs.\n")
    // preserve hand-written sections (s3a posture, ...) below the sweep table
    val path = Paths.get(out)
    if (Files.exists(path)) {
      val existing = Files.readString(path)
      val tailIdx = existing.indexOf("\n# ", 1)
      if (tailIdx >= 0) sb.append(existing.substring(tailIdx))
    }
    Files.writeString(path, sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
