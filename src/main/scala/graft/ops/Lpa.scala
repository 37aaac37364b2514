package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/**
 * Bounded synchronous label propagation (community detection) over an
 * undirected edge list (`u`, `v`; one row per edge): every node starts with
 * its own id as label, and each round simultaneously adopts the label most
 * frequent among its neighbors, ties broken by the SMALLEST label — the
 * deterministic variant of Raghavan et al. 2007 (random tie-breaks and
 * asynchronous sweeps would be irreproducible across partitionings, so both
 * are pinned down). A fixed round budget keeps the operator
 * deterministic-cost and cross-engine expressible (the DuckDB oracle
 * unrolls identical rounds); at 100 TB the same plan runs with a larger
 * budget and stops early when an iteration flips nothing.
 *
 * Scale posture: each round is one edge-width label join (keyed on the
 * node id) plus two map-side-combinable aggregates — O(rounds x E)
 * network, no all-pairs stage, no driver-side state. The label frame is
 * node-sized. Labels must be non-negative (the argmax encodes "largest
 * count, then smallest label" as one packed decimal max, below).
 */
object Lpa {

  // Packed argmax key: enc = n·10¹⁹ + (10¹⁹−1 − label). Any non-negative
  // long label is < 10¹⁹, so enc is strictly increasing in n and, for equal
  // n, decreasing in label — max(enc) IS "largest count, then smallest
  // label". Everything is exact: n ≤ 2⁶³ keeps enc < 10³⁸ (fits
  // DECIMAL(38,0)), and the decode n·10¹⁹ mod 10¹⁹ is an exact decimal
  // remainder. The point of the packing: a DECIMAL(38,0) is a MUTABLE
  // aggregation-buffer type, so the per-round argmax runs as a partial+final
  // HashAggregate — max(struct(n, −label)) has a struct buffer, which
  // forces SortAggregateExec and a sort on every side of every round's
  // second aggregate.
  private val Pow19 = java.math.BigDecimal.TEN.pow(19)
  private val Pow19m1 = Pow19.subtract(java.math.BigDecimal.ONE)

  /** Per-node community labels after `rounds` synchronous updates.
    * Output: (node, label). Isolated nodes don't occur (every node comes
    * from an edge endpoint). */
  def propagate(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1)
    // adjacency is consumed every round; labels are consumed twice per
    // round (join + next seed) — lineage cut keeps round r from
    // re-executing rounds 1..r-1 per consumer. The adjacency is
    // materialized once, keyed on the join column (see Partitioned).
    val adj = Partitioned.byKey(edges
      .select(col("u").as("m"), col("v").as("nbr"))
      .unionAll(edges.select(col("v").as("m"), col("u").as("nbr"))), "nbr")
    // seed labels are consumed exactly once (round 1's join), so they ride
    // round 1's plan instead of paying their own materialization job
    var labels = adj.select(col("m").as("node")).distinct()
      .withColumn("label", col("node").cast("long"))
    // Per-round eager checkpoint retained deliberately: the every-3
    // PageRank cadence was measured SLOWER here (graph_lpa_top_terms
    // 1.5 -> 2.4 s at sf0.1, reproduced) — the deep multi-round job loses
    // more to replanning than the small label materializations cost. The
    // returned frame is checkpointed, so callers must not re-checkpoint.
    for (r <- 1 to rounds) {
      labels = adj
        .join(labels.select(col("node").as("nbr"), col("label")), Seq("nbr"))
        .groupBy(col("m"), col("label"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("m"))
        .agg(max(col("n").cast(DecimalType(19, 0)) * lit(Pow19) +
          (lit(Pow19m1) - col("label").cast(DecimalType(19, 0)))).as("enc"))
        .select(col("m").as("node"),
          (lit(Pow19m1) - (col("enc") % lit(Pow19))).cast("long").as("label"))
      labels = labels.localCheckpoint()
    }
    labels
  }
}
