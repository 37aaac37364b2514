package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Distributed weighted PageRank over an edge list (`src`, `dst`, `w`) — the
 * power iteration with damping d = 85/100 and dangling-mass redistribution,
 * contributions split along edge WEIGHTS (the TextRank form, Mihalcea &
 * Tarau 2004):
 *
 *   rank'(v) = (1-d)/N + d * ( Σ_{u→v} (w_uv / W_u) * rank(u) + danglingMass/N )
 *
 * with W_u the weighted out-degree. Unit weights give classic PageRank:
 * W_u is then the out-degree and `(r div W_u) * 1 == r div deg`.
 *
 * Fixed-point arithmetic: every quantity is a BIGINT in units of 1/1e15
 * and every division is integral floor division. The result is
 * bit-identical across engines, partitionings and summation orders —
 * integer sums commute exactly — which makes the operator
 * DuckDB-oracle-checkable as unrolled integer CTEs. The per-edge
 * contribution is `(r div W_u) * w_uv`: truncate BEFORE the weight
 * multiply, so the product is bounded by r for any weight. Floor division
 * leaks ≤ 1 unit of mass per node per round — a relative error
 * ~|V|·iters/1e15, far below any ranking-relevant difference.
 *
 * Overflow ledger (ANSI mode throws rather than wraps, so this is a
 * correctness precondition, not a style note): ranks sum to ≤ Scale, so a
 * contribution sum is ≤ Scale = 1e15; the damping product is
 * ≤ DampNum·Scale = 8.5e16; both far under Long.MaxValue ≈ 9.2e18.
 *
 * Scale shape per iteration: ONE src-keyed join (edges × ranks; the edge
 * side is materialized once by [[Partitioned.byKey]]) and ONE dst-keyed
 * aggregate. `localCheckpoint` every [[CheckpointEvery]] rounds keeps plan
 * depth O(1); driver-side scalars are limited to |V| once and the dangling
 * mass per round (only when dangling nodes exist). Total network cost is
 * O(iterations × |E|); no step depends on |V| fitting anywhere central.
 *
 * Reference provenance: graph analytics is beyond the reference's declared
 * surface (`/root/reference/README.md:23-33` stops at funnels); this extends
 * the driver's mining catalog the same way basket analysis does.
 */
object PageRank {

  // Both oracle SQLs hard-code these: 85/100 damping, 1e15 units.
  private val DampNum = 85L
  private val DampDen = 100L
  private val Scale = 1000000000000000L
  private val CheckpointEvery = 3

  /**
   * @param edges directed (`src`, `dst`, `w`) with int64 weights ≥ 1;
   *              parallel edges count once (dedup upstream if needed)
   * @param iters fixed power iterations
   * @return (`node`, `rank_fp` BIGINT units, `rank` double = rank_fp/1e15)
   */
  def run(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val e = Partitioned.byKey(edges.select(col("src"), col("dst"), col("w")), "src")
    val deg = e.groupBy(col("src")).agg(sum(col("w")).as("wdeg")).localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint()
    val n = nodes.count()
    require(n > 0, "empty graph")
    // Scala Long `/` truncates toward zero == floor for the non-negative
    // operands here; mirrors SQL `x div y` / DuckDB `x // y` exactly.
    val base = Scale * (DampDen - DampNum) / DampDen / n
    // A dangling node has no out-edges, so some exist iff |V| > deg's row
    // count (deg is checkpointed; counting it reads the materialized RDD):
    // no isEmpty probe job, and the anti-join runs once, only on graphs
    // that have dangling nodes. Symmetric graphs (every undirected edge
    // emitted both ways) skip the per-round dangling-mass aggregate.
    val danglingNodes =
      if (n == deg.count()) None
      else Some(nodes.join(deg.withColumnRenamed("src", "node"), Seq("node"), "left_anti")
        .localCheckpoint())
    var ranks = nodes.withColumn("r", lit(Scale / n))
    for (i <- 1 to iters) {
      val danglingOverN = danglingNodes.fold(0L)(dn =>
        ranks.join(dn, Seq("node"), "left_semi")
          .agg(coalesce(sum(col("r")), lit(0L))).first().getLong(0) / n)
      val contribs = e
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .join(deg, Seq("src"))
        .select(col("dst").as("node"), expr("(r div wdeg) * w").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("contrib"))
      // SQL `div` (integral), NOT Column./ — Divide on longs returns DOUBLE
      ranks = nodes
        .join(contribs, Seq("node"), "left")
        .select(col("node"),
          expr(s"$base + ($DampNum * (coalesce(contrib, 0) + $danglingOverN)) div $DampDen")
            .as("r"))
      if (i % CheckpointEvery == 0 && i < iters) ranks = ranks.localCheckpoint()
    }
    ranks.select(col("node"), col("r").as("rank_fp"),
      (col("r").cast("double") / lit(Scale.toDouble)).as("rank"))
  }
}
