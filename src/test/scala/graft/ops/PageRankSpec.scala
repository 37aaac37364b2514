package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class PageRankSpec extends SparkSpec {

  import spark.implicits._

  /** Unit-weight (classic PageRank) ranks as doubles. */
  private def ranksOf(edges: Seq[(Long, Long)], iters: Int): Map[Long, Double] =
    PageRank.run(edges.map { case (a, b) => (a, b, 1L) }.toDF("src", "dst", "w"), iters)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap

  test("directed cycle converges to the uniform distribution") {
    val cycle = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 1L)
    val r = ranksOf(cycle, iters = 20)
    r.values.foreach(v => assert(math.abs(v - 0.25) < 1e-12))
  }

  test("star graph matches the closed form") {
    // leaves 2..5 -> hub 1; hub dangles (mass redistributed uniformly).
    // Fixed point (using exact mass conservation hub + 4*leaf = 1):
    //   leaf = (1-d)/n + (d/n)*hub  =>  leaf = ((1-d)/n + d/n) / (1 + 4d/n)
    // Convergence is geometric at rate d=0.85, so 40 iterations reach
    // ~0.85^40 ≈ 1.5e-3 of the initial gap — assert at 1e-3.
    val star = Seq(2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L)
    val r = ranksOf(star, iters = 40)
    val d = 0.85; val n = 5.0
    val leaf = ((1 - d) / n + d / n) / (1 + 4 * d / n)
    val hub = 1 - 4 * leaf
    assert(math.abs(r(1L) - hub) < 1e-3, s"hub ${r(1L)} vs $hub")
    Seq(2L, 3L, 4L, 5L).foreach(v =>
      assert(math.abs(r(v) - leaf) < 1e-3, s"leaf ${r(v)} vs $leaf"))
  }

  test("probability mass is conserved, with and without dangling nodes") {
    val withDangling = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 1L -> 4L) // 4 dangles
    for (g <- Seq(withDangling, Seq(1L -> 2L, 2L -> 1L))) {
      val total = ranksOf(g, iters = 15).values.sum
      assert(math.abs(total - 1.0) < 1e-9, s"mass $total")
    }
  }

  test("hub outranks leaves and more iterations refine toward the fixed point") {
    val star = Seq(2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L)
    val r5 = ranksOf(star, 5)
    val r20 = ranksOf(star, 20)
    val r40 = ranksOf(star, 40)
    assert(r5(1L) > r5(2L))
    // contraction: successive iterates approach each other
    assert(math.abs(r40(1L) - r20(1L)) < math.abs(r20(1L) - r5(1L)))
  }

  test("iters < 1 is rejected up front") {
    val e = Seq((1L, 2L, 1L), (2L, 1L, 1L)).toDF("src", "dst", "w")
    intercept[IllegalArgumentException](PageRank.run(e, 0))
    intercept[IllegalArgumentException](PageRank.run(e, -1))
  }

  test("catalog pagerank query returns a full top-20 of distinct parts") {
    val top = graft.SparkEntry.queries("graph_pagerank_parts")(spark, sf001).collect()
    assert(top.length == 20)
    val parts = top.map(_.getLong(0))
    assert(parts.distinct.length == 20)
    val fp = top.map(_.getLong(1))
    assert(fp.sameElements(fp.sorted.reverse))
    val ranks = top.map(_.getDouble(2))
    assert(ranks.forall(v => v > 0 && v < 1))
    // the double column is exactly the fixed-point units over the scale
    fp.zip(ranks).foreach { case (u, r) => assert(r == u / 1e15) }
  }

  // ----- exact integer arithmetic (what the oracles unroll) -----

  private def fpRanks(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    wRanks(edges.map { case (a, b) => (a, b, 1L) }, iters)

  private def wRanks(edges: Seq[(Long, Long, Long)],
                     iters: Int): Map[Long, Long] =
    PageRank.run(edges.toDF("src", "dst", "w"), iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Driver-side replay of the exact integer recurrence:
    * r' = base + 85·(Σ (r//W_u)·w + dangling//n) // 100, where dangling is
    * the summed rank of the nodes without out-edges. */
  private def simulate(edges: Seq[(Long, Long, Long)],
                       iters: Int): Map[Long, Long] = {
    val s = 1000000000000000L
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val wdeg = edges.groupBy(_._1).map { case (u, es) => u -> es.map(_._3).sum }
    val dangling = nodes.filterNot(wdeg.contains)
    val base = s * 15 / 100 / nodes.size
    var r = nodes.map(_ -> s / nodes.size).toMap
    for (_ <- 1 to iters) {
      val contrib = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      edges.foreach { case (u, v, w) =>
        contrib(v) += (r(u) / wdeg(u)) * w
      }
      val danglingOverN = dangling.map(r).sum / nodes.size
      r = nodes.map(n => n -> (base + 85L * (contrib(n) + danglingOverN) / 100L)).toMap
    }
    r
  }

  test("fixed point: directed cycle stays uniform at every iteration") {
    val cycle = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 1L)
    // uniform is the exact fixed point of the integer arithmetic too:
    // r = S/4; contrib = r//1 = r; r' = (S*15//100)//4 + (85*r)//100
    val s = 1000000000000000L
    val expected = (s * 15 / 100) / 4 + (85 * (s / 4)) / 100
    for (iters <- Seq(7, 20)) {
      val r = fpRanks(cycle, iters)
      r.values.foreach(v => assert(v == expected, s"$v vs $expected"))
    }
  }

  /** Driver-side decimal (double) power iteration, same damping and
    * dangling-mass handling, without any truncation. */
  private def decimalRanks(edges: Seq[(Long, Long)],
                           iters: Int): Map[Long, Double] = {
    val d = 0.85
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.size.toDouble
    val deg = edges.groupBy(_._1).map { case (u, es) => u -> es.size }
    val dangling = nodes.filterNot(deg.contains)
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val contrib = scala.collection.mutable.Map.empty[Long, Double]
        .withDefaultValue(0.0)
      edges.foreach { case (u, v) => contrib(v) += r(u) / deg(u) }
      val danglingOverN = dangling.map(r).sum / n
      r = nodes.map(v => v -> ((1 - d) / n + d * (contrib(v) + danglingOverN))).toMap
    }
    r
  }

  test("fixed point agrees with the decimal variant to ~|V|*iters/scale") {
    val g = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 1L -> 3L, 4L -> 1L) // 4 is a leaf source
    val dec = decimalRanks(g, iters = 10)
    val fp = fpRanks(g, iters = 10)
    assert(fp.keySet == dec.keySet)
    dec.foreach { case (node, d) =>
      assert(math.abs(fp(node) / 1e15 - d) < 1e-12, s"node $node")
    }
    // and on a graph with dangling nodes (5 and 6)
    val gd = g ++ Seq(3L -> 5L, 2L -> 6L)
    val decD = decimalRanks(gd, iters = 10)
    fpRanks(gd, iters = 10).foreach { case (node, v) =>
      assert(math.abs(v / 1e15 - decD(node)) < 1e-12, s"node $node")
    }
  }

  test("past the pre-partition dial: a 600k-node cycle stays exactly uniform") {
    // 600k edges >= Partitioned.RowsPerPartition: the edge side is
    // hash-partitioned on src. S/n is the exact fixed point here too:
    // (S*15//100)//n + (85*(S//n))//100 == S//n for n = 600k.
    val n = 600000L
    val s = 1000000000000000L
    val expected = (s * 15 / 100) / n + (85 * (s / n)) / 100
    val cycle = spark.range(n)
      .select($"id".as("src"), (($"id" + 1) % n).as("dst"), lit(1L).as("w"))
    val r = PageRank.run(cycle, iters = 4)
    assert(r.count() == n)
    assert(r.filter($"rank_fp" =!= expected).count() == 0)
  }

  test("fixed point: dangling mass is redistributed (total stays ~1)") {
    val withDangling = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 1L -> 4L) // 4 dangles
    val total = fpRanks(withDangling, iters = 12).values.sum / 1e15
    // floor division leaks <= 1 unit per node per round: |V|*iters/1e15
    assert(math.abs(total - 1.0) < 1e-10, s"mass $total")
  }

  test("fixed point is bit-identical across reruns and partition widths") {
    val g = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 1L -> 3L, 5L -> 2L, 6L -> 2L)
    val a = fpRanks(g, iters = 6)
    val wide = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    val b = try fpRanks(g, iters = 6)
    finally spark.conf.set("spark.sql.shuffle.partitions", wide)
    assert(a == b)
  }

  test("weighted fixed point replays the integer recurrence exactly") {
    val g = Seq((1L, 2L, 3L), (2L, 1L, 3L), (2L, 3L, 1L), (3L, 2L, 1L),
      (1L, 3L, 5L), (3L, 1L, 5L), (4L, 1L, 2L), (1L, 4L, 2L))
    assert(wRanks(g, iters = 6) == simulate(g, iters = 6))
    // weight matters: the heavy 1<->3 edge pulls 3 above 2
    val r = wRanks(g, iters = 6)
    assert(r(3L) > r(2L))
  }

  test("unit weights reproduce the unweighted fixed point exactly") {
    // with unit weights W_u is the out-degree: the replay is then the
    // unweighted recurrence r' = base + 85·Σ (r//deg) // 100 that the
    // graph_pagerank_parts oracle unrolls. The second graph has dangling
    // nodes (5 and 6) and a source nobody points at (4).
    for (g <- Seq(
      Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 1L -> 3L, 5L -> 2L, 6L -> 2L),
      Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 1L -> 3L, 4L -> 1L, 3L -> 5L, 2L -> 6L))) {
      val unw = simulate(g.map { case (a, b) => (a, b, 1L) }, iters = 10)
      assert(fpRanks(g, iters = 10) == unw, g.toString)
    }
  }

  test("weighted fixed point is partition-width invariant") {
    val g = Seq((1L, 2L, 7L), (2L, 3L, 2L), (3L, 1L, 4L), (1L, 3L, 1L))
    val a = wRanks(g, iters = 5)
    val wide = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    val b = try wRanks(g, iters = 5)
    finally spark.conf.set("spark.sql.shuffle.partitions", wide)
    assert(a == b)
  }
}
