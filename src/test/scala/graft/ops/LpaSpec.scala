package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class LpaSpec extends SparkSpec {
  import spark.implicits._

  private def edges(pairs: (Long, Long)*) = pairs.toDF("u", "v")

  test("two cliques joined by one bridge resolve to two communities") {
    // cliques {1,2,3,4} and {10,11,12,13}, bridge 4-10
    val clique = for {
      base <- Seq(1L, 10L)
      i <- 0 to 3; j <- (i + 1) to 3
    } yield (base + i, base + j)
    val e = edges(clique :+ (4L, 10L): _*)
    val out = Lpa.propagate(e, rounds = 4)
      .orderBy($"node").as[(Long, Long)].collect()
    val byLabel = out.groupBy(_._2).view.mapValues(_.map(_._1).sorted.toSeq).toMap
    assert(byLabel.size == 2, s"expected 2 communities, got $byLabel")
    val comms = byLabel.values.toSet
    assert(comms.exists(_.forall(_ <= 4)) && comms.exists(_.forall(_ >= 10)),
      s"bridge merged the cliques: $byLabel")
  }

  test("ties break to the smallest label (deterministic argmax)") {
    // path 1-2-3: node 2 sees labels {1, 3} once each -> must pick 1
    val out = Lpa.propagate(edges((1L, 2L), (2L, 3L)), rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(out(2L) == 1L)
  }

  test("partition-width invariance (synchronous update is repartition-proof)") {
    val e = edges((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L),
      (5L, 6L), (6L, 7L), (7L, 5L), (4L, 5L))
    val a = Lpa.propagate(e.repartition(1), rounds = 3)
      .orderBy($"node").as[(Long, Long)].collect().toSeq
    val b = Lpa.propagate(e.repartition(7), rounds = 3)
      .orderBy($"node").as[(Long, Long)].collect().toSeq
    assert(a == b)
  }

  test("isolated self-consistency: a clique keeps its minimum id as label") {
    val e = edges((20L, 21L), (20L, 22L), (21L, 22L))
    val out = Lpa.propagate(e, rounds = 3).as[(Long, Long)].collect().toMap
    // round 1: each node takes min neighbor label; clique converges to 20
    assert(out.values.toSet == Set(20L), out.toString)
  }

  test("packed-decimal argmax matches the straight-line reference on random graphs") {
    // One propagate round = per node the (largest count, then smallest
    // label) among neighbor labels; labels stress the long range up to
    // Long.MaxValue to pin the 10^19 packing headroom.
    val rnd = new scala.util.Random(421)
    for (trial <- 1 to 5) {
      val ids = (rnd.shuffle((1L to 40L).toVector).take(12) :+
        (Long.MaxValue - trial)).distinct
      val es = for {
        u <- ids; v <- ids
        if u < v && rnd.nextInt(3) == 0
      } yield (u, v)
      if (es.nonEmpty) {
        val out = Lpa.propagate(es.toDF("u", "v"), rounds = 1)
          .as[(Long, Long)].collect().toMap
        val nbrs = (es ++ es.map(_.swap)).groupBy(_._1).view
          .mapValues(_.map(_._2)).toMap
        val expect = nbrs.map { case (n, vs) =>
          val counts = vs.groupBy(identity).view.mapValues(_.size).toMap
          // initial label of a neighbor is its own id
          n -> counts.toSeq.map { case (l, c) => (c, l) }
            .sortBy { case (c, l) => (-c, l) }.head._2
        }
        assert(out == expect, s"trial $trial: $out vs $expect")
      }
    }
  }

  test("past the pre-partition dial: one round on a 250k-edge ring") {
    // 250k edges -> 500k adjacency rows, the first size the adjacency is
    // hash-partitioned at. Node i sees labels i-1 and i+1 once each; the
    // tie breaks to the smaller.
    val n = 250000L
    val ring = spark.range(n).select($"id".as("u"), (($"id" + 1) % n).as("v"))
    val out = Lpa.propagate(ring, rounds = 1)
    val expect = least(($"node" + n - 1) % n, ($"node" + 1) % n)
    assert(out.count() == n)
    assert(out.filter($"label" =!= expect).count() == 0)
  }
}
