package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.lake.Tables
import graft.ops.{Exact, TextOps}

/**
 * Corpus/warehouse mining operators: sketch-assisted heavy hitters, exact
 * repeated-span detection, bounded top-k aggregation, asymmetric containment,
 * and integer-exact anomaly flagging.
 *
 * Reference provenance: the reference's declared analytics surface
 * (`/root/reference/README.md:23-33` — "dashboards", "data quality") plus the
 * north-star LLM-corpus operations (SURVEY.md §2.9). Everything here follows
 * the catalog's exact-arithmetic discipline ([[graft.ops.Exact]]): decimal
 * power sums, integer comparisons, one IEEE operation at the very end.
 */
object Mining extends Family {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.documents(spark, dir))

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  // -------------------------------------------------------------------------
  // Exact repeated-span detection (the "exact substring dedup" of Lee et al.,
  // "Deduplicating Training Data Makes Language Models Better", 2021 — at
  // token-span granularity): which 8-token spans appear in MORE THAN ONE
  // document, and how much of each document is such duplicated material.
  //
  // Scale shape: per-doc distinct span hashes come from ONE narrow projection
  // (transform over a token-index sequence — no position explode before
  // hashing); the only data-sized shuffles are the span-hash groupBy and the
  // span→doc re-join, both keyed on the 32-hex span hash — bounded by total
  // corpus token count, never quadratic. The md5 keeps the grouping key
  // engine-portable (identical hex in Spark and DuckDB).
  private val spanDedup = Q(
    "dedup_span_8gram",
    Some("""
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, len(t) - 7),
               i -> md5(array_to_string(t[i:i+7], ' '))))) AS sh
             FROM tok WHERE len(t) >= 8),
      dup AS (SELECT sh, count(*) AS nd FROM sh GROUP BY sh),
      per AS (SELECT s.doc_id, count(*) AS n_spans,
                CAST(sum(CASE WHEN d.nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_dup_spans
              FROM sh s JOIN dup d USING (sh) GROUP BY s.doc_id)
      SELECT doc_id, n_spans, n_dup_spans,
        CAST(n_dup_spans AS DOUBLE) / n_spans AS dup_frac
      FROM per ORDER BY doc_id
    """)) { (spark, dir) =>
    // distinct 8-gram span hashes per doc in ONE codegen kernel pass
    // ([[graft.functions.span_hashes8]]) — the transform(sequence(...))
    // HOF formulation is interpreted per span (lambda interpreter + slice
    // allocation + md5 per element); docs under 8 tokens yield an empty
    // array and drop at the explode (the old size(t) >= 8 pre-filter)
    val spans = docs(spark, dir).select(col("doc_id"),
      explode(graft.functions.span_hashes8(col("text"))).as("sh"))
    val dup = spans.groupBy(col("sh"))
      .agg(count(lit(1)).as("nd")) // spans are per-doc distinct => nd = #docs
    spans.join(dup, Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum((col("nd") > 1).cast("long")).as("n_dup_spans"))
      .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
        (col("n_dup_spans").cast("double") / col("n_spans")).as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  // -------------------------------------------------------------------------
  // Sketch-assisted EXACT heavy hitters: Misra-Gries candidate pass (bounded
  // map-side state, shuffle carries ≤ cap rows per partition — the tail never
  // travels), then exact counts restricted to the broadcast candidate set,
  // then top-20. Because the 20th term's true frequency clears the MG bound
  // N/(cap+1) (asserted by MisraGriesSpec on this data; holds by orders of
  // magnitude on any Zipf corpus with cap=512), the answer is EXACTLY the
  // true top-20 — so the plain exact-count oracle matches. At 100 TB the
  // saving is the point: the exact pass counts only candidate terms, the
  // filter running map-side before the shuffle.
  private val heavyHitters = Q(
    "freq_heavy_hitters",
    Some("""
      WITH tok AS (
        SELECT unnest(string_split(trim(regexp_replace(regexp_replace(
          lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), ' ')) AS term
        FROM documents),
      c AS (SELECT term, count(*) AS n_occurrences FROM tok
            WHERE term <> '' GROUP BY term)
      SELECT term, n_occurrences FROM c
      ORDER BY n_occurrences DESC, term LIMIT 20
    """)) { (spark, dir) =>
    val mg = udaf(new graft.functions.MisraGries(512))
    val toks = docs(spark, dir)
      .select(explode(split(TextOps.normalize(col("text")), " ")).as("term"))
      .filter(col("term") =!= "")
    val cands = toks.agg(mg(col("term")).as("cands"))
      .select(explode(col("cands")).as("term"))
    toks.join(broadcast(cands), Seq("term"), "left_semi")
      .groupBy(col("term"))
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("term"))
      .limit(20)
  }

  // -------------------------------------------------------------------------
  // Bounded top-k aggregation: identical output to the window formulation
  // (`window_topk_parts_per_brand` — same oracle SQL), but via the
  // `graft.functions.TopKAgg` bounded-heap aggregate: per-partition partial
  // top-3 per brand, shuffle carries brands × 3 rows, nothing globally
  // sorted. The window twin shuffles and sorts EVERY (brand, part) row.
  private val topkAgg = Q(
    "topk_parts_per_brand_agg",
    Some("""
      SELECT p_brand, p_partkey, revenue, rn FROM (
        SELECT p_brand, p_partkey,
          CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
          ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY
            CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) DESC,
            p_partkey) AS rn
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand, p_partkey
      ) WHERE rn <= 3
      ORDER BY p_brand, rn
    """)) { (spark, dir) =>
    val top3 = udaf(new graft.functions.TopKAgg(3))
    // pre-aggregate revenue by l_partkey BELOW the join (p_partkey is
    // part's key, so per-partkey sums equal per-(brand, partkey) sums
    // exactly — decimal addition is order-free): the broadcast probe and
    // the shuffle then carry part-count rows, not every lineitem
    t(spark, dir, "lineitem")
      .groupBy(col("l_partkey"))
      .agg(Exact.sum4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"))
      .join(t(spark, dir, "part"), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(top3(col("revenue"), col("p_partkey")).as("top"))
      .select(col("p_brand"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("p_brand"), col("e.key").as("p_partkey"),
        col("e.score").as("revenue"), (col("pos") + 1).cast("int").as("rn"))
      .orderBy(col("p_brand"), col("rn"))
  }

  // -------------------------------------------------------------------------
  // Asymmetric containment on the LSH candidate pairs: C(a⊂b) = |Sa∩Sb|/|Sa|
  // over distinct trigram-hash sets — the quote/excerpt detector (a doc can
  // be fully contained in a larger one while Jaccard stays low). Same scale
  // shape as `dedup_ngram_jaccard`: pairwise math only on LSH candidates.
  private val containment = Q(
    "dedup_containment_pairs",
    Some(s"""
      WITH ${TextOps.duckPairsCtes},
      shd AS (SELECT doc_id, list_distinct(hs) AS ds FROM hs)
      SELECT p.doc_a, p.doc_b,
        len(list_intersect(a.ds, b.ds)) / len(a.ds) AS contain_a_in_b,
        len(list_intersect(a.ds, b.ds)) / len(b.ds) AS contain_b_in_a
      FROM pairs p
      JOIN shd a ON a.doc_id = p.doc_a
      JOIN shd b ON b.doc_id = p.doc_b
      ORDER BY doc_a, doc_b
    """)) { (spark, dir) =>
    val d = docs(spark, dir)
    val pairs = graft.ops.Warmed.getOrBuild("text_lsh_pairs", dir) {
      TextOps.candidatePairs(
        TextOps.lshBands(d, "doc_id", "text"), "doc_id")
    }
    val shd = d.select(col("doc_id"),
      array_distinct(graft.functions.trigram_hashes(col("text"))).as("ds"))
    val inter = size(array_intersect(col("dsa"), col("dsb")))
    pairs
      .join(shd.select(col("doc_id").as("doc_a"), col("ds").as("dsa")), Seq("doc_a"))
      .join(shd.select(col("doc_id").as("doc_b"), col("ds").as("dsb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (inter / size(col("dsa"))).as("contain_a_in_b"),
        (inter / size(col("dsb"))).as("contain_b_in_a"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // -------------------------------------------------------------------------
  // Daily-revenue anomaly flags: |x - mean| > 2σ, decided ENTIRELY in exact
  // integer/decimal arithmetic — (n-1)·(n·x - s)² > 4·n·(n·sq - s²) — so the
  // flag is bit-identical across engines and partitionings; the reported z
  // score is then ONE IEEE division + sqrt of exact operands (the
  // agg_dispersion_exact discipline). Scale shape: one day-grain hash agg,
  // a 1-row broadcast of the moments, map-side comparison.
  private val anomaly = Q(
    "anomaly_daily_revenue",
    Some("""
      WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))*100 AS BIGINT) AS rev_cents
        FROM orders GROUP BY 1),
      m AS (SELECT COUNT(*) AS n, SUM(rev_cents) AS s,
        SUM(CAST(rev_cents AS DECIMAL(19,0))*rev_cents) AS sq FROM d)
      SELECT day, rev_cents,
        -- + 0.0 canonicalizes IEEE -0.0 (DuckDB round keeps the sign of a
        -- tiny negative z; Spark's BigDecimal round does not)
        round(CASE WHEN n*rev_cents - s < 0 THEN -1 ELSE 1 END *
          sqrt(CAST((n-1)*(CAST(n*rev_cents - s AS DECIMAL(19,0))*(n*rev_cents - s)) AS DOUBLE)
             / CAST(n*(n*sq - CAST(s AS DECIMAL(19,0))*s) AS DOUBLE)), 4) + 0.0 AS z,
        CAST((n-1)*(CAST(n*rev_cents - s AS DECIMAL(19,0))*(n*rev_cents - s))
           > 4*n*(n*sq - CAST(s AS DECIMAL(19,0))*s) AS INTEGER) AS is_outlier
      FROM d, m ORDER BY day
    """)) { (spark, dir) =>
    val dec19 = DecimalType(19, 0)
    val daily = t(spark, dir, "orders")
      .groupBy(col("o_orderdate").cast("date").as("day"))
      .agg((sum(Exact.dec2(col("o_totalprice"))) * 100).cast("long")
        .as("rev_cents"))
    val m = daily.agg(
      count(lit(1)).as("n"),
      sum(col("rev_cents")).as("s"),
      sum(col("rev_cents").cast(dec19) * col("rev_cents").cast(dec19))
        .as("sq"))
    val dlt = col("n") * col("rev_cents") - col("s") // fits int64
    val lhs = (col("n") - 1) * (dlt.cast(dec19) * dlt.cast(dec19))
    val zden = col("n") *
      (col("n") * col("sq") - col("s").cast(dec19) * col("s").cast(dec19))
    val rhs = lit(4) * zden
    daily.crossJoin(broadcast(m))
      .select(col("day"), col("rev_cents"),
        (round(when(dlt < 0, -1d).otherwise(1d) *
          sqrt(lhs.cast("double") / zden.cast("double")), 4) + 0.0).as("z"),
        (lhs > rhs).cast("int").as("is_outlier"))
      .orderBy(col("day"))
  }

  // ---------------------------------------------------------------------
  // PageRank over the noise-cut co-purchase graph: parts are nodes, an
  // undirected edge connects parts bought together in >= 2 distinct orders
  // (the support floor removes the single-co-occurrence noise that
  // dominates pair volume — 1.2M raw pairs -> 3.6k signal edges at sf0.1).
  // Runs [[graft.ops.PageRank.run]], the one fixed-point loop, with unit
  // edge weights (W_u is then the out-degree, so `(r div W_u) * 1` is the
  // oracle's `r // deg`): every quantity a BIGINT in 1e-15 units, damping
  // the constant 85/100, every division integral — bit-identical across
  // engines, so a fixed 5-iteration power loop IS DuckDB-expressible as 5
  // unrolled CTEs (r0..r5) with `//` floor division, and the entry carries
  // a full rows+schema+hash oracle. The graph is symmetric by
  // construction, so neither side needs dangling-mass handling; the loop's
  // closed forms, mass conservation and dangling redistribution are
  // spec-covered in PageRankSpec.
  // Scale ledger: O(iters x |E|) network, lineage cut every 3 rounds,
  // driver scalars limited to |V|.
  private val pagerank = Q(
    "graph_pagerank_parts",
    Some {
      val S = "1000000000000000"
      // one unrolled power iteration: rank' = base + d*contrib, all integral
      def iter(prev: String, cur: String): String =
        s"""$cur AS (
          SELECT n.node,
                 CAST(($S * 15 // 100) // (SELECT n FROM c)
                      + (85 * coalesce(s.s, 0)) // 100 AS BIGINT) AS r
          FROM nodes n LEFT JOIN (
            SELECT e.dst AS node, sum(r.r // d.deg) AS s
            FROM e JOIN $prev r ON e.src = r.node JOIN deg d ON e.src = d.src
            GROUP BY e.dst) s ON n.node = s.node)"""
      s"""
      WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      sup AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb
        FROM lp a JOIN lp b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2),
      e AS (SELECT pa AS src, pb AS dst FROM sup
            UNION ALL SELECT pb, pa FROM sup),
      deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
      nodes AS (SELECT DISTINCT src AS node FROM e),
      c AS (SELECT count(*) AS n FROM nodes),
      r0 AS (SELECT node, CAST($S // (SELECT n FROM c) AS BIGINT) AS r FROM nodes),
      ${iter("r0", "r1")},
      ${iter("r1", "r2")},
      ${iter("r2", "r3")},
      ${iter("r3", "r4")},
      ${iter("r4", "r5")}
      SELECT node AS part, r AS rank_fp, r / $S.0 AS rank
      FROM r5 ORDER BY rank_fp DESC, part LIMIT 20"""
    }
  ) { (spark, dir) =>
    val sup = CoPurchase.support(spark, dir)
      .filter(col("n_orders") >= 2)
    val edges = sup.select(col("part_a").as("src"), col("part_b").as("dst"))
      .union(sup.select(col("part_b").as("src"), col("part_a").as("dst")))
      .withColumn("w", lit(1L))
    graft.ops.PageRank.run(edges, iters = 5)
      .orderBy(col("rank_fp").desc, col("node"))
      .limit(20)
      .select(col("node").as("part"), col("rank_fp"), col("rank"))
  }

  // ---------------------------------------------------------------------
  // Association rules over the same support->=2 co-purchase pairs: each
  // surviving pair yields its two directed rules A=>B and B=>A with
  // confidence = P(B|A) and lift = P(A,B)/(P(A)P(B)) — the Apriori
  // post-processing step (Agrawal & Srikant 1994) a recommender actually
  // consumes, layered on the shared [[CoPurchase]] spine so the expensive
  // pair stage is paid once across the basket/PageRank/triangle family.
  //
  // Exactness: confidence and lift are each ONE IEEE division whose
  // operands are int64-exact (lift's numerator n_both*N and denominator
  // n_ante*n_cons are products of counts, far inside int64) — bit-identical
  // doubles across engines, the tfidf_top_terms discipline. Scale shape:
  // per-part order counts are vocabulary-sized (broadcast side); the grand
  // order count joins as a broadcast 1-row frame; the only data-sized
  // stages are the spine's own.
  private val rulesLift = Q(
    "copurchase_rules_lift",
    Some("""
      WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders_total FROM op),
      pc AS (SELECT l_partkey, COUNT(*) AS n_part FROM op GROUP BY 1),
      sup AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
          COUNT(*) AS n_both
        FROM op a JOIN op b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      dirs AS (
        SELECT part_a AS antecedent, part_b AS consequent, n_both FROM sup
        UNION ALL
        SELECT part_b, part_a, n_both FROM sup)
      SELECT d.antecedent, d.consequent, d.n_both,
        pa.n_part AS n_ante, pb.n_part AS n_cons,
        CAST(d.n_both AS DOUBLE) / pa.n_part AS confidence,
        CAST(d.n_both * n.n_orders_total AS DOUBLE)
          / (pa.n_part * pb.n_part) AS lift
      FROM dirs d
      JOIN pc pa ON pa.l_partkey = d.antecedent
      JOIN pc pb ON pb.l_partkey = d.consequent
      CROSS JOIN n
      ORDER BY antecedent, consequent
    """)) { (spark, dir) =>
    val op = CoPurchase.orderParts(spark, dir)
    val n = op.agg(countDistinct(col("l_orderkey")).as("n_orders_total"))
    val pc = op.groupBy(col("l_partkey")).agg(count(lit(1)).as("n_part"))
    val sup = CoPurchase.support(spark, dir)
      .filter(col("n_orders") >= 2)
      .withColumnRenamed("n_orders", "n_both")
    val dirs = sup.select(col("part_a").as("antecedent"),
        col("part_b").as("consequent"), col("n_both"))
      .union(sup.select(col("part_b"), col("part_a"), col("n_both")))
    dirs
      .join(broadcast(pc.select(col("l_partkey").as("antecedent"),
        col("n_part").as("n_ante"))), Seq("antecedent"))
      .join(broadcast(pc.select(col("l_partkey").as("consequent"),
        col("n_part").as("n_cons"))), Seq("consequent"))
      .crossJoin(broadcast(n))
      .select(col("antecedent"), col("consequent"), col("n_both"),
        col("n_ante"), col("n_cons"),
        (col("n_both").cast("double") / col("n_ante")).as("confidence"),
        ((col("n_both") * col("n_orders_total")).cast("double")
          / (col("n_ante") * col("n_cons"))).as("lift"))
      .orderBy(col("antecedent"), col("consequent"))
  }

  // ---------------------------------------------------------------------
  // Triangle counting over the same support-≥2 co-purchase graph PageRank
  // ranks: per-part triangle membership — the local clustering signal that
  // separates "hub bought with everything" from "clique of products bought
  // together" (community structure, the classic graph-mining counterpart of
  // pair support).
  //
  // Scale shape: edges are ORIENTED by (degree, id) before the wedge join —
  // every triangle {x,y,z} is enumerated exactly once from its lowest-degree
  // corner, so per-node wedge fanout is bounded by min-degree-end out-degree
  // (the O(|E|^1.5) bound of Schank & Wagner 2005), not by hub degree: a
  // hot celebrity part generates NO wedges from its own (huge) adjacency.
  // Two joins total: wedge (keyed on the middle node) + closure (keyed on
  // the (a,c) pair); counts are orientation-independent, so the oracle uses
  // the simpler id-orientation and must agree exactly.
  private val triangles = Q(
    "graph_triangle_counts",
    Some("""
      WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      pairs AS (SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM lp a JOIN lp b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      e AS (SELECT u, v FROM (
        SELECT u, v, COUNT(*) AS n FROM pairs GROUP BY u, v) WHERE n >= 2),
      tri AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM e e1 JOIN e e2 ON e1.v = e2.u
        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
      pern AS (SELECT node, COUNT(*) AS n_triangles FROM (
          SELECT a AS node FROM tri
          UNION ALL SELECT b FROM tri
          UNION ALL SELECT c FROM tri)
        GROUP BY node)
      SELECT node AS part, CAST(n_triangles AS BIGINT) AS n_triangles
      FROM pern ORDER BY n_triangles DESC, part LIMIT 20
    """)) { (spark, dir) =>
    val sup = CoPurchase.support(spark, dir)
      .filter(col("n_orders") >= 2)
      .select(col("part_a").as("u"), col("part_b").as("v"))
    val deg = sup.select(col("u").as("node"))
      .unionAll(sup.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // orient each edge from its (deg, id)-smaller endpoint
    val ew = sup
      .join(deg.select(col("node").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), Seq("v"))
    val fwd = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    // The oriented edge list feeds THREE join legs (both wedge sides + the
    // closure probe); without a lineage cut each leg re-runs the whole
    // degree + orientation derivation — a 5-SortMergeJoin chain in the
    // plan. One |E|-linear materialization replaces the 3x recompute.
    val e = ew.select(
      when(fwd, col("u")).otherwise(col("v")).as("src"),
      when(fwd, col("v")).otherwise(col("u")).as("dst"))
      .localCheckpoint()
    val wedges = e.select(col("src").as("a"), col("dst").as("b"))
      .join(e.select(col("src").as("b"), col("dst").as("c")), Seq("b"))
    val tri = wedges
      .join(e.select(col("src").as("a"), col("dst").as("c")), Seq("a", "c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("part"))
      .groupBy(col("part")).agg(count(lit(1)).as("n_triangles"))
      .orderBy(col("n_triangles").desc, col("part"))
      .limit(20)
  }

  // ---------------------------------------------------------------------
  // Neighbor-set Jaccard similarity over the support-≥2 co-purchase graph:
  // "customers who buy u also buy v" — two parts are similar when their
  // co-purchase NEIGHBORHOODS overlap, even if u and v are never in one
  // basket themselves (the complementary-product signal basket support
  // can't see). J(u,v) = |N(u)∩N(v)| / (|N(u)|+|N(v)|−|N(u)∩N(v)|), exact:
  // intersection counts from one middle-node wedge join, degrees from one
  // aggregate, ONE IEEE division per surviving pair.
  //
  // Scale shape: wedge fanout is Σ deg(m)², inherent to EXACT all-pairs
  // set overlap — the support floor keeps the graph signal-sized here, and
  // at web scale the same query runs on MinHash sketches of the adjacency
  // sets (graft.functions.MinHashBands — the operator this catalog already
  // owns) with this exact form as the confirm pass on candidates.
  private val jaccardParts = Q(
    "graph_jaccard_parts",
    Some("""
      WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      pairs AS (SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM lp a JOIN lp b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      e AS (SELECT u, v FROM (
        SELECT u, v, COUNT(*) AS n FROM pairs GROUP BY u, v) WHERE n >= 2),
      adj AS (SELECT u AS m, v AS nbr FROM e
              UNION ALL SELECT v AS m, u AS nbr FROM e),
      deg AS (SELECT m AS node, COUNT(*) AS deg FROM adj GROUP BY m),
      com AS (SELECT a.nbr AS u, b.nbr AS v, COUNT(*) AS n_common
        FROM adj a JOIN adj b ON a.m = b.m AND a.nbr < b.nbr
        GROUP BY a.nbr, b.nbr)
      SELECT c.u AS part_u, c.v AS part_v, c.n_common,
        CAST(du.deg AS BIGINT) AS deg_u, CAST(dv.deg AS BIGINT) AS deg_v,
        CAST(c.n_common AS DOUBLE) / (du.deg + dv.deg - c.n_common)
          AS jaccard
      FROM com c
      JOIN deg du ON du.node = c.u
      JOIN deg dv ON dv.node = c.v
      ORDER BY jaccard DESC, part_u, part_v LIMIT 50
    """)) { (spark, dir) =>
    val e = CoPurchase.support(spark, dir)
      .filter(col("n_orders") >= 2)
      .select(col("part_a").as("u"), col("part_b").as("v"))
    val adj = e.select(col("u").as("m"), col("v").as("nbr"))
      .unionAll(e.select(col("v").as("m"), col("u").as("nbr")))
    val deg = adj.select(col("m").as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val com = adj.select(col("m"), col("nbr").as("u"))
      .join(adj.select(col("m"), col("nbr").as("v")), Seq("m"))
      .filter(col("u") < col("v"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("n_common"))
    com
      .join(deg.select(col("node").as("u"), col("deg").as("deg_u")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("deg_v")), Seq("v"))
      .select(col("u").as("part_u"), col("v").as("part_v"), col("n_common"),
        col("deg_u"), col("deg_v"),
        (col("n_common").cast("double")
          / (col("deg_u") + col("deg_v") - col("n_common"))).as("jaccard"))
      .orderBy(col("jaccard").desc, col("part_u"), col("part_v"))
      .limit(50)
  }

  // ---------------------------------------------------------------------
  // Bounded k-core peeling (graft.ops.KCore) over the support-≥2
  // co-purchase graph: 3 rounds at k=3 — the graph-cleaning pass that
  // strips tendrils and leaves the dense co-purchase core (community /
  // recommendation substrate). Each round is one degree aggregate + two
  // node-keyed semi-joins; the oracle unrolls the identical rounds. On
  // this graph the rounds genuinely bite (sf0.01: 1245 -> 1078 -> 1019
  // surviving nodes), so a truncated peel is visibly not a single filter.
  private val kcore = Q(
    "graph_kcore_parts",
    Some("""
      WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      pairs AS (SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM lp a JOIN lp b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      e0 AS (SELECT u, v FROM (
        SELECT u, v, COUNT(*) AS n FROM pairs GROUP BY u, v) WHERE n >= 2),
      k1 AS (SELECT m FROM (SELECT u AS m FROM e0 UNION ALL SELECT v FROM e0)
             GROUP BY m HAVING COUNT(*) >= 3),
      e1 AS (SELECT e0.u, e0.v FROM e0
             JOIN k1 a ON e0.u = a.m JOIN k1 b ON e0.v = b.m),
      k2 AS (SELECT m FROM (SELECT u AS m FROM e1 UNION ALL SELECT v FROM e1)
             GROUP BY m HAVING COUNT(*) >= 3),
      e2 AS (SELECT e1.u, e1.v FROM e1
             JOIN k2 a ON e1.u = a.m JOIN k2 b ON e1.v = b.m),
      k3 AS (SELECT m FROM (SELECT u AS m FROM e2 UNION ALL SELECT v FROM e2)
             GROUP BY m HAVING COUNT(*) >= 3),
      e3 AS (SELECT e2.u, e2.v FROM e2
             JOIN k3 a ON e2.u = a.m JOIN k3 b ON e2.v = b.m)
      SELECT m AS part, CAST(COUNT(*) AS BIGINT) AS degree
      FROM (SELECT u AS m FROM e3 UNION ALL SELECT v FROM e3)
      GROUP BY m ORDER BY part
    """)) { (spark, dir) =>
    val edges = CoPurchase.support(spark, dir)
      .filter(col("n_orders") >= 2)
      .select(col("part_a").as("u"), col("part_b").as("v"))
    graft.ops.KCore.coreDegrees(edges, k = 3, rounds = 3)
      .select(col("node").as("part"), col("degree"))
      .orderBy(col("part"))
  }

  // ---------------------------------------------------------------------
  // Deterministic label-propagation communities (graft.ops.Lpa) over the
  // support-≥2 co-purchase graph: 4 synchronous rounds of "adopt the most
  // frequent neighbor label, ties to the smallest" — the complement of
  // k-core (which finds the dense substrate) and connected components
  // (which can't split a connected graph): LPA partitions it into locally
  // dense merchandising communities. The rounds genuinely bite on this
  // graph (sf0.01: 1880 self-labels -> 962 -> 593 -> 440 -> 349
  // communities), so a truncated propagation is visibly not a relabeling.
  // The oracle unrolls the identical rounds; per-round argmax is
  // row_number() OVER (ORDER BY n DESC, label) = Lpa's
  // max(struct(n, -label)) for the non-negative part keys.
  /** Shared WITH-body: support-≥2 edges → `rounds` unrolled LPA rounds →
    * final labels `l<rounds>` + community sizes `sz`. */
  private def lpaRoundsSql(rounds: Int): String = {
    val rs = (1 to rounds).map { k =>
      s"""
      c$k AS (SELECT a.m AS m, l.label AS label, COUNT(*) AS n
        FROM adj a JOIN l${k - 1} l ON a.nbr = l.node GROUP BY a.m, l.label),
      l$k AS (SELECT m AS node, label FROM (
        SELECT m, label,
          row_number() OVER (PARTITION BY m ORDER BY n DESC, label) AS rn
        FROM c$k) WHERE rn = 1)"""
    }.mkString(",")
    s"""lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      pairs AS (SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM lp a JOIN lp b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      e AS (SELECT u, v FROM (
        SELECT u, v, COUNT(*) AS n FROM pairs GROUP BY u, v) WHERE n >= 2),
      adj AS (SELECT u AS m, v AS nbr FROM e UNION ALL SELECT v, u FROM e),
      l0 AS (SELECT DISTINCT m AS node, CAST(m AS BIGINT) AS label FROM adj),
      $rs,
      sz AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_members
             FROM l$rounds GROUP BY label)"""
  }

  private def lpaSql(rounds: Int): String =
    s"""
      WITH ${lpaRoundsSql(rounds)}
      SELECT l.node AS part, l.label AS community, sz.n_members
      FROM l$rounds l JOIN sz USING (label) ORDER BY part"""

  private val lpa = Q("graph_lpa_communities", Some(lpaSql(4))) { (spark, dir) =>
    val e = CoPurchase.support(spark, dir)
      .filter(col("n_orders") >= 2)
      .select(col("part_a").as("u"), col("part_b").as("v"))
    val labels = graft.ops.Lpa.propagate(e, rounds = 4)
    val sz = labels.groupBy(col("label")).agg(count(lit(1)).as("n_members"))
    labels.join(sz, Seq("label"))
      .select(col("node").as("part"), col("label").as("community"),
        col("n_members"))
      .orderBy(col("part"))
  }

  // ---------------------------------------------------------------------
  // Community profiling (the cluster-inspection step of cluster-based data
  // curation): for the 5 largest LPA communities, the 3 most DISTINCTIVE
  // part-name terms — ranked by exact integer keys (community frequency
  // desc, global frequency asc, term), the IEEE-free stand-in for c-TF-IDF
  // that preserves its "frequent here, rare overall" intent. Labels come
  // from the same 4 LPA rounds as graph_lpa_communities.
  //
  // Scale shape: the term frames are (graph-nodes x name-words)-sized —
  // metadata next to the corpus; the top-5 filter is a semi-join against a
  // 5-row broadcast, and the ranking window partitions by those 5 labels
  // over community-term counts only.
  private val lpaTerms = Q(
    "graph_lpa_top_terms",
    Some(s"""
      WITH ${lpaRoundsSql(4)},
      top5 AS (SELECT label FROM sz ORDER BY n_members DESC, label LIMIT 5),
      nt AS (SELECT l.label, unnest(string_split(p.p_name, ' ')) AS term
             FROM l4 l JOIN part p ON p.p_partkey = l.node),
      gt AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS global_tf
             FROM nt GROUP BY term),
      tf AS (SELECT label, term, CAST(COUNT(*) AS BIGINT) AS tf_c
             FROM nt WHERE label IN (SELECT label FROM top5)
             GROUP BY label, term),
      r AS (SELECT tf.label, tf.term, tf.tf_c, gt.global_tf,
              row_number() OVER (PARTITION BY tf.label
                ORDER BY tf.tf_c DESC, gt.global_tf ASC, tf.term) AS rank
            FROM tf JOIN gt USING (term))
      SELECT r.label AS community, sz.n_members, r.rank, r.term, r.tf_c,
        r.global_tf
      FROM r JOIN sz USING (label) WHERE r.rank <= 3
      ORDER BY community, rank"""
    )) { (spark, dir) =>
    val e = CoPurchase.support(spark, dir)
      .filter(col("n_orders") >= 2)
      .select(col("part_a").as("u"), col("part_b").as("v"))
    val labels = graft.ops.Lpa.propagate(e, rounds = 4)
    // consumed 3x (sizes, top-5, term frame) — propagate's result is
    // already checkpointed
    val sz = labels.groupBy(col("label")).agg(count(lit(1)).as("n_members"))
      .localCheckpoint() // consumed 2x: top-5 cut + final join
    val top5 = sz.orderBy(col("n_members").desc, col("label")).limit(5)
      .select(col("label"))
    val pt = t(spark, dir, "part")
      .select(col("p_partkey").as("node"), col("p_name"))
    val nt = labels.join(pt, Seq("node"))
      .select(col("label"), explode(split(col("p_name"), " ")).as("term"))
      .localCheckpoint() // consumed 2x: global + community counts
    val gt = nt.groupBy(col("term")).agg(count(lit(1)).as("global_tf"))
    val tf = nt.join(broadcast(top5), Seq("label"), "left_semi")
      .groupBy(col("label"), col("term")).agg(count(lit(1)).as("tf_c"))
    val w = Window.partitionBy(col("label"))
      .orderBy(col("tf_c").desc, col("global_tf").asc, col("term"))
    tf.join(gt, Seq("term"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .join(sz, Seq("label"))
      .select(col("label").as("community"), col("n_members"), col("rank"),
        col("term"), col("tf_c"), col("global_tf"))
      .orderBy(col("community"), col("rank"))
  }

  override val specs: Seq[Q] =
    Seq(spanDedup, heavyHitters, topkAgg, containment, anomaly, pagerank,
      rulesLift, triangles, jaccardParts, kcore, lpa, lpaTerms)
}
