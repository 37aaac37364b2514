package graft

import java.nio.file.Files

import graft.lake.{Forget, Versioned}

/**
 * Automatic materialized-view rewrite ([[SqlDml.rewriteViaMv]], wired
 * into [[Sql.sql]]): a grouped SELECT a CURRENT registered MV can answer
 * scans the dimension-sized MV parquet instead of the base table, on its
 * own or through a fact⋈dim join chain — verified through `inputFiles`
 * (the rewritten plan's scan paths) and value equality with the base
 * recompute. A STALE MV falls back to the base; coarser groupings,
 * ROLLUP/CUBE and whitelisted bucket-expression keys re-aggregate the MV;
 * WHERE on MV group columns and HAVING over the view's algebra rewrite
 * too. Unmappable shapes (WHERE on other columns or OR, unmaterialized or
 * inexact aggregates, other expression keys, dim-side aggregates, outer
 * joins) fall through untouched.
 */
class MvRewriteSpec extends SparkSpec {

  import spark.implicits._

  private lazy val root = Files.createTempDirectory("graft-mvrw").toString

  private def underPath(files: Array[String], path: String): Boolean =
    files.nonEmpty && files.forall(_.contains(
      new java.io.File(path).getName))

  test("exact-match grouped SELECT scans the MV, not the base") {
    val t = s"$root/src1"
    Forget.publishIndexed(
      (0 until 30).map(k => (k.toLong, s"c${k % 3}", k.toLong, k * 2L))
        .toDF("k", "color", "amt", "qty"),
      t, 2, "k", stats = true)
    SqlDml.register(spark, "rw_src", t, "k")
    Sql.execute(spark,
      s"""CREATE MATERIALIZED VIEW rw_mv LOCATION '$root/mv1' AS
         |SELECT color, count(*), sum(amt), min(qty), max(qty)
         |FROM rw_src GROUP BY color""".stripMargin)
    val q = "SELECT color, count(*) AS n, sum(amt) AS s, " +
      "min(qty) AS lo, max(qty) AS hi FROM rw_src GROUP BY color " +
      "ORDER BY color"
    val rewritten = Sql.sql(spark, q)
    assert(underPath(rewritten.inputFiles, s"$root/mv1"),
      s"rewrite did not scan the MV: ${rewritten.inputFiles.toSeq}")
    // values AND types equal the base recompute (sums cast back from
    // the MV's exact-decimal to the base's sum type)
    val base = spark.sql(q)
    // name + type parity (nullability may differ: count(*) on the base
    // is non-nullable, the MV rollup's sum is nullable — values agree)
    assert(rewritten.schema.map(f => (f.name, f.dataType))
      == base.schema.map(f => (f.name, f.dataType)),
      s"rewritten schema drifted: ${rewritten.schema} vs ${base.schema}")
    assert(rewritten.collect().toSeq == base.collect().toSeq)
    // alias-free items keep Spark's auto names (count(*) -> count(1))
    assert(Sql.sql(spark,
      "SELECT color, count(*), sum(amt) FROM rw_src GROUP BY color")
      .columns.toSeq == Seq("color", "count(1)", "sum(amt)"))
  }

  test("a coarser grouping re-aggregates the MV; a stale MV falls back") {
    val t = s"$root/src2"
    Forget.publishIndexed(
      (0 until 40).map(k =>
          (k.toLong, s"c${k % 2}", s"s${k % 4}", k.toLong))
        .toDF("k", "color", "size", "amt"),
      t, 2, "k", stats = true)
    SqlDml.register(spark, "rw2_src", t, "k")
    Sql.execute(spark,
      s"""CREATE MATERIALIZED VIEW rw2_mv LOCATION '$root/mv2' AS
         |SELECT color, size, count(*), sum(amt)
         |FROM rw2_src GROUP BY color, size""".stripMargin)
    // GROUP BY a SUBSET of the MV's keys → rollup from the MV frame
    val q = "SELECT color, count(*) AS n, sum(amt) AS s " +
      "FROM rw2_src GROUP BY color ORDER BY color"
    val rolled = Sql.sql(spark, q)
    assert(underPath(rolled.inputFiles, s"$root/mv2"))
    val rows = rolled.collect()
    assert(rows.map(_.getLong(1)).toSeq == Seq(20L, 20L))
    assert(rows.map(_.getLong(2)).toSeq
      == Seq((0 until 40 by 2).map(_.toLong).sum,
             (1 until 40 by 2).map(_.toLong).sum))
    // stale: the source moves, the view is NOT refreshed — fall back to
    // the base (correct values beat cheap scans)
    Sql.execute(spark, "UPDATE rw2_src SET amt = 1000 WHERE k = 0")
    val fresh = Sql.sql(spark, q)
    assert(!underPath(fresh.inputFiles, s"$root/mv2"),
      "stale MV must not answer the query")
    assert(fresh.collect().head.getAs[Long]("s")
      == 1000L + (2 until 40 by 2).map(_.toLong).sum)
    assert(fresh.schema("s").dataType.typeName == "long")
    // a REFRESH re-arms the rewrite
    Sql.execute(spark, "REFRESH MATERIALIZED VIEW rw2_mv")
    assert(underPath(Sql.sql(spark, q).inputFiles, s"$root/mv2"))
    // the gate is the session's BOUND version, not the table's live
    // version: advance the source + MV via the direct API (no re-bind)
    // — the pinned view still shows the old snapshot, so a live-synced
    // MV must NOT answer (it would disagree with every other query on
    // this name); a re-bind re-arms it
    lake.Upsert.merge(spark, t, "k",
      Seq((0L, "c0", "s0", 7777L)).toDF("k", "color", "size", "amt"))
    lake.MatView.catchUp(spark, s"$root/mv2")
    assert(!underPath(Sql.sql(spark, q).inputFiles, s"$root/mv2"),
      "an MV synced AHEAD of the un-rebound view must not answer")
    Sql.registerTable(spark, "rw2_src", t)
    assert(underPath(Sql.sql(spark, q).inputFiles, s"$root/mv2"))
    // registerSnapshot re-pins the name and MOVES the bound-version
    // note with it — the rewrite stays armed through the pin
    assert(Sql.registerSnapshot(spark, Seq("rw2_src")).nonEmpty)
    assert(underPath(Sql.sql(spark, q).inputFiles, s"$root/mv2"),
      "the snapshot pin lost the bound-version note")
  }

  test("unmappable shapes fall through untouched") {
    val t = s"$root/src3"
    Forget.publishIndexed(
      (0 until 12).map(k => (k.toLong, s"c${k % 2}", k.toLong))
        .toDF("k", "color", "amt"),
      t, 1, "k", stats = true)
    SqlDml.register(spark, "rw3_src", t, "k")
    Sql.execute(spark,
      s"""CREATE MATERIALIZED VIEW rw3_mv LOCATION '$root/mv3' AS
         |SELECT color, count(*), sum(amt) FROM rw3_src
         |GROUP BY color""".stripMargin)
    val mustFallThrough = Seq(
      // WHERE on a NON-group column: the MV has no filtered slice
      "SELECT color, sum(amt) AS s FROM rw3_src WHERE k > 3 GROUP BY color",
      // OR is not a conjunction of group-column predicates
      "SELECT color, sum(amt) AS s FROM rw3_src " +
        "WHERE color = 'c0' OR color = 'c1' GROUP BY color",
      // an EXPRESSION over a group column is not a materialized column
      "SELECT color, sum(amt) AS s FROM rw3_src " +
        "WHERE upper(color) = 'C0' GROUP BY color",
      // avg of a NON-materialized column
      "SELECT color, avg(k) AS a FROM rw3_src GROUP BY color",
      // sum of a non-materialized column
      "SELECT color, sum(k) AS s FROM rw3_src GROUP BY color",
      // a NON-whitelisted expression group key (only year/month/day/
      // date_trunc buckets are normalizable)
      "SELECT upper(color) AS c, count(*) AS n FROM rw3_src " +
        "GROUP BY upper(color)",
      // HAVING over an aggregate the MV does not materialize
      "SELECT color, count(*) AS n FROM rw3_src GROUP BY color " +
        "HAVING sum(k) > 0",
      // HAVING with a non-conjunct shape (OR)
      "SELECT color, count(*) AS n FROM rw3_src GROUP BY color " +
        "HAVING count(*) > 0 OR sum(amt) > 0")
    mustFallThrough.foreach { q =>
      val df = Sql.sql(spark, q)
      assert(!underPath(df.inputFiles, s"$root/mv3"),
        s"'$q' wrongly rewrote to the MV")
      assert(df.collect().nonEmpty)
    }
    // the happy path still fires for this MV
    assert(underPath(Sql.sql(spark,
      "SELECT color, count(*) FROM rw3_src GROUP BY color")
      .inputFiles, s"$root/mv3"))
  }

  test("WHERE on MV group columns and AVG answer from the MV — values " +
      "and types equal the base recompute") {
    val t = s"$root/src4"
    // amt = k^2 + 7 over odd counts: the averages are NON-TERMINATING
    // decimals (e.g. 4600/15), so a derived AVG that rounds through the
    // accumulator's 6-dp decimal instead of double division cannot pass
    Forget.publishIndexed(
      (0 until 30).map(k =>
          (k.toLong, s"c${k % 2}", s"s${k % 4}", k * k + 7L))
        .toDF("k", "color", "size", "amt"),
      t, 2, "k", stats = true)
    SqlDml.register(spark, "rw4_src", t, "k")
    Sql.execute(spark,
      s"""CREATE MATERIALIZED VIEW rw4_mv LOCATION '$root/mv4' AS
         |SELECT color, size, count(*), sum(amt)
         |FROM rw4_src GROUP BY color, size""".stripMargin)
    def parity(q: String): Unit = {
      val rw = Sql.sql(spark, q)
      assert(underPath(rw.inputFiles, s"$root/mv4"),
        s"'$q' did not rewrite to the MV: ${rw.inputFiles.toSeq}")
      val base = spark.sql(q)
      assert(rw.schema.map(f => (f.name, f.dataType))
        == base.schema.map(f => (f.name, f.dataType)),
        s"schema drifted for '$q': ${rw.schema} vs ${base.schema}")
      assert(rw.collect().toSeq == base.collect().toSeq, s"values for '$q'")
    }
    // equality filter on a query group column + AVG (sum_amt / cnt_amt)
    parity("SELECT color, count(*) AS n, sum(amt) AS s, avg(amt) AS a " +
      "FROM rw4_src WHERE color = 'c1' GROUP BY color ORDER BY color")
    // filter on an MV group column the query does NOT group by, with a
    // coarser grouping: filter the MV rows, then roll up
    parity("SELECT color, sum(amt) AS s FROM rw4_src " +
      "WHERE size IN ('s0', 's3') AND color <> 'c9' " +
      "GROUP BY color ORDER BY color")
    // range comparison on a group column + bare AVG
    parity("SELECT color, avg(amt) AS a FROM rw4_src " +
      "WHERE size >= 's2' GROUP BY color ORDER BY color")
    // a filter selecting NOTHING still answers (zero rows) from the MV
    parity("SELECT color, count(*) AS n FROM rw4_src " +
      "WHERE color = 'nope' GROUP BY color ORDER BY color")
  }

  test("SUM/AVG over a DOUBLE column fall through: the view's " +
      "Decimal(38,6) accumulator quantizes sub-1e-6 values") {
    val t = s"$root/src5"
    // values below the accumulator's quantum: a rewritten sum/avg would
    // answer 0.0 where the base answers 2e-7
    Forget.publishIndexed(
      (0 until 10).map(k => (k.toLong, s"c${k % 2}", k * 1e-7))
        .toDF("k", "color", "d"),
      t, 1, "k", stats = true)
    SqlDml.register(spark, "rw5_src", t, "k")
    Sql.execute(spark,
      s"""CREATE MATERIALIZED VIEW rw5_mv LOCATION '$root/mv5' AS
         |SELECT color, count(*), sum(d) FROM rw5_src
         |GROUP BY color""".stripMargin)
    Seq("SELECT color, sum(d) AS s FROM rw5_src GROUP BY color " +
          "ORDER BY color",
        "SELECT color, avg(d) AS a FROM rw5_src GROUP BY color " +
          "ORDER BY color").foreach { q =>
      val df = Sql.sql(spark, q)
      assert(!underPath(df.inputFiles, s"$root/mv5"),
        s"'$q' must not rewrite to the quantizing accumulator")
      // the base answer keeps the sub-quantum values
      assert(df.collect().map(_.getDouble(1)).forall(_ > 0d))
    }
    // count(*) alone still rewrites — n_rows is exact regardless
    assert(underPath(Sql.sql(spark,
      "SELECT color, count(*) AS n FROM rw5_src GROUP BY color")
      .inputFiles, s"$root/mv5"))
  }

  test("EXPRESSION group keys (year/month buckets) rewrite when the MV " +
      "grouped by the same expression; maintenance keeps the derived " +
      "column current") {
    val t = s"$root/src6"
    Forget.publishIndexed(
      (0 until 24).map(k => (k.toLong, k.toLong,
          java.sql.Date.valueOf(s"${2020 + k % 3}-0${1 + k % 9}-15")))
        .toDF("k", "amt", "d"),
      t, 1, "k", stats = true)
    SqlDml.register(spark, "rw6_src", t, "k")
    Sql.execute(spark,
      s"""CREATE MATERIALIZED VIEW rw6_mv LOCATION '$root/mv6' AS
         |SELECT year(d), count(*), sum(amt) FROM rw6_src
         |GROUP BY year(d)""".stripMargin)
    // spelling/case/whitespace differences normalize to one canonical
    // form; the derived storage column substitutes under the alias
    val q = "SELECT YEAR( d ) AS yr, count(*) AS n, sum(amt) AS s " +
      "FROM rw6_src GROUP BY YEAR( d ) ORDER BY yr"
    val rw = Sql.sql(spark, q)
    assert(underPath(rw.inputFiles, s"$root/mv6"),
      s"expr-key rewrite did not fire: ${rw.inputFiles.toSeq}")
    assert(rw.collect().toSeq == spark.sql(q).collect().toSeq)
    // INCREMENTAL maintenance derives the bucket on the batch: merge a
    // row into 2022, refresh, re-register — the rewrite answers current
    Sql.execute(spark, "INSERT INTO rw6_src (k, amt, d) VALUES " +
      "(100, 1000, CAST('2022-01-01' AS DATE))")
    Sql.execute(spark, "REFRESH MATERIALIZED VIEW rw6_mv")
    SqlDml.register(spark, "rw6_src", t, "k")
    val rw2 = Sql.sql(spark, q)
    assert(underPath(rw2.inputFiles, s"$root/mv6"))
    assert(rw2.collect().toSeq == spark.sql(q).collect().toSeq)
    // a different bucket expression over the same column falls through
    val other = Sql.sql(spark, "SELECT month(d) AS m, count(*) AS n " +
      "FROM rw6_src GROUP BY month(d)")
    assert(!underPath(other.inputFiles, s"$root/mv6"))
    // UNALIASED expression key: the output name is Spark's auto-name —
    // identical whether or not the rewrite fired
    assert(Sql.sql(spark,
      "SELECT year(d), count(*) FROM rw6_src GROUP BY year(d)")
      .columns.toSeq == Seq("year(d)", "count(1)"))
    // WHERE on the bucket expression filters the MV's derived column —
    // the dashboard shape (one year's slice at year grain)
    val w = "SELECT year(d) AS yr, count(*) AS n FROM rw6_src " +
      "WHERE year(d) = 2021 GROUP BY year(d) ORDER BY yr"
    val rww = Sql.sql(spark, w)
    assert(underPath(rww.inputFiles, s"$root/mv6"),
      s"expr-WHERE rewrite did not fire: ${rww.inputFiles.toSeq}")
    assert(rww.collect().toSeq == spark.sql(w).collect().toSeq)
    // and IN-lists over the bucket; also filtering on the bucket while
    // grouping by it is not required — WHERE-only still maps
    val w2 = "SELECT count(*) AS n FROM rw6_src " +
      "WHERE year(d) IN (2020, 2021) GROUP BY year(d)"
    val rww2 = Sql.sql(spark, w2)
    assert(underPath(rww2.inputFiles, s"$root/mv6"))
    assert(rww2.collect().map(_.getLong(0)).sorted.toSeq ==
      spark.sql(w2).collect().map(_.getLong(0)).sorted.toSeq)
    // a NON-declared bucket expression in WHERE falls through
    assert(!underPath(Sql.sql(spark,
      "SELECT year(d) AS yr, count(*) AS n FROM rw6_src " +
        "WHERE month(d) = 3 GROUP BY year(d)").inputFiles, s"$root/mv6"))
  }

  test("date_trunc group keys parse through CREATE (internal comma) and " +
      "rewrite by canonical match") {
    val t = s"$root/src8"
    Forget.publishIndexed(
      (0 until 12).map(k => (k.toLong, k.toLong,
          java.sql.Date.valueOf(s"2021-${"%02d".format(1 + k % 4)}-10")))
        .toDF("k", "amt", "d"),
      t, 1, "k", stats = true)
    SqlDml.register(spark, "rw8_src", t, "k")
    Sql.execute(spark,
      s"""CREATE MATERIALIZED VIEW rw8_mv LOCATION '$root/mv8' AS
         |SELECT date_trunc('month', d), count(*), sum(amt)
         |FROM rw8_src GROUP BY date_trunc('month', d)""".stripMargin)
    val q = "SELECT DATE_TRUNC('MONTH', d) AS m, count(*) AS n, " +
      "sum(amt) AS s FROM rw8_src GROUP BY DATE_TRUNC('MONTH', d) " +
      "ORDER BY m"
    val rw = Sql.sql(spark, q)
    assert(underPath(rw.inputFiles, s"$root/mv8"),
      s"date_trunc rewrite did not fire: ${rw.inputFiles.toSeq}")
    assert(rw.collect().toSeq == spark.sql(q).collect().toSeq)
  }

  test("HAVING over rewritable aggregates filters groups from the MV " +
      "with base-equal values") {
    val t = s"$root/src7"
    Forget.publishIndexed(
      (0 until 30).map(k => (k.toLong, s"c${k % 3}", k.toLong))
        .toDF("k", "color", "amt"),
      t, 1, "k", stats = true)
    SqlDml.register(spark, "rw7_src", t, "k")
    Sql.execute(spark,
      s"""CREATE MATERIALIZED VIEW rw7_mv LOCATION '$root/mv7' AS
         |SELECT color, count(*), sum(amt), min(amt), max(amt)
         |FROM rw7_src GROUP BY color""".stripMargin)
    // sum(amt) per color: c0=135, c1=145, c2=155 — the HAVING keeps 2
    val q = "SELECT color, count(*) AS n, sum(amt) AS s FROM rw7_src " +
      "GROUP BY color HAVING sum(amt) > 140 ORDER BY color"
    val rw = Sql.sql(spark, q)
    assert(underPath(rw.inputFiles, s"$root/mv7"),
      s"HAVING rewrite did not fire: ${rw.inputFiles.toSeq}")
    assert(rw.collect().toSeq == spark.sql(q).collect().toSeq)
    assert(rw.count() == 2)
    // HAVING on an aggregate NOT in the select list; compound WHERE +
    // HAVING + min/max legs
    val q2 = "SELECT color, max(amt) AS hi FROM rw7_src " +
      "WHERE color != 'c9' GROUP BY color HAVING count(*) >= 10 " +
      "AND min(amt) <= 2 ORDER BY color"
    val rw2 = Sql.sql(spark, q2)
    assert(underPath(rw2.inputFiles, s"$root/mv7"))
    assert(rw2.collect().toSeq == spark.sql(q2).collect().toSeq)
  }

  test("ROLLUP / CUBE wrappers carry through the rewrite: the " +
      "super-aggregate grains re-aggregate the same MV partials") {
    val t = s"$root/src9"
    Forget.publishIndexed(
      (0 until 40).map(k =>
          (k.toLong, s"c${k % 2}", s"s${k % 4}", k.toLong))
        .toDF("k", "color", "size", "amt"),
      t, 1, "k", stats = true)
    SqlDml.register(spark, "rw9_src", t, "k")
    Sql.execute(spark,
      s"""CREATE MATERIALIZED VIEW rw9_mv LOCATION '$root/mv9' AS
         |SELECT color, size, count(*), sum(amt)
         |FROM rw9_src GROUP BY color, size""".stripMargin)
    val q = "SELECT color, size, count(*) AS n, sum(amt) AS s " +
      "FROM rw9_src GROUP BY ROLLUP(color, size) ORDER BY color, size"
    val rw = Sql.sql(spark, q)
    assert(underPath(rw.inputFiles, s"$root/mv9"),
      s"ROLLUP rewrite did not fire: ${rw.inputFiles.toSeq}")
    assert(rw.collect().toSeq == spark.sql(q).collect().toSeq)
    // k%2 and k%4 correlate: 4 (color,size) leaves + 2 per-color + 1
    assert(rw.count() == 7)
    val q2 = "SELECT color, size, count(*) AS n FROM rw9_src " +
      "GROUP BY CUBE(color, size) ORDER BY color, size"
    val rw2 = Sql.sql(spark, q2)
    assert(underPath(rw2.inputFiles, s"$root/mv9"))
    assert(rw2.collect().toSeq == spark.sql(q2).collect().toSeq)
    // GROUPING() is not a materialized column — base path
    assert(!underPath(Sql.sql(spark,
      "SELECT color, GROUPING(color) AS g, count(*) AS n " +
        "FROM rw9_src GROUP BY ROLLUP(color)").inputFiles,
      s"$root/mv9"))
  }

  test("JOIN leg: a fact⋈dim rollup answers from the fact MV joined " +
      "to the dim — grouped by dim attrs, mixed keys, WHERE both " +
      "sides, HAVING; schema parity with the base") {
    val t = s"$root/srcj"
    Forget.publishIndexed(
      (0 until 60).map(k => (k.toLong, (k % 5).toLong, k.toLong, k * 2L))
        .toDF("k", "fk", "amt", "qty"),
      t, 2, "k", stats = true)
    SqlDml.register(spark, "rwj_src", t, "k")
    val d = s"$root/dimj"
    Forget.publishIndexed(
      Seq((0L, "A"), (1L, "A"), (2L, "B"), (3L, "B"), (4L, "C"))
        .toDF("pk", "seg"),
      d, 1, "pk", stats = true)
    SqlDml.register(spark, "rwj_dim", d, "pk")
    Sql.execute(spark,
      s"""CREATE MATERIALIZED VIEW rwj_mv LOCATION '$root/mvj' AS
         |SELECT fk, count(*), sum(amt), min(qty), max(qty)
         |FROM rwj_src GROUP BY fk""".stripMargin)
    def fromMv(files: Array[String]): Boolean =
      files.nonEmpty && !files.exists(_.contains("srcj")) &&
        files.exists(_.contains("mvj"))
    // dim-attr grouping with the full aggregate algebra (avg through
    // the sum/cnt legs)
    val q = "SELECT seg, count(*) AS n, sum(amt) AS s, avg(amt) AS a, " +
      "min(qty) AS lo, max(qty) AS hi FROM rwj_src " +
      "JOIN rwj_dim ON fk = pk GROUP BY seg ORDER BY seg"
    val rw = Sql.sql(spark, q)
    assert(fromMv(rw.inputFiles),
      s"join rewrite did not fire: ${rw.inputFiles.toSeq}")
    val base = spark.sql(q)
    assert(rw.schema.map(f => (f.name, f.dataType))
      == base.schema.map(f => (f.name, f.dataType)),
      s"rewritten schema drifted: ${rw.schema} vs ${base.schema}")
    assert(rw.collect().toSeq == base.collect().toSeq)
    // unaliased items keep Spark's auto names
    assert(Sql.sql(spark, "SELECT seg, count(*), sum(amt) " +
        "FROM rwj_src JOIN rwj_dim ON fk = pk GROUP BY seg")
      .columns.toSeq == Seq("seg", "count(1)", "sum(amt)"))
    // mixed fact+dim keys, qualified ON, WHERE on both sides, HAVING
    val q2 = "SELECT seg, fk, count(*) AS n, sum(amt) AS s " +
      "FROM rwj_src JOIN rwj_dim ON rwj_src.fk = rwj_dim.pk " +
      "WHERE seg != 'C' AND fk IN (0, 1, 2, 3) " +
      "GROUP BY seg, fk HAVING count(*) >= 12 ORDER BY seg, fk"
    val rw2 = Sql.sql(spark, q2)
    assert(fromMv(rw2.inputFiles),
      s"mixed-key join rewrite did not fire: ${rw2.inputFiles.toSeq}")
    assert(rw2.collect().toSeq == spark.sql(q2).collect().toSeq)
  }

  test("JOIN leg: duplicate dim keys replicate partial aggregates " +
      "exactly as base rows; fall-throughs stay on the base") {
    val t = s"$root/srcj2"
    Forget.publishIndexed(
      (0 until 30).map(k => (k.toLong, (k % 3).toLong, k.toLong))
        .toDF("k", "fk", "amt"),
      t, 1, "k", stats = true)
    SqlDml.register(spark, "rwj2_src", t, "k")
    // dim keyed on id; the JOIN key pk2 carries a DUPLICATE (0 twice):
    // the rollup must fan out the MV row exactly like base fact rows
    val d = s"$root/dimj2"
    Forget.publishIndexed(
      Seq((10L, 0L, "A"), (11L, 0L, "A"), (12L, 1L, "B"),
        (13L, 2L, "B")).toDF("id", "pk2", "seg"),
      d, 1, "id", stats = true)
    SqlDml.register(spark, "rwj2_dim", d, "id")
    Sql.execute(spark,
      s"""CREATE MATERIALIZED VIEW rwj2_mv LOCATION '$root/mvj2' AS
         |SELECT fk, count(*), sum(amt), min(amt), max(amt)
         |FROM rwj2_src GROUP BY fk""".stripMargin)
    def fromMv(files: Array[String]): Boolean =
      files.nonEmpty && !files.exists(_.contains("srcj2")) &&
        files.exists(_.contains("mvj2"))
    val q = "SELECT seg, count(*) AS n, sum(amt) AS s, avg(amt) AS a " +
      "FROM rwj2_src JOIN rwj2_dim ON fk = pk2 " +
      "GROUP BY seg ORDER BY seg"
    val rw = Sql.sql(spark, q)
    assert(fromMv(rw.inputFiles),
      s"dup-key join rewrite did not fire: ${rw.inputFiles.toSeq}")
    assert(rw.collect().toSeq == spark.sql(q).collect().toSeq)
    // fk=0's rows count twice under seg A — base fan-out reproduced
    assert(rw.filter($"seg" === "A").head().getLong(1) == 20L)
    // fall-throughs: a dim-side aggregate has no materialized leg; an
    // unregistered dim has no governed session binding; an outer join
    // does not commute with the inner-join rollup
    Seq(
      "SELECT seg, sum(id) AS s FROM rwj2_src JOIN rwj2_dim " +
        "ON fk = pk2 GROUP BY seg",
      "SELECT x, count(*) AS n FROM rwj2_src JOIN unreg_dim " +
        "ON fk = upk GROUP BY x",
      "SELECT seg, count(*) AS n FROM rwj2_src LEFT JOIN rwj2_dim " +
        "ON fk = pk2 GROUP BY seg"
    ).foreach { fq =>
      Seq((0L, "x0")).toDF("upk", "x").createOrReplaceTempView(
        "unreg_dim")
      val ff = Sql.sql(spark, fq)
      assert(ff.inputFiles.exists(_.contains("srcj2")),
        s"fall-through query was rewritten: $fq")
    }
    // stale MV: fact DML moves the source — the join leg falls back
    Sql.execute(spark,
      "INSERT INTO rwj2_src VALUES (100, 0, 1000)")
    val stale = Sql.sql(spark, q)
    assert(stale.inputFiles.exists(_.contains("srcj2")),
      "stale MV must not answer the join rollup")
    assert(stale.collect().toSeq == spark.sql(q).collect().toSeq)
    // REFRESH brings the view current at changeset cost — the join
    // rewrite fires again with the post-INSERT numbers
    Sql.execute(spark, "REFRESH MATERIALIZED VIEW rwj2_mv")
    val fresh = Sql.sql(spark, q)
    assert(fromMv(fresh.inputFiles),
      s"refreshed MV did not answer: ${fresh.inputFiles.toSeq}")
    assert(fresh.collect().toSeq == spark.sql(q).collect().toSeq)
    assert(fresh.filter($"seg" === "A").head().getLong(1) == 22L)
  }

  test("JOIN leg: bucket-expression keys give the segment × month " +
      "dashboard grain; a non-declared bucket falls through") {
    val t = s"$root/srcj3"
    Forget.publishIndexed(
      (0 until 48).map { k =>
        (k.toLong, (k % 4).toLong, k.toLong,
          java.sql.Date.valueOf(s"202${k % 2}-0${k % 3 + 1}-15"))
      }.toDF("k", "fk", "amt", "d"),
      t, 1, "k", stats = true)
    SqlDml.register(spark, "rwj3_src", t, "k")
    val d = s"$root/dimj3"
    Forget.publishIndexed(
      Seq((0L, "A"), (1L, "A"), (2L, "B"), (3L, "B"))
        .toDF("pk", "seg"),
      d, 1, "pk", stats = true)
    SqlDml.register(spark, "rwj3_dim", d, "pk")
    Sql.execute(spark,
      s"""CREATE MATERIALIZED VIEW rwj3_mv LOCATION '$root/mvj3' AS
         |SELECT fk, year(d), month(d), count(*), sum(amt)
         |FROM rwj3_src GROUP BY fk, year(d), month(d)""".stripMargin)
    def fromMv(files: Array[String]): Boolean =
      files.nonEmpty && !files.exists(_.contains("srcj3")) &&
        files.exists(_.contains("mvj3"))
    val q = "SELECT seg, year(d) AS yr, month(d) AS mo, " +
      "count(*) AS n, sum(amt) AS s FROM rwj3_src " +
      "JOIN rwj3_dim ON fk = pk WHERE year(d) = 2021 " +
      "GROUP BY seg, year(d), month(d) ORDER BY seg, yr, mo"
    val rw = Sql.sql(spark, q)
    assert(fromMv(rw.inputFiles),
      s"bucket-key join rewrite did not fire: ${rw.inputFiles.toSeq}")
    assert(rw.collect().toSeq == spark.sql(q).collect().toSeq)
    // rolling the month grain up to seg × year re-aggregates the MV
    val q2 = "SELECT seg, year(d) AS yr, count(*) AS n FROM rwj3_src " +
      "JOIN rwj3_dim ON fk = pk GROUP BY seg, year(d) ORDER BY seg, yr"
    val rw2 = Sql.sql(spark, q2)
    assert(fromMv(rw2.inputFiles))
    assert(rw2.collect().toSeq == spark.sql(q2).collect().toSeq)
    // day(d) is not a declared bucket of this MV — base path
    assert(Sql.sql(spark,
      "SELECT seg, day(d) AS dd, count(*) AS n FROM rwj3_src " +
        "JOIN rwj3_dim ON fk = pk GROUP BY seg, day(d)")
      .inputFiles.exists(_.contains("srcj3")))
    // ROLLUP through the join: seg × year leaves + per-seg + total
    val q3 = "SELECT seg, year(d) AS yr, count(*) AS n FROM rwj3_src " +
      "JOIN rwj3_dim ON fk = pk GROUP BY ROLLUP(seg, year(d)) " +
      "ORDER BY seg, yr"
    val rw3 = Sql.sql(spark, q3)
    assert(fromMv(rw3.inputFiles),
      s"join ROLLUP rewrite did not fire: ${rw3.inputFiles.toSeq}")
    assert(rw3.collect().toSeq == spark.sql(q3).collect().toSeq)
    // date_trunc buckets resolve through the join leg too (the
    // canonical's inner column sits after a comma, not a paren)
    Sql.execute(spark,
      s"""CREATE MATERIALIZED VIEW rwj3_mv_dt LOCATION '$root/mvj3dt' AS
         |SELECT fk, date_trunc('month', d), count(*)
         |FROM rwj3_src GROUP BY fk, date_trunc('month', d)""".stripMargin)
    val q4 = "SELECT seg, date_trunc('month', d) AS m, count(*) AS n " +
      "FROM rwj3_src JOIN rwj3_dim ON fk = pk " +
      "GROUP BY seg, date_trunc('month', d) ORDER BY seg, m"
    val rw4 = Sql.sql(spark, q4)
    assert(rw4.inputFiles.nonEmpty &&
      !rw4.inputFiles.exists(_.contains("srcj3")) &&
      rw4.inputFiles.exists(_.contains("mvj3dt")),
      s"date_trunc join rewrite did not fire: ${rw4.inputFiles.toSeq}")
    assert(rw4.collect().toSeq == spark.sql(q4).collect().toSeq)
  }

  test("property: the join rollup equals the base on random facts and " +
      "dims (duplicate dim keys, unmatched fks, full aggregate set)") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 3) {
      val t = s"$root/jp$trial"
      val d = s"$root/jpd$trial"
      val nf = 2 + rnd.nextInt(3)
      val facts = (0 until 50 + rnd.nextInt(50)).map(k =>
        // fk may exceed the dim's domain: unmatched fact rows must
        // drop identically in both formulations
        (k.toLong, rnd.nextInt(nf + 1).toLong, rnd.nextInt(100).toLong))
      Forget.publishIndexed(facts.toDF("k", "fk", "amt"), t, 1, "k",
        stats = true)
      SqlDml.register(spark, s"jp${trial}_src", t, "k")
      val dimRows = (0 until nf).flatMap { p =>
        (0 to rnd.nextInt(2)).map(j => // some pks duplicated
          (p.toLong * 10 + j, p.toLong, s"s${p % 2}"))
      }
      Forget.publishIndexed(dimRows.toDF("id", "pk", "seg"), d, 1,
        "id", stats = true)
      SqlDml.register(spark, s"jp${trial}_dim", d, "id")
      Sql.execute(spark,
        s"""CREATE MATERIALIZED VIEW jp${trial}_mv
           |LOCATION '$root/jpmv$trial' AS
           |SELECT fk, count(*), sum(amt), min(amt), max(amt)
           |FROM jp${trial}_src GROUP BY fk""".stripMargin)
      val q = s"SELECT seg, count(*) AS n, sum(amt) AS s, " +
        s"avg(amt) AS a, min(amt) AS lo, max(amt) AS hi " +
        s"FROM jp${trial}_src JOIN jp${trial}_dim ON fk = pk " +
        "GROUP BY seg ORDER BY seg"
      val rw = Sql.sql(spark, q)
      assert(rw.inputFiles.exists(_.contains(s"jpmv$trial")) &&
        !rw.inputFiles.exists(_.contains(s"jp$trial/")),
        s"trial $trial did not rewrite: ${rw.inputFiles.toSeq}")
      assert(rw.collect().toSeq == spark.sql(q).collect().toSeq,
        s"trial $trial diverged from the base")
    }
  }

  test("JOIN leg: a SNOWFLAKE chain (fact⋈dim⋈dim) rolls up through " +
      "the dim-to-dim hop; a chain with no fact linkage falls through") {
    val t = s"$root/srcj4"
    Forget.publishIndexed(
      (0 until 40).map(k => (k.toLong, (k % 4).toLong, k.toLong))
        .toDF("k", "fk", "amt"),
      t, 1, "k", stats = true)
    SqlDml.register(spark, "rwj4_src", t, "k")
    val d1 = s"$root/dimj4a" // fk -> (seg, regionkey)
    Forget.publishIndexed(
      Seq((0L, "A", 10L), (1L, "A", 20L), (2L, "B", 10L),
        (3L, "B", 20L)).toDF("pk", "seg", "rk"),
      d1, 1, "pk", stats = true)
    SqlDml.register(spark, "rwj4_d1", d1, "pk")
    val d2 = s"$root/dimj4b" // regionkey -> region name
    Forget.publishIndexed(
      Seq((10L, "EAST"), (20L, "WEST")).toDF("rpk", "rname"),
      d2, 1, "rpk", stats = true)
    SqlDml.register(spark, "rwj4_d2", d2, "rpk")
    Sql.execute(spark,
      s"""CREATE MATERIALIZED VIEW rwj4_mv LOCATION '$root/mvj4' AS
         |SELECT fk, count(*), sum(amt)
         |FROM rwj4_src GROUP BY fk""".stripMargin)
    def fromMv(files: Array[String]): Boolean =
      files.nonEmpty && !files.exists(_.contains("srcj4")) &&
        files.exists(_.contains("mvj4"))
    // region grain: fact -> d1 (fk = pk) -> d2 (rk = rpk)
    val q = "SELECT rname, count(*) AS n, sum(amt) AS s " +
      "FROM rwj4_src JOIN rwj4_d1 ON fk = pk " +
      "JOIN rwj4_d2 ON rk = rpk GROUP BY rname ORDER BY rname"
    val rw = Sql.sql(spark, q)
    assert(fromMv(rw.inputFiles),
      s"snowflake rewrite did not fire: ${rw.inputFiles.toSeq}")
    assert(rw.collect().toSeq == spark.sql(q).collect().toSeq)
    // mixed grain across all three relations
    val q2 = "SELECT rname, seg, fk, count(*) AS n FROM rwj4_src " +
      "JOIN rwj4_d1 ON fk = pk JOIN rwj4_d2 ON rk = rpk " +
      "WHERE rname = 'EAST' GROUP BY rname, seg, fk " +
      "ORDER BY rname, seg, fk"
    val rw2 = Sql.sql(spark, q2)
    assert(fromMv(rw2.inputFiles))
    assert(rw2.collect().toSeq == spark.sql(q2).collect().toSeq)
    // a chain rooted at a table NO registered MV covers stays on the
    // base (here d1 plays the fact role and has no MV)
    assert(Sql.sql(spark,
      "SELECT rname, count(*) AS n FROM rwj4_d1 " +
        "JOIN rwj4_d2 ON rk = rpk GROUP BY rname")
      .inputFiles.exists(_.contains("dimj4a")))
  }

  test("unaliased output names keep the query's spelling, qualifier " +
      "dropped, and ORDER BY may name an unselected GROUP BY key — " +
      "single-table and JOIN shapes alike") {
    val t = s"$root/srcn"
    Forget.publishIndexed(
      (0 until 24).map(k =>
          (k.toLong, (k % 4).toLong, s"c${k % 3}", k * k + 1L,
            java.sql.Date.valueOf(s"202${k % 2}-0${1 + k % 5}-11")))
        .toDF("k", "fk", "color", "amt", "d"),
      t, 1, "k", stats = true)
    SqlDml.register(spark, "rwn_src", t, "k")
    val d = s"$root/dimn"
    Forget.publishIndexed(
      Seq((0L, "A"), (1L, "A"), (2L, "B"), (3L, "C")).toDF("pk", "seg"),
      d, 1, "pk", stats = true)
    SqlDml.register(spark, "rwn_dim", d, "pk")
    Sql.execute(spark,
      s"""CREATE MATERIALIZED VIEW rwn_mv LOCATION '$root/mvn' AS
         |SELECT fk, color, year(d), date_trunc('month', d), count(*),
         |  sum(amt)
         |FROM rwn_src GROUP BY fk, color, year(d),
         |  date_trunc('month', d)""".stripMargin)
    def parity(q: String, ordered: Boolean): Unit = {
      val rw = Sql.sql(spark, q)
      assert(rw.inputFiles.nonEmpty &&
        !rw.inputFiles.exists(_.contains("/srcn/")) &&
        rw.inputFiles.exists(_.contains("/mvn/")),
        s"'$q' did not rewrite: ${rw.inputFiles.toSeq}")
      val base = spark.sql(q)
      assert(rw.columns.toSeq == base.columns.toSeq,
        s"'$q' output names drifted")
      def rows(df: org.apache.spark.sql.DataFrame) =
        if (ordered) df.collect().toSeq
        else df.collect().toSeq.sortBy(_.toString)
      assert(rows(rw) == rows(base), s"values for '$q'")
    }
    parity("SELECT COLOR, count(*), sum(AMT) FROM rwn_src " +
      "GROUP BY color", ordered = false)
    parity("SELECT rwn_src.Color, COUNT(*), SUM(rwn_src.Amt) " +
      "FROM rwn_src GROUP BY rwn_src.COLOR", ordered = false)
    parity("SELECT SEG, count(*), sum(AMT) FROM rwn_src " +
      "JOIN rwn_dim ON fk = pk GROUP BY SEG", ordered = false)
    parity("SELECT rwn_dim.Seg, COUNT(*), SUM(rwn_src.AMT) FROM rwn_src " +
      "JOIN rwn_dim ON rwn_src.FK = rwn_dim.PK GROUP BY rwn_dim.seg",
      ordered = false)
    parity("SELECT YEAR( D ), date_trunc('MONTH', D), count(*) " +
      "FROM rwn_src GROUP BY YEAR( D ), date_trunc('MONTH', D)",
      ordered = false)
    parity("SELECT Seg, year(D), COUNT(*) FROM rwn_src " +
      "JOIN rwn_dim ON fk = pk GROUP BY Seg, year(D)", ordered = false)
    parity("SELECT count(*) AS n, sum(amt) AS s FROM rwn_src " +
      "GROUP BY color ORDER BY color DESC", ordered = true)
    parity("SELECT count(*) AS n, sum(amt) AS s FROM rwn_src " +
      "JOIN rwn_dim ON fk = pk GROUP BY seg ORDER BY seg", ordered = true)
  }
}
