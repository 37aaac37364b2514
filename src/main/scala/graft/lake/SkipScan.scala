package graft.lake

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.{FileIndex,
  HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/**
 * PLAN-TIME automatic file skipping — the manifest-backed [[FileIndex]]
 * leg of the skipping story, Delta's `TahoeLogFileIndex` shape on this
 * layout. [[StatsIndex.readRange]] / [[ZOrder.readBox]] prune when the
 * CALLER routes the probe through them; [[scan]] instead returns a plain
 * DataFrame whose relation carries a [[FileIndex]] that evaluates the
 * query's OWN pushed-down data filters against the per-file manifest
 * ranges (`_boxstats` when present — self-describing, multi-column — and
 * the `_stats` key manifest via the caller-named key column), so ANY
 * DataFrame/SQL predicate on an indexed column prunes files at PLANNING
 * time with zero API cooperation from the query author. Catalyst still
 * applies the full predicate to the admitted files' rows, so the result
 * is exactly the plain scan's.
 *
 * Admission is CONSERVATIVE by construction — unknown expression shapes,
 * uncovered columns, non-numeric literals, and a manifest that no longer
 * covers the dir (files appended/rewritten since it was built) all admit
 * rather than exclude; `AND`/`OR` compose interval logic; fractional
 * literals compare against floor/ceil of the truncated long stats (the
 * stats hold `CAST(col AS LONG)` min/max, truncation toward zero, so
 * `floor(L) <= trunc(v)` / `trunc(v) <= ceil(L)` bound every satisfying
 * row on both signs). The index can degrade to a full scan, never to a
 * missing row.
 *
 * Scope: [[scan]] serves a plain parquet DATA DIR (the clustered
 * layouts [[graft.tools.BuildSkipFixture]] commits,
 * [[Forget.publishClustered]] tables, compacted versions) and rejects
 * overlay versions loudly; [[readVersionAuto]] additionally routes
 * OVERLAY versions (shallow ref / deletion vector / zero-copy appends /
 * column mapping) through [[overlayScan]], composing pruned listing →
 * DV anti-join → logical rename in [[Versioned.readVersion]]'s order.
 * Point probes (=, IN) on a Bloom-indexed key consult the `_bloom`
 * sidecars per admitted file — the hash-layout skipping dimension
 * interval stats cannot provide.
 *
 * At 100 TB this is the difference between "skipping works if every
 * query author remembers the special read API" and "the table's layout
 * makes every ad-hoc dashboard predicate cheap" — the property Delta and
 * Iceberg users actually rely on.
 */
object SkipScan {

  /** Per-file column ranges: long-domain (`by`) and string-domain
    * (`byStr`, UTF8-binary order) → (min, max, nonNull), plus the
    * file's row count. min/max None = no non-null values. */
  private final case class Ranges(
      by: Map[String, (Option[Long], Option[Long], Long)],
      rows: Long,
      byStr: Map[String, (Option[String], Option[String], Long)] =
        Map.empty) {
    def nonNullOf(c: String): Option[Long] =
      by.get(c).map(_._3).orElse(byStr.get(c).map(_._3))
  }

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ------------------------------------------------------- the FileIndex

  /** Per-file Bloom context for point-probe admission: the indexed
    * column's name (None = no Bloom leg) and a MEMOIZED loader for this
    * file's sidecar filter — evaluated only when an equality probe on
    * the key survives interval admission, so range-only queries never
    * open a sidecar. A missing sidecar admits (advisory). */
  private final case class BloomCtx(
      key: Option[String],
      filter: () => Option[org.apache.spark.util.sketch.BloomFilter])

  private val noRanges = Ranges(Map.empty, 0L)
  private val noBloom = BloomCtx(None, () => None)

  private final class ManifestFileIndex(
      spark: SparkSession, roots: Seq[String], files: Seq[FileStatus],
      ranges: Map[String, Ranges],
      bloomKey: Option[String] = None,
      bloomOf: String => Option[org.apache.spark.util.sketch.BloomFilter] =
        _ => None) extends FileIndex {

    // sidecars load at most once per file per relation (driver, ~100 KB)
    private val bloomCache = scala.collection.concurrent
      .TrieMap[String, Option[org.apache.spark.util.sketch.BloomFilter]]()

    override def rootPaths: Seq[Path] = roots.map(new Path(_))
    override def partitionSchema: StructType = StructType(Nil)
    override def sizeInBytes: Long = files.map(_.getLen).sum
    override def inputFiles: Array[String] =
      files.map(_.getPath.toString).toArray
    override def refresh(): Unit = ()

    override def listFiles(partitionFilters: Seq[Expression],
                           dataFilters: Seq[Expression])
        : Seq[PartitionDirectory] = {
      val admitted =
        if (dataFilters.isEmpty || (ranges.isEmpty && bloomKey.isEmpty))
          files
        else files.filter { f =>
          val name = f.getPath.getName
          val bc =
            if (bloomKey.isEmpty) noBloom
            else BloomCtx(bloomKey,
              () => bloomCache.getOrElseUpdate(name, bloomOf(name)))
          val r = ranges.getOrElse(name, noRanges) // unseen file: every
          dataFilters.forall(e => mayMatch(e, r, bc)) // interval admits
        }
      Seq(PartitionDirectory(InternalRow.empty, admitted.toArray))
    }
  }

  // the attribute under an EXACT numeric upcast (an integral column
  // compared against a fractional literal arrives as
  // Cast(attr AS DOUBLE/DECIMAL) — value-preserving below 2^53, so the
  // long-domain admission still bounds it); anything else: None
  private def integral(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _ => false
    }

  private def numeric(dt: org.apache.spark.sql.types.DataType): Boolean =
    integral(dt) || (dt match {
      case org.apache.spark.sql.types.FloatType |
           org.apache.spark.sql.types.DoubleType => true
      case _: org.apache.spark.sql.types.DecimalType => true
      case _ => false
    })

  private def attrOf(e: Expression): Option[AttributeReference] = e match {
    case a: AttributeReference => Some(a)
    case c: Cast => c.child match {
      case a: AttributeReference
          if integral(a.dataType) && numeric(c.dataType) =>
        Some(a)
      case _ => None
    }
    case _ => None
  }

  // may rows of a file with `r` satisfy `e`? Conservative: anything not
  // understood admits. Point probes (=, IN) on the Bloom-indexed key
  // additionally consult the file's sidecar filter — the skipping
  // dimension interval stats cannot give on a HASH-distributed key
  // (every file spans the full domain, so min/max admits everything;
  // the Bloom answers "might this file hold key k" in a few hashes).
  private def mayMatch(e: Expression, r: Ranges, bc: BloomCtx): Boolean =
    e match {
    case And(l, rt) => mayMatch(l, r, bc) && mayMatch(rt, r, bc)
    case Or(l, rt) => mayMatch(l, r, bc) || mayMatch(rt, r, bc)
    case EqualTo(a, b) => cmp(a, b, r, "=") && bloomAdmits(a, b, bc)
    case EqualNullSafe(a, b) =>
      val nullLit = Seq(a, b).exists {
        case l: Literal => l.value == null
        case _ => false
      }
      if (nullLit) {
        // `<=> NULL` selects EXACTLY the null rows — the all-null file
        // is the canonical match, the OPPOSITE of "="'s nn==0 exclusion
        // (routing this through cmp would skip precisely the file that
        // holds every matching row). Admit iff the file can hold a null.
        attrOf(if (a.isInstanceOf[Literal]) b else a) match {
          case Some(ar) => r.nonNullOf(ar.name.toLowerCase)
            .fold(true)(nn => r.rows - nn > 0)
          case None => true
        }
      } else cmp(a, b, r, "=") && bloomAdmits(a, b, bc)
    case GreaterThan(a, b) => cmp(a, b, r, ">")
    case GreaterThanOrEqual(a, b) => cmp(a, b, r, ">=")
    case LessThan(a, b) => cmp(a, b, r, "<")
    case LessThanOrEqual(a, b) => cmp(a, b, r, "<=")
    case In(a, vs) if attrOf(a).isDefined &&
        vs.forall(_.isInstanceOf[Literal]) =>
      vs.exists(v => cmp(a, v, r, "=") && bloomAdmits(a, v, bc))
    case InSet(a, vs) if attrOf(a).isDefined =>
      val interval: Any => Boolean =
        r.by.get(attrOf(a).get.name.toLowerCase) match {
          case Some((mn, mx, nn)) =>
            v => nn > 0 && literalLong(v).fold(true) { case (lo, hi) =>
              mn.get <= hi && mx.get >= lo
            }
          case None => _ => true
        }
      vs.exists(v => interval(v) && bloomAdmitsValue(a, v, bc))
    case IsNull(a) if attrOf(a).isDefined =>
      r.nonNullOf(attrOf(a).get.name.toLowerCase)
        .fold(true)(nn => r.rows - nn > 0)
    case IsNotNull(a) if attrOf(a).isDefined =>
      r.nonNullOf(attrOf(a).get.name.toLowerCase).fold(true)(_ > 0)
    // LIKE 'p%' compiles to StartsWith: strings with prefix p form the
    // UTF8-binary interval [p, nextPrefix(p)) — admit when the file's
    // [min, max] intersects it (no upper bound when every byte of p is
    // 0xFF: admit on max >= p alone)
    case StartsWith(a, Literal(p: org.apache.spark.unsafe.types.UTF8String,
        _)) if attrOf(a).isDefined =>
      r.byStr.get(attrOf(a).get.name.toLowerCase) match {
        case None => true
        case Some((_, _, nn)) if nn == 0 => false
        case Some((mn, mx, _)) =>
          val lo = p
          utf8(mx.get).compareTo(lo) >= 0 && (nextPrefix(lo) match {
            case None => true
            case Some(hiEx) => utf8(mn.get).compareTo(hiEx) < 0
          })
      }
    case _ => true
  }

  // Bloom admission for one equality arm: applies only when the probe
  // names the sidecars' indexed column, the attribute is integral (the
  // filters hold CAST(col AS LONG) — truncation makes fractional-typed
  // columns approximate) and the literal is a WHOLE number; anything
  // else admits. False negatives are impossible by BloomFilter contract,
  // so intersection with interval admission never drops a real row.
  private def bloomAdmits(x: Expression, y: Expression,
                          bc: BloomCtx): Boolean = {
    if (bc.key.isEmpty) return true
    val (at, lit) = (x, y) match {
      case (e, l: Literal) => (e, l)
      case (l: Literal, e) => (e, l)
      case _ => return true
    }
    bloomAdmitsValue(at, lit.value, bc)
  }

  private def bloomAdmitsValue(at: Expression, v: Any,
                               bc: BloomCtx): Boolean =
    attrOf(at) match {
      case Some(a) if integral(a.dataType) &&
          bc.key.exists(_.equalsIgnoreCase(a.name)) =>
        literalLong(v) match {
          case Some((lo, hi)) if lo == hi =>
            bc.filter().forall(_.mightContainLong(lo))
          case _ => true // fractional/unboundable: cmp already decides
        }
      case _ => true
    }

  private def utf8(s: String) =
    org.apache.spark.unsafe.types.UTF8String.fromString(s)

  // the exclusive upper bound of the prefix interval: p's bytes with the
  // last non-0xFF byte incremented (trailing 0xFF bytes dropped); None
  // when every byte is 0xFF (no bound — admit)
  private def nextPrefix(p: org.apache.spark.unsafe.types.UTF8String)
      : Option[org.apache.spark.unsafe.types.UTF8String] = {
    val b = p.getBytes.clone()
    var i = b.length - 1
    while (i >= 0 && b(i) == 0xFF.toByte) i -= 1
    if (i < 0) None
    else {
      b(i) = (b(i) + 1).toByte
      Some(org.apache.spark.unsafe.types.UTF8String
        .fromBytes(java.util.Arrays.copyOf(b, i + 1)))
    }
  }

  // the literal as a CLOSED long interval [floor(v), ceil(v)] — the
  // truncated-long stats domain; None = not a numeric literal we can
  // bound (admit)
  private def literalLong(v: Any): Option[(Long, Long)] = v match {
    case l: Literal => literalLong(l.value)
    case b: Byte => Some((b.toLong, b.toLong))
    case s: Short => Some((s.toLong, s.toLong))
    case i: Int => Some((i.toLong, i.toLong))
    case l: Long => Some((l, l))
    case f: Float => literalLong(f.toDouble)
    case d: Double =>
      // bound at 2^52, not 2^53: fractional doubles lose their fraction
      // from 2^52 up (a Decimal literal 2^52 + 0.5 rounds to a WHOLE
      // double, and the integral-column tightening would then wrongly
      // exclude boundary files) — past it, admit
      if (d.isNaN || math.abs(d) >= 4503599627370496.0) None
      else Some((math.floor(d).toLong, math.ceil(d).toLong))
    case d: org.apache.spark.sql.types.Decimal =>
      // EXACT bounds on the BigDecimal — a fractional SQL literal parses
      // as Decimal, and routing through toDouble loses the fraction at
      // large magnitudes (epoch-micros ~1.7e15 has double ulp 0.25:
      // 1699999999999999.9 rounds to a WHOLE double, and the integral
      // tightening in cmp would then wrongly EXCLUDE a boundary file —
      // a silent missing row). floor/ceil on the decimal itself keep
      // `lo == hi` iff the literal is genuinely whole; a magnitude past
      // Long admits (None)
      val bd = d.toJavaBigDecimal
      try Some((
        bd.setScale(0, java.math.RoundingMode.FLOOR).longValueExact(),
        bd.setScale(0, java.math.RoundingMode.CEILING).longValueExact()))
      catch { case _: ArithmeticException => None }
    case _ => None
  }

  // binary comparison admission; handles literal-on-the-left by flipping.
  // For an INTEGRAL attribute the stats are exact (no truncation) and the
  // bound tightens: v > 399.5 over longs means v >= 400, v = 399.5 can
  // never hold. Non-integral attributes keep the closed floor/ceil
  // interval over their truncated stats.
  private def cmp(a: Expression, b: Expression, r: Ranges,
                  op: String): Boolean = (a, b) match {
    case (at, lit: Literal) if attrOf(at).isDefined &&
        lit.value.isInstanceOf[org.apache.spark.unsafe.types.UTF8String] =>
      // string comparison in UTF8-binary order against the `_strstats`
      // interval — exact semantics, no truncation to reason around
      val v = lit.value.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      r.byStr.get(attrOf(at).get.name.toLowerCase) match {
        case None => true
        case Some((_, _, nn)) if nn == 0 => false
        case Some((mn, mx, _)) =>
          val lo = utf8(mn.get); val hi = utf8(mx.get)
          op match {
            case "=" => lo.compareTo(v) <= 0 && hi.compareTo(v) >= 0
            case ">" => hi.compareTo(v) > 0
            case ">=" => hi.compareTo(v) >= 0
            case "<" => lo.compareTo(v) < 0
            case "<=" => lo.compareTo(v) <= 0
            case _ => true
          }
      }
    case (at, lit: Literal) if attrOf(at).isDefined =>
      val attr = attrOf(at).get
      r.by.get(attr.name.toLowerCase) match {
        case None => true
        case Some((_, _, nn)) if nn == 0 => false // all-null: no compare hits
        case Some((mn, mx, _)) =>
          literalLong(lit.value).fold(true) { case (lo, hi) =>
            val exact = integral(attr.dataType)
            val whole = lo == hi // the literal is a whole number
            def incr(x: Long) = if (x == Long.MaxValue) x else x + 1
            def decr(x: Long) = if (x == Long.MinValue) x else x - 1
            op match {
              case "=" =>
                if (exact && !whole) false // no long equals a fraction
                else mn.get <= hi && mx.get >= lo
              case ">" =>
                // integral: v > L ⇔ v >= L+1 (whole) / v >= ceil(L)
                mx.get >= (if (!exact) lo
                           else if (whole) incr(lo) else hi)
              case ">=" =>
                // integral: v >= L ⇔ v >= ceil(L) (= L when whole)
                mx.get >= (if (!exact) lo else hi)
              case "<" =>
                mn.get <= (if (!exact) hi
                           else if (whole) decr(hi) else lo)
              case "<=" =>
                mn.get <= (if (!exact) hi else lo)
              case _ => true
            }
          }
      }
    case (lit: Literal, at) if attrOf(at).isDefined =>
      cmp(at, lit, r, op match {
        case ">" => "<"
        case ">=" => "<="
        case "<" => ">"
        case "<=" => ">="
        case o => o
      })
    case _ => true
  }

  // ------------------------------------------------------ manifest loads

  // `_boxstats` rows (self-describing columns) and/or the `_stats` key
  // manifest under the caller-named key column, merged per file
  private def loadRanges(spark: SparkSession, dir: String,
                         statsKeyCol: Option[String])
      : Map[String, Ranges] = {
    val fromBox: Map[String, Ranges] =
      ZOrder.loadBoxStats(spark, dir).map { case (_, boxes) =>
        boxes.map { case (f, b) =>
          f -> Ranges(b.by.map { case (c, v) => c.toLowerCase -> v }, b.rows)
        }
      }.getOrElse(Map.empty)
    val fromStats: Map[String, Ranges] = statsKeyCol.flatMap { k =>
      StatsIndex.load(spark, dir).map(_.map { case (f, st) =>
        f -> Ranges(Map(k.toLowerCase -> ((st.kmin, st.kmax, st.nonNull))),
          st.rows)
      })
    }.getOrElse(Map.empty)
    val fromStr: Map[String,
        (Map[String, (Option[String], Option[String], Long)], Long)] =
      StrStats.load(spark, dir).map(_._2.map { case (f, (by, rows)) =>
        f -> ((by.map { case (c, v) => c.toLowerCase -> v }, rows))
      }).getOrElse(Map.empty)
    (fromBox.keySet ++ fromStats.keySet ++ fromStr.keySet).map { f =>
      val merged = fromBox.get(f).map(_.by).getOrElse(Map.empty) ++
        fromStats.get(f).map(_.by).getOrElse(Map.empty)
      val rows = fromStats.get(f).map(_.rows)
        .orElse(fromBox.get(f).map(_.rows))
        .orElse(fromStr.get(f).map(_._2)).getOrElse(0L)
      f -> Ranges(merged, rows,
        byStr = fromStr.get(f).map(_._1).getOrElse(Map.empty))
    }.toMap
  }

  /** A DataFrame over `dir` whose scan prunes files at PLANNING time
    * from the committed manifests: `_boxstats` (self-describing) and —
    * when `statsKeyCol` names the key — the `_stats` manifest. No
    * manifest, or one that no longer covers the dir's files, degrades to
    * the plain full scan (same staleness contract as
    * [[StatsIndex.readRange]]). */
  def scan(spark: SparkSession, dir: String,
           statsKeyCol: Option[String] = None): DataFrame = {
    val f = fs(spark, dir)
    require(!f.exists(new Path(s"$dir/_dv")) &&
        !f.exists(new Path(s"$dir/_column_mapping")) &&
        !f.exists(new Path(s"$dir/_ref")),
      s"$dir carries a deletion vector / column mapping / ref — " +
        "SkipScan.scan serves plain data dirs; use Versioned.readVersion " +
        "for overlay versions")
    val files = f.listStatus(new Path(dir)).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
    // the `_stats` manifest names its own column since round 17
    // (`_stats/_key`); an explicit statsKeyCol overrides / serves
    // pre-marker manifests
    val loaded = loadRanges(spark, dir,
      statsKeyCol.orElse(StatsIndex.keyOf(spark, dir)))
    // staleness: a manifest that doesn't cover the dir admits everything
    val ranges =
      if (loaded.nonEmpty &&
          files.map(_.getPath.getName).forall(loaded.contains)) loaded
      else Map.empty[String, Ranges]
    val schema = Versioned.schemaOf(spark, dir)
    val index = new ManifestFileIndex(spark, Seq(dir), files, ranges,
      bloomKey = BloomIndex.keyOf(spark, dir),
      bloomOf = n => BloomIndex.loadFilter(f, dir, n))
    val relation = HadoopFsRelation(
      location = index,
      partitionSchema = StructType(Nil),
      dataSchema = schema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat,
      options = Map.empty)(spark)
    spark.baseRelationToDataFrame(relation)
  }

  // does `d` carry ANY skipping manifest a FileIndex can evaluate?
  private def indexedDir(spark: SparkSession, d: String): Boolean = {
    val f = fs(spark, d)
    StatsIndex.keyOf(spark, d).isDefined ||
      f.exists(new Path(s"$d/_boxstats")) ||
      StrStats.exists(spark, d) ||
      BloomIndex.keyOf(spark, d).isDefined
  }

  /** [[Versioned.readVersion]] routed through the manifest [[FileIndex]]
    * when version `v` carries one to evaluate: a PLAIN indexed data dir
    * binds via [[scan]]; an OVERLAY version (`_ref` / deletion vector /
    * column mapping — the normal state of a table that has ever taken a
    * zero-copy landing or DV delete) binds via [[overlayScan]], which
    * composes the pruned file listing with the overlay machinery in
    * readVersion's order (prune files → anti-join the deletion-sized
    * vector → apply the logical rename). This is what
    * [[graft.Sql.registerTable]] binds, so a registered clustered lake
    * table gives EVERY ad-hoc SQL predicate plan-time file pruning
    * through its whole DML history; an unindexed version falls back to
    * the plain read. Same uncommitted-txn visibility gate as
    * readVersion. */
  def readVersionAuto(spark: SparkSession, table: String,
                      v: Long): DataFrame = {
    val own = s"$table/v=$v"
    val f = fs(spark, own)
    val plain = !f.exists(new Path(s"$own/_ref")) &&
      !f.exists(new Path(s"$own/_dv")) &&
      !f.exists(new Path(s"$own/_column_mapping"))
    def visible(): Unit = require(Txn.visible(f, own),
      s"version $v of $table belongs to an uncommitted cross-table " +
        "transaction — not readable")
    if (plain && indexedDir(spark, own)) { visible(); scan(spark, own) }
    else if (!plain) {
      val data = Versioned.dataDir(spark, table, v)
      if (indexedDir(spark, data) ||
          (data != own && indexedDir(spark, own))) {
        visible()
        overlayScan(spark, table, v, own, data)
      } else Versioned.readVersion(spark, table, v)
    } else Versioned.readVersion(spark, table, v)
  }

  /** An OVERLAY version (shallow ref / DV / zero-copy appends / column
    * mapping) read through the manifest [[FileIndex]] — result identical
    * to [[Versioned.readVersion]], plan prunes files. Composition order
    * mirrors readVersion exactly: the scan lists the base data dir's
    * files plus the version's OWN appended files under the version's
    * PHYSICAL schema (each file admitted against its dir's manifests —
    * the base's committed `_stats`/`_boxstats`/`_strstats`, the appends'
    * landing-minted `_stats`), then the deletion vector anti-joins on
    * the scan's `_metadata` columns, then the column mapping renames
    * physical → logical. Version-dir files are IMMUTABLE once published,
    * so a file no manifest covers simply admits (the per-file
    * conservative branch) — the all-or-nothing staleness gate [[scan]]
    * applies to raw out-of-band dirs is unnecessary here. */
  private def overlayScan(spark: SparkSession, table: String, v: Long,
                          own: String, data: String): DataFrame = {
    val f = fs(spark, own)
    val mapping = Versioned.readColumnMapping(f, own)
      .getOrElse(Map.empty[String, String])
    // schema discipline, readVersion's: an overlay version's OWN marker
    // (logical, possibly Evolve-extended) wins and maps to physical
    // through the version's mapping; otherwise the base dir's marker;
    // footer inference last (unevolved table — all files agree)
    val ownMarker = Versioned.readSchemaMarker(f, own)
    val readSchema = ownMarker match {
      case Some(s) => Versioned.physicalSchema(s, mapping)
      case None =>
        // the base dir's marker (or footer inference) already spells
        // PHYSICAL names — a mapped overlay always carries its own
        // logical marker (Evolve writes them together, every carrier
        // copies both), so no remap applies here
        Versioned.schemaOf(spark, data)
    }
    def parts(dir: String): Seq[FileStatus] =
      f.listStatus(new Path(dir)).toSeq
        .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
    val dataFiles = parts(data)
    val ownFiles = if (own == data) Seq.empty else parts(own)
    val ranges = loadRanges(spark, data, StatsIndex.keyOf(spark, data)) ++
      (if (own == data) Map.empty[String, Ranges]
       else loadRanges(spark, own, StatsIndex.keyOf(spark, own)))
    // a basename shared across the two dirs (distinct writer jobs make
    // this ~impossible, but name-keyed stats would be ambiguous): drop
    // those names' ranges — both files admit, never mis-skip
    val dup = dataFiles.map(_.getPath.getName).toSet
      .intersect(ownFiles.map(_.getPath.getName).toSet)
    // Bloom leg: each file's sidecar lives beside ITS dir; both dirs
    // must describe the SAME column for one key to answer both (a dir
    // whose key differs contributes no filters — admit). Keys resolve
    // ONCE here, not per file (each keyOf is a small-file FS read — at
    // plan time on object storage that would be one GET per candidate).
    // A dup basename is as ambiguous for Blooms as for ranges: loading
    // either dir's sidecar could skip the OTHER dir's same-named file's
    // rows — no filter for those names, both files admit.
    val dataBKey = BloomIndex.keyOf(spark, data)
    val ownBKey = if (own == data) None else BloomIndex.keyOf(spark, own)
    val bKey = dataBKey.orElse(ownBKey)
    val dataBloomServes = dataBKey.exists(k =>
      bKey.exists(_.equalsIgnoreCase(k)))
    val ownBloomServes = ownBKey.exists(k =>
      bKey.exists(_.equalsIgnoreCase(k)))
    val ownNames = ownFiles.map(_.getPath.getName).toSet
    def bloomOf(n: String)
        : Option[org.apache.spark.util.sketch.BloomFilter] = {
      if (dup.contains(n)) None
      else if (ownNames.contains(n)) {
        if (ownBloomServes) BloomIndex.loadFilter(f, own, n) else None
      } else if (dataBloomServes) BloomIndex.loadFilter(f, data, n)
      else None
    }
    val index = new ManifestFileIndex(spark,
      (Seq(data) ++ (if (own == data) Nil else Seq(own))),
      dataFiles ++ ownFiles, ranges -- dup,
      bloomKey = bKey, bloomOf = bloomOf)
    val relation = HadoopFsRelation(
      location = index,
      partitionSchema = StructType(Nil),
      dataSchema = readSchema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat,
      options = Map.empty)(spark)
    val vectored = Dv.applyVector(spark, table, v,
      spark.baseRelationToDataFrame(relation))
    if (mapping.isEmpty) vectored
    else {
      val logical = ownMarker.orElse(Versioned.readSchemaMarker(f, data))
        .getOrElse(throw new IllegalStateException(
          s"$table v$v carries a _column_mapping but no _table_schema " +
            "marker — the mapping cannot resolve; the version dir is " +
            "corrupt"))
      vectored.select(logical.fields.toSeq.map { fd =>
        org.apache.spark.sql.functions
          .col(s"`${mapping.getOrElse(fd.name, fd.name)}`").as(fd.name)
      }: _*)
    }
  }

  // ------------------------------------------------- partitioned trees

  /** Hive-layout tree ([[scanPartitioned]]): directory pruning on the
    * partition values PLUS per-file manifest admission, in one
    * [[FileIndex]]. Partition columns are STRING-typed (the values are
    * the dir names, verbatim); `ranges` is keyed by partition-RELATIVE
    * path (`k=v/.../part-...`) because one partitioned write reuses
    * basenames across partition dirs. Partition filters evaluate
    * name-bound against each group's value row; any shape the binding
    * can't resolve admits the group (conservative, like data filters). */
  /** One partition-dir group: the RAW `k=v` path segments (the manifest
    * key space — file keys must reproduce the on-disk spelling) and the
    * DECODED column values (what the scan's partition columns carry:
    * URL-unescaped, with Hive's `__HIVE_DEFAULT_PARTITION__` sentinel
    * read back as NULL — `spark.read.parquet`'s semantics, so swapping
    * the reader never changes values). */
  private final case class PartGroup(rawSegs: Seq[String],
                                     values: Seq[String],
                                     files: Seq[FileStatus])

  private final class PartitionedManifestIndex(
      spark: SparkSession, root: String, partCols: Seq[String],
      groups: Seq[PartGroup],
      ranges: Map[String, Ranges]) extends FileIndex {

    override def rootPaths: Seq[Path] = Seq(new Path(root))
    override def partitionSchema: StructType = StructType(partCols.map(c =>
      org.apache.spark.sql.types.StructField(c,
        org.apache.spark.sql.types.StringType)))
    override def sizeInBytes: Long =
      groups.flatMap(_.files).map(_.getLen).sum
    override def inputFiles: Array[String] =
      groups.flatMap(_.files).map(_.getPath.toString).toArray
    override def refresh(): Unit = ()

    private def relOf(g: PartGroup, name: String): String =
      g.rawSegs.map(_ + "/").mkString + name

    // Evaluate one partition filter against a group's values: bind each
    // AttributeReference to its partition column BY NAME, eval over the
    // UTF8String row, admit iff TRUE (null = excluded, WHERE semantics).
    // EXACTNESS MATTERS here, unlike data-filter admission: Spark drops
    // partition-only filters from the post-scan residual, so a wrongly
    // admitted group's rows would LEAK into results. A static
    // partition-only filter always binds and evals interpreted; a shape
    // that does NOT eval (a dynamic-pruning subquery mid-flight, an
    // unbound attr) is by construction not one of those — it is extra
    // pruning whose parent operator (the join) still filters rows, so
    // admitting the group is safe there and only there.
    private def partAdmits(e: Expression, vals: Seq[String]): Boolean = {
      var unbound = false
      val bound = e.transform {
        case a: AttributeReference =>
          val i = partCols.indexWhere(_.equalsIgnoreCase(a.name))
          if (i < 0) { unbound = true; a }
          else BoundReference(i, org.apache.spark.sql.types.StringType,
            nullable = true)
      }
      if (unbound) return true
      // a subquery-bearing shape (dynamic partition pruning) may not be
      // evaluable here — admitting is safe ONLY for those (see above);
      // a static filter that throws (e.g. an ANSI cast on a dir value)
      // must propagate, exactly as Spark's own partition pruning would
      val dynamic = e.exists(_.isInstanceOf[PlanExpression[_]])
      try {
        val row = InternalRow.fromSeq(vals.map(v =>
          if (v == null) null
          else org.apache.spark.unsafe.types.UTF8String.fromString(v)))
        bound.eval(row) == true
      } catch {
        case scala.util.control.NonFatal(t) => if (dynamic) true else throw t
      }
    }

    private def row(vals: Seq[String]): InternalRow =
      InternalRow.fromSeq(vals.map(v =>
        if (v == null) null
        else org.apache.spark.unsafe.types.UTF8String.fromString(v)))

    override def listFiles(partitionFilters: Seq[Expression],
                           dataFilters: Seq[Expression])
        : Seq[PartitionDirectory] =
      groups.filter { g =>
        partitionFilters.forall(pf => partAdmits(pf, g.values))
      }.map { g =>
        val admitted =
          if (dataFilters.isEmpty || ranges.isEmpty) g.files
          else g.files.filter { fst =>
            val r = ranges.getOrElse(relOf(g, fst.getPath.getName),
              noRanges)
            dataFilters.forall(e => mayMatch(e, r, noBloom))
          }
        PartitionDirectory(row(g.values), admitted.toArray)
      }
  }

  /** A DataFrame over a HIVE-PARTITIONED parquet tree (`k=v/` subdirs,
    * the reference loader's own `year=/month=/day=` bronze layout) whose
    * scan composes BOTH prunings at planning time: partition-directory
    * elimination from the path values (string-typed columns, verbatim
    * dir names) and per-file range admission from the tree's `_stats`
    * manifest ([[StatsIndex.buildPartitionedTree]] — keyed by
    * partition-relative path). A day predicate plus a key range then
    * reads a couple of files out of the whole tree — the two levers a
    * 100 TB bronze lake needs multiplied, not either-or. Files the
    * manifest never saw admit; no manifest at all means partition
    * pruning alone. */
  def scanPartitioned(spark: SparkSession, dir: String): DataFrame = {
    val f = fs(spark, dir)
    def walk(p: Path, segs: Seq[(String, String)])
        : Seq[(Seq[(String, String)], FileStatus)] =
      f.listStatus(p).toSeq.flatMap { s =>
        val n = s.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Nil
        else if (s.isDirectory) {
          val i = n.indexOf('=')
          require(i > 0, s"non-partition subdir '$n' under $dir — " +
            "scanPartitioned serves k=v Hive trees")
          walk(s.getPath, segs :+ (n.substring(0, i) -> n.substring(i + 1)))
        } else if (n.startsWith("part-")) Seq((segs, s))
        else Nil
      }
    val listed = walk(new Path(dir), Nil)
    require(listed.nonEmpty, s"no data files under $dir")
    val partCols = listed.head._1.map(_._1)
    require(partCols.nonEmpty, s"$dir has no k=v partition dirs — use " +
      "SkipScan.scan for flat layouts")
    require(listed.forall(_._1.map(_._1) == partCols),
      s"inconsistent partition columns under $dir")
    // dir values decode to what spark.read's own partition inference
    // yields: URL-unescaped, the Hive null sentinel as a real NULL —
    // swapping readers must never change partition VALUES
    def decode(raw: String): String = {
      val u = org.apache.spark.sql.catalyst.catalog
        .ExternalCatalogUtils.unescapePathName(raw)
      if (u == "__HIVE_DEFAULT_PARTITION__") null else u
    }
    val groups = listed.groupBy(_._1).toSeq.map { case (segs, fs0) =>
      PartGroup(segs.map { case (k, v) => s"$k=$v" },
        segs.map { case (_, v) => decode(v) }, fs0.map(_._2))
    }
    val ranges = loadRanges(spark, dir, StatsIndex.keyOf(spark, dir))
    val dataSchema = spark.read
      .parquet(listed.head._2.getPath.toString).schema
    val index = new PartitionedManifestIndex(spark, dir, partCols,
      groups, ranges)
    val relation = HadoopFsRelation(
      location = index,
      partitionSchema = index.partitionSchema,
      dataSchema = dataSchema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat,
      options = Map.empty)(spark)
    spark.baseRelationToDataFrame(relation)
  }

  /** How many files the (already executed) frame's parquet scans read —
    * the planning-time pruning observable (`df.inputFiles` reports the
    * PRE-pruning relation listing, so the proof lives in the scan's
    * numFiles metric). Run an action on `df` first. */
  def scannedFileCount(df: DataFrame): Long =
    scannedFileCount(df.queryExecution.executedPlan)

  /** [[scannedFileCount]] over an already-executed physical plan — for
    * observing scans that run INSIDE an API (a DML statement's
    * victim-locating pass) where the frame is never handed back; pair
    * with a `QueryExecutionListener` capturing `qe.executedPlan`. */
  def scannedFileCount(plan0: org.apache.spark.sql.execution.SparkPlan)
      : Long = {
    def finalPlan(p: org.apache.spark.sql.execution.SparkPlan)
        : org.apache.spark.sql.execution.SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    def count(p: org.apache.spark.sql.execution.SparkPlan): Long =
      finalPlan(p).collectLeaves().map {
        case s: FileSourceScanExec => s.metrics("numFiles").value
        // AQE materializes exchanges as query stages whose plans hide
        // the scans from the OUTER plan's leaves (a broadcast-joined
        // read — the DV overlay shape — would otherwise count ZERO)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          count(q.plan)
        // a persisted frame hides the scan behind the cache — the metric
        // lives on the plan that BUILT the cache (populated by the
        // materializing action)
        case im: org.apache.spark.sql.execution.columnar
            .InMemoryTableScanExec => count(im.relation.cachedPlan)
        case _ => 0L
      }.sum
    count(plan0)
  }
}
