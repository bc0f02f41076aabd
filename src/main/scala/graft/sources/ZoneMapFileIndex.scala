package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.datasources.{InMemoryFileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/** Plan-time zone-map pruning — the reference's index-driven split
  * elision (BamSource.java:99-119 SBI chunk lookup,
  * TribbleIndexIntervalFilteringTextInputFormat.java:59-92 tabix split
  * pruning) as a Catalyst-native `FileIndex`.
  *
  * `GraftStorage.readIndexed` prunes eagerly: the caller hands it the
  * range and the driver collects the surviving file list before the
  * plan exists. This class moves the same decision inside the
  * planner: `listFiles` receives the data filters Catalyst pushed to
  * the scan, evaluates them against the `_zonemap` sidecar's per-file
  * [min,max], and drops files no predicate can match — so pruning
  * composes with ANY later `.filter` on the DataFrame, exactly like
  * the reference's getSplits pruning responds to whatever traversal
  * intervals the query carries. The sidecars are metadata read
  * driver-side, same as loading a .sbi/.tbi on the driver.
  *
  * Both sidecars load LAZILY through one [[Sidecar]] provider: Bloom
  * filters are KB-sized per (file, column), so a 100k-file table with
  * several indexed columns would pin GBs of driver memory for columns
  * the query never touches. Each load is scoped to exactly the
  * columns the pushed data filters reference and cached per column —
  * driver memory is bounded by (files × FILTERED columns), and a
  * query that filters no indexed column never reads a sidecar at all.
  *
  * Filter evaluation is three-valued-conservative: a file is kept
  * unless the predicate PROVABLY matches no row, the same contract as
  * parquet row-group stats pruning; unsupported shapes keep the file.
  */
final class ZoneMapFileIndex(
    session: org.apache.spark.sql.classic.SparkSession,
    /** directory root(s) — or an explicit FILE list (a versioned
      * table's manifest pins exactly the snapshot's files; listing
      * the table directory would also surface other commits' files).
      */
    roots: Seq[Path],
    dataSchema: Option[StructType],
    /** zone stats: normalized file path → zone column → (min, max) as
      * EXTERNAL row values.
      */
    zones: Sidecar.Zones,
    /** Bloom filters: normalized file path → column → filter (point-
      * lookup pruning on columns the clustering order can't serve —
      * no false negatives, so dropping a non-matching file is always
      * sound).
      */
    blooms: Sidecar.Blooms)
  extends InMemoryFileIndex(session, roots, Map.empty, dataSchema) {

  /** Test hooks: the sidecar providers this index consults. */
  private[graft] def zoneSidecarForTests: Sidecar.Zones = zones
  private[graft] def bloomSidecarForTests: Sidecar.Blooms = blooms

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val base = super.listFiles(partitionFilters, dataFilters)
    if (dataFilters.isEmpty || (zones.isEmpty && blooms.isEmpty)) base
    else {
      val refs = dataFilters.flatMap(_.references.map(_.name)).toSet
      // a filtered column may be indexed as plain values, as tokenized
      // text (`tokens:<col>` sidecar entries), or both — request
      // whichever flavors exist for the referenced columns
      val bloomed = blooms.load(
        refs.flatMap(n => Seq(n, GraftStorage.TokenBloomPrefix + n)))
      val zoneStats = zones.load(refs)
      base.map { pd =>
        PartitionDirectory(pd.values, pd.files.filter { f =>
          // sidecar maps key by the normalized FULL path — bare names
          // collide across hive partition dirs (same part-file name
          // per partition) and would prune the wrong files
          val key = f.getPath.toUri.getPath
          val stats = zoneStats.getOrElse(key, Map.empty)
          val bl = bloomed.getOrElse(key, Map.empty)
          // file unknown to both sidecars: never prune
          if (stats.isEmpty && bl.isEmpty) true
          else dataFilters.forall(mayMatch(stats, bl, _))
        })
      }
    }
  }

  private type Blooms = Map[String, org.apache.spark.util.sketch.BloomFilter]

  /** Could `e` be true for some row of a file with these stats? */
  private def mayMatch(stats: Map[String, (Any, Any)], bl: Blooms,
      e: Expression): Boolean =
    e match {
      case And(l, r) => mayMatch(stats, bl, l) && mayMatch(stats, bl, r)
      case Or(l, r) => mayMatch(stats, bl, l) || mayMatch(stats, bl, r)
      case EqualTo(a: AttributeReference, l: Literal) =>
        contains(stats, a, l) && bloomMayContain(bl, a, l)
      case EqualTo(l: Literal, a: AttributeReference) =>
        contains(stats, a, l) && bloomMayContain(bl, a, l)
      case GreaterThan(a: AttributeReference, l: Literal) => maxAbove(stats, a, l, strict = true)
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) => maxAbove(stats, a, l, strict = false)
      case LessThan(a: AttributeReference, l: Literal) => minBelow(stats, a, l, strict = true)
      case LessThanOrEqual(a: AttributeReference, l: Literal) => minBelow(stats, a, l, strict = false)
      // literal-first comparisons mirror to the attr-first form
      case GreaterThan(l: Literal, a: AttributeReference) => minBelow(stats, a, l, strict = true)
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) => minBelow(stats, a, l, strict = false)
      case LessThan(l: Literal, a: AttributeReference) => maxAbove(stats, a, l, strict = true)
      case LessThanOrEqual(l: Literal, a: AttributeReference) => maxAbove(stats, a, l, strict = false)
      case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        vs.exists { v =>
          val l = v.asInstanceOf[Literal]
          contains(stats, a, l) && bloomMayContain(bl, a, l)
        }
      // full-text token lookup against a `tokens:<col>` sidecar: the
      // predicate's token set membership maps 1:1 onto the per-file
      // token Bloom (built over the same space-split), so a reject is
      // proof the token occurs in no row of the file
      case ArrayContains(
          StringSplit(a: AttributeReference, sep: Literal, lim: Literal),
          tok: Literal)
          if sep.value != null && sep.value.toString == " " &&
            tok.value != null &&
            // the sidecar blooms the UNLIMITED split; a limited
            // split's remainder token ("b c") is absent from it, so
            // pruning on a limited split would be a FALSE NEGATIVE —
            // only limit -1 (the no-limit form) is sound to serve
            lim.value == -1 =>
        bl.get(GraftStorage.TokenBloomPrefix + a.name) match {
          case Some(bloom) => bloom.mightContainString(tok.value.toString)
          case None => true
        }
      case IsNotNull(a: AttributeReference) =>
        // min==null for an indexed column ⇒ the file has no non-null
        // values there, so IsNotNull matches nothing
        stats.get(a.name).forall { case (mn, _) => mn != null }
      // DERIVED-expression pruning: for f MONOTONE NON-DECREASING in
      // one indexed column (year(), trunc()/date_trunc(), monotone
      // casts), f maps the file's [min,max] onto [f(min),f(max)] —
      // so the same bounds logic decides `f(col) <cmp> lit` without
      // any per-row work: `year(ship) = 1994` prunes a date-clustered
      // table exactly like a raw range predicate. Periodic extractors
      // (month, quarter, day) never match here — they are NOT
      // monotone and would prune wrongly.
      case EqualTo(MonotoneOf(f, a), l: Literal) => monoContains(stats, a, f, l)
      case EqualTo(l: Literal, MonotoneOf(f, a)) => monoContains(stats, a, f, l)
      case GreaterThan(MonotoneOf(f, a), l: Literal) => monoCmp(stats, a, f, l, hi = true, strict = true)
      case GreaterThanOrEqual(MonotoneOf(f, a), l: Literal) => monoCmp(stats, a, f, l, hi = true, strict = false)
      case LessThan(MonotoneOf(f, a), l: Literal) => monoCmp(stats, a, f, l, hi = false, strict = true)
      case LessThanOrEqual(MonotoneOf(f, a), l: Literal) => monoCmp(stats, a, f, l, hi = false, strict = false)
      case GreaterThan(l: Literal, MonotoneOf(f, a)) => monoCmp(stats, a, f, l, hi = false, strict = true)
      case GreaterThanOrEqual(l: Literal, MonotoneOf(f, a)) => monoCmp(stats, a, f, l, hi = false, strict = false)
      case LessThan(l: Literal, MonotoneOf(f, a)) => monoCmp(stats, a, f, l, hi = true, strict = true)
      case LessThanOrEqual(l: Literal, MonotoneOf(f, a)) => monoCmp(stats, a, f, l, hi = true, strict = false)
      case In(MonotoneOf(f, a), vs) if vs.forall(_.isInstanceOf[Literal]) =>
        vs.exists(v => monoContains(stats, a, f, v.asInstanceOf[Literal]))
      case _ => true
    }

  /** Matches f(col) when f is monotone non-decreasing in exactly one
    * indexed attribute: year(), trunc(date)/date_trunc(ts) with a
    * literal unit, threaded through monotone date/timestamp/numeric-
    * widening casts (Spark resolves `year(ts_col)` as
    * `Year(Cast(col AS DATE))`).
    */
  private object MonotoneOf {
    private def attrOf(x: Expression): Option[AttributeReference] = x match {
      case a: AttributeReference => Some(a)
      case Cast(c, dt, _, _) if monotoneCast(c.dataType, dt) => attrOf(c)
      case _ => None
    }
    private def monotoneCast(from: org.apache.spark.sql.types.DataType,
        to: org.apache.spark.sql.types.DataType): Boolean = {
      import org.apache.spark.sql.types._
      def datetime(t: DataType): Boolean = t match {
        case DateType | TimestampType | TimestampNTZType => true
        case _ => false
      }
      (from, to) match {
        // all datetime↔datetime casts are monotone (a timezone shift
        // is order-preserving; date widening/truncation likewise)
        case (f, t) if datetime(f) && datetime(t) => true
        case (f: NumericType, t: NumericType) => Cast.canUpCast(f, t)
        case _ => false
      }
    }
    def unapply(e: Expression): Option[(Expression, AttributeReference)] =
      e match {
        case Year(c) => attrOf(c).map((e, _))
        case TruncDate(c, Literal(_, _)) => attrOf(c).map((e, _))
        case TruncTimestamp(Literal(_, _), c, _) => attrOf(c).map((e, _))
        case _ => None
      }
  }

  /** [f(min), f(max)] for the file plus the literal, all as internal
    * values under f's OUTPUT ordering; None (keep) when the column is
    * unindexed, a bound is null, or f evaluates a bound to null.
    */
  private def monoBounds(stats: Map[String, (Any, Any)],
      a: AttributeReference, f: Expression, l: Literal)
      : Option[(Ordering[Any], Any, Any, Any)] =
    stats.get(a.name) match {
      case Some((mn0, mx0)) if mn0 != null && mx0 != null &&
          l.value != null =>
        // pre-widen stats carry the narrow box under a widened
        // attribute — promote before converting (else CCE)
        val (mn, mx) = (GraftStorage.widenValue(mn0, a.dataType),
          GraftStorage.widenValue(mx0, a.dataType))
        val conv = CatalystTypeConverters.createToCatalystConverter(a.dataType)
        def ev(v: Any): Any = f.transform {
          case ar: AttributeReference if ar.name == a.name =>
            Literal(conv(v), a.dataType)
        }.eval(null)
        val (fmn, fmx) = (ev(mn), ev(mx))
        if (fmn == null || fmx == null) None
        else Some((TypeUtils.getInterpretedOrdering(f.dataType)
          .asInstanceOf[Ordering[Any]], fmn, fmx, l.value))
      case _ => None
    }

  private def monoContains(stats: Map[String, (Any, Any)],
      a: AttributeReference, f: Expression, l: Literal): Boolean =
    monoBounds(stats, a, f, l) match {
      case Some((ord, fmn, fmx, v)) =>
        ord.compare(v, fmn) >= 0 && ord.compare(v, fmx) <= 0
      case None => !nullLit(l)
    }

  /** hi=true: could f(col) exceed lit (checks f(max)); hi=false:
    * could it fall below (checks f(min)).
    */
  private def monoCmp(stats: Map[String, (Any, Any)],
      a: AttributeReference, f: Expression, l: Literal,
      hi: Boolean, strict: Boolean): Boolean =
    monoBounds(stats, a, f, l) match {
      case Some((ord, fmn, fmx, v)) =>
        val c = if (hi) ord.compare(fmx, v) else ord.compare(v, fmn)
        if (strict) c > 0 else c >= 0
      case None => !nullLit(l)
    }

  /** (ordering, internal min, internal max, internal literal) when the
    * column is indexed with non-null bounds and the literal is
    * non-null; None keeps the file except for null literals, which
    * can never satisfy a comparison.
    */
  private def bounds(stats: Map[String, (Any, Any)],
      a: AttributeReference, l: Literal): Option[(Ordering[Any], Any, Any, Any)] =
    stats.get(a.name) match {
      case Some((mn0, mx0)) if mn0 != null && mx0 != null &&
          l.value != null =>
        // promote pre-widen narrow boxes to the attribute's type
        val (mn, mx) = (GraftStorage.widenValue(mn0, a.dataType),
          GraftStorage.widenValue(mx0, a.dataType))
        val conv = CatalystTypeConverters.createToCatalystConverter(a.dataType)
        val ord = TypeUtils.getInterpretedOrdering(a.dataType)
          .asInstanceOf[Ordering[Any]]
        Some((ord, conv(mn), conv(mx), l.value))
      case _ => None
    }

  /** Bloom check for an equality literal: false ONLY when the file's
    * Bloom filter proves the value absent (no false negatives). Columns
    * without a Bloom, null literals (handled by nullLit upstream), and
    * types the build side doesn't hash keep the file.
    */
  private def bloomMayContain(bl: Blooms,
      a: AttributeReference, l: Literal): Boolean =
    bl.get(a.name) match {
      case Some(bloom) if l.value != null =>
        import org.apache.spark.sql.types._
        a.dataType match {
          // integral types are put as putLong on the build side
          case LongType | IntegerType | ShortType | ByteType =>
            bloom.mightContainLong(l.value.asInstanceOf[Number].longValue())
          case StringType => bloom.mightContainString(l.value.toString)
          case _ => true
        }
      case _ => true
    }

  /** `attr <cmp> null` is NULL, never true — prune unconditionally. */
  private def nullLit(l: Literal): Boolean = l.value == null

  private def contains(stats: Map[String, (Any, Any)],
      a: AttributeReference, l: Literal): Boolean =
    bounds(stats, a, l) match {
      case Some((ord, mn, mx, v)) =>
        ord.compare(v, mn) >= 0 && ord.compare(v, mx) <= 0
      case None => !nullLit(l)
    }

  private def maxAbove(stats: Map[String, (Any, Any)],
      a: AttributeReference, l: Literal, strict: Boolean): Boolean =
    bounds(stats, a, l) match {
      case Some((ord, _, mx, v)) =>
        if (strict) ord.compare(mx, v) > 0 else ord.compare(mx, v) >= 0
      case None => !nullLit(l)
    }

  private def minBelow(stats: Map[String, (Any, Any)],
      a: AttributeReference, l: Literal, strict: Boolean): Boolean =
    bounds(stats, a, l) match {
      case Some((ord, mn, _, v)) =>
        if (strict) ord.compare(mn, v) < 0 else ord.compare(mn, v) <= 0
      case None => !nullLit(l)
    }
}

/** Lazy, column-scoped, caching sidecar provider — ONE implementation
  * behind both file-pruning sidecars: zone stats (`V = (min, max)` as
  * external values) and Bloom filters (`V = BloomFilter`). Nothing is
  * read until a query actually filters, and each load is scoped to
  * exactly the requested columns, so plan-time driver bytes are
  * bounded by files × FILTERED columns instead of the table's whole
  * sidecar inventory (a 10⁶-file table with a dozen indexed columns
  * must not pay an O(files × indexed-cols) driver materialization
  * before reading a byte).
  *
  * `meta` answers "which columns does the sidecar cover"; `loader`
  * materializes normalized file path → column → value for a column
  * subset (it may return MORE columns than asked — a small Bloom
  * sidecar loads whole in one job). Loads accumulate: volatile
  * double-checked — racing planner threads may redundantly keep
  * files for one plan, never prune wrongly.
  */
final class Sidecar[V](
    meta: () => Set[String],
    loader: Set[String] => Map[String, Map[String, V]]) {

  /** Columns the sidecar covers (memoized). */
  lazy val columns: Set[String] = meta()

  def isEmpty: Boolean = columns.isEmpty
  def nonEmpty: Boolean = !isEmpty

  @volatile private var loadedCols: Set[String] = Set.empty
  @volatile private var cache: Map[String, Map[String, V]] = Map.empty

  /** Test hook: which columns have been materialized so far. */
  private[graft] def loadedColumns: Set[String] = loadedCols

  /** Rows covering (at least) `cols ∩ columns` — loads only the
    * not-yet-cached subset; a query referencing no covered column
    * reads the sidecar zero times.
    */
  def load(cols: Set[String]): Map[String, Map[String, V]] = {
    val wanted = if (cols.isEmpty) cols else cols.intersect(columns)
    if (wanted.diff(loadedCols).nonEmpty) synchronized {
      // recompute under the lock (double-checked): two concurrently
      // planned queries must not each run the load job for the same
      // columns
      val missing = wanted.diff(loadedCols)
      if (missing.nonEmpty) {
        val fresh = loader(missing)
        cache = (cache.keySet ++ fresh.keySet).iterator.map { f =>
          f -> (cache.getOrElse(f, Map.empty) ++
            fresh.getOrElse(f, Map.empty))
        }.toMap
        loadedCols ++= missing
      }
    }
    cache
  }
}

object Sidecar {
  type Zones = Sidecar[(Any, Any)]
  type Blooms = Sidecar[org.apache.spark.util.sketch.BloomFilter]

  /** No sidecar at all (unindexed table). */
  def empty[V]: Sidecar[V] = new Sidecar[V](() => Set.empty, _ => Map.empty)
}
