// Lives in a subpackage of org.apache.spark.sql so the DataSource V2
// catalog in graft.sources can reuse Spark's OWN parquet scan/write
// machinery (ParquetScanBuilder, FileFormat.prepareWrite,
// SerializableConfiguration) — all private[sql]/private[spark] from
// the outside. Only thin constructors and two small adapter types
// live here; the catalog/table/commit logic stays in graft.sources.
package org.apache.spark.sql.graftbridge

import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownRequiredColumns, SupportsPushDownVariantExtractions, SupportsRuntimeV2Filtering, VariantExtraction}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetScan, ParquetScanBuilder}
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{ByteType, DateType, IntegerType, LongType, ShortType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** One field of a partition spec as the scan layer needs it:
  * `bucket` is Some(n) for `bucket(n,col)` transforms (key value =
  * int bucket id), `unit` is Some(years|months|days|hours) for
  * temporal transforms (key value = int UTC ordinal), and both None
  * for identity (key value = the column value, of `keyType`).
  */
final case class PartFieldInfo(col: String, bucket: Option[Int],
    keyType: org.apache.spark.sql.types.DataType,
    unit: Option[String] = None)

/** One open parquet part file on an executor (adapter over the
  * private[sql] OutputWriter so graft code never names that type).
  */
trait PartFileWriter {
  def write(row: InternalRow): Unit
  def close(): Unit
  /** Abort: close (best effort) and DELETE the partial file, so a
    * failed/speculative attempt leaves nothing in the commit dir.
    */
  def abort(): Unit
  def path: String
}

/** Executor-side parquet part-file opener, built ON THE DRIVER so
  * `FileFormat.prepareWrite` resolves compression/committer settings
  * from the session once; tasks then open files with only the
  * serialized job conf — the same split the built-in file write path
  * uses (FileFormatWriter), re-expressed for a DSv2 BatchWrite.
  */
final class ParquetTaskWriters(
    @transient spark: SparkSession,
    schema: StructType,
    dir: String) extends Serializable {

  private val (factory, jobConf) = {
    val job = Job.getInstance(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.newHadoopConf())
    val f = new ParquetFileFormat().prepareWrite(spark, job,
      Map.empty, schema)
    (f, new SerializableConfiguration(job.getConfiguration))
  }

  /** Per-task writer session: ONE Hadoop Configuration copy and task
    * context for however many part files the task rolls (an identity-
    * partitioned write opens a file per key — copying the conf per
    * key would be hundreds of property iterations on the hot path).
    */
  final class TaskSession(partitionId: Int, taskId: Long) {
    private val conf = new org.apache.hadoop.conf.Configuration(jobConf.value)
    private val ctx = new TaskAttemptContextImpl(conf,
      new TaskAttemptID(
        new TaskID(new JobID("graft", 0), TaskType.MAP, partitionId),
        (taskId % Int.MaxValue).toInt))

    /** Open one part file. The name carries a fresh UUID so
      * speculative/retried attempts never collide; only files named
      * in commit messages enter the manifest. A non-empty `subdir`
      * nests the file (identity layout: `__gp_<col>=<value>`).
      */
    def open(subdir: String): PartFileWriter = {
      val uuid = java.util.UUID.randomUUID.toString.take(8)
      val base = if (subdir.isEmpty) dir else s"$dir/$subdir"
      val file =
        s"$base/part-$partitionId-$uuid${factory.getFileExtension(ctx)}"
      val out = factory.newInstance(file, schema, ctx)
      new PartFileWriter {
        override def write(row: InternalRow): Unit = out.write(row)
        override def close(): Unit = out.close()
        override def abort(): Unit = {
          try out.close() catch { case _: Exception => () }
          delete(file)
        }
        override def path: String = file
      }
    }

    /** Best-effort delete of an already-closed part file (attempt
      * abort cleanup).
      */
    def delete(file: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(file)
      try { p.getFileSystem(conf).delete(p, false): Unit }
      catch { case _: Exception => () }
    }
  }

  def session(partitionId: Int, taskId: Long): TaskSession =
    new TaskSession(partitionId, taskId)
}

/** Delegating ScanBuilder over Spark's [[ParquetScanBuilder]] that
  * answers eligible aggregations at MANIFEST rate: an unfiltered,
  * ungrouped `COUNT(*)` comes from the snapshot's `R` row-count
  * lines and `MIN`/`MAX` over stats-covered columns from the
  * zone-map sidecar — a one-row [[LocalScan]], ZERO data files
  * opened at ANY table size (the Delta/Iceberg "stats-only query"
  * fast path, surfaced through DSv2 complete aggregate pushdown).
  * Anything else — filters in play, grouping, uncovered columns,
  * types whose footer stats are not exact values present in the
  * data (timestamps: NANOS decode deliberately WIDENS the bounds;
  * float/double: NaN ordering drift) — delegates verbatim to the
  * stock parquet builder, so the normal scan path is untouched.
  */
final class MetaAggScanBuilder(
    inner: ParquetScanBuilder,
    rowCount: () => Option[Long],
    zones: graft.sources.Sidecar.Zones,
    files: Seq[String],
    mayMatch: Option[(Map[String, (Any, Any)],
      Filter) => Boolean] = None,
    indexFactory: Option[Seq[String] =>
      org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex]
      = None,
    blooms: Option[RuntimeBloomProbe] = None,
    partSpec: Option[(Seq[PartFieldInfo], String => Option[Seq[Any]])] = None,
    sortCols: Seq[String] = Seq.empty)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownCatalystFilters
    with SupportsPushDownAggregates
    with SupportsPushDownVariantExtractions {

  private var anyFilters = false
  private var meta: Option[(StructType, InternalRow)] = None

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    anyFilters ||= filters.nonEmpty
    inner.pushFilters(filters)
  }
  override def pushedFilters
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    inner.pushedFilters
  override def pruneColumns(requiredSchema: StructType): Unit =
    inner.pruneColumns(requiredSchema)
  override def pushVariantExtractions(
      extractions: Array[VariantExtraction]): Array[Boolean] =
    inner.pushVariantExtractions(extractions)

  // Spark calls supportCompletePushDown then pushAggregation with the
  // same Aggregation — compute the manifest answer once per instance
  // (rowCount() walks the manifest; zones are walked per file)
  private var metaCache: Option[(Aggregation,
    Option[(StructType, InternalRow)])] = None
  private def tryMetaCached(agg: Aggregation)
      : Option[(StructType, InternalRow)] = metaCache match {
    case Some((a, r)) if a eq agg => r
    case _ =>
      val r = tryMeta(agg); metaCache = Some((agg, r)); r
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    tryMetaCached(agg).isDefined || inner.supportCompletePushDown(agg)

  override def pushAggregation(agg: Aggregation): Boolean = {
    meta = tryMetaCached(agg)
    meta.isDefined || inner.pushAggregation(agg)
  }

  override def build(): Scan = meta match {
    case Some((schema, row)) => new LocalScan {
      override def rows(): Array[InternalRow] = Array(row)
      override def readSchema(): StructType = schema
    }
    case None =>
      val scan = inner.build()
      partSpec match {
        // identity-partitioned snapshot with every file keyed: report
        // KeyGroupedPartitioning for storage-partitioned joins (the
        // runtime-filter wrapper is skipped — SPJ's own partition
        // alignment subsumes join-key file pruning here)
        case Some((pcols, keyFn)) if files.nonEmpty &&
            files.forall(f => keyFn(
              new org.apache.hadoop.fs.Path(f).toUri.getPath).isDefined) =>
          // identity fields key by the column value; bucket fields by
          // the int bucket id
          val kschema = StructType(pcols.map(f =>
            StructField(f.col, f.keyType)))
          new KeyGroupedParquetScan(scan, pcols, kschema, keyFn,
            zones, mayMatch, sortCols)
        case _ =>
          // runtime join-key file pruning rides stats-covered tables
          // (a declared sort order rides the same wrapper — with no
          // zones its runtime filter just keeps every file)
          mayMatch match {
            case Some(mm) if zones.nonEmpty || sortCols.nonEmpty =>
              new RuntimeFilteredParquetScan(scan, files, zones,
                inner.dataSchema, mm, indexFactory, blooms, sortCols)
            case _ => scan
          }
      }
  }

  /** Manifest-keyed column names with file paths normalized the way
    * `versionedScanParts` keys its zone rows.
    */
  private lazy val fileKeys: Seq[String] =
    files.map(f => new org.apache.hadoop.fs.Path(f).toUri.getPath)

  /** MIN/MAX are answerable only for types whose zone bounds are
    * guaranteed to be EXACT values present in the data. Strings are
    * deliberately EXCLUDED: the parquet format lets writers truncate
    * binary min/max (widening the bound to a value NOT in the data —
    * the sidecar build explicitly tolerates that for pruning), so a
    * string zone bound is sound as a range but not as an answer.
    */
  private def exactStatType(dt: org.apache.spark.sql.types.DataType)
      : Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | DateType => true
    case _ => false
  }

  /** (field, internal value) for one aggregate function, or None if
    * the manifest cannot answer it exactly.
    */
  private def metaValue(
      f: org.apache.spark.sql.connector.expressions.aggregate.AggregateFunc,
      isMin: Boolean): Option[(StructField, Any)] = {
    val (name, colRef) = f match {
      case m: Min => ("min", m.column()); case m: Max => ("max", m.column())
      case _ => return None
    }
    val col = colRef match {
      case r: NamedReference if r.fieldNames.length == 1 => r.fieldNames.head
      case _ => return None
    }
    val dt = inner.dataSchema.fields.find(_.name == col)
      .map(_.dataType).getOrElse(return None)
    // identity-partition keys are exact by construction (path-derived
    // values, not footer stats) — string partition cols included.
    // Bucket keys carry no column-value bounds. TEMPORAL keys
    // synthesize UNIT-WIDE bounds (month/year first-and-last day:
    // values possibly absent from every row) — never answerable,
    // except days(DATE) whose [d,d] collapses to the exact value.
    val pf = partSpec.toSeq.flatMap(_._1).find(_.col == col)
    val isIdentityKey = pf.exists(f => f.bucket.isEmpty && f.unit.isEmpty)
    if (pf.exists(_.unit.exists(u => !(u == "days" && dt == DateType))))
      return None
    if (!exactStatType(dt) && !(isIdentityKey && dt == StringType))
      return None
    // every file must carry usable bounds for the column ((null,null)
    // = a provably all-null file, which contributes nothing); the
    // sidecar load is scoped to exactly the aggregated column
    val zmap = zones.load(Set(col))
    val perFile: Seq[Option[(Any, Any)]] = fileKeys.map(k =>
      zmap.get(k).flatMap(_.get(col)))
    if (perFile.exists(_.isEmpty)) return None
    val present = perFile.flatten.filter {
      case (mn, mx) => mn != null && mx != null
    }
    val field = StructField(s"$name($col)", dt)
    if (present.isEmpty) Some((field, null)) // provably all-null table
    else {
      // reuse the SQL ordering: catalyst internal values of these
      // types are Comparable (Long/Int/...)
      val conv = CatalystTypeConverters.createToCatalystConverter(dt)
      // pre-widen stats carry the narrow box under a widened column
      val vals = present.map(p => conv(graft.sources.GraftStorage
        .widenValue(if (isMin) p._1 else p._2, dt)))
      val picked = vals.reduce { (a, b) =>
        val c = a.asInstanceOf[Comparable[Any]].compareTo(b)
        if ((c <= 0) == isMin) a else b
      }
      Some((field, picked))
    }
  }

  /** The full aggregation answered from manifest metadata, or None. */
  private def tryMeta(agg: Aggregation)
      : Option[(StructType, InternalRow)] = {
    if (anyFilters || agg.groupByExpressions.nonEmpty) return None
    val cols: Seq[Option[(StructField, Any)]] =
      agg.aggregateExpressions.toSeq.map {
        case _: CountStar =>
          rowCount().map(n => (StructField("count(*)", LongType), n))
        case m: Min => metaValue(m, isMin = true)
        case m: Max => metaValue(m, isMin = false)
        case _ => None
      }
    if (cols.exists(_.isEmpty) || cols.isEmpty) None
    else {
      val resolved = cols.flatten
      Some((StructType(resolved.map(_._1)),
        InternalRow.fromSeq(resolved.map(_._2))))
    }
  }
}

/** Delegating Scan over a built [[ParquetScan]] adding DSv2 RUNTIME
  * file pruning ([[SupportsRuntimeV2Filtering]]): when a join's build
  * side finishes, Spark hands the scan the runtime predicate
  * (dynamic-partition-pruning style `key IN (...)`), and files whose
  * manifest zone stats provably cannot hold any matching row are
  * dropped BEFORE any task reads them — the plan-time stats-in-log
  * pruning applied again at runtime with the join's actual keys. The
  * 100 TB shape: a fact-table scan joined to a filtered dimension
  * reads only the fact files the surviving dimension keys can touch,
  * with zero reliance on static predicates. Untranslatable or
  * uncovered predicates conservatively keep every file.
  */
final class RuntimeFilteredParquetScan(
    val initial: ParquetScan,
    val files: Seq[String],
    zones: graft.sources.Sidecar.Zones,
    indexSchema: StructType,
    mayMatch: (Map[String, (Any, Any)], Filter) => Boolean,
    indexFactory: Option[Seq[String] =>
      org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex]
      = None,
    blooms: Option[RuntimeBloomProbe] = None,
    sortCols: Seq[String] = Seq.empty)
  extends Scan with SupportsRuntimeV2Filtering
  with org.apache.spark.sql.connector.read.SupportsReportOrdering
  with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  /** Scan/exchange reuse: two scans of the same snapshot must stay
    * `sameResult` (self-joins, multiply-referenced CTEs) — the bare
    * ParquetScan is a case class and compared structurally; wrapping
    * it must not demote that to reference equality, or the 100 TB
    * table gets scanned once per reference.
    */
  override def equals(other: Any): Boolean = other match {
    case r: RuntimeFilteredParquetScan =>
      r.initial == initial && r.files == files
    case _ => false
  }
  override def hashCode(): Int = 31 * initial.hashCode() + files.hashCode()

  /** Join planning must keep seeing the parquet scan's size stats —
    * hiding them would default the relation to sizeInBytes=MAX and
    * kill every broadcast decision on catalog tables.
    */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    current.estimateStatistics()

  @volatile private var current: ParquetScan = initial

  /** Files the next planInputPartitions will serve (test/telemetry
    * observability of runtime pruning; starts at the manifest list).
    */
  def currentFileCount: Int =
    current.fileIndex.allFiles().size

  /** How many runtime filter() calls reached this scan (tests). */
  @volatile var filterCalls: Int = 0
  /** V1-translated runtime predicates seen (tests). */
  @volatile var seenFilters: Seq[Filter] = Seq.empty

  override def readSchema(): StructType = current.readSchema()
  override def description(): String = current.description()

  /** Per-PARTITION sort order of a table whose manifest carries an
    * `O` claim: reported for the longest prefix of the sort columns
    * surviving column pruning (a pruned sort column would leave an
    * unresolvable reference). When reported, partitions are
    * re-planned ONE PER SPLIT — every byte range of an internally
    * sorted file streams in file order, so each split is itself
    * sorted, whereas Spark's bin-packing may concatenate unrelated
    * files into one partition and break the claim.
    */
  private lazy val reportedOrdering =
    V2Bridge.orderingFor(sortCols, readSchema())

  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    reportedOrdering

  override def toBatch: org.apache.spark.sql.connector.read.Batch =
    if (reportedOrdering.nonEmpty) new SingleSplitSortedBatch(current)
    else current
  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    current.supportedCustomMetrics()
  override def reportDriverMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    current.reportDriverMetrics()
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    current.columnarSupportMode()

  /** Columns with zone stats on at least one file: per-file pruning
    * stays conservative for files that lack them. Restricted to the
    * PRUNED read schema: PartitionPruning resolves these refs against
    * the relation's (column-pruned) output and THROWS on a miss, so
    * advertising a zone column the query never reads would crash any
    * join over this scan (runtime filters on a pruned-away column
    * cannot be pushed anyway — no join key maps to it).
    */
  override def filterAttributes(): Array[NamedReference] = {
    val visible = readSchema().fieldNames.toSet
    zones.columns.filter(visible).toArray
      .map(org.apache.spark.sql.connector.expressions.FieldReference
        .column(_): NamedReference)
  }

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions
        .filter.Predicate]): Unit = {
    filterCalls += 1
    val v1 = predicates.toSeq.flatMap(V2Bridge.toV1Filter)
    seenFilters = v1
    if (v1.nonEmpty) {
      // point predicates (the DPP IN-list) also probe the bloom-in-log
      // sidecar: zone ranges on an unclustered join key are wide, the
      // Bloom rejects per-key — loaded once, only for filtered columns
      val bloomed = blooms.map(_.load(v1)).getOrElse(Map.empty)
      // zone rows load scoped to the runtime predicate's columns
      val zmap = zones.load(v1.flatMap(_.references).toSet)
      val kept = files.filter { f =>
        val key = new org.apache.hadoop.fs.Path(f).toUri.getPath
        val stats = zmap.getOrElse(key, Map.empty)
        val bl = bloomed.getOrElse(key, Map.empty)
        (stats.isEmpty && bl.isEmpty) || v1.forall(p =>
          mayMatch(stats, p) &&
            blooms.forall(_.mayContain(bl, indexSchema, p)))
      }
      if (kept.size < files.size) {
        // rebuild through the SAME ZoneMapFileIndex factory the
        // plan-time scan used — a plain InMemoryFileIndex here would
        // silently drop static zone/bloom pruning for the re-planned
        // scan (kept files still prune on the query's own predicates)
        val index = indexFactory.map(_(kept)).getOrElse(
          new org.apache.spark.sql.execution.datasources
            .InMemoryFileIndex(current.sparkSession,
              kept.map(new org.apache.hadoop.fs.Path(_)),
              Map.empty, Some(indexSchema)))
        current = current.copy(fileIndex = index)
      }
    }
  }
}

/** Bloom-in-log probing for RUNTIME predicates: `load` reads the
  * filters for the columns the runtime filter touches (file → col →
  * Bloom) from the same sidecar cache plan-time pruning fills;
  * `mayContain` rejects a file when a point predicate's key provably
  * misses its Bloom. Conservative everywhere else — range predicates,
  * unbloomed columns, and unsupported types keep the file.
  */
final class RuntimeBloomProbe(blooms: graft.sources.Sidecar.Blooms) {

  private def pointCols(f: Filter): Set[String] = f match {
    case org.apache.spark.sql.sources.And(l, r) =>
      pointCols(l) ++ pointCols(r)
    case org.apache.spark.sql.sources.Or(l, r) =>
      pointCols(l) ++ pointCols(r)
    case org.apache.spark.sql.sources.EqualTo(a, _) => Set(a)
    case org.apache.spark.sql.sources.In(a, _) => Set(a)
    case _ => Set.empty
  }

  def load(filters: Seq[Filter])
      : Map[String, Map[String, org.apache.spark.util.sketch.BloomFilter]] =
    blooms.load(filters.flatMap(pointCols).toSet)

  private def probe(
      bl: Map[String, org.apache.spark.util.sketch.BloomFilter],
      schema: StructType, col: String, v: Any): Boolean =
    bl.get(col) match {
      case Some(bloom) if v != null =>
        schema.fields.find(_.name == col).map(_.dataType) match {
          // integral keys are put as putLong on the build side
          case Some(LongType | IntegerType | ShortType | ByteType) =>
            bloom.mightContainLong(v.asInstanceOf[Number].longValue())
          case Some(StringType) => bloom.mightContainString(v.toString)
          case _ => true
        }
      case _ => true
    }

  /** Could `f` hold for some row of a file with these blooms? */
  def mayContain(
      bl: Map[String, org.apache.spark.util.sketch.BloomFilter],
      schema: StructType, f: Filter): Boolean = f match {
    case org.apache.spark.sql.sources.And(l, r) =>
      mayContain(bl, schema, l) && mayContain(bl, schema, r)
    case org.apache.spark.sql.sources.Or(l, r) =>
      mayContain(bl, schema, l) || mayContain(bl, schema, r)
    case org.apache.spark.sql.sources.EqualTo(a, v) => probe(bl, schema, a, v)
    case org.apache.spark.sql.sources.In(a, vs) =>
      vs.isEmpty || vs.exists(v => probe(bl, schema, a, v))
    case _ => true
  }
}

/** Batch wrapper under which a per-file sort claim holds per input
  * partition (see [[RuntimeFilteredParquetScan.outputOrdering]]):
  * partitions holding splits of ONE file are kept intact (ranges of
  * a sorted file, replayed in offset order, stream sorted — this
  * preserves the common one-file-per-partition plan unchanged), and
  * only partitions where bin-packing mixed DIFFERENT files are
  * exploded one-split-per-partition. The cost is paid exactly where
  * the packing would have broken the claim — a well-compacted table
  * plans identically to the unsorted scan.
  */
final class SingleSplitSortedBatch(
    delegate: org.apache.spark.sql.connector.read.Batch)
  extends org.apache.spark.sql.connector.read.Batch {
  override def planInputPartitions()
      : Array[org.apache.spark.sql.connector.read.InputPartition] =
    delegate.planInputPartitions().flatMap {
      case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
        if (fp.files.map(_.filePath.toString).distinct.length <= 1)
          Array(fp.copy(files = fp.files.sortBy(_.start))
            : org.apache.spark.sql.connector.read.InputPartition)
        else fp.files.map(f => org.apache.spark.sql.execution.datasources
          .FilePartition(0, Array(f))
          : org.apache.spark.sql.connector.read.InputPartition)
      case other => Array(other)
    }.zipWithIndex.map {
      case (fp: org.apache.spark.sql.execution.datasources.FilePartition,
          i) => fp.copy(index = i)
      case (p, _) => p
    }
  override def createReaderFactory()
      : org.apache.spark.sql.connector.read.PartitionReaderFactory =
    delegate.createReaderFactory()
}

/** An input partition holding every split of ONE identity-partition
  * key ([[org.apache.spark.sql.connector.read.HasPartitionKey]]);
  * the stock parquet reader factory runs the wrapped FilePartition.
  */
final case class KeyedFilePartition(
    fp: org.apache.spark.sql.execution.datasources.FilePartition,
    key: InternalRow)
  extends org.apache.spark.sql.connector.read.InputPartition
  with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = key
  override def preferredLocations(): Array[String] = fp.preferredLocations()
}

/** Reader factory unwrapping [[KeyedFilePartition]] back to the
  * delegate's FilePartition.
  */
final case class KeyedUnwrapReaderFactory(
    inner: org.apache.spark.sql.connector.read.PartitionReaderFactory)
  extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  private def fp(p: org.apache.spark.sql.connector.read.InputPartition) =
    p.asInstanceOf[KeyedFilePartition].fp
  override def createReader(
      p: org.apache.spark.sql.connector.read.InputPartition) =
    inner.createReader(fp(p))
  override def createColumnarReader(
      p: org.apache.spark.sql.connector.read.InputPartition) =
    inner.createColumnarReader(fp(p))
  override def supportColumnarReads(
      p: org.apache.spark.sql.connector.read.InputPartition): Boolean =
    inner.supportColumnarReads(fp(p))
}

/** STORAGE-PARTITIONED JOIN scan over an identity-partitioned graft
  * snapshot: the delegate ParquetScan's planned splits are regrouped
  * into one input partition PER PARTITION KEY (each implementing
  * `HasPartitionKey`), and the scan reports `KeyGroupedPartitioning`
  * — so a join or aggregation keyed on the partition columns runs
  * with ZERO shuffle on either side (Spark's v2 bucketing, the
  * Iceberg SPJ design). At 100 TB this removes the single biggest
  * exchange of a co-partitioned fact-fact join; static zone pruning
  * still applies underneath (pruned files simply drop their key
  * group). Engages only when every planned file parses a key, so
  * snapshots mixing unpartitioned commits degrade to a plain scan,
  * never to wrong grouping.
  */
final class KeyGroupedParquetScan(
    val delegate: ParquetScan,
    val partCols: Seq[PartFieldInfo],
    keySchema: StructType,
    keyOf: String => Option[Seq[Any]],
    zones: graft.sources.Sidecar.Zones = graft.sources.Sidecar.empty,
    mayMatch: Option[(Map[String, (Any, Any)], Filter) => Boolean] = None,
    sortCols: Seq[String] = Seq.empty)
  extends Scan with org.apache.spark.sql.connector.read.Batch
  with org.apache.spark.sql.connector.read.SupportsReportPartitioning
  with org.apache.spark.sql.connector.read.SupportsReportOrdering
  with SupportsRuntimeV2Filtering
  with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  override def equals(other: Any): Boolean = other match {
    case k: KeyGroupedParquetScan =>
      k.delegate == delegate && k.partCols == partCols
    case _ => false
  }
  override def hashCode(): Int = 31 * delegate.hashCode() + partCols.hashCode()

  override def readSchema(): StructType = delegate.readSchema()
  override def description(): String =
    "KeyGrouped(" + partCols.map(f => f.bucket
      .map(n => s"bucket($n,${f.col})")
      .orElse(f.unit.map(u => s"$u(${f.col})"))
      .getOrElse(f.col)).mkString(",") +
      ") " + delegate.description()
  override def toBatch: org.apache.spark.sql.connector.read.Batch = this
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    delegate.estimateStatistics()
  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    delegate.supportedCustomMetrics()
  override def reportDriverMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    delegate.reportDriverMetrics()
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    delegate.columnarSupportMode()

  /** Splits regrouped by key, deterministically ordered. Computed
    * once: `outputPartitioning().numPartitions` and
    * `planInputPartitions()` MUST agree — runtime filtering prunes
    * splits WITHIN groups and never drops a group (a fully-pruned
    * key keeps an empty partition; Spark requires the grouping
    * preserved across runtime filters).
    */
  private lazy val groups: Array[KeyedFilePartition] = {
    val splits = delegate.toBatch.planInputPartitions().flatMap {
      case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
        fp.files
      case other => throw new IllegalStateException(
        s"parquet scan planned a non-file partition: $other")
    }
    val convs = keySchema.fields
      .map(f => CatalystTypeConverters.createToCatalystConverter(f.dataType))
    val byKey = splits.groupBy { pf =>
      keyOf(pf.toPath.toUri.getPath).getOrElse(
        throw new IllegalStateException(
          s"unkeyed file in a key-grouped scan: ${pf.filePath}"))
    }
    byKey.toSeq.sortBy(_._1.map(String.valueOf).mkString("\u0000"))
      .zipWithIndex.map { case ((key, pfs), i) =>
        val row = InternalRow.fromSeq(
          key.zip(convs).map { case (v, c) => c(v) })
        // splits in (file, offset) order: ranges of one sorted file
        // then stream in file order, so a one-file group upholds the
        // table's sort claim partition-wide (see outputOrdering)
        KeyedFilePartition(
          org.apache.spark.sql.execution.datasources.FilePartition(
            i, pfs.sortBy(f => (f.filePath.toString, f.start)).toArray),
          row)
      }.toArray
  }

  /** Per-partition sort order of a sorted (`O`-claimed) table: sound
    * only when every key group holds splits of AT MOST ONE file (two
    * sorted files concatenate unsorted) — the shape a compacted or
    * cluster-written table has. Reported for the longest prefix of
    * the sort columns surviving column pruning. Together with the
    * KeyGroupedPartitioning above this plans the zero-exchange,
    * ZERO-SORT sort-merge join.
    */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    if (sortCols.nonEmpty && groups.forall(
        _.fp.files.map(_.filePath.toString).distinct.size <= 1))
      V2Bridge.orderingFor(sortCols, readSchema())
    else Array.empty

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    new org.apache.spark.sql.connector.read.partitioning
      .KeyGroupedPartitioning(
        partCols.map { f =>
          import org.apache.spark.sql.connector.expressions.{Expressions => E}
          (f.bucket, f.unit) match {
            case (Some(n), _) => E.bucket(n, f.col)
              : org.apache.spark.sql.connector.expressions.Expression
            case (_, Some("years"))  => E.years(f.col)
            case (_, Some("months")) => E.months(f.col)
            case (_, Some("days"))   => E.days(f.col)
            case (_, Some("hours"))  => E.hours(f.col)
            case _ => E.identity(f.col)
          }
        }.toArray,
        groups.length)

  /** Files surviving runtime predicates (null: no filter yet). When
    * SPJ cannot engage — the other join side is not co-partitioned —
    * the dynamic join keys still elide files through the synthesized
    * exact partition-key zones, the same DPP-style pruning the
    * unpartitioned runtime scan performs.
    */
  @volatile private var keptFiles: Set[String] = null
  /** Runtime filter() calls observed (tests). */
  @volatile var filterCalls: Int = 0

  private def pathOf(
      pf: org.apache.spark.sql.execution.datasources.PartitionedFile)
      : String = pf.toPath.toUri.getPath

  // restricted to the pruned read schema — see the unpartitioned
  // scan's filterAttributes note (PartitionPruning throws on a ref
  // absent from the relation output)
  override def filterAttributes(): Array[NamedReference] = {
    val visible = readSchema().fieldNames.toSet
    zones.columns.filter(visible).toArray
      .map(org.apache.spark.sql.connector.expressions.FieldReference
        .column(_): NamedReference)
  }

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions
        .filter.Predicate]): Unit = {
    filterCalls += 1
    val v1 = predicates.toSeq.flatMap(V2Bridge.toV1Filter)
    if (v1.nonEmpty && mayMatch.isDefined) {
      val mm = mayMatch.get
      // scoped load: the join keys' columns only (identity keys are
      // path-synthesized — zero sidecar bytes for a pure SPJ elision)
      val zmap = zones.load(v1.flatMap(_.references).toSet)
      keptFiles = groups.iterator.flatMap(_.fp.files).map(pathOf)
        .filter { f =>
          val stats = zmap.getOrElse(f, Map.empty)
          stats.isEmpty || v1.forall(mm(stats, _))
        }.toSet
    }
  }

  override def planInputPartitions()
      : Array[org.apache.spark.sql.connector.read.InputPartition] = {
    val kept = keptFiles
    val out: Array[KeyedFilePartition] =
      if (kept == null) groups
      else groups.map(g => g.copy(
        fp = org.apache.spark.sql.execution.datasources.FilePartition(
          g.fp.index, g.fp.files.filter(f => kept.contains(pathOf(f))))))
    out.toArray[org.apache.spark.sql.connector.read.InputPartition]
  }

  override def createReaderFactory()
      : org.apache.spark.sql.connector.read.PartitionReaderFactory =
    KeyedUnwrapReaderFactory(delegate.toBatch.createReaderFactory())
}

object V2Bridge {

  private def classic(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** The RowLevelOperation behind a row-level command's read
    * relation, if `t` is Spark's (private[sql])
    * RowLevelOperationTable wrapper — lets graft's analyzer rules
    * recognize the target read of an UPDATE/MERGE/DELETE delta plan
    * without naming the type.
    */
  def rowLevelOperationOf(t: org.apache.spark.sql.connector.catalog.Table)
      : Option[org.apache.spark.sql.connector.write.RowLevelOperation] =
    t match {
      case rt: org.apache.spark.sql.connector.write.RowLevelOperationTable =>
        Some(rt.operation)
      case _ => None
    }

  /** Connector SortOrders for a declared sort, restricted to the
    * longest prefix surviving column pruning (Spark resolves the
    * references against the scan's output; a pruned column would be
    * unresolvable, and a non-prefix subset would claim an order the
    * files do not have). Ascending nulls-first — exactly what the
    * write side's `sortWithinPartitions` produced.
    */
  def orderingFor(sortCols: Seq[String], readSchema: StructType)
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions, FieldReference, SortDirection}
    sortCols.takeWhile(readSchema.fieldNames.contains)
      .map(c => Expressions.sort(
        FieldReference.column(c), SortDirection.ASCENDING))
      .toArray
  }

  /** Spark's own vectorized parquet ScanBuilder (pushdown, column
    * pruning, aggregate pushdown) over an EXACT file list served
    * through a [[graft.sources.ZoneMapFileIndex]] — the V2 read path
    * of a graft versioned table: manifest pins the files, stats-in-log
    * prunes them at plan time, the stock parquet scan reads the rest.
    */
  def parquetScanBuilder(
      spark: SparkSession,
      files: Seq[String],
      schema: StructType,
      zones: graft.sources.Sidecar.Zones,
      blooms: graft.sources.Sidecar.Blooms,
      rowCount: () => Option[Long] = () => None,
      mayMatch: Option[(Map[String, (Any, Any)],
        Filter) => Boolean] = None,
      partSpec: Option[(Seq[PartFieldInfo], String => Option[Seq[Any]])] = None,
      sortCols: Seq[String] = Seq.empty)
      : ScanBuilder = {
    def mkIndex(fs: Seq[String]): graft.sources.ZoneMapFileIndex =
      new graft.sources.ZoneMapFileIndex(classic(spark),
        fs.map(new org.apache.hadoop.fs.Path(_)), Some(schema), zones,
        blooms)
    val index = mkIndex(files)
    new MetaAggScanBuilder(
      ParquetScanBuilder(classic(spark), index, schema, schema,
        CaseInsensitiveStringMap.empty()),
      rowCount, zones, files, mayMatch,
      Some(mkIndex(_)),
      Some(new RuntimeBloomProbe(blooms)),
      partSpec, sortCols)
  }

  /** A parquet scan over an exact file list with NOTHING pushed down —
    * the row-level operation's group scan: a copy-on-write rewrite
    * must see EVERY row of the files it will replace, so the only
    * legal use of the command's filters is whole-file elision (done by
    * the caller against manifest stats), never parquet row filtering.
    */
  def parquetFullScan(
      spark: SparkSession,
      files: Seq[String],
      schema: StructType): org.apache.spark.sql.connector.read.Scan = {
    val index = new org.apache.spark.sql.execution.datasources.InMemoryFileIndex(
      classic(spark), files.map(new org.apache.hadoop.fs.Path(_)),
      Map.empty, Some(schema))
    ParquetScanBuilder(classic(spark), index, schema, schema,
      CaseInsensitiveStringMap.empty()).build()
  }

  /** V2 Predicate → V1 Filter (None when the shape has no V1 form). */
  def toV1Filter(
      p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Option[Filter] =
    org.apache.spark.sql.internal.connector.PredicateUtils.toV1(p)
}
