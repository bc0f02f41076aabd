package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftbridge.{ParquetTaskWriters, V2Bridge}
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 `TableCatalog` over the graft VERSIONED format — the
  * SQL front door the V1 `RelationProvider` cannot be: registering
  * `spark.sql.catalog.graft = graft.sources.GraftCatalog` makes every
  * versioned table addressable as `` graft.`/path/to/table` `` and
  * unlocks the full DML surface over the EXISTING commit protocol:
  *
  *   - `SELECT` reads the snapshot through Spark's own vectorized
  *     parquet scan served by a [[ZoneMapFileIndex]] over the
  *     manifest's exact file list — stats-in-log/bloom-in-log file
  *     pruning at plan time, identical to `readVersionedPruned`;
  *   - `INSERT INTO` / `INSERT OVERWRITE` append/replace through
  *     manifest commits (put-if-absent publish, CHECK constraints,
  *     schema-drift gate — the same gates as `writeVersioned`);
  *   - `DELETE FROM` with a data-source-translatable predicate runs
  *     the proven file-granular copy-on-write `deleteVersioned`
  *     (Spark's metadata-delete hook); any other predicate (e.g. an
  *     IN-subquery) falls to the group-based row-level path below;
  *   - `UPDATE` / `MERGE INTO` run as GROUP-BASED row-level
  *     operations ([[SupportsRowLevelOperations]]): the operation's
  *     scan reads the affected files (command filters elide whole
  *     files via manifest zone stats — never rows), Spark computes
  *     the surviving/updated/inserted rows, and the commit replaces
  *     exactly the scanned files while untouched files carry into the
  *     new manifest verbatim — the Delta/Iceberg copy-on-write MERGE
  *     contract at file granularity.
  *
  * Reference bar: the reference's storage layer resolves
  * reads/writes through one builder surface
  * (HtsjdkReadsRddStorage.java:187-229); this catalog is that surface
  * done the modern Spark way, with SQL DML the reference never had.
  *
  * Identifiers are BARE TABLE PATHS: `` graft.`/abs/path` `` — no
  * namespace levels (a lakehouse path IS the identity; `listTables`
  * is consequently empty: filesystem paths are not enumerable).
  */
object GraftCatalog {
  /** Idempotent session wiring: makes `` graft.`/path` `` resolvable.
    * Catalogs instantiate lazily on first reference, so setting the
    * conf at runtime (before that first reference) is equivalent to a
    * builder-time config.
    */
  def register(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[GraftCatalog].getName)
    // storage-partitioned joins: honor the KeyGroupedPartitioning the
    // partitioned-table scan reports (off by default in Spark).
    // Deliberately unconditional — registering graft opts the session
    // into SPJ; a session that must keep it off (e.g. to work around
    // another V2 source's planner) should flip it back AFTER register.
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
  }

  /** One manifest `P`-line field as the V2 Transform the table
    * reports (partitioning(), required write distribution, and the
    * scan's KeyGroupedPartitioning all must agree).
    */
  private[sources] def v2Transform(f: GraftStorage.PartField)
      : org.apache.spark.sql.connector.expressions.Transform = {
    import org.apache.spark.sql.connector.expressions.Expressions
    f match {
      case GraftStorage.IdentityPart(c) => Expressions.identity(c)
      case GraftStorage.BucketPart(n, c) => Expressions.bucket(n, c)
      case GraftStorage.TemporalPart("years", c) => Expressions.years(c)
      case GraftStorage.TemporalPart("months", c) => Expressions.months(c)
      case GraftStorage.TemporalPart("days", c) => Expressions.days(c)
      case GraftStorage.TemporalPart("hours", c) => Expressions.hours(c)
      case other => throw new IllegalArgumentException(
        s"unreportable partition field: $other")
    }
  }
}

/** The V2 `bucket(n, col)` function: `pmod(hash(col), n)` with
  * Spark's own Murmur3 `hash()` semantics. Two graft tables bucketed
  * with it report transform-compatible `KeyGroupedPartitioning`
  * (identity proven by `canonicalName`), which is what lets Spark
  * plan their join shuffle-free; the function is also evaluated for
  * real — write-side clustered distributions invoke `produceResult`
  * per row, and it must agree exactly with the writer's dir layout.
  */
private[sources] object GraftBucketFunction
    extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  import org.apache.spark.sql.types._
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n, col): pmod(hash(col), n) — the graft bucket-layout id"
  override def bind(inputType: StructType)
      : org.apache.spark.sql.connector.catalog.functions.BoundFunction = {
    require(inputType.fields.length == 2,
      s"graft.bucket expects (numBuckets INT, key); got $inputType")
    val keyType = inputType.fields(1).dataType
    require(GraftStorage.bucketKeyType(keyType),
      s"graft.bucket key type $keyType is not hash-bucketable")
    new org.apache.spark.sql.connector.catalog.functions
        .ScalarFunction[java.lang.Integer] {
      // same interpreted path as the writer and Spark's hash():
      // Murmur3 seed 42 over the key field
      @transient private lazy val hash =
        new org.apache.spark.sql.catalyst.expressions.Murmur3Hash(Seq(
          org.apache.spark.sql.catalyst.expressions.BoundReference(
            1, keyType, nullable = true)))
      override def inputTypes(): Array[DataType] =
        Array(IntegerType, keyType)
      override def resultType(): DataType = IntegerType
      override def isResultNullable: Boolean = false
      override def name(): String = "bucket"
      override def canonicalName(): String = s"graft.bucket($keyType)"
      override def produceResult(
          input: org.apache.spark.sql.catalyst.InternalRow)
          : java.lang.Integer = {
        require(!input.isNullAt(0), "graft.bucket: numBuckets is NULL")
        val n = input.getInt(0)
        require(n > 0, s"graft.bucket: numBuckets must be positive, got $n")
        val h = hash.eval(input).asInstanceOf[Int]
        java.lang.Integer.valueOf(GraftStorage.bucketId(h, n))
      }
    }
  }
}

/** The V2 temporal-transform functions (`years`/`months`/`days`/
  * `hours`): the UTC epoch-unit ordinal of a date/timestamp —
  * [[GraftStorage.temporalId]], the same formula the writer's dir
  * layout and the scan's synthesized zones use. Registering them in
  * the catalog is what lets Spark resolve the transforms a
  * temporally-partitioned table reports (SPJ compatibility checks and
  * write-side clustered distributions both evaluate them for real).
  */
private[sources] final class GraftTemporalFunction(unit: String)
    extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  import org.apache.spark.sql.types._
  override def name(): String = unit
  override def description(): String =
    s"$unit(col): UTC epoch-$unit ordinal — the graft temporal layout id"
  override def bind(inputType: StructType)
      : org.apache.spark.sql.connector.catalog.functions.BoundFunction = {
    require(inputType.fields.length == 1,
      s"graft.$unit expects one date/timestamp argument; got $inputType")
    val keyType = inputType.fields(0).dataType
    require(keyType == TimestampType ||
        (keyType == DateType && unit != "hours"),
      s"graft.$unit does not apply to $keyType")
    new org.apache.spark.sql.connector.catalog.functions
        .ScalarFunction[java.lang.Integer] {
      override def inputTypes(): Array[DataType] = Array(keyType)
      override def resultType(): DataType = IntegerType
      override def isResultNullable: Boolean = true
      override def name(): String = unit
      override def canonicalName(): String = s"graft.$unit($keyType)"
      override def produceResult(
          input: org.apache.spark.sql.catalyst.InternalRow)
          : java.lang.Integer =
        if (input.isNullAt(0)) null
        else java.lang.Integer.valueOf(GraftStorage.temporalId(unit,
          keyType,
          if (keyType == DateType) input.getInt(0) else input.getLong(0)))
    }
  }
}

final class GraftCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  private val temporalUnits = Seq("years", "months", "days", "hours")

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty)
      ("bucket" +: temporalUnits)
        .map(Identifier.of(Array.empty[String], _)).toArray
    else Array.empty

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.namespace.isEmpty && ident.name == "bucket")
      GraftBucketFunction
    else if (ident.namespace.isEmpty && temporalUnits.contains(ident.name))
      new GraftTemporalFunction(ident.name)
    else throw new org.apache.spark.sql.AnalysisException(
      "ROUTINE_NOT_FOUND",
      Map("routineName" ->
        s"`${(ident.namespace :+ ident.name).mkString(".")}`"))

  private var catalogName = "graft"

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = { catalogName = name }

  override def name(): String = catalogName

  private def spark: SparkSession = SparkSession.active

  private def pathOf(ident: Identifier): String = {
    // accept ns-qualified spellings by joining with '/': the only
    // namespace graft has is the filesystem itself
    (ident.namespace :+ ident.name).mkString("/")
  }

  override def listTables(namespace: Array[String]): Array[Identifier] =
    Array.empty

  override def loadTable(ident: Identifier): Table = {
    val p = pathOf(ident)
    // `#history`/`#files`/`#refs`/`#properties` suffixes address the
    // table's METADATA tables (GraftMetaTables) — only the known
    // kinds dispatch, so a data path containing '#' still resolves.
    // An EXACT-path data table always wins: '#' is legal in a
    // filesystem name, so a real table literally named `t#files`
    // must stay addressable even when a sibling table `t` exists
    GraftMetaTables.split(p) match {
      case Some((base, kind))
          if GraftStorage(spark).listVersions(p).isEmpty &&
            GraftStorage(spark).listVersions(base).nonEmpty =>
        return new GraftMetadataTable(base, kind)
      case _ => ()
    }
    if (GraftStorage(spark).listVersions(p).isEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        Seq(catalogName, p))
    new GraftVersionedTable(p)
  }

  /** SQL time travel — `VERSION AS OF <v>`: the snapshot pinned to
    * one committed version (read-only: writes/DML on a historical
    * snapshot are refused, not silently applied to latest). A
    * non-numeric version is a REF NAME (`VERSION AS OF 'rel1'`) and
    * resolves through the table's tags/branches — the Iceberg
    * branch/tag read, so consumers pin audited releases by name.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val p = pathOf(ident)
    val st = GraftStorage(spark)
    val vs = st.listVersions(p)
    if (vs.isEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        Seq(catalogName, p))
    val v = try version.toLong catch {
      case _: NumberFormatException =>
        // ONE ref listing serves both the resolve and the tag/branch
        // discrimination (resolveRef would re-list; refs are per-file
        // reads, a real cost on object stores). resolveRef's name
        // validation still runs first via branchPendingWrites' path
        // construction being gated below on a LISTED name only.
        val refs = st.listRefs(p).toMap
        val resolved = refs.getOrElse(s"tag.$version",
          refs.getOrElse(s"branch.$version",
            throw new IllegalArgumentException(
              s"no tag or branch named '$version' under $p " +
                s"(have: ${refs.keys.toSeq.sorted.mkString(", ")})")))
        // tag wins (resolveRef's order); when the name is a BRANCH
        // carrying staged (unpublished) writes, its pointer alone is
        // NOT the branch state — serving it would silently drop the
        // staged commits, so refuse with the two honest ways out
        val isTag = refs.contains(s"tag.$version")
        if (!isTag && st.branchPendingWrites(p, version) > 0)
          throw new IllegalArgumentException(
            s"branch '$version' of $p has staged unpublished writes; " +
              "SQL time travel serves committed snapshots only — " +
              "branchPublish it, or read the staged state via " +
              "readVersionedBranch")
        resolved
    }
    require(vs.contains(v),
      s"version $v of $p does not exist (have $vs)")
    new GraftVersionedTable(p, Some(v))
  }

  /** `TIMESTAMP AS OF <ts>` — micros since epoch per the connector
    * contract; resolves to the newest version committed at or before
    * the instant (manifest publish mtime, metadata-rate).
    */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val p = pathOf(ident)
    val st = GraftStorage(spark)
    if (st.listVersions(p).isEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        Seq(catalogName, p))
    new GraftVersionedTable(p,
      Some(st.versionAsOf(p, timestampMicros / 1000L)))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // PARTITIONED BY (col | bucket(n, col) | years/months/days/
    // hours(col), ...): identity for low-cardinality keys, bucket
    // for high-cardinality SPJ keys, temporal transforms for the
    // time-partitioned fact layout (each dir doubles as a zone entry)
    val idCols: Seq[String] = partitions.toSeq.map { t =>
      val refs = t.references
      require(refs.length == 1 && refs.head.fieldNames.length == 1,
        s"graft PARTITIONED BY needs single top-level columns; got $t")
      val c = refs.head.fieldNames.head
      t.name match {
        case "identity" => c
        case "bucket" =>
          val n = t.arguments.collectFirst {
            case l: org.apache.spark.sql.connector.expressions.Literal[_]
                if l.value.isInstanceOf[Number] =>
              l.value.asInstanceOf[Number].intValue()
          }.getOrElse(throw new IllegalArgumentException(
            s"bucket transform without a numeric bucket count: $t"))
          s"bucket($n,$c)"
        case u @ ("years" | "months" | "days" | "hours") => s"$u($c)"
        case other => throw new IllegalArgumentException(
          s"graft supports identity, bucket, and years/months/days/" +
            s"hours PARTITIONED BY transforms only; got $other")
      }
    }
    val p = pathOf(ident)
    val st = GraftStorage(spark)
    if (st.listVersions(p).nonEmpty)
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(Seq(catalogName, p))
    // TBLPROPERTIES ('sorted_by'='c1,c2'): declare a per-file sort
    // order at create time — every INSERT/DML write then enforces it
    // (RequiresDistributionAndOrdering) and the scan reports it
    val sortCols: Seq[String] =
      Option(properties.get("sorted_by")).toSeq
        .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
    GraftStorage.requireSortCols(schema, sortCols)
    // TBLPROPERTIES ('delete_mode'='merge-on-read','mor_key'='k'):
    // route SQL DELETE to the O(deleted keys) deletion-vector commit
    // instead of copy-on-write — Iceberg's write.delete.mode shape.
    // mor_key must identify rows uniquely (the deleteVersionedMor /
    // mergeVersioned key contract); both persist as _props side
    // files. VALIDATED BEFORE the v0 commit like every other CREATE
    // check: a refused CREATE must not leave a half-created table
    // that blocks the corrected retry with TableAlreadyExists.
    val deleteMode = Option(properties.get("delete_mode"))
    val morKeyProp = Option(properties.get("mor_key"))
    deleteMode.foreach { m =>
      require(m == "copy-on-write" || m == "merge-on-read",
        s"delete_mode must be copy-on-write or merge-on-read, got '$m'")
      require(m == "copy-on-write" || morKeyProp.exists(_.nonEmpty),
        "delete_mode=merge-on-read requires TBLPROPERTIES mor_key " +
          "(the row-identity column deletion vectors key on)")
    }
    morKeyProp.foreach { k =>
      require(schema.fieldNames.contains(k),
        s"mor_key '$k' is not a column of the table")
    }
    if (idCols.isEmpty)
      st.writeVersioned(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
        p, append = false, Seq.empty, Seq.empty, sortCols)
    else
      st.createVersionedPartitioned(p, schema, idCols, sortCols)
    deleteMode.foreach(m => st.setTableProperty(p, "delete_mode", m))
    morKeyProp.foreach(k => st.setTableProperty(p, "mor_key", k))
    new GraftVersionedTable(p)
  }

  /** DEFAULT-valued columns are accepted (ADD COLUMN ... DEFAULT —
    * Spark gates the DDL on this capability declaration).
    */
  override def capabilities(): util.Set[TableCatalogCapability] =
    util.EnumSet.of(TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  /** The supported ALTER TABLE kinds, each a METADATA-ONLY commit:
    * ADD COLUMNS (one new `H` schema line; existing files surface
    * the columns as NULL, or as the declared DEFAULT), RENAME/DROP
    * COLUMN (an `N` mapping line), widening ALTER COLUMN TYPE (an
    * `H` re-declaration), and SET/UNSET TBLPROPERTIES. Anything
    * else is refused with guidance (constraints have a dedicated
    * surface, addCheckConstraint).
    */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val p = pathOf(ident)
    val st = GraftStorage(spark)
    val adds = changes.collect {
      case a: TableChange.AddColumn =>
        require(a.fieldNames.length == 1,
          "graft ADD COLUMNS supports top-level columns only; got " +
            a.fieldNames.mkString("."))
        val f = org.apache.spark.sql.types.StructField(
          a.fieldNames.head, a.dataType, a.isNullable)
        // `ADD COLUMN d INT DEFAULT 5`: the default rides the field
        // as Spark's standard CURRENT_DEFAULT/EXISTS_DEFAULT metadata
        // pair — addColumnsVersioned validates + constant-folds the
        // existence value (Iceberg v3's initial-default semantics)
        Option(a.defaultValue()) match {
          case None => f
          case Some(dv) =>
            val sql = Option(dv.getSql).getOrElse(
              throw new IllegalArgumentException(
                "graft ADD COLUMN ... DEFAULT requires a " +
                  "SQL-expressible default"))
            f.copy(metadata = new org.apache.spark.sql.types
              .MetadataBuilder()
              .putString("CURRENT_DEFAULT", sql)
              .putString("EXISTS_DEFAULT", sql).build())
        }
    }
    val sets = changes.collect {
      case sp: TableChange.SetProperty => sp }
    val unsets = changes.collect {
      case rp: TableChange.RemoveProperty => rp }
    val renames = changes.collect {
      case rc: TableChange.RenameColumn =>
        require(rc.fieldNames.length == 1,
          "graft RENAME COLUMN supports top-level columns only")
        (rc.fieldNames.head, rc.newName)
    }
    val drops = changes.collect {
      case dc: TableChange.DeleteColumn =>
        require(dc.fieldNames.length == 1,
          "graft DROP COLUMN supports top-level columns only")
        dc.fieldNames.head
    }
    val widens = changes.collect {
      case ut: TableChange.UpdateColumnType =>
        require(ut.fieldNames.length == 1,
          "graft ALTER COLUMN TYPE supports top-level columns only")
        (ut.fieldNames.head, ut.newDataType)
    }
    require(adds.length + sets.length + unsets.length +
        renames.length + drops.length + widens.length == changes.length,
      "graft ALTER TABLE supports ADD COLUMNS, RENAME COLUMN, DROP " +
        "COLUMN, widening ALTER COLUMN TYPE, and SET/UNSET " +
        "TBLPROPERTIES only (constraints go through " +
        "GraftStorage.addCheckConstraint)")
    // SET TBLPROPERTIES rides the validated property path: flipping
    // delete_mode=merge-on-read scans the snapshot once for NULL /
    // missing keys (the identifier-field rule) and refuses loudly
    sets.foreach(sp => st.setTableProperty(p, sp.property, sp.value))
    unsets.foreach(rp => st.removeTableProperty(p, rp.property))
    if (adds.nonEmpty)
      st.addColumnsVersioned(p,
        org.apache.spark.sql.types.StructType(adds))
    renames.foreach { case (from, to) =>
      st.renameColumnVersioned(p, from, to): Unit }
    drops.foreach(c => st.dropColumnVersioned(p, c): Unit)
    widens.foreach { case (c, to) =>
      st.widenColumnVersioned(p, c, to): Unit }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val p = new Path(pathOf(ident))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(new Path(p, "_manifest")) && fs.delete(p, true)
  }

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "RENAME on graft tables: paths are identity; use cloneVersioned")

  // ProcedureCatalog: CALL graft.compact/optimize_zorder/vacuum/
  // restore/clone/add_constraint/drop_constraint — the maintenance
  // console over the commit protocol ([[GraftProcedures]]).
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    // unknown/namespaced procedures surface as ROUTINE_NOT_FOUND (the
    // analyzer's standard unresolved-routine condition), not a raw
    // RuntimeException tooling treats as an internal error
    def notFound() = new org.apache.spark.sql.AnalysisException(
      "ROUTINE_NOT_FOUND",
      Map("routineName" -> (s"`${(ident.namespace :+ ident.name)
        .mkString(".")}` (graft procedures live at the catalog " +
        s"root; have: ${GraftProcedures.names.mkString(", ")})")))
    if (ident.namespace.nonEmpty) throw notFound()
    GraftProcedures.load(ident.name).getOrElse(throw notFound())
  }

  override def listProcedures(namespace: Array[String])
      : Array[Identifier] =
    if (namespace.nonEmpty) Array.empty
    else GraftProcedures.names
      .map(Identifier.of(Array.empty[String], _)).toArray

  // SupportsNamespaces: the filesystem is the namespace tree — accept
  // anything, enumerate nothing (SHOW NAMESPACES is empty by design).
  override def listNamespaces(): Array[Array[String]] = Array.empty
  override def listNamespaces(ns: Array[String]): Array[Array[String]] =
    Array.empty
  override def loadNamespaceMetadata(ns: Array[String])
      : util.Map[String, String] = util.Collections.emptyMap()
  override def createNamespace(ns: Array[String],
      meta: util.Map[String, String]): Unit = ()
  override def alterNamespace(ns: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft namespaces are paths")
  override def dropNamespace(ns: Array[String],
      cascade: Boolean): Boolean = false
}

/** One versioned graft table behind the catalog: batch read, batch
  * write (append/truncate), predicate delete, and group-based
  * copy-on-write row-level operations (UPDATE / MERGE / complex
  * DELETE).
  */
final class GraftVersionedTable(
    private[graft] val path: String,
    private[graft] val pinnedVersion: Option[Long] = None,
    private[graft] val dvApplied: Boolean = false) extends Table
    with SupportsRead with SupportsWrite with SupportsRowLevelOperations
    with SupportsDeleteV2 {

  private def spark: SparkSession = SparkSession.active
  private def st: GraftStorage = GraftStorage(spark)

  /** Historical snapshots are read-only. */
  private def requireLatest(op: String): Unit =
    require(pinnedVersion.isEmpty,
      s"$op on a time-travel snapshot of $path (VERSION AS OF " +
        s"${pinnedVersion.get}) is not allowed; address the table " +
        "without the travel clause to modify it")

  override def name(): String = pinnedVersion
    .fold(s"graft.`$path`")(v => s"graft.`$path` VERSION AS OF $v")

  /** On a `delete_mode=merge-on-read` table the `mor_key` column is
    * declared NON-NULL (Iceberg's identifier-field rule): Spark's
    * delta row-level rewrites require a non-nullable row id, and the
    * ANSI write path then enforces the contract on every SQL insert
    * (a NULL key could never ride a key-based deletion vector — the
    * Scala MoR writers refuse it row-by-row for the same reason).
    * Scala-API writers bypassing the catalog must honor it too.
    */
  override lazy val schema: StructType = {
    val vs = st.listVersions(path)
    require(vs.nonEmpty, s"no versions committed under $path")
    val effective = pinnedVersion.getOrElse(st.latestVisibleVersion(path))
    // RENAME/DROP mapping: the catalog declares LOGICAL names; the
    // physical (stored) schema stays inside the scan machinery
    val base = st.logicalSchemaOf(
      st.versionedScanParts(path, effective).schema,
      st.columnMapping(path, effective))
    // the flip into merge-on-read validated only the CURRENT snapshot
    // (setTableProperty) — a time-travel read of a PRE-FLIP version
    // may hold stored NULL keys, and declaring non-null over them is
    // the codegen-reads-garbage failure mode. Only current-or-later
    // snapshots get the identifier declaration; historical versions
    // stay honestly nullable (they are read-only anyway).
    morDeleteKey match {
      case Some(k) if effective >= st.latestVisibleVersion(path) =>
        StructType(base.map(f =>
          if (f.name.equalsIgnoreCase(k)) f.copy(nullable = false) else f))
      case _ => base
    }
  }

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  /** Computed once per table instance: Spark consults properties()
    * repeatedly on the analysis path, and the common unsorted table
    * must not pay a LIST + manifest read each time.
    */
  private lazy val tableProperties: util.Map[String, String] = {
    val sorted = st.listVersions(path).lastOption
      .map(v => st.sortSpec(path, pinnedVersion.getOrElse(v)))
      .getOrElse(Seq.empty)
    (Map("path" -> path, "provider" -> "graft") ++
      (if (sorted.nonEmpty) Map("sorted_by" -> sorted.mkString(","))
       else Map.empty) ++
      st.tablePropertiesOf(path)).asJava
  }

  override def properties(): util.Map[String, String] = tableProperties

  /** Identity transforms of a partitioned snapshot (DESCRIBE etc.) —
    * read from the cached one-line manifest `P` entry, NOT
    * versionedScanParts (which would run sidecar-collect jobs for a
    * metadata-only question).
    */
  override def partitioning()
      : Array[org.apache.spark.sql.connector.expressions.Transform] = {
    val vs = st.listVersions(path)
    if (vs.isEmpty) Array.empty
    else st.partitionSpec(path, pinnedVersion.getOrElse(st.latestVisibleVersion(path)))
      .map(s => GraftCatalog.v2Transform(GraftStorage.parsePartField(s)))
      .toArray
  }

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = {
    val vs = st.listVersions(path)
    require(vs.nonEmpty, s"no versions committed under $path")
    val v = pinnedVersion
      .orElse(Option(options.get("versionAsOf")).map(_.toLong))
      .getOrElse(st.latestVisibleVersion(path))
    // a V2 batch scan is one file relation; DV anti-joins cannot ride
    // it without silently resurrecting deleted rows. With
    // GraftExtensions registered, [[MorReadRule]] rewrites the
    // relation into `scan ⟕̸ broadcast(DV keys)` at resolution and
    // re-loads the table with dvApplied = true — this refusal is the
    // safety net for sessions running the catalog WITHOUT the
    // extensions (where no rule can inject the anti-join).
    if (!dvApplied && st.hasDeletionVectors(path, Some(v)))
      throw new IllegalArgumentException(
        s"catalog read of $path: snapshot carries merge-on-read " +
          "deletion vectors and this session lacks GraftExtensions " +
          "(which applies them as a broadcast anti-join at plan " +
          "time). Register graft.GraftExtensions, or use " +
          "GraftStorage.readVersioned / the graft_versioned() SQL " +
          "function, or compactVersioned first.")
    // a RENAME/DROP mapping cannot ride a V2 batch scan (files store
    // physical names; the scan schema is logical) — GraftExtensions
    // substitutes the V1 projected plan at analysis; without it,
    // refuse rather than surface nulls under renamed columns
    if (st.hasColumnMapping(path, Some(v)))
      throw new IllegalArgumentException(
        s"catalog read of $path: snapshot renames/drops columns " +
          "(column mapping) and a V2 scan cannot project stored " +
          "names. Register graft.GraftExtensions, or use " +
          "GraftStorage.readVersioned / the graft_versioned() SQL " +
          "function, or compact (REORG) to rewrite the mapping away.")
    val parts = st.versionedScanParts(path, v)
    // manifest-rate aggregate fast path: COUNT(*) from R lines,
    // MIN/MAX from zone stats — zero data files opened (the DV
    // refusal above keeps the counts sound)
    V2Bridge.parquetScanBuilder(spark, parts.files, parts.schema,
      parts.zones, parts.blooms,
      () => st.countVersionedFast(path, Some(v)),
      Some(GraftFilters.mayMatch),
      if (parts.partCols.isEmpty) None
      else Some((parts.partCols.map(s =>
        GraftStorage.parsePartField(s) match {
          case GraftStorage.IdentityPart(c) =>
            org.apache.spark.sql.graftbridge.PartFieldInfo(
              c, None, parts.schema(c).dataType)
          case GraftStorage.BucketPart(n, c) =>
            org.apache.spark.sql.graftbridge.PartFieldInfo(
              c, Some(n), org.apache.spark.sql.types.IntegerType)
          case GraftStorage.TemporalPart(u, c) =>
            org.apache.spark.sql.graftbridge.PartFieldInfo(
              c, None, org.apache.spark.sql.types.IntegerType, Some(u))
        }), parts.partKey)),
      parts.sortCols)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    requireLatest("INSERT")
    new GraftWriteBuilder(path, info.schema())
  }

  /** `delete_mode=merge-on-read` routes row-level SQL to the DELTA
    * operation ([[GraftMorDeltaOperation]]): one O(changed rows)
    * DV + fresh-files commit instead of a copy-on-write file rewrite.
    * Partitioned/sorted tables included — the delta write declares
    * the layout's distribution + ordering and key-rolls its fresh
    * files, so the SPJ layout and sort claim survive. Copy-on-write
    * tables keep the proven group-based operation.
    */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    requireLatest(s"${info.command}")
    () => morDeleteKey match {
      case Some(k) =>
        new GraftMorDeltaOperation(spark, path, info.command, k)
      case _ => new GraftRowLevelOperation(spark, path, info.command)
    }
  }

  // ---- SupportsDeleteV2: the metadata-delete hook. Spark's
  // OptimizeMetadataOnlyDeleteFromTable routes any fully-translatable
  // DELETE here, which runs the file-granular copy-on-write
  // deleteVersioned (rewrites only files holding matching rows) —
  // strictly better than the whole-scan group path. Untranslatable
  // conditions (subqueries) stay on the row-level path.
  /** TBLPROPERTIES('delete_mode'='merge-on-read','mor_key'=k) routes
    * SQL DELETE to the O(deleted keys) DV commit (Iceberg's
    * write.delete.mode). Read through its own dir-less lookup each
    * time: ALTER-free property changes must take effect on the next
    * DELETE, not the next table reload.
    */
  private def morDeleteKey: Option[String] = {
    val props = st.tablePropertiesOf(path)
    if (props.get("delete_mode").contains("merge-on-read"))
      props.get("mor_key")
    else None
  }

  /** merge-on-read WITHOUT a declared key: DELETE routes to POSITION
    * deletion vectors (no identifier contract — the keyless-table
    * form). Dir-less lookup like [[morDeleteKey]].
    */
  private def morPositional: Boolean = {
    val props = st.tablePropertiesOf(path)
    props.get("delete_mode").contains("merge-on-read") &&
      !props.contains("mor_key")
  }

  override def canDeleteWhere(predicates: Array[Predicate]): Boolean =
    // partitioned tables decline the COPY-ON-WRITE shortcut (its
    // rewrite writes an unpartitioned layout, which would silently
    // degrade the storage-partitioned join — the group-based
    // row-level path below writes key-rolled files); the MoR routes
    // are layout-neutral (a DV commit adds no data files), so a
    // partitioned table with delete_mode=merge-on-read accepts
    (morDeleteKey.isDefined || morPositional ||
      st.listVersions(path).lastOption
        .forall(v => st.partitionSpec(path, v).isEmpty)) &&
    predicates.forall(p =>
      V2Bridge.toV1Filter(p).exists(f =>
        GraftFilters.toColumn(f).isDefined))

  override def deleteWhere(predicates: Array[Predicate]): Unit = {
    requireLatest("DELETE")
    val cond = predicates.toSeq
      .flatMap(p => V2Bridge.toV1Filter(p).flatMap(GraftFilters.toColumn))
      .reduceOption(_ && _).getOrElse(lit(true))
    if (morDeleteKey.isEmpty && morPositional) {
      try { st.deleteVersionedMorPos(path, cond): Unit; return }
      catch {
        case e: DvTooLargeException =>
          throw new UnsupportedOperationException(
            s"DELETE on $path: ${e.getMessage}", e)
      }
    }
    morDeleteKey match {
      case Some(k) =>
        try st.deleteVersionedMor(path, cond, k): Unit
        catch {
          // a DV over the broadcast ceiling would tax every read
          // more than one rewrite costs — fall back to copy-on-write
          // (on a partitioned table the rewrite drops the identity
          // layout, the documented maintenance-rewrite tradeoff; a
          // delete this broad is compaction-scale work regardless)
          case _: DvTooLargeException =>
            st.deleteVersioned(path, cond): Unit
        }
      case None => st.deleteVersioned(path, cond): Unit
    }
  }

  override def truncateTable(): Boolean = {
    requireLatest("TRUNCATE")
    st.truncateVersioned(path)
    true
  }
}

/** WriteBuilder for INSERT INTO (append) and INSERT OVERWRITE /
  * TRUNCATE-style replacement. On an identity-partitioned table the
  * write requires CLUSTERED distribution + ordering on the partition
  * columns (`RequiresDistributionAndOrdering`), so each task sees its
  * keys contiguously and the task writer rolls one file per key —
  * SQL INSERTs keep the storage-partitioned layout (and SPJ) alive.
  */
private[sources] final class GraftWriteBuilder(path: String,
    writeSchema: StructType) extends WriteBuilder with SupportsTruncate {

  private var overwrite = false

  override def truncate(): WriteBuilder = { overwrite = true; this }

  override def build(): Write = {
    val mode: GraftCommitMode =
      if (overwrite) GraftCommitMode.Truncate else GraftCommitMode.Append
    val st = GraftStorage(SparkSession.active)
    val last = st.listVersions(path).lastOption
    val partCols = last.map(v => st.partitionSpec(path, v))
      .getOrElse(Seq.empty)
    GraftWrites.forTable(path, writeSchema, mode, partCols,
      last.map(v => st.sortSpec(path, v)).getOrElse(Seq.empty))
  }
}

/** Shared Write construction for the table and row-level paths. */
private[sources] object GraftWrites {
  import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
  import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}

  /** The task-writer key descriptors of a partition spec, resolved
    * against one write schema — shared by the INSERT batch write and
    * the MoR delta write (both roll files per key).
    */
  def writeKeysFor(partCols: Seq[String],
      writeSchema: StructType): Seq[GraftWriteKey] =
    partCols.map(GraftStorage.parsePartField).map {
      case f @ GraftStorage.IdentityPart(c) =>
        GraftWriteKey(f.dirName, writeSchema.fieldIndex(c),
          writeSchema(c).dataType, None)
      case f @ GraftStorage.BucketPart(n, c) =>
        GraftWriteKey(f.dirName, writeSchema.fieldIndex(c),
          writeSchema(c).dataType, Some(n))
      case f @ GraftStorage.TemporalPart(u, c) =>
        GraftWriteKey(f.dirName, writeSchema.fieldIndex(c),
          writeSchema(c).dataType, None, Some(u))
    }

  def forTable(path: String, writeSchema: StructType,
      mode: GraftCommitMode, partCols: Seq[String],
      sortCols: Seq[String] = Seq.empty): Write =
    if (partCols.isEmpty && sortCols.isEmpty) new Write {
      override def toBatch: BatchWrite =
        new GraftBatchWrite(SparkSession.active, path, writeSchema, mode)
    } else {
      val fields = partCols.map(GraftStorage.parsePartField)
      val missing = (fields.map(_.col) ++ sortCols)
        .filterNot(writeSchema.fieldNames.contains)
      require(missing.isEmpty,
        s"write to partitioned/sorted $path lacks " +
          s"columns: ${missing.mkString(", ")}")
      def transform(f: GraftStorage.PartField)
          : org.apache.spark.sql.connector.expressions.Expression =
        GraftCatalog.v2Transform(f)
      new Write with RequiresDistributionAndOrdering {
        override def requiredDistribution(): Distribution =
          if (fields.isEmpty) Distributions.unspecified()
          else Distributions.clustered(fields.map(transform).toArray)
        // rows reach each task ordered by (layout keys, sort cols):
        // per-dir files roll out contiguous AND internally sorted —
        // the table's O claim stays true through every SQL write
        override def requiredOrdering(): Array[SortOrder] =
          (fields.map(f => Expressions.sort(
            transform(f), SortDirection.ASCENDING)) ++
           sortCols.map(c => Expressions.sort(
             Expressions.column(c), SortDirection.ASCENDING))).toArray
        override def toBatch: BatchWrite =
          new GraftBatchWrite(SparkSession.active, path, writeSchema,
            mode, partCols, sortCols)
      }
    }
}

/** One partition-spec field as the TASK WRITER needs it: the dir
  * segment prefix, the key column's ordinal/type in the write schema,
  * and the bucket count (None = identity).
  */
private[sources] final case class GraftWriteKey(
    dirPrefix: String, idx: Int,
    dt: org.apache.spark.sql.types.DataType, bucket: Option[Int],
    temporal: Option[String] = None)

/** How a [[GraftBatchWrite]] forms the new manifest. */
private[sources] sealed trait GraftCommitMode
private[sources] object GraftCommitMode {
  /** carried = previous manifest's raw entries (the append contract). */
  case object Append extends GraftCommitMode
  /** carried = nothing (INSERT OVERWRITE / truncate). */
  case object Truncate extends GraftCommitMode
  /** carried = the row-level operation's UNscanned files + their
    * metadata lines; fresh files replace exactly the scanned groups.
    */
  final case class ReplaceGroups(op: GraftRowLevelOperation)
    extends GraftCommitMode
}

/** The V2 physical write: executor tasks stream InternalRows into
  * parquet part files under a writer-unique `data/c<N>-<uuid>` commit
  * dir (the same layout every other commit path uses), and the driver
  * commit publishes the manifest through the put-if-absent gate —
  * CHECK constraints validated and schema drift rejected BEFORE
  * publish, optimistic-concurrency conflict = loud
  * ConcurrentModificationException with the commit dir removed.
  */
private[sources] final class GraftBatchWrite(
    @transient spark: SparkSession, path: String,
    writeSchema: StructType, mode: GraftCommitMode,
    partCols: Seq[String] = Seq.empty,
    sortCols: Seq[String] = Seq.empty) extends BatchWrite {

  @transient private val st = GraftStorage(spark)
  /** Version this write was planned against (conflict gate). */
  private val baseVersion: Option[Long] = mode match {
    case GraftCommitMode.ReplaceGroups(op) => Some(op.version)
    case _ => st.listVersions(path).lastOption
  }
  private val commitDir: Path = st.newCommitDir(new Path(path),
    baseVersion.map(_ + 1).getOrElse(0L))

  /** RENAME/DROP mapping of the base snapshot: SQL writes arrive in
    * LOGICAL names and the files must store the stable PHYSICAL
    * schema (rows are positional — only field names translate).
    */
  private val physicalSchema: StructType = baseVersion match {
    case Some(v) if mode == GraftCommitMode.Append =>
      val st2 = GraftStorage(SparkSession.active)
      st2.physicalSchemaOf(writeSchema, st2.columnMapping(path, v),
        s"INSERT into $path")
    case _ => writeSchema
  }

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new GraftDataWriterFactory(
      new ParquetTaskWriters(spark, physicalSchema, commitDir.toString),
      physicalSchema.length,
      GraftWrites.writeKeysFor(partCols, physicalSchema))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val s = SparkSession.active
    val store = GraftStorage(s)
    val fs = commitDir.getFileSystem(s.sparkContext.hadoopConfiguration)
    def conflict(): Nothing = {
      fs.delete(commitDir, true)
      throw new java.util.ConcurrentModificationException(
        s"commit conflict: $path advanced past version " +
          s"${baseVersion.getOrElse(-1L)} while this write ran")
    }
    val vsNow = store.listVersions(path)
    mode match {
      case GraftCommitMode.ReplaceGroups(op) =>
        if (vsNow.lastOption != Some(op.version)) conflict()
      case _ => if (vsNow.lastOption != baseVersion) conflict()
    }
    // schema drift gate on append (same check as writeVersioned)
    if (mode == GraftCommitMode.Append && baseVersion.nonEmpty)
      GraftStorage.mergeSchemaJsons(
        store.manifestEntries(path, baseVersion.get).collect {
          case e if e.startsWith("H\t") => e.drop(2)
        } :+ physicalSchema.json)
    val tallies = messages.collect { case m: GraftCommitMessage => m }
      .toSeq.flatMap(_.files)
    val fresh = tallies.map(t => new Path(t._1).toUri.getPath)
    // validate ONLY the reported files: a torn orphan from a crashed
    // attempt sharing the dir must not fail (or pollute) validation
    try store.validateCommitFiles(path, fresh, commitDir, fs)
    catch { case e: Throwable => fs.delete(commitDir, true); throw e }
    // R lines from the writers' own tallies — no commit-time footer
    // re-reads (serialized GETs on an object store); the P spec rides
    // replacement commits itself (append/replace carry the prior one)
    val freshEntries = fresh ++
      tallies.map(t =>
        s"R\t${t._2}\t${new Path(t._1).toUri.getPath}") ++
      (if (partCols.nonEmpty && mode == GraftCommitMode.Truncate)
        Seq("P\t" + partCols.map(GraftStorage.parsePartField(_).spec)
          .mkString(",")) else Seq.empty) ++
      // INSERT OVERWRITE keeps streaming txn markers alive (same
      // contract as TRUNCATE — replayed batches must stay skipped)
      (if (mode == GraftCommitMode.Truncate)
        baseVersion.toSeq.flatMap(v =>
          store.manifestEntries(path, v).filter(_.startsWith("T\t")))
      else Seq.empty) ++
      // the sort claim rides every V2 write that ENFORCED it
      // (requiredOrdering): Truncate re-declares it like P;
      // ReplaceGroups re-declares it because carriedMetaLines
      // deliberately drops O (Scala CoW rewrites do not re-sort);
      // Append inherits the prior manifest's O, sound for the same
      // reason — this write's files arrive sorted
      (if (sortCols.nonEmpty && mode != GraftCommitMode.Append)
        Seq(s"O\t${sortCols.mkString(",")}") else Seq.empty) ++
      Seq(s"H\t${physicalSchema.json}")
    val n = vsNow.lastOption.map(_ + 1).getOrElse(0L)
    mode match {
      case GraftCommitMode.Append if baseVersion.nonEmpty =>
        // SQL INSERT INTO as an O(delta) log-structured commit: the
        // prior snapshot replays, only the fresh lines are written
        store.publishManifestDelta(fs, new Path(path), n, Seq.empty,
          freshEntries, Some(commitDir))
      case GraftCommitMode.Append | GraftCommitMode.Truncate =>
        store.publishManifest(fs, new Path(path), n, freshEntries,
          Some(commitDir))
      case GraftCommitMode.ReplaceGroups(op) =>
        val scanned = op.scannedFiles.toSet
        val untouched = op.allFiles.filterNot(scanned)
        store.publishManifest(fs, new Path(path), n,
          untouched ++
            store.carriedMetaLines(path, op.version, untouched) ++
            freshEntries,
          Some(commitDir))
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val s = SparkSession.active
    val fs = commitDir.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(commitDir, true)
  }
}

/** (file path, row tally) per part file an attempt finished. */
private[sources] final case class GraftCommitMessage(
    files: Seq[(String, Long)]) extends WriterCommitMessage

private[sources] final class GraftDataWriterFactory(
    writers: ParquetTaskWriters,
    expectedFields: Int,
    partKeys: Seq[GraftWriteKey] = Seq.empty) extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[org.apache.spark.sql.catalyst.InternalRow] =
    new DataWriter[org.apache.spark.sql.catalyst.InternalRow] {
      private val sess = writers.session(partitionId, taskId)
      private var w: org.apache.spark.sql.graftbridge.PartFileWriter = _
      private var rowsInFile = 0L
      private var finished: List[(String, Long)] = Nil
      /** Safe COPIES of the open file's key values (UnsafeRow getters
        * return views into a reused buffer — never retain them).
        */
      private var currentKey: Array[Any] = null
      private var tail: TailRow = _
      private var arityChecked = false

      /** Bucket-id evaluators, one per bucket field (Spark's own
        * Murmur3Hash expression — exactly hash(); built executor-side,
        * nothing to serialize).
        */
      private lazy val bucketHash
          : Array[org.apache.spark.sql.catalyst.expressions.Murmur3Hash] =
        partKeys.map(k => k.bucket.map(_ =>
          new org.apache.spark.sql.catalyst.expressions.Murmur3Hash(Seq(
            org.apache.spark.sql.catalyst.expressions.BoundReference(
              k.idx, k.dt, nullable = true)))).orNull).toArray

      private def rawKey(r: org.apache.spark.sql.catalyst.InternalRow,
          i: Int, retain: Boolean): Any = {
        import org.apache.spark.sql.types._
        val k = partKeys(i)
        k.bucket match {
          case Some(n) =>
            // pmod(hash(col), n): hash(null) = the seed, so bucket
            // keys are never null
            val h = bucketHash(i).eval(r).asInstanceOf[Int]
            java.lang.Integer.valueOf(GraftStorage.bucketId(h, n))
          case None if k.temporal.nonEmpty =>
            // temporal ordinal from the raw storage value (epoch-day
            // int / UTC-micros long); NULL source → null key (the
            // default-partition dir, mirroring identity)
            if (r.isNullAt(k.idx)) null
            else {
              val raw: Any = k.dt match {
                case DateType => r.getInt(k.idx)
                case _ => r.getLong(k.idx)
              }
              java.lang.Integer.valueOf(
                GraftStorage.temporalId(k.temporal.get, k.dt, raw))
            }
          case None =>
            val idx = k.idx
            if (r.isNullAt(idx)) null
            else k.dt match {
              case StringType =>
                val s = r.getUTF8String(idx); if (retain) s.clone() else s
              case LongType => java.lang.Long.valueOf(r.getLong(idx))
              case IntegerType | DateType =>
                java.lang.Integer.valueOf(r.getInt(idx))
              case ShortType => java.lang.Short.valueOf(r.getShort(idx))
              case ByteType => java.lang.Byte.valueOf(r.getByte(idx))
              case BooleanType =>
                java.lang.Boolean.valueOf(r.getBoolean(idx))
              case other => throw new IllegalArgumentException(
                s"not an identity-partition key type: $other")
            }
        }
      }

      private def keyChanged(
          r: org.apache.spark.sql.catalyst.InternalRow): Boolean = {
        if (currentKey == null) return true
        var i = 0
        while (i < partKeys.length) {
          val now = rawKey(r, i, retain = false)
          val prev = currentKey(i)
          if (if (now == null) prev != null else !now.equals(prev))
            return true
          i += 1
        }
        false
      }

      /** `<dir>=<value>/...` segments of one row's key (the
        * write-side mirror of partKeyOf; identical escaping). Built
        * only at key boundaries — the per-row path is a raw-value
        * comparison, no string churn.
        */
      private def keyDir(
          r: org.apache.spark.sql.catalyst.InternalRow): String =
        partKeys.zipWithIndex.map { case (k, i) =>
          val v = k.bucket match {
            case Some(_) => rawKey(r, i, retain = false).toString
            case None if k.temporal.nonEmpty =>
              if (r.isNullAt(k.idx)) org.apache.spark.sql.catalyst.catalog
                .ExternalCatalogUtils.DEFAULT_PARTITION_NAME
              else rawKey(r, i, retain = false).toString
            case None =>
              if (r.isNullAt(k.idx)) org.apache.spark.sql.catalyst.catalog
                .ExternalCatalogUtils.DEFAULT_PARTITION_NAME
              else {
                import org.apache.spark.sql.types._
                val raw = k.dt match {
                  case DateType => java.time.LocalDate
                    .ofEpochDay(r.getInt(k.idx)).toString
                  case _ => rawKey(r, i, retain = false).toString
                }
                org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
                  .escapePathName(raw)
              }
          }
          s"${k.dirPrefix}=$v"
        }.mkString("/")

      private def roll(dir: String): Unit = {
        if (w != null) { w.close(); finished ::= (w.path, rowsInFile) }
        w = sess.open(dir)
        rowsInFile = 0L
      }

      // the part file opens on the FIRST row: empty partitions write
      // no file at all (an all-deleting DELETE commits just metadata)
      override def write(r0: org.apache.spark.sql.catalyst.InternalRow)
          : Unit = {
        if (!arityChecked) {
          // Spark 4's group-based row-level rewrites PREPEND an int
          // operation column (RowDeltaUtils.OPERATION_COLUMN) to every
          // written row and — with no metadata projection in play —
          // hand the writer the raw row; the declared write schema
          // (LogicalWriteInfo.schema) stays the bare row schema. Skip
          // that leading marker; any other arity drift is a bug to
          // surface, not mask.
          val extra = r0.numFields - expectedFields
          require(extra == 0 || extra == 1,
            s"graft write: row arity ${r0.numFields} does not match " +
              s"schema arity $expectedFields (+optional operation col)")
          if (extra == 1) tail = new TailRow(1)
          arityChecked = true
        }
        val r = if (tail != null) { tail.row = r0; tail } else r0
        if (partKeys.nonEmpty) {
          // clustered+ordered input: keys arrive contiguously, so a
          // key change rolls to a fresh single-key file (the
          // one-key-per-file invariant key grouping relies on)
          if (w == null || keyChanged(r)) {
            roll(keyDir(r))
            currentKey = partKeys.indices
              .map(i => rawKey(r, i, retain = true)).toArray
          }
        } else if (w == null) roll("")
        w.write(r)
        rowsInFile += 1
      }
      override def commit(): WriterCommitMessage = {
        if (w != null) { w.close(); finished ::= (w.path, rowsInFile) }
        w = null
        GraftCommitMessage(finished.reverse)
      }
      // failed/speculative attempts remove ALL their part files — the
      // open one plus every file this attempt already closed
      override def abort(): Unit = {
        if (w != null) w.abort()
        finished.foreach { case (p, _) => sess.delete(p) }
      }
      override def close(): Unit = ()
    }
}

/** Zero-copy view of an InternalRow with its first `offset` fields
  * hidden — the adapter between Spark 4's operation-column-prefixed
  * ReplaceData rows and a writer expecting bare data rows.
  */
private[sources] final class TailRow(offset: Int)
  extends org.apache.spark.sql.catalyst.InternalRow {
  import org.apache.spark.sql.catalyst.InternalRow
  var row: InternalRow = _
  override def numFields: Int = row.numFields - offset
  override def isNullAt(i: Int): Boolean = row.isNullAt(i + offset)
  override def getBoolean(i: Int): Boolean = row.getBoolean(i + offset)
  override def getByte(i: Int): Byte = row.getByte(i + offset)
  override def getShort(i: Int): Short = row.getShort(i + offset)
  override def getInt(i: Int): Int = row.getInt(i + offset)
  override def getLong(i: Int): Long = row.getLong(i + offset)
  override def getFloat(i: Int): Float = row.getFloat(i + offset)
  override def getDouble(i: Int): Double = row.getDouble(i + offset)
  override def getDecimal(i: Int, precision: Int, scale: Int)
      : org.apache.spark.sql.types.Decimal =
    row.getDecimal(i + offset, precision, scale)
  override def getUTF8String(i: Int)
      : org.apache.spark.unsafe.types.UTF8String =
    row.getUTF8String(i + offset)
  override def getBinary(i: Int): Array[Byte] = row.getBinary(i + offset)
  override def getInterval(i: Int)
      : org.apache.spark.unsafe.types.CalendarInterval =
    row.getInterval(i + offset)
  override def getVariant(i: Int)
      : org.apache.spark.unsafe.types.VariantVal =
    row.getVariant(i + offset)
  override def getGeography(i: Int)
      : org.apache.spark.unsafe.types.GeographyVal =
    row.getGeography(i + offset)
  override def getGeometry(i: Int)
      : org.apache.spark.unsafe.types.GeometryVal =
    row.getGeometry(i + offset)
  override def getStruct(i: Int, numFields: Int): InternalRow =
    row.getStruct(i + offset, numFields)
  override def getArray(i: Int)
      : org.apache.spark.sql.catalyst.util.ArrayData =
    row.getArray(i + offset)
  override def getMap(i: Int)
      : org.apache.spark.sql.catalyst.util.MapData =
    row.getMap(i + offset)
  override def get(i: Int,
      dataType: org.apache.spark.sql.types.DataType): AnyRef =
    row.get(i + offset, dataType)
  override def setNullAt(i: Int): Unit = row.setNullAt(i + offset)
  override def update(i: Int, value: Any): Unit =
    row.update(i + offset, value)
  override def copy(): InternalRow = {
    val t = new TailRow(offset); t.row = row.copy(); t
  }
}

/** One group-based copy-on-write row-level operation (UPDATE, MERGE,
  * or a non-translatable DELETE) pinned to one snapshot version.
  *
  * Group = data file. The operation's scan must return EVERY row of
  * the files it scans (Spark recomputes the survivors), so the only
  * use its ScanBuilder makes of the pushed command filters is WHOLE-
  * FILE elision against the manifest's stats-in-log zones — a file
  * provably holding no matching row is not scanned and is carried
  * into the new manifest verbatim. At 100 TB an UPDATE whose
  * predicate aligns with the stats columns rewrites only the touched
  * files, the copy-on-write contract shared with `deleteVersioned`.
  */
private[sources] final class GraftRowLevelOperation(
    @transient spark: SparkSession, path: String,
    cmd: RowLevelOperation.Command) extends RowLevelOperation {

  @transient private val st = GraftStorage(spark)
  require(st.listVersions(path).nonEmpty,
    s"no versions committed under $path")
  // merge-on-read snapshots: the raw group scan would resurrect
  // DV-deleted rows — refuse with guidance (compact applies the DVs).
  // Checked at first USE, not construction: Spark builds the
  // operation eagerly while ANALYZING every DELETE, including ones
  // the optimizer then routes to the metadata-delete hook (which on
  // a delete_mode=merge-on-read table is how DVs stack on a
  // DV-carrying snapshot); only a scan/write actually read raw files.
  private def requireNoDvs(): Unit = {
    require(!st.hasDeletionVectors(path),
      s"row-level SQL on $path: snapshot carries merge-on-read " +
        "deletion vectors; run compactVersioned (REORG APPLY DELETES) " +
        "first")
    // a RENAME/DROP mapping likewise cannot ride the group scan: it
    // reads and rewrites PHYSICAL names while the plan's attributes
    // are logical — fresh files and their H line would land in
    // logical names next to the carried N mapping, poisoning reads
    require(!st.hasColumnMapping(path),
      s"row-level SQL on $path: the snapshot renames/drops columns " +
        "(column mapping); compact (REORG) first, or use the Scala " +
        "API (deleteVersioned/updateVersioned/mergeVersioned)")
  }
  val version: Long = st.listVersions(path).last
  val allFiles: Seq[String] = st.manifestFiles(path, version)
  @volatile var scannedFiles: Seq[String] = allFiles

  override def command: RowLevelOperation.Command = cmd

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = {
    requireNoDvs()
    new GraftCowScanBuilder(SparkSession.active, path, this)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    requireNoDvs()
    val op = this
    new WriteBuilder {
      override def build(): Write = {
        // a row-level rewrite of a partitioned table writes its
        // replacement files in the SAME identity layout (clustered +
        // key-rolled), so DELETE/UPDATE/MERGE never degrade the
        // storage-partitioned join
        val st = GraftStorage(SparkSession.active)
        GraftWrites.forTable(path, info.schema(),
          GraftCommitMode.ReplaceGroups(op),
          st.partitionSpec(path, op.version),
          st.sortSpec(path, op.version))
      }
    }
  }
}

/** ScanBuilder of the row-level operation's group scan: accepts the
  * command's filters ONLY to elide whole files via manifest zone
  * stats (conservative three-valued check — a kept file is scanned
  * in full, a dropped file provably holds no matching row and is
  * carried). All filters are reported back as post-scan; nothing is
  * ever pushed into parquet row filtering, which would silently drop
  * the very rows the copy-on-write rewrite must carry.
  */
private[sources] final class GraftCowScanBuilder(
    spark: SparkSession, path: String, op: GraftRowLevelOperation)
  extends ScanBuilder with SupportsPushDownFilters {

  private lazy val zones: Sidecar.Zones =
    GraftStorage(spark).versionedScanParts(path, op.version).zones

  override def pushFilters(filters: Array[sources.Filter])
      : Array[sources.Filter] = {
    if (filters.nonEmpty && zones.nonEmpty) {
      // scoped load: only the commands' referenced columns' stats
      val zmap = zones.load(filters.flatMap(_.references).toSet)
      val kept = op.allFiles.filter { f =>
        val stats = zmap.getOrElse(new Path(f).toUri.getPath, Map.empty)
        stats.isEmpty ||
          filters.forall(GraftFilters.mayMatch(stats, _))
      }
      op.scannedFiles = kept
    }
    filters // everything stays post-scan: group elision only
  }

  override def pushedFilters(): Array[sources.Filter] = Array.empty

  override def build(): Scan = {
    val schema = GraftStorage(spark)
      .versionedScanParts(path, op.version).schema
    V2Bridge.parquetFullScan(spark, op.scannedFiles, schema)
  }
}

/** V1 `sources.Filter` helpers: Column reconstruction (for the
  * metadata-delete hook) and conservative zone-stats evaluation (for
  * group elision). Both mirror the semantics of
  * [[ZoneMapFileIndex]]'s Expression-side logic over the V1 ADT.
  */
private[sources] object GraftFilters {

  def toColumn(f: sources.Filter): Option[Column] = f match {
    case sources.EqualTo(a, v) => Some(col(a) === lit(v))
    case sources.EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case sources.GreaterThan(a, v) => Some(col(a) > lit(v))
    case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case sources.LessThan(a, v) => Some(col(a) < lit(v))
    case sources.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case sources.In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case sources.IsNull(a) => Some(col(a).isNull)
    case sources.IsNotNull(a) => Some(col(a).isNotNull)
    case sources.And(l, r) =>
      for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
    case sources.Or(l, r) =>
      for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
    case sources.Not(c) => toColumn(c).map(!_)
    case sources.StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case sources.StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case sources.StringContains(a, v) => Some(col(a).contains(v))
    case sources.AlwaysTrue() => Some(lit(true))
    case sources.AlwaysFalse() => Some(lit(false))
    case _ => None
  }

  /** Could `f` be true for some row of a file with these [min,max]
    * stats? Conservative: unknown shapes/types keep the file.
    */
  def mayMatch(stats: Map[String, (Any, Any)],
      f: sources.Filter): Boolean = f match {
    case sources.And(l, r) => mayMatch(stats, l) && mayMatch(stats, r)
    case sources.Or(l, r) => mayMatch(stats, l) || mayMatch(stats, r)
    case sources.EqualTo(a, v) =>
      bounds(stats, a).forall { case (mn, mx) =>
        cmp(v, mn).forall(_ >= 0) && cmp(v, mx).forall(_ <= 0) }
    case sources.GreaterThan(a, v) =>
      bounds(stats, a).forall { case (_, mx) => cmp(mx, v).forall(_ > 0) }
    case sources.GreaterThanOrEqual(a, v) =>
      bounds(stats, a).forall { case (_, mx) => cmp(mx, v).forall(_ >= 0) }
    case sources.LessThan(a, v) =>
      bounds(stats, a).forall { case (mn, _) => cmp(mn, v).forall(_ < 0) }
    case sources.LessThanOrEqual(a, v) =>
      bounds(stats, a).forall { case (mn, _) => cmp(mn, v).forall(_ <= 0) }
    case sources.In(a, vs) =>
      bounds(stats, a).forall { case (mn, mx) =>
        vs.exists(v =>
          cmp(v, mn).forall(_ >= 0) && cmp(v, mx).forall(_ <= 0)) }
    case _ => true
  }

  /** Non-null [min,max] for an indexed column; None keeps the file. */
  private def bounds(stats: Map[String, (Any, Any)],
      a: String): Option[(Any, Any)] =
    stats.get(a).filter { case (mn, mx) => mn != null && mx != null }

  /** Total-order compare of two EXTERNAL values when their types
    * admit one; None (keep) otherwise — numeric widening included so
    * an Int literal compares against a Long zone bound.
    */
  private def cmp(x: Any, y: Any): Option[Int] = (x, y) match {
    case (null, _) | (_, null) => None
    case (a: java.lang.Number, b: java.lang.Number)
        if integral(a) && integral(b) =>
      Some(java.lang.Long.compare(a.longValue(), b.longValue()))
    case (a: java.lang.Number, b: java.lang.Number) =>
      Some(java.lang.Double.compare(a.doubleValue(), b.doubleValue()))
    // UTF-8 byte order (what parquet used to SELECT the stats and
    // what Spark uses at runtime) — String.compareTo is UTF-16
    // code-unit order and disagrees for supplementary-plane chars
    case (a: String, b: String) =>
      Some(org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)))
    case (a: Comparable[_], b) if a.getClass == b.getClass =>
      Some(a.asInstanceOf[Comparable[Any]].compareTo(b))
    case _ => None
  }

  private def integral(n: java.lang.Number): Boolean = n match {
    case _: java.lang.Long | _: java.lang.Integer |
         _: java.lang.Short | _: java.lang.Byte => true
    case _ => false
  }
}
