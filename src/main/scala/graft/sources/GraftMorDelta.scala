package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.graftbridge.ParquetTaskWriters
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DELTA-BASED row-level SQL on merge-on-read tables — the DSv2
  * [[SupportsDelta]] half of the MoR story (Iceberg's Spark
  * integration uses the same interface): where the group-based
  * [[GraftRowLevelOperation]] rewrites every file holding a match
  * (copy-on-write) and refuses DV-carrying snapshots outright, this
  * operation turns SQL `UPDATE` / `MERGE INTO` / untranslatable
  * `DELETE` on a `delete_mode=merge-on-read` table into ONE O(delta)
  * commit: a deletion vector of the touched rows' keys plus the fresh
  * row copies as new data files — zero existing files moved, however
  * many files the victims are scattered across (the 100 TB CDC-apply
  * shape, SQL-surfaced). Spark's own rewrite rules
  * (`RewriteUpdateTable` / `RewriteMergeIntoTable` /
  * `RewriteDeleteFromTable`) build the delta plan and drive
  * [[org.apache.spark.sql.connector.write.DeltaWriter]] callbacks;
  * executors write fresh parquet and collect deleted keys, the driver
  * publishes the manifest with the `D` lines BEFORE the fresh file
  * lines, so the sequence rule ([[GraftStorage.manifestFilesDvs]])
  * deletes exactly the keys' OLD copies and keeps this commit's own.
  *
  * UPDATEs are represented as DELETE + REINSERT pairs
  * ([[representUpdateAsDeleteAndInsert]]): the deletion vector then
  * always targets the OLD key values, which makes `SET key = ...`
  * legal and correct here — the one shape the Scala
  * `updateVersionedMor` must refuse (its DV is built from
  * post-update rows).
  *
  * Reads of the target inside the delta plan are DV-applied by
  * [[MorReadRule]] (anti-join above the relation, or the V1
  * sequence-scoped plan for mixed generations) — without it a
  * DV-deleted row matching the command's condition would be
  * resurrected through the raw scan, so [[newScanBuilder]] refuses
  * DV-carrying snapshots unless the rule marked this operation
  * (`dvApplied`), mirroring the catalog read path's no-extensions
  * safety net.
  *
  * Reference analogue: the reference ships per-part index deltas and
  * merges them into one coherent artifact (IndexFileMerger.java);
  * here the per-task "index delta" is the key set each writer
  * collected, merged by the driver into one deletion vector.
  */
private[sources] final class GraftMorDeltaOperation(
    @transient spark: SparkSession, val path: String,
    cmd: RowLevelOperation.Command, val key: String)
  extends RowLevelOperation with SupportsDelta {

  @transient private val st = GraftStorage(spark)
  require(st.listVersions(path).nonEmpty,
    s"no versions committed under $path")
  /** Snapshot this operation reads AND conflict-gates its commit
    * against (same pinning as the group-based op).
    */
  val version: Long = st.listVersions(path).last
  // mor_key validity is enforced at CREATE TABLE; re-checking here
  // would pay a schema resolve on EVERY analyzed row-level command
  // (Spark builds the operation eagerly even for DELETEs the
  // optimizer then routes to the metadata hook)
  /** The table's layout at the pinned version: fresh rows of an
    * UPDATE/MERGE must land in the SAME identity layout (clustered +
    * key-rolled files), or the commit would silently degrade the
    * storage-partitioned join — the write declares the distribution
    * and Spark shuffles the delta rows accordingly.
    */
  // lazy: only the write path needs them, and Spark constructs this
  // operation eagerly for every analyzed row-level command — incl.
  // DELETEs the optimizer immediately reroutes to the metadata hook,
  // which must not pay two manifest spec resolutions for nothing
  lazy val partCols: Seq[String] = st.partitionSpec(path, version)
  lazy val sortCols: Seq[String] = st.sortSpec(path, version)
  /** Set by [[MorReadRule]] when it wrapped the delta plan's read of
    * this snapshot with the DV application (anti-join / V1 plan).
    * Volatile: the rule runs on the analyzer thread, the scan build
    * on the optimizer's.
    */
  @volatile var dvApplied: Boolean = false

  override def command: RowLevelOperation.Command = cmd

  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(key))

  /** DELETE(old row) + REINSERT(new row) instead of in-place UPDATE:
    * the deletion vector must target OLD key values (a DV built from
    * post-update values would delete an unrelated row that already
    * held the new key and leave the matched row's old copy alive), so
    * key-rewriting UPDATEs are only expressible this way.
    */
  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = {
    if (st.hasColumnMapping(path, Some(version)))
      throw new IllegalArgumentException(
        s"row-level SQL on $path: the snapshot renames/drops columns " +
          "(column mapping); the delta write path stores physical " +
          "names and cannot serve it — compact (REORG) first, or use " +
          "the Scala MoR API (deleteVersionedMor/mergeVersionedMor).")
    if (!dvApplied && st.hasDeletionVectors(path, Some(version)))
      throw new IllegalArgumentException(
        s"row-level SQL on $path: snapshot carries merge-on-read " +
          "deletion vectors and this session lacks GraftExtensions " +
          "(which applies them to the command's read at plan time). " +
          "Register graft.GraftExtensions or compactVersioned first.")
    // the full catalog scan — manifest file list, zone/bloom plan-time
    // pruning, vectorized parquet — pinned to this op's snapshot. The
    // command's condition stays a Filter in the delta plan (rows are
    // re-tested above the scan), so real predicate pushdown is safe
    // here, unlike the group scan which must return whole files.
    new GraftVersionedTable(path, Some(version), dvApplied = true)
      .newScanBuilder(options)
  }

  override def newWriteBuilder(
      info: LogicalWriteInfo): DeltaWriteBuilder = {
    if (st.hasColumnMapping(path, Some(version)))
      throw new IllegalArgumentException(
        s"row-level SQL on $path: the snapshot renames/drops columns " +
          "(column mapping) — compact (REORG) first, or use the " +
          "Scala MoR API (deleteVersionedMor/mergeVersionedMor).")
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = {
        val op = GraftMorDeltaOperation.this
        def batch = new GraftMorDeltaBatchWrite(SparkSession.active, op,
          info.schema(),
          info.rowIdSchema().orElseThrow(() =>
            new IllegalStateException(
              "delta write without a row-id schema")))
        // a command writing fresh rows into a partitioned/sorted
        // table declares the layout's distribution + ordering
        // (V2Writes applies it to the WriteDelta query), so the
        // key-rolled files keep the SPJ layout and the sort claim —
        // the same contract as the SQL INSERT path. DELETE writes no
        // rows (and its query carries no data columns to cluster on).
        if (cmd == RowLevelOperation.Command.DELETE ||
            (partCols.isEmpty && sortCols.isEmpty))
          new DeltaWrite {
            override def toBatch: DeltaBatchWrite = batch
          }
        else {
          import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
          import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
          val fields = partCols.map(GraftStorage.parsePartField)
          new DeltaWrite with RequiresDistributionAndOrdering {
            override def requiredDistribution(): Distribution =
              if (fields.isEmpty) Distributions.unspecified()
              else Distributions.clustered(
                fields.map(GraftCatalog.v2Transform(_)
                  : org.apache.spark.sql.connector.expressions.Expression)
                  .toArray)
            override def requiredOrdering(): Array[SortOrder] =
              (fields.map(f => Expressions.sort(
                GraftCatalog.v2Transform(f), SortDirection.ASCENDING)) ++
               sortCols.map(c => Expressions.sort(
                 Expressions.column(c), SortDirection.ASCENDING))).toArray
            override def toBatch: DeltaBatchWrite = batch
          }
        }
      }
    }
  }
}

/** Driver side of the MoR delta write: stage dir allocation, loud
  * conflict/NULL-key/DV-ceiling gates, CHECK-constraint validation of
  * the fresh files, and the single O(delta) manifest publish.
  */
private[sources] final class GraftMorDeltaBatchWrite(
    @transient spark: SparkSession, op: GraftMorDeltaOperation,
    rowSchema: StructType, rowIdSchema: StructType)
  extends DeltaBatchWrite {

  require(rowIdSchema.length == 1 &&
    rowIdSchema.head.name.equalsIgnoreCase(op.key),
    s"MoR delta write expects row id ($$${op.key}), got $rowIdSchema")

  @transient private val st = GraftStorage(spark)
  private val commitDir: Path =
    st.newCommitDir(new Path(op.path), op.version + 1)

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DeltaWriterFactory =
    new GraftMorDeltaWriterFactory(
      if (rowSchema.isEmpty) null
      else new GraftDataWriterFactory(
        new ParquetTaskWriters(spark, rowSchema, commitDir.toString),
        rowSchema.length,
        GraftWrites.writeKeysFor(op.partCols, rowSchema)),
      rowIdSchema.head.dataType, op.key, st.maxDvBytes)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val s = SparkSession.active
    val store = GraftStorage(s)
    val fs = commitDir.getFileSystem(s.sparkContext.hadoopConfiguration)
    val ms = messages.collect { case m: GraftMorDeltaCommitMessage => m }
    val tallies = ms.toSeq.flatMap(_.files)
    val fresh = tallies.map(t => new Path(t._1).toUri.getPath)
    // task-level key sets merge here; UnsafeRow equality is
    // byte-value equality, so cross-task duplicates (same key deleted
    // by two partitions) collapse
    val keys = new java.util.LinkedHashSet[UnsafeRow]()
    ms.foreach(_.deletedKeys.foreach(k => keys.add(k): Unit))
    if (keys.isEmpty && fresh.isEmpty) {
      // a command that matched nothing: no new version at all
      fs.delete(commitDir, true)
      return
    }
    try store.validateCommitFiles(op.path, fresh, commitDir, fs)
    catch { case e: Throwable => fs.delete(commitDir, true); throw e }
    // stats/bloom coverage carries (same contract as the Scala MoR
    // merge path): the fresh files index like any append, so pruned
    // reads, applyDeletesVersioned discovery, and the CDC pre-image
    // scan keep skipping after a delta UPDATE/MERGE — without this
    // every delta-written file is a skipping hole until a compact.
    val coverageLines: Seq[String] =
      if (fresh.isEmpty) Seq.empty
      else try {
        val (sc, bc) = store.priorSidecarCoverage(op.path)
        def isCol(c: String) =
          rowSchema.fieldNames.exists(_.equalsIgnoreCase(c))
        store.sidecarLines(commitDir, sc.filter(isCol), bc.filter(c =>
          isCol(c.stripPrefix(GraftStorage.TokenBloomPrefix))))
      } catch { case e: Throwable => fs.delete(commitDir, true); throw e }
    val dvLines: Seq[String] =
      if (keys.isEmpty) Seq.empty
      else {
        val dvDir = new Path(commitDir, "_dv")
        val dvSchema = StructType(Seq(StructField(op.key,
          rowIdSchema.head.dataType, nullable = false)))
        val w = new ParquetTaskWriters(s, dvSchema, dvDir.toString)
          .session(0, 0).open("")
        try { keys.forEach(k => w.write(k)) } finally w.close()
        store.dvLines(fs, commitDir, dvDir, op.key,
          "row-level SQL (merge-on-read)",
          "REORG/compactVersioned + a copy-on-write table mode")
      }
    // D lines FIRST, fresh file lines after — the sequence rule makes
    // this commit delete the keys' old copies and keep its own rows.
    // A sorted table's write enforced (layout keys, sort cols)
    // ordering, so the O claim survives; otherwise fresh files arrive
    // unsorted and a prior claim is dropped (same contract as an
    // unsorted Scala append). The P spec line is inherited verbatim —
    // fresh files were key-rolled into the same identity layout.
    // R lines from the writers' own tallies — no commit-time footer
    // re-reads (the INSERT path's contract; each re-read is a
    // serialized driver GET on an object store)
    val additions = dvLines ++ fresh ++ coverageLines ++
      tallies.map(t =>
        s"R\t${t._2}\t${new Path(t._1).toUri.getPath}") ++
      (if (fresh.nonEmpty) Seq(s"H\t${rowSchema.json}") else Seq.empty)
    val removals =
      if (fresh.nonEmpty && op.sortCols.isEmpty) Seq("O\t") else Seq.empty
    // a table that advanced past the pinned snapshot rebases when the
    // interleaved commits are disjoint appends (the Delta/Iceberg
    // serializable-isolation validation for row-level commits)
    store.publishRebasing(fs, op.path, commitDir, op.version, removals,
      additions, "this row-level command"): Unit
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val s = SparkSession.active
    val fs = commitDir.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(commitDir, true)
  }
}

/** (fresh file path, row tally) pairs plus the task's deleted-key
  * rows (UnsafeRow over the single-field row-id schema — value-equal
  * across tasks, bounded by the DV ceiling at write time).
  */
private[sources] final case class GraftMorDeltaCommitMessage(
    files: Seq[(String, Long)],
    deletedKeys: Array[UnsafeRow]) extends WriterCommitMessage

private[sources] final class GraftMorDeltaWriterFactory(
    /** Keyed-rolling row writer (the INSERT path's own factory, so
      * partitioned fresh rows roll one file per key); null when the
      * command writes no rows (DELETE).
      */
    inner: GraftDataWriterFactory,
    keyDt: org.apache.spark.sql.types.DataType,
    keyName: String, maxDvBytes: Long) extends DeltaWriterFactory {

  override def createWriter(partitionId: Int,
      taskId: Long): DeltaWriter[InternalRow] =
    new DeltaWriter[InternalRow] {
      private val rows: DataWriter[InternalRow] =
        if (inner == null) null else inner.createWriter(partitionId, taskId)
      // one-field UnsafeRow per key: stable bytes to dedupe on and to
      // replay into the DV parquet driver-side
      private lazy val keyProj = UnsafeProjection.create(Array(keyDt))
      private val keys = new java.util.LinkedHashSet[UnsafeRow]()
      private var keyBytes = 0L

      private def recordKey(id: InternalRow): Unit = {
        if (id.isNullAt(0))
          throw new IllegalArgumentException(
            s"row-level SQL (merge-on-read): a matched row carries a " +
              s"NULL '$keyName' — a key-based deletion vector cannot " +
              "express it; use a copy-on-write table mode for " +
              "NULL-keyed rows")
        val k = keyProj(id).copy()
        if (keys.add(k)) {
          keyBytes += k.getSizeInBytes
          // fail FAST on the executor: a key set past the broadcast
          // ceiling would be refused at commit anyway — don't ship it
          if (keyBytes > maxDvBytes)
            throw new DvTooLargeException(keyBytes, maxDvBytes,
              s"row-level SQL (merge-on-read): this task alone " +
                s"collected $keyBytes bytes of deleted keys, over the " +
                s"spark.graft.mor.maxDvBytes ceiling of $maxDvBytes — " +
                "a change this broad is rewrite-scale work; use a " +
                "copy-on-write table mode (or raise the ceiling)")
        }
      }

      override def delete(meta: InternalRow, id: InternalRow): Unit =
        recordKey(id)

      // unreachable with representUpdateAsDeleteAndInsert=true, but
      // the honest semantics cost nothing: delete old id, insert row
      override def update(meta: InternalRow, id: InternalRow,
          row: InternalRow): Unit = {
        recordKey(id)
        insert(row)
      }

      override def insert(row: InternalRow): Unit = {
        require(rows != null,
          "delta write received a row but declared no row schema")
        rows.write(row)
      }

      override def commit(): WriterCommitMessage = {
        val files =
          if (rows == null) Seq.empty[(String, Long)]
          else rows.commit() match {
            case GraftCommitMessage(fs) => fs
            case other => throw new IllegalStateException(
              s"unexpected inner commit message: $other")
          }
        GraftMorDeltaCommitMessage(files,
          keys.toArray(new Array[UnsafeRow](keys.size)))
      }

      override def abort(): Unit = if (rows != null) rows.abort()

      override def close(): Unit = if (rows != null) rows.close()
    }
}
