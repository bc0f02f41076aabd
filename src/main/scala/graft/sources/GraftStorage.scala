package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** User-facing storage facade — the Spark-native counterpart of the
  * reference's `HtsjdkReadsRddStorage` builder
  * (HtsjdkReadsRddStorage.java:47-116 read side, :187-229 write-option
  * resolution): a session-bound handle with declarative read/write
  * options, resolving cardinality and layout the way the reference
  * resolves format/cardinality from options and path shape.
  *
  * Differences by design (SURVEY.md §4): storage format is columnar
  * parquet (splittable containers + stats pruning replace the
  * .sbi/.bai machinery), so `splitSize` maps to
  * spark.sql.files.maxPartitionBytes and index construction
  * disappears into row-group metadata written by the sink.
  */
final case class GraftStorage(
    spark: SparkSession,
    splitSize: Option[Long] = None,
    columns: Seq[String] = Nil,
    rowGroupBytes: Option[Long] = None,
    failOnSchemaMismatch: Boolean = false,
    readaheadBytes: Option[Long] = None) {

  /** splitSize(n) ≈ HtsjdkReadsRddStorage.splitSize — bounds bytes
    * per input partition.
    */
  def splitSize(bytes: Long): GraftStorage = copy(splitSize = Some(bytes))

  /** indexGranularity(n) ≈ HtsjdkReadsRddStorage.sbiIndexGranularity
    * (HtsjdkReadsRddStorage.java:113-116): how fine the index can
    * prune. Here granularity is the parquet row-group size of indexed
    * writes — smaller row groups mean finer row-group-stats pruning
    * inside each file (the engine-side half of the zone-map story).
    */
  def indexGranularity(bytes: Long): GraftStorage =
    copy(rowGroupBytes = Some(bytes))

  /** Projection pushed to the scan (lazy-decode analogue). */
  def select(cols: String*): GraftStorage = copy(columns = cols)

  /** readahead(n) ≈ the reference's prefetching reader
    * (SeekableByteChannelPrefetcher.java: a background thread keeps n
    * buffers ahead of the consumer). On Spark the read path is the
    * cloud connector's, so prefetch is DELEGATED to it (SURVEY §2.1
    * S11): this option plumbs the readahead window to every
    * connector's own knob through the scan's per-relation Hadoop
    * conf — `fs.s3a.readahead.range` (S3A), `fs.azure.read.request
    * .size` (ABFS), `fs.gs.inputstream.min.range.request.size`
    * (GCS), and the generic `io.file.buffer.size` every
    * FileSystem.open honors. Applies to [[read]], [[readPruned]] and
    * [[readVersioned]] scans of THIS handle only (per-relation
    * options, not session-global conf).
    */
  def readahead(bytes: Long): GraftStorage = {
    require(bytes > 0 && bytes <= Int.MaxValue,
      s"readahead bytes must be in (0, 2^31), got $bytes")
    copy(readaheadBytes = Some(bytes))
  }

  /** Per-relation Hadoop-conf overlay of the facade's read options
    * (Spark merges these into the scan's Hadoop conf via
    * newHadoopConfWithOptions).
    */
  private def readerOptions: Map[String, String] =
    readaheadBytes.map(b => Map(
      "io.file.buffer.size" -> b.toString,
      "fs.s3a.readahead.range" -> b.toString,
      "fs.azure.read.request.size" -> b.toString,
      "fs.gs.inputstream.min.range.request.size" -> b.toString
    )).getOrElse(Map.empty)

  /** Refuse (rather than silently merge) directory reads whose files
    * disagree on schema — the engine-side analogue of the reference
    * erroring on mixed formats in one directory
    * (HtsjdkReadsRddStorage.java:154-158) and its documented
    * undefined behavior for differing headers (README.md:92-93).
    * Default stays permissive: plain reads union whatever parquet is
    * present (StorageSpec pins the mergeSchema behavior).
    */
  def strictSchema(): GraftStorage = copy(failOnSchemaMismatch = true)

  /** Read a file or directory-of-files as one table
    * (HtsjdkReadsRddStorage.read; directory semantics README.md:85-95).
    * Like the reference's header read, the schema comes from one
    * footer on the driver ([[graft.T.parquet]]), so opening costs no
    * Spark job.
    */
  def read(path: String): DataFrame = {
    splitSize.foreach(b =>
      spark.conf.set("spark.sql.files.maxPartitionBytes", b.toString))
    if (failOnSchemaMismatch) checkUniformSchema(path)
    val df = graft.T.parquet(spark, Seq(path), readerOptions)
    if (columns.nonEmpty) df.select(columns.map(col): _*) else df
  }

  /** Footer-only schema uniformity check for strictSchema reads: every
    * data file in the directory (recursively, so hive layouts are
    * covered) must carry the SAME parquet schema; the first differing
    * file fails the read with both schemas named, mirroring the
    * reference's "directory contains mixed formats" error
    * (HtsjdkReadsRddStorage.java:154-158). Metadata-only — a few KiB
    * per file, same footprint as buildZoneMap's footer pass.
    */
  private[sources] def checkUniformSchema(path: String): Unit = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    // manual recursion via listStatus (portable across FileSystem
    // implementations — listFiles(recursive) takes block-location
    // paths some schemes don't support); hidden check applies to
    // every component BELOW the read root (sidecar dirs like
    // _zonemap), never to the root itself
    def hidden(name: String): Boolean =
      name.startsWith("_") || name.startsWith(".")
    def walk(p: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq.filterNot(st => hidden(st.getPath.getName))
        .flatMap { st =>
          if (st.isDirectory) walk(st.getPath)
          else if (st.getPath.getName.endsWith(".parquet") && st.getLen > 0)
            Seq(st)
          else Nil
        }
    val files = walk(dir).sortBy(_.getPath.toString)
    if (files.size <= 1) return
    val schemas = GraftStorage.onDriverPool(files) { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(conf, f.getPath)
      try (f.getPath.toString, r.getFooter.getFileMetaData.getSchema.toString)
      finally r.close()
    }
    val (refFile, refSchema) = schemas.head
    schemas.find(_._2 != refSchema).foreach { case (badFile, badSchema) =>
      throw new IllegalArgumentException(
        s"strictSchema read of $path found incompatible file schemas:\n" +
          s"  $refFile:\n$refSchema\n  $badFile:\n$badSchema")
    }
  }

  /** Write a table with a secondary zone-map index — the Spark-native
    * SBI/BAI analogue (SURVEY.md §2.5 A1-A5): while parquet row-group
    * stats already prune on sort-clustered columns, a SECONDARY column
    * gets no pruning unless someone records per-file min/max for it.
    * This sink range-clusters on `clusterBy`, writes sharded parquet,
    * then builds one tiny `_zonemap` sidecar table (file → min/max per
    * indexed column + count) — per-partition partial stats merged by a
    * normal distributed agg, exactly the reference's per-part index +
    * merge pattern (IndexFileMerger.java:62-102). The `_` prefix hides
    * the sidecar from plain parquet reads of the directory, the same
    * convention the reference exploits (HiddenFileFilter.java:31-37).
    */
  def writeIndexed(df: DataFrame, path: String,
      clusterBy: String, zoneCols: String*): Unit = {
    withMicrosTimestamps {
      val writer = df.repartitionByRange(df.sparkSession.conf
        .get("spark.sql.shuffle.partitions").toInt, col(clusterBy))
        .sortWithinPartitions(col(clusterBy))
        .write.mode("overwrite")
      rowGroupBytes.foreach(b => writer.option("parquet.block.size", b.toString))
      writer.parquet(path)
    }
    buildZoneMap(path, zoneCols)
  }

  /** Run `body` with parquet timestamps written as TIMESTAMP_MICROS,
    * so footer stats stay readable for zone maps (INT96 carries no
    * usable statistics). The session's previous setting is restored
    * afterwards, or unset if it had none.
    */
  private def withMicrosTimestamps[A](body: => A): A = {
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Build the `_zonemap` sidecar for an existing parquet directory.
    *
    * Fast path: METADATA-ONLY — per-file min/max/count aggregated from
    * parquet footers on the driver with a fixed 8-thread pool, the
    * same shape as the reference's driver-side part-index merge
    * (IndexFileMerger.java:62-102, pool at :83). No data is scanned;
    * at 100 TB this reads a few KiB per file instead of re-scanning
    * the zone columns. Falls back to a distributed column-pruned scan
    * when any footer lacks usable stats for a zone column (foreign
    * writers, exotic types) — truncated binary stats remain sound
    * (they widen, never narrow, the [min,max]).
    */
  def buildZoneMap(path: String, zoneCols: Seq[String]): Boolean = {
    import org.apache.hadoop.fs.Path
    val dataSchema = graft.T.parquet(spark, path).schema
    val fieldType = dataSchema.fields.map(f => f.name -> f.dataType).toMap
    val sidecarSchema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("file",
        org.apache.spark.sql.types.StringType, nullable = false) +:
      zoneCols.flatMap(c => Seq(
        org.apache.spark.sql.types.StructField(s"${c}__min", fieldType(c)),
        org.apache.spark.sql.types.StructField(s"${c}__max", fieldType(c)))) :+
      org.apache.spark.sql.types.StructField("cnt",
        org.apache.spark.sql.types.LongType, nullable = false))
    val rows = footerZoneRows(path, zoneCols, fieldType)
    rows match {
      case Some(rs) =>
        spark.createDataFrame(
          java.util.Arrays.asList(rs: _*), sidecarSchema)
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$path/_zonemap")
        true
      case None =>
        val written = graft.T.parquet(spark, path)
        val aggs = zoneCols.flatMap { c =>
          Seq(min(col(c)).as(s"${c}__min"), max(col(c)).as(s"${c}__max"))
        } :+ count(lit(1)).as("cnt")
        written
          .select((input_file_name().as("file") +: zoneCols.map(col)): _*)
          .groupBy(col("file"))
          .agg(aggs.head, aggs.tail: _*)
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$path/_zonemap")
        false
    }
  }

  /** Footer-stat rows for every data file, or None when any column's
    * stats are unusable (→ caller falls back to the scan build).
    */
  private def footerZoneRows(path: String, zoneCols: Seq[String],
      fieldType: Map[String, org.apache.spark.sql.types.DataType])
      : Option[Seq[org.apache.spark.sql.Row]] = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    // RECURSIVE: a partitioned commit dir nests its data files under
    // key segments; every path component under the root must be
    // visible (hidden `_zonemap`/`_bloom` subtrees and dot-files
    // skipped, the same rule Spark's own listing applies). Manual
    // listStatus recursion — fs.listFiles builds LocatedFileStatus,
    // which loads permissions via java.io.File and breaks on
    // non-`file:` schemes (graftfs://, object stores).
    val files = {
      val out = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.hadoop.fs.FileStatus]
      def walk(d: Path): Unit = fs.listStatus(d).foreach { f =>
        val name = f.getPath.getName
        if (!name.startsWith("_") && !name.startsWith(".")) {
          if (f.isDirectory) walk(f.getPath)
          else if (name.endsWith(".parquet")) out += f
        }
      }
      walk(dir)
      out.toSeq.sortBy(_.getPath.toUri.getPath)
    }
    val rows = GraftStorage.onDriverPool(files) { f =>
      // a corrupt/foreign footer or transient IO failure on ONE file
      // must degrade to the distributed-scan fallback, not abort the
      // whole sidecar build — same contract as unusable-but-readable
      // stats
      try fileZoneRow(f.getPath, zoneCols, fieldType, conf)
      catch { case scala.util.control.NonFatal(_) => None }
    }
    if (rows.forall(_.isDefined)) Some(rows.map(_.get)) else None
  }

  /** One sidecar row from one file's footer; None if stats unusable. */
  private def fileZoneRow(p: org.apache.hadoop.fs.Path, zoneCols: Seq[String],
      fieldType: Map[String, org.apache.spark.sql.types.DataType],
      conf: org.apache.hadoop.conf.Configuration): Option[org.apache.spark.sql.Row] = {
    import scala.jdk.CollectionConverters._
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(conf, p)
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val perCol = zoneCols.map(c => footerBounds(blocks, c, fieldType(c)))
      if (perCol.contains(None)) None
      else Some(org.apache.spark.sql.Row.fromSeq(
        p.toString +: perCol.flatMap(_.get match {
          case Some((mn, mx)) => Seq(mn, mx)
          case None => Seq(null, null) // whole file null
        }) :+ blocks.map(_.getRowCount).sum))
    } finally reader.close()
  }

  /** One column's (min, max) over one file's row groups, decoded from
    * footer stats: `None` when any group's stats are unusable,
    * `Some(None)` when every group is empty or all-null,
    * `Some(Some((mn, mx)))` otherwise.
    */
  private def footerBounds(
      blocks: Seq[org.apache.parquet.hadoop.metadata.BlockMetaData],
      column: String, dt: org.apache.spark.sql.types.DataType)
      : Option[Option[(Any, Any)]] = {
    import scala.jdk.CollectionConverters._
    mergeBounds(blocks.map { b =>
      b.getColumns.asScala.find(_.getPath.toDotString == column)
        .flatMap { ch =>
          val st = ch.getStatistics
          if (st == null || st.isEmpty) None // unusable
          else if (!st.hasNonNullValue) Some(None) // all-null group
          else decodeStat(st, ch.getPrimitiveType, dt).map(Some(_))
        }
    }, dt)
  }

  /** Merge per-part bounds (row groups of a file, or files of a
    * table) in `footerBounds`' three-valued shape: unusable poisons
    * the merge, all-null parts contribute nothing.
    */
  private def mergeBounds(parts: Seq[Option[Option[(Any, Any)]]],
      dt: org.apache.spark.sql.types.DataType): Option[Option[(Any, Any)]] =
    if (parts.contains(None)) None
    else {
      val present = parts.flatten.flatten
      if (present.isEmpty) Some(None)
      else {
        implicit val ord: Ordering[Any] = externalOrdering(dt)
        Some(Some((present.map(_._1).min, present.map(_._2).max)))
      }
    }

  /** (min, max) of one row group decoded to Spark EXTERNAL values;
    * None when the physical/logical type combination is unsupported.
    */
  private def decodeStat(st: org.apache.parquet.column.statistics.Statistics[_],
      pt: org.apache.parquet.schema.PrimitiveType,
      dt: org.apache.spark.sql.types.DataType): Option[(Any, Any)] = {
    import org.apache.spark.sql.types._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    def micros(v: Long): java.sql.Timestamp = {
      val ts = new java.sql.Timestamp(Math.floorDiv(v, 1000000L) * 1000L)
      ts.setNanos((Math.floorMod(v, 1000000L) * 1000L).toInt)
      ts
    }
    // (minConv, maxConv): NANOS floors the min but CEILS the max so
    // sub-micro truncation only ever WIDENS the [min,max] bound —
    // flooring both would narrow the max and could wrongly prune
    // boundary rows
    def tsUnit: Option[(Long => Long, Long => Long)] =
      pt.getLogicalTypeAnnotation match {
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          t.getUnit match {
            case LogicalTypeAnnotation.TimeUnit.MICROS =>
              Some((identity, identity))
            case LogicalTypeAnnotation.TimeUnit.MILLIS =>
              Some((_ * 1000L, _ * 1000L))
            case LogicalTypeAnnotation.TimeUnit.NANOS =>
              Some((Math.floorDiv(_, 1000L),
                v => -Math.floorDiv(-v, 1000L)))
          }
        case _ => None
      }
    def num(v: Any): Any = v match {
      case n: java.lang.Number => n
      case _ => null
    }
    val (mn, mx) = (st.genericGetMin, st.genericGetMax)
    dt match {
      case LongType | IntegerType | ShortType | ByteType |
           DoubleType | FloatType =>
        val (a, b) = (num(mn), num(mx))
        if (a == null || b == null) None else Some((a, b))
      case StringType => (mn, mx) match {
        case (a: org.apache.parquet.io.api.Binary,
              b: org.apache.parquet.io.api.Binary) =>
          Some((a.toStringUsingUTF8, b.toStringUsingUTF8))
        case _ => None
      }
      case TimestampType => tsUnit.flatMap { case (minConv, maxConv) =>
        (mn, mx) match {
          case (a: java.lang.Long, b: java.lang.Long) =>
            Some((micros(minConv(a)), micros(maxConv(b))))
          case _ => None
        }
      }
      case TimestampNTZType => tsUnit.flatMap { case (minConv, maxConv) =>
        def ldt(v: Long): java.time.LocalDateTime =
          java.time.LocalDateTime.ofEpochSecond(
            Math.floorDiv(v, 1000000L),
            (Math.floorMod(v, 1000000L) * 1000L).toInt,
            java.time.ZoneOffset.UTC)
        (mn, mx) match {
          case (a: java.lang.Long, b: java.lang.Long) =>
            Some((ldt(minConv(a)), ldt(maxConv(b))))
          case _ => None
        }
      }
      case DateType => (mn, mx) match {
        case (a: java.lang.Integer, b: java.lang.Integer) =>
          Some((java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(a.toLong)),
            java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(b.toLong))))
        case _ => None
      }
      case _ => None
    }
  }

  /** (min, max) of one column across `files`, decoded from parquet
    * FOOTER stats — metadata-rate, no Spark job. Returns
    * `None` when any footer lacks usable stats (caller falls back to
    * an aggregate job), `Some(None)` when every file is empty or
    * all-null, `Some(Some((mn, mx)))` otherwise. Bounds are used for
    * PRUNING only, so decodeStat's conservative widening (NANOS
    * floor/ceil) stays sound.
    */
  private[sources] def footerColumnBounds(files: Seq[String],
      column: String, dt: org.apache.spark.sql.types.DataType)
      : Option[Option[(Any, Any)]] = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    mergeBounds(files.map { f =>
      try {
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new org.apache.hadoop.fs.Path(f), conf),
          org.apache.parquet.HadoopReadOptions.builder(conf).build())
        try footerBounds(reader.getFooter.getBlocks.asScala.toSeq, column, dt)
        finally reader.close()
      } catch { case _: Exception => None }
    }, dt)
  }

  /** Natural ordering for decoded external stat values. */
  private def externalOrdering(
      dt: org.apache.spark.sql.types.DataType): Ordering[Any] = {
    import org.apache.spark.sql.types._
    val o: Ordering[_] = dt match {
      case LongType => Ordering.Long.on[java.lang.Number](_.longValue())
      case IntegerType | ShortType | ByteType =>
        Ordering.Int.on[java.lang.Number](_.intValue())
      case DoubleType | FloatType =>
        Ordering.Double.TotalOrdering.on[java.lang.Number](_.doubleValue())
      // UTF-8 BYTE order, not Ordering.String (UTF-16 code units):
      // parquet selects per-group binary stats by unsigned byte
      // comparison and Spark compares strings as UTF8String — merging
      // under UTF-16 order can pick a file [min,max] that EXCLUDES a
      // present value for supplementary-plane strings (false prune)
      case StringType => Ordering.fromLessThan[String]((a, b) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(a)
          .compareTo(
            org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0)
      case TimestampType =>
        Ordering.fromLessThan[java.sql.Timestamp]((a, b) => a.before(b))
      case TimestampNTZType =>
        Ordering.fromLessThan[java.time.LocalDateTime]((a, b) => a.isBefore(b))
      case DateType =>
        Ordering.fromLessThan[java.sql.Date]((a, b) => a.before(b))
      case other => throw new IllegalArgumentException(other.toString)
    }
    o.asInstanceOf[Ordering[Any]]
  }

  /** Build a per-file BLOOM-FILTER sidecar (`_bloom`) for point-lookup
    * file pruning — the complement of the zone map: min/max stats only
    * prune columns the file layout is clustered on, while a Bloom
    * filter prunes equality/IN lookups on ANY column (no false
    * negatives, so dropping a file the filter rejects is always
    * sound). The reference's ethos one level up: .sbi/.tbi answer
    * "which splits can hold this interval"; the Bloom sidecar answers
    * "which files can hold this key".
    *
    * Built DISTRIBUTED: one pass over the data, per-(file, column)
    * Bloom aggregation (a typed Aggregator — partial Blooms merge
    * associatively like any sketch), collected only as the final
    * KB-sized filters. `expectedPerFile` sizes each filter (~1.2 bytes
    * × expected items at fpp=0.01); at 100 TB with 1 GB files that is
    * ~a few hundred KB of sidecar per data file column — metadata, not
    * data. Supported column types: integral (hashed as long) and
    * string.
    */
  def buildBloomIndex(path: String, bloomCols: Seq[String],
      expectedPerFile: Long = 100000, fpp: Double = 0.01): Unit = {
    val df = spark.read.parquet(path)
    val perCol: Seq[DataFrame] =
      bloomCols.map(c => bloomRowsFor(df, c, expectedPerFile, fpp))
    // sizing rides the sidecar so appends/compactions reuse it — an
    // appended file bloomed with smaller `expected` would silently
    // degrade its false-positive rate (pruning power, not correctness)
    perCol.reduce(_.unionAll(_))
      .select(col("file"), col("col"), col("bloom"),
        lit(expectedPerFile).as("expected"), lit(fpp).as("fpp"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/_bloom")
  }

  /** One sidecar row group for one indexed "column": a plain data
    * column (long/string Bloom over its values) or a TOKENIZED text
    * column (`tokens:<col>` — Bloom over the DISTINCT-per-row
    * space-separated tokens of a string column). The token flavor is
    * the inverted-index-lite for full-text point lookups: at 100 TB a
    * rare-token search (`array_contains(split(text,' '), w)`) prunes
    * to the files whose token Bloom admits `w` — metadata-rate, no
    * posting lists, no false negatives.
    */
  private def bloomRowsFor(df: DataFrame, c: String,
      expectedPerFile: Long, fpp: Double): DataFrame = {
    import org.apache.spark.sql.types._
    val s = spark
    import s.implicits._
    val fieldType = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val bloomed =
      if (c.startsWith(GraftStorage.TokenBloomPrefix)) {
        val src = c.stripPrefix(GraftStorage.TokenBloomPrefix)
        require(fieldType.get(src).contains(StringType),
          s"token bloom index on $src: string column required, " +
            s"got ${fieldType.get(src)}")
        df.filter(col(src).isNotNull)
          .select(input_file_name().as("file"),
            explode(split(col(src), " ")).as("v"))
          .as[(String, String)]
          .groupByKey(_._1)
          .agg(new BloomStringAgg(expectedPerFile, fpp).toColumn.name("bloom"))
      } else fieldType(c) match {
        case LongType | IntegerType | ShortType | ByteType =>
          df.filter(col(c).isNotNull)
            .select(input_file_name().as("file"), col(c).cast(LongType).as("v"))
            .as[(String, Long)]
            .groupByKey(_._1)
            .agg(new BloomLongAgg(expectedPerFile, fpp).toColumn.name("bloom"))
        case StringType =>
          df.filter(col(c).isNotNull)
            .select(input_file_name().as("file"), col(c).cast(StringType).as("v"))
            .as[(String, String)]
            .groupByKey(_._1)
            .agg(new BloomStringAgg(expectedPerFile, fpp).toColumn.name("bloom"))
        case other => throw new IllegalArgumentException(
          s"bloom index on $c: unsupported type $other")
      }
    bloomed.toDF("file", "bloom").withColumn("col", lit(c))
  }

  /** Token-Bloom sidecar over text columns — `buildBloomIndex` with
    * `tokens:`-prefixed sidecar entries. Size `expectedPerFile` for
    * DISTINCT TOKENS per file, not rows.
    */
  def buildTokenBloomIndex(path: String, textCols: Seq[String],
      expectedPerFile: Long = 1000000, fpp: Double = 0.01): Unit =
    buildBloomIndex(path,
      textCols.map(GraftStorage.TokenBloomPrefix + _), expectedPerFile, fpp)

  /** The (expectedPerFile, fpp) a `_bloom` sidecar was built with;
    * defaults for sidecars predating the sizing columns.
    */
  private def bloomSizing(existing: DataFrame): (Long, Double) =
    if (existing.columns.contains("expected")) {
      val r = existing.agg(max(col("expected")), min(col("fpp"))).head()
      (r.getLong(0), r.getDouble(1))
    } else (100000L, 0.01)

  /** INCREMENTAL Bloom maintenance — `appendIndexed`'s contract for
    * the `_bloom` sidecar: append `df` as new files, build Blooms for
    * ONLY the new files (the data pass is filtered to them, so an
    * append of a daily batch scans the batch, not the table), and
    * union the existing sidecar rows verbatim — the reference's
    * per-part index + driver merge (IndexFileMerger.java:62-102).
    */
  def appendBloomIndexed(df: DataFrame, path: String): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new Path(new Path(path), "_bloom")),
      s"appendBloomIndexed requires an existing _bloom sidecar at $path")
    df.write.mode("append").parquet(path)
    refreshBloomIndex(path)
  }

  /** Extend an existing `_bloom` sidecar over data files it does not
    * cover yet (appendBloomIndexed's index half, also usable after a
    * plain parquet append): blooms ONLY the uncovered files with the
    * SIZING THE SIDECAR WAS BUILT WITH (persisted `expected`/`fpp`
    * columns — appended files bloomed with a smaller default would
    * silently degrade the false-positive rate), and unions the
    * existing rows verbatim — the reference's per-part index + driver
    * merge (IndexFileMerger.java:62-102).
    */
  def refreshBloomIndex(path: String): Unit = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    val blPath = new Path(dir, "_bloom")
    require(fs.exists(blPath),
      s"refreshBloomIndex requires an existing _bloom sidecar at $path")
    val existing = spark.read.parquet(blPath.toString).localCheckpoint()
    val bloomCols = existing.select("col").distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    val (expected, fpp) = bloomSizing(existing)
    // normalize to the URI path component: input_file_name() (sidecar
    // rows) and FileStatus.getPath render the same file as
    // file:///x vs file:/x
    def pathKey(p: String): String = new Path(p).toUri.getPath
    val known = existing.select("file").collect()
      .map(r => pathKey(r.getString(0))).toSet
    val newFiles = fs.listStatus(dir).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet") &&
        !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith(".") &&
        !known.contains(pathKey(f.getPath.toString)))
      .map(_.getPath.toString)
    if (newFiles.isEmpty) return
    // one pass over ONLY the new files per column (token entries
    // rebuild through the same shared builder)
    val newData = spark.read.parquet(newFiles: _*)
    val fresh: Seq[DataFrame] =
      bloomCols.map(c => bloomRowsFor(newData, c, expected, fpp))
    val existingNorm =
      if (existing.columns.contains("expected"))
        existing.select("file", "col", "bloom", "expected", "fpp")
      else existing.select(col("file"), col("col"), col("bloom"),
        lit(expected).as("expected"), lit(fpp).as("fpp"))
    existingNorm
      .unionAll(fresh.reduce(_.unionAll(_))
        .select(col("file"), col("col"), col("bloom"),
          lit(expected).as("expected"), lit(fpp).as("fpp")))
      .coalesce(1)
      .write.mode("overwrite").parquet(blPath.toString)
  }

  /** Read with zone-map pruning on `zoneCol` ∈ [lo, hi] — the
    * index-driven split pruning of the reference (BamSource.java:
    * 99-119, TribbleIndexIntervalFilteringTextInputFormat.java:59-92):
    * the driver consults the tiny sidecar (metadata-only, like the
    * reference loading .sbi/.tbi on the driver), keeps only files
    * whose [min,max] overlaps the query range, and plans the scan over
    * those paths; the residual filter stays for exactness. Falls back
    * to a full scan + filter when no sidecar exists.
    */
  def readIndexed(path: String, zoneCol: String,
      lo: Any, hi: Any): DataFrame = {
    val residual = col(zoneCol) >= lit(lo) && col(zoneCol) <= lit(hi)
    val fs = new org.apache.hadoop.fs.Path(s"$path/_zonemap")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$path/_zonemap")))
      return read(path).filter(residual)
    val files = graft.T.parquet(spark, s"$path/_zonemap")
      .filter(col(s"${zoneCol}__max") >= lit(lo) &&
        col(s"${zoneCol}__min") <= lit(hi))
      .select("file").collect().map(_.getString(0))
    if (files.isEmpty) read(path).filter(residual).limit(0)
    else {
      val df = graft.T.parquet(spark, files.toIndexedSeq, readerOptions)
        .filter(residual)
      if (columns.nonEmpty) df.select(columns.map(col): _*) else df
    }
  }

  /** Bounded-traversal read — 1:1 facade parity with
    * `HtsjdkReadsRddStorage.read(path, traversalParameters)`
    * (HtsjdkReadsTraversalParameters.java:38-55): a canonicalized
    * interval list over an orderable key column, plus the
    * unplaced-unmapped flag that unions null-key rows onto the
    * interval hits (TraversalOverlapDetector.overlapsAny:48-58).
    * `intervals = None` means unbounded (the reference throws there
    * unless unplaced-only, AbstractBinarySamSource.java:75-79; this
    * engine supports the full scan trivially). The predicate is one
    * pushed OR-of-ranges filter — Catalyst + parquet stats do the
    * index work the reference does with BAI span intersection.
    */
  def readTraversal(path: String, keyCol: String,
      intervals: Option[Seq[(Long, Long)]],
      traverseUnplaced: Boolean = false): DataFrame = {
    val df = read(path)
    val c = col(keyCol)
    (intervals, traverseUnplaced) match {
      case (None, false) => df
      case (None, true) => df.filter(c.isNull)
      case (Some(ivs), false) =>
        df.filter(graft.operators.Intervals.predicate(c, ivs))
      case (Some(ivs), true) =>
        df.filter(graft.operators.Intervals.predicate(c, ivs) || c.isNull)
    }
  }

  /** Lazy column-scoped zone [[Sidecar]] over `_zonemap` parquet
    * dir(s). The column inventory comes from the sidecar SCHEMA
    * (footers only — no stats rows read); each load projects just
    * `file` plus the requested columns' `__min`/`__max`, so the
    * bytes a load moves scale with files × REQUESTED columns. Past
    * [[zoneScopedThreshold]] on-disk bytes the load streams row-by-
    * row via toLocalIterator instead of one collect, bounding driver
    * heap the same way [[bloomSidecarFor]] does.
    */
  private[sources] def zoneSidecarFor(statDirs: Seq[String]): Sidecar.Zones = {
    if (statDirs.isEmpty) return Sidecar.empty
    import org.apache.hadoop.fs.Path
    val hconf = spark.sparkContext.hadoopConfiguration
    // sidecar part-file inventory + per-part root fields (name AND
    // Spark type) from the parquet footers — computed ONCE per
    // provider, driver-side, a footer per sidecar part (the
    // realSidecarCoverage footprint). Per-PART (not per-dir) because
    // an appended stats commit can add differently-columned parts
    // into one `_zonemap` dir. Types matter since ALTER COLUMN TYPE:
    // stats written pre-widen store the NARROW type, and the load
    // must request the widest so every part reads through the same
    // per-file promotion as the data files (parquet's own mergeSchema
    // refuses int-vs-long and would fail the whole load).
    lazy val partFields
        : Seq[(String, Map[String, org.apache.spark.sql.types.DataType])] = {
      // SQLConf-based: the raw Hadoop conf lacks the SQL parquet keys
      // the Configuration constructor parses (driver-side code, the
      // active session's conf is the right source anyway)
      val conv = new org.apache.spark.sql.execution.datasources.parquet
        .ParquetToSparkSchemaConverter(
          org.apache.spark.sql.internal.SQLConf.get)
      val parts = statDirs.flatMap { d =>
        val p = new Path(d)
        val fs = p.getFileSystem(hconf)
        def walk(dir: Path): Seq[org.apache.hadoop.fs.FileStatus] =
          fs.listStatus(dir).toSeq.flatMap { st =>
            if (st.isDirectory) walk(st.getPath)
            else if (st.isFile && st.getPath.getName.endsWith(".parquet"))
              Seq(st)
            else Seq.empty
          }
        walk(p)
      }
      // footer opens run on a bounded pool, not serially: at 10⁴
      // stats-bearing commits on an object store a serial walk is
      // parts × GET-latency of plan-time stall
      GraftStorage.onDriverPool(parts, threads = 16) { st =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile
            .fromStatus(st, hconf),
          org.apache.parquet.HadoopReadOptions.builder(hconf).build())
        val fields =
          try conv.convert(r.getFooter.getFileMetaData.getSchema)
            .fields.map(f => f.name -> f.dataType).toMap
          finally r.close()
        st.getPath.toUri.getPath -> fields
      }
    }
    lazy val mergedFields: Set[String] =
      partFields.iterator.flatMap(_._2.keys).toSet
    // the widest observed type per field across parts (pre- and
    // post-widen stats generations): the read requests it EXPLICITLY
    // so narrow parts promote per file, exactly like the data scan
    def widestOf(field: String): org.apache.spark.sql.types.DataType =
      partFields.iterator.flatMap(_._2.get(field)).reduceLeft { (a, b) =>
        if (a == b || GraftStorage.widens(b, a)) a
        else if (GraftStorage.widens(a, b)) b
        else throw new IllegalArgumentException(
          s"zone sidecar parts disagree on '$field': " +
            s"${a.simpleString} vs ${b.simpleString} (not a widening " +
            "pair) — rebuild the index")
      }
    // a column is loadable only when BOTH bounds exist somewhere —
    // selecting a lone `c__min`'s missing mate would throw — and its
    // part types agree up to widening: a corrupt/conflicted column
    // degrades to keep-conservative (no pruning on IT) instead of
    // failing every query on the table
    lazy val allCols: Set[String] = mergedFields
      .filter(_.endsWith("__min")).map(_.stripSuffix("__min"))
      .filter(c => mergedFields(c + "__max"))
      .filter(c => scala.util.Try {
        widestOf(c + "__min"); widestOf(c + "__max") }.isSuccess)
    lazy val totalBytes: Long = {
      val p = new Path(statDirs.head)
      val fs = p.getFileSystem(hconf)
      statDirs.iterator.map(d =>
        fs.getContentSummary(new Path(d)).getLength).sum
    }
    // ONE shared relation per provider (file listing amortizes across
    // load calls — plan + AQE replans may load more than once), its
    // schema requested EXPLICITLY at the widest observed types: no
    // parquet mergeSchema job, and narrow parts promote per file
    lazy val zmAll = {
      val full = org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField("file",
          org.apache.spark.sql.types.StringType) +:
        allCols.toSeq.sorted.flatMap(c => Seq(c + "__min", c + "__max"))
          .map(f => org.apache.spark.sql.types.StructField(
            f, widestOf(f))))
      spark.read.schema(full).parquet(statDirs: _*)
    }
    new Sidecar[(Any, Any)](
      () => allCols,
      cols => {
        val sel = cols.toSeq.sorted.filter(allCols)
        if (sel.isEmpty) Map.empty
        else {
          val zm = zmAll
          // _src recovers which sidecar PART each row came from: a
          // schema-specified read surfaces a column missing from a
          // part as null, INDISTINGUISHABLE from indexed-but-all-null
          // — and downstream treats (null,null) as "provably
          // all-null" (IsNotNull prune, MIN/MAX decline), so an entry
          // is emitted ONLY for columns the row's part actually stores
          val proj = zm.select((col("file") +:
            input_file_name().as("__src") +:
            sel.flatMap(c =>
              Seq(col(c + "__min"), col(c + "__max")))): _*)
          val coverage = partFields.toMap
          // __src is input_file_name(): URL-ENCODED on Spark 4.1,
          // while the coverage map keys on decoded FileStatus paths
          // — decode, and memoize per distinct part (one value per
          // part, not per row)
          val srcCoverage = scala.collection.mutable
            .Map.empty[String, Set[String]]
          def coverageOf(src: String): Set[String] =
            srcCoverage.getOrElseUpdate(src, {
              val decoded =
                try new java.net.URI(src).getPath
                catch { case _: java.net.URISyntaxException =>
                  new Path(src).toUri.getPath }
              coverage.get(decoded).fold(Set.empty[String])(_.keySet)
            })
          val rows: Iterator[org.apache.spark.sql.Row] =
            if (totalBytes > zoneScopedThreshold) {
              import scala.jdk.CollectionConverters._
              proj.toLocalIterator().asScala
            } else proj.collect().iterator
          val out = scala.collection.mutable.Map
            .empty[String, Map[String, (Any, Any)]]
          rows.foreach { r =>
            val fkey = new Path(r.getAs[String]("file")).toUri.getPath
            val covered = coverageOf(r.getAs[String]("__src"))
            val stats = sel.iterator
              .filter(c => covered(c + "__min") && covered(c + "__max"))
              .map(c => c -> ((r.getAs[Any](s"${c}__min"),
                r.getAs[Any](s"${c}__max")))).toMap
            out(fkey) = out.getOrElse(fkey, Map.empty) ++ stats
          }
          out.toMap
        }
      })
  }

  private def zoneScopedThreshold: Long = spark.conf
    .get("spark.graft.zoneSidecar.scopedLoadBytes",
      (64L * 1024 * 1024).toString).toLong

  /** Lazy Bloom [[Sidecar]] over `_bloom` parquet dir(s) — the one
    * Bloom loader behind `readPruned`, versioned reads and the V2
    * runtime probe. Two regimes, gated on the sidecars' on-disk byte
    * size (`spark.graft.bloomSidecar.scopedLoadBytes`): a small
    * sidecar loads WHOLE in one job on first use (the column list
    * falls out of the same load); past the threshold each load is
    * column-scoped to exactly the filtered columns and streamed via
    * toLocalIterator — driver memory bounded by files × FILTERED
    * columns instead of the whole table's metadata — and the column
    * list costs one `distinct()` job.
    */
  private[sources] def bloomSidecarFor(bloomDirs: Seq[String]): Sidecar.Blooms = {
    if (bloomDirs.isEmpty) return Sidecar.empty
    import org.apache.hadoop.fs.Path
    type BF = org.apache.spark.util.sketch.BloomFilter
    // explicit schema: no footer-inference job, and sidecars
    // predating the sizing columns read the same way
    def sidecar: DataFrame = spark.read
      .schema("file STRING, col STRING, bloom BINARY")
      .parquet(bloomDirs: _*)
    def load(scoped: Option[Set[String]]): Map[String, Map[String, BF]] = {
      import scala.jdk.CollectionConverters._
      val rows = scoped match {
        case None => sidecar.collect().iterator
        case Some(cols) => sidecar.filter(col("col").isin(cols.toSeq: _*))
          .toLocalIterator().asScala
      }
      val out = scala.collection.mutable.Map.empty[String, Map[String, BF]]
      rows.foreach { r =>
        val fkey = new Path(r.getString(0)).toUri.getPath
        val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](2)))
        out(fkey) = out.getOrElse(fkey, Map.empty) + (r.getString(1) -> bf)
      }
      out.toMap
    }
    lazy val small: Boolean = {
      val fs = new Path(bloomDirs.head)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val threshold = spark.conf.get(
        "spark.graft.bloomSidecar.scopedLoadBytes",
        (64L * 1024 * 1024).toString).toLong
      bloomDirs.iterator.map(d =>
        fs.getContentSummary(new Path(d)).getLength).sum <= threshold
    }
    lazy val all = load(None)
    new Sidecar[BF](
      () =>
        if (small) all.valuesIterator.flatMap(_.keys).toSet
        else sidecar.select("col").distinct()
          .collect().map(_.getString(0)).toSet,
      cols => if (small) all else load(Some(cols)))
  }

  /** Read through the zone-map sidecar with PLAN-TIME pruning — the
    * lazy upgrade of `readIndexed`: instead of the caller handing the
    * range to the driver up front, a `ZoneMapFileIndex` prunes files
    * inside `listFiles` using whatever data filters Catalyst pushed to
    * the scan. Composes with any later `.filter` / `.select` on the
    * returned DataFrame, and needs no residual re-statement here — the
    * user's own predicate is both the pruning key and the row filter,
    * exactly like parquet row-group stats pruning one level up.
    */
  def readPruned(path: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.types.StructType
    // the facade's read options apply on EVERY route, sidecar or not
    splitSize.foreach(b =>
      spark.conf.set("spark.sql.files.maxPartitionBytes", b.toString))
    if (failOnSchemaMismatch) checkUniformSchema(path)
    val zmPath = new Path(s"$path/_zonemap")
    val blPath = new Path(s"$path/_bloom")
    val fs = zmPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasZm = fs.exists(zmPath)
    val hasBl = fs.exists(blPath)
    if (!hasZm && !hasBl) return read(path)
    // sidecar rows key by the NORMALIZED FULL path (URI path component
    // — input_file_name() and FileStatus render file:///x vs file:/x),
    // never the bare file name: a hive partitionBy write reuses the
    // same part-file NAME in every partition directory, so name keys
    // collide across partitions and point lookups would wrongly prune.
    // Both sidecars load LAZILY and COLUMN-SCOPED: nothing is read
    // until a query filters.
    val zones = zoneSidecarFor(if (hasZm) Seq(zmPath.toString) else Nil)
    val blooms = bloomSidecarFor(if (hasBl) Seq(blPath.toString) else Nil)
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val fullSchema = graft.T.parquet(spark, Seq(path), readerOptions).schema
    val index = new ZoneMapFileIndex(classic, Seq(new Path(path)),
      Some(fullSchema), zones, blooms)
    // hive-partitioned layouts: the inferred partition columns must go
    // in the relation's PARTITION schema — leaving them in dataSchema
    // with an empty partition schema reads them back as all-NULL
    val partSchema = index.partitionSchema
    val fileSchema = StructType(fullSchema.fields
      .filterNot(f => partSchema.fieldNames.contains(f.name)))
    val rel = HadoopFsRelation(index, partSchema, fileSchema, None,
      new ParquetFileFormat(), readerOptions)(classic)
    val df = Bridge.ofRows(spark, LogicalRelation(rel, isStreaming = false))
    if (columns.nonEmpty) df.select(columns.map(col): _*) else df
  }

  /** VERSIONED table commits — manifest-based snapshots (the
    * lakehouse contract, engine-minimal): every commit writes its
    * part files into an immutable `data/c<N>/` directory and then
    * publishes `_manifest/v<N>` — the COMPLETE file list of version N
    * (append = previous list + new files; overwrite = new files
    * only). Readers resolve a manifest, never list the data dirs, so
    * a reader of version N is untouched by any later commit — time
    * travel, snapshot isolation for free, and no
    * rewrite-amplification: an append at 100 TB writes the delta and
    * a few KB of manifest. The manifest publish is a temp-file rename
    * (atomic on a real object-store commit protocol's rename/put-if-
    * absent primitive).
    *
    * @param statsCols MANIFEST-LEVEL DATA SKIPPING: the commit also
    *   records per-file [min,max] for these columns (a `_zonemap`
    *   table inside the commit dir, referenced by an `S` manifest
    *   line). `readVersionedPruned` then skips files at PLAN time
    *   from pushed filters — the Delta/Iceberg stats-in-log design.
    *   Stats ride the footer fast path (metadata-only build); each
    *   commit's stats cover its own files, so appends compose and
    *   files from stats-less commits are simply kept conservatively.
    * @param bloomCols BLOOM-IN-LOG: additionally builds a per-file
    *   Bloom sidecar over the commit's own files (a `B` manifest
    *   line), giving `readVersionedPruned` point-predicate file
    *   pruning on columns min/max stats cannot serve - the same
    *   zone-vs-bloom split as the path-level sidecars, now
    *   snapshot-consistent through the log.
    * @param sortedBy a DECLARED SORT ORDER: sorts the commit's rows
    *   within each task (ascending, nulls first) before writing, so
    *   EVERY data file is internally sorted by those columns, and
    *   records the claim as an `O` manifest line. The catalog scan
    *   then reports per-partition ordering (`SupportsReportOrdering`)
    *   and Spark elides the sort of a sort-merge join or sort-based
    *   aggregate over it — combined with a co-partitioned layout that
    *   is the zero-exchange ZERO-SORT fact-fact join. The claim is
    *   table-wide, so it survives only commits that uphold it: an
    *   append must re-declare the same `sortedBy` or the `O` line is
    *   dropped; copy-on-write rewrites drop it (their files are not
    *   re-sorted — re-compact to restore); compaction and the SQL
    *   write path re-enforce it.
    * @param txn a TRANSACTION MARKER: `Some(appId -> batchId)` records
    *   a `T\tappId\tbatchId` manifest line with the commit, and
    *   [[txnBatchIds]] answers "which batches has this app already
    *   committed?" — the idempotence primitive a streaming
    *   foreachBatch sink needs (Delta's txn/appId design). Version
    *   numbers CANNOT serve that role: any interleaved maintenance
    *   commit (compact, ALTER) shifts them, and a batchId==version
    *   check would silently skip a real batch — data loss. T lines
    *   ride appends and every maintenance rewrite
    *   ([[carriedMetaLines]]); an overwrite resets them with the
    *   table.
    * @return the committed version number (0-based).
    */
  def writeVersioned(df: DataFrame, path: String,
      append: Boolean = false, statsCols: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty, sortedBy: Seq[String] = Seq.empty,
      txn: Option[(String, Long)] = None): Long =
    commitVersioned(df, path, append, statsCols, bloomCols, sortedBy,
      txn, Seq.empty, None, None)

  /** Stage one append-shaped commit's DATA and sidecars into
    * `commitDir` — the shared core of a main append ([[writeVersioned]])
    * and a branch append ([[branchAppend]]), kept in ONE place so the
    * two line shapes cannot drift (branch publish's "byte-identical
    * to serial appends" contract depends on it). Writes the physical
    * rows, validates the commit dir, enforces the mor-key identifier
    * contract (callers that key-check their own input skip the
    * re-read), builds zone/bloom sidecars over the PHYSICAL columns
    * (token-bloom pseudo-columns translate their inner name), and
    * returns (fresh data files, S/B sidecar lines).
    */
  private def stageAppendData(toWrite: DataFrame, path: String,
      commitDir: org.apache.hadoop.fs.Path,
      fs: org.apache.hadoop.fs.FileSystem,
      mapping: Option[(Map[String, String], Seq[String])],
      statsCols: Seq[String], bloomCols: Seq[String],
      checkMorKey: Boolean): (Seq[String], Seq[String]) = {
    val freshFiles = writeCommitData(toWrite, commitDir, Nil, fs)
    validateCommitFiles(path, Seq(commitDir.toString), commitDir, fs)
    if (checkMorKey)
      requireMorKeyNonNull(path, toWrite.schema, commitDir, fs)
    val bloomColsP = bloomCols.map { c =>
      if (c.startsWith(GraftStorage.TokenBloomPrefix))
        GraftStorage.TokenBloomPrefix + physicalNameOf(
          c.stripPrefix(GraftStorage.TokenBloomPrefix), mapping)
      else physicalNameOf(c, mapping)
    }
    (freshFiles, sidecarLines(commitDir,
      statsCols.map(physicalNameOf(_, mapping)), bloomColsP))
  }

  /** The `S`/`B` lines of a commit's own sidecars: builds the zone map
    * over `statsCols` and the Bloom index over `bloomCols` (physical
    * names; either may be empty, and then its line is absent) under
    * `commitDir`. Every commit that indexes its fresh files — appends,
    * maintenance rewrites, the SQL delta write — forms them here.
    */
  private[sources] def sidecarLines(commitDir: org.apache.hadoop.fs.Path,
      statsCols: Seq[String], bloomCols: Seq[String]): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val stats =
      if (statsCols.isEmpty) Seq.empty
      else {
        buildZoneMap(commitDir.toString, statsCols)
        Seq(s"S\t${new Path(commitDir, "_zonemap").toUri.getPath}")
      }
    val blooms =
      if (bloomCols.isEmpty) Seq.empty
      else {
        buildBloomIndex(commitDir.toString, bloomCols)
        Seq(s"B\t${new Path(commitDir, "_bloom").toUri.getPath}")
      }
    stats ++ blooms
  }

  /** [[writeVersioned]] plus the maintenance-only arguments. */
  private[sources] def commitVersioned(df: DataFrame, path: String,
      append: Boolean, statsCols: Seq[String],
      bloomCols: Seq[String], sortedBy: Seq[String],
      txn: Option[(String, Long)],
      /** internal: raw manifest lines a maintenance OVERWRITE must
        * keep alive (today: the prior snapshot's `T` txn markers —
        * compact/z-order rewrite data, they do not reset the table's
        * streaming history the way a user overwrite does).
        */
      carryLines: Seq[String],
      /** internal: the version a maintenance rewrite READ its input
        * (data + carried lines) at — fail LOUDLY if the log advanced
        * since, or a commit that landed mid-rewrite (a streaming
        * batch, say) would be silently erased by publishing a
        * snapshot built from stale inputs. The residual race after
        * this check loses at the put-if-absent publish, also loudly.
        */
      requireBase: Option[Long],
      /** internal ([[mergeVersionedMor]]): also publish a deletion
        * vector of this commit's `morKey` values, its `D` lines
        * placed BEFORE the fresh file lines — by the sequence rule
        * the commit deletes the keys' OLD copies and keeps its own.
        */
      morKey: Option[String]): Long = {
    import org.apache.hadoop.fs.Path
    GraftStorage.requireTxn(txn)
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    val vs = listVersions(path)
    requireAtBase(path, vs, requireBase)
    require(!append || vs.nonEmpty,
      s"append to $path requires an existing version")
    // mapped table (RENAME/DROP history): logical→physical BEFORE
    // anything — files, the H line, the schema gate, and the DV key
    // all live in the stable physical space. Overwrites reset the
    // mapping (fresh full manifest, logical becomes physical).
    val mapping =
      if (append) columnMapping(path, vs.last) else None
    val dfP = toPhysicalDf(df, mapping, s"append to $path")
    val sortedByP = sortedBy.map(physicalNameOf(_, mapping))
    val morKeyP = morKey.map(physicalNameOf(_, mapping))
    // fail fast on type-conflicting evolution BEFORE any data is
    // written: the conflict is decidable from df.schema + the prior
    // H lines alone, and it must not poison the log (readers would
    // die on every subsequent resolve)
    if (append)
      GraftStorage.requireSchemaMerges(
        manifestEntries(path, vs.last) :+ s"H\t${dfP.schema.json}")
    GraftStorage.requireSortCols(dfP.schema, sortedByP)
    val n: Long = vs.lastOption.map(_ + 1).getOrElse(0L)
    val commitDir = newCommitDir(dir, n)
    val toWrite =
      if (sortedByP.isEmpty) dfP
      else dfP.sortWithinPartitions(sortedByP.map(col): _*)
    // appends AND overwrites enforce the identifier contract (the
    // mergeVersionedMor path checks its own input row-by-row —
    // morKey nonEmpty skips the re-read)
    val (freshFiles, sidecars) = stageAppendData(toWrite, path,
      commitDir, fs, mapping, statsCols, bloomCols,
      checkMorKey = morKey.isEmpty)
    // MoR upsert: the commit's own keys become a DV over everything
    // OLDER (D lines precede the fresh file lines — sequence rule)
    val dv: Seq[String] = morKeyP match {
      case Some(k) =>
        val dvDir = new Path(commitDir, "_dv")
        // keys re-read from the COMMITTED files, not the input plan:
        // one deterministic pass over exactly what landed. The
        // NULL-key gate rides the SAME job as an observed metric —
        // the per-commit readback job the previous shape paid is gone
        if (writeDvCountingNulls(
            spark.read.schema(dfP.schema).parquet(freshFiles: _*)
              .select(col(k)).distinct(),
            k, dvDir.toString) > 0) {
          fs.delete(commitDir, true)
          throw new IllegalArgumentException(
            s"mergeVersionedMor: updates carry a NULL '$k' — a " +
              "key-based deletion vector cannot delete the old copy; " +
              "route NULL-keyed rows through mergeVersioned")
        }
        dvLines(fs, commitDir, dvDir, k,
          "mergeVersionedMor", "mergeVersioned (copy-on-write)")
      case None => Seq.empty
    }
    val order = GraftStorage.oLine(sortedByP, append,
      if (append) sortSpec(path, n - 1) else Seq.empty)
    // schema-in-log: the commit records its own schema (`H` line);
    // readers merge H lines by name instead of opening footers. The
    // json is one line for any schema our writers produce (Spark's
    // DataType.json emits no newlines).
    val fresh = dv ++ freshFiles ++ sidecars ++ order ++
      txn.map(t => s"T\t${t._1}\t${t._2}").toSeq ++ carryLines ++
      rowCountLines(freshFiles) ++ Seq(s"H\t${dfP.schema.json}")
    // append inherits the RAW prior entries via a LOG-STRUCTURED
    // delta (O(delta) metadata written per commit): deletion vectors
    // keep applying to the files they were committed against —
    // and ONLY those: the appended file lines land AFTER every prior
    // D line, so by the sequence rule (manifestFilesDvs) a re-inserted
    // key survives earlier deletes. The delta DROPS the prior O line (fresh
    // re-declares it when upheld) and this app's prior txn marker (a
    // txn commit REPLACES it — one T line per appId, so manifests
    // stay O(apps), not O(batches)).
    if (append)
      publishManifestDelta(fs, dir, n,
        "O\t" +: txn.map(t => s"T\t${t._1}\t").toSeq,
        fresh, Some(commitDir))
    else publishManifest(fs, dir, n, fresh, Some(commitDir))
    n
  }

  /** The maintenance-rewrite base gate ([[commitVersioned]]'s
    * `requireBase`): fail LOUDLY when the log's head `vs` moved past
    * the version the rewrite read.
    */
  private def requireAtBase(path: String, vs: Seq[Long],
      base: Option[Long]): Unit =
    base.foreach(b => require(vs.lastOption.contains(b),
      s"concurrent commit advanced $path past version $b while a " +
        "maintenance rewrite was reading it — re-run the rewrite"))

  /** PARTITIONED versioned write — the storage-partitioned-join
    * foundation (Iceberg-style IDENTITY partitioning): rows land in
    * `commitDir/__gp_<col>=<value>/part-*.parquet` via `partitionBy`
    * on COPY columns, so the data files keep every original column;
    * the manifest records the spec as one `P` line and each file's
    * key is derived from its path. Everything else falls out of the
    * existing machinery: per-file [min,max]==key zone entries are
    * synthesized at scan-parts time (static + runtime file pruning,
    * partition-col MIN/MAX at manifest rate), and the DSv2 catalog
    * scan reports `KeyGroupedPartitioning` so joins and aggregations
    * on the partition key run with ZERO shuffle between
    * co-partitioned tables — at 100 TB the single biggest exchange
    * in a fact-fact join simply disappears.
    *
    * Keys must be scalar identity types (string/integral/date/
    * boolean); a NULL key rides Hive's default-partition dir. An
    * append must repeat the table's partitioning. Maintenance
    * rewrites (compact/z-order) write UNPARTITIONED layouts and drop
    * the `P` line — re-partition with this method; readers of such a
    * snapshot simply lose the shuffle elision, never correctness
    * (the scan only reports key-grouping when EVERY file parses a
    * key).
    */
  def writeVersionedPartitioned(df: DataFrame, path: String,
      partCols: Seq[String], append: Boolean = false,
      sortedBy: Seq[String] = Seq.empty,
      txn: Option[(String, Long)] = None,
      /** internal: see [[commitVersioned]]'s carryLines. */
      carryLines: Seq[String] = Seq.empty,
      /** internal: see [[commitVersioned]]'s requireBase. */
      requireBase: Option[Long] = None): Long = {
    import org.apache.hadoop.fs.Path
    require(partCols.nonEmpty,
      "writeVersionedPartitioned needs at least one partition column")
    GraftStorage.requireTxn(txn)
    validatePartCols(df.schema, partCols)
    GraftStorage.requireSortCols(df.schema, sortedBy)
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    val vs = listVersions(path)
    requireAtBase(path, vs, requireBase)
    require(!append || vs.nonEmpty,
      s"append to $path requires an existing version")
    if (append) {
      val prior = partitionSpec(path, vs.last)
      // parsed comparison: cosmetic whitespace in a bucket(n, col)
      // token must not reject an append to the same layout
      require(prior.map(GraftStorage.parsePartField) ==
          partCols.map(GraftStorage.parsePartField),
        s"append partitioned by $partCols but the table is " +
          s"partitioned by $prior")
      GraftStorage.requireSchemaMerges(
        manifestEntries(path, vs.last) :+ s"H\t${df.schema.json}")
    }
    val n: Long = vs.lastOption.map(_ + 1).getOrElse(0L)
    val commitDir = newCommitDir(dir, n)
    // HASH-DISTRIBUTE by the layout keys before the write (Iceberg's
    // write.distribution-mode=hash, the partitioned-table default —
    // guide §6): every partition dir is written by ONE task, so a
    // commit lands one file per dir instead of (input tasks × dirs)
    // small files, and the per-dir writers run in parallel across
    // the cluster instead of serially inside each input task.
    // The exchange width is EXPLICIT (writeTasks): an AQE-managed
    // repartition coalesces a small commit's distribution to one
    // task, which then serializes every per-dir parquet writer it
    // feeds (measured 0.85s vs 0.15s for a 25k-row 30-dir commit).
    // Skew caveat (documented Iceberg hash-mode property): one giant
    // day funnels into one write task — pre-split such layouts with
    // an extra bucket(n, col) partition field.
    val keyCols = GraftStorage.partKeys(partCols, df.schema)
    val distributed = df.repartition(writeTasks(df), keyCols: _*)
    // sort by (layout keys, sortedBy) within each task: rows of one
    // partition dir are then contiguous AND internally ordered, so
    // every per-dir file the task rolls is sorted by sortedBy
    val toWrite =
      if (sortedBy.isEmpty) distributed
      else distributed.sortWithinPartitions(
        (keyCols ++ sortedBy.map(col)): _*)
    val freshFiles = writeCommitData(toWrite, commitDir, partCols, fs)
    validateCommitFiles(path, freshFiles, commitDir, fs)
    requireMorKeyNonNull(path, df.schema, commitDir, fs,
      Some(freshFiles.filter(_.endsWith(".parquet"))))
    val order = GraftStorage.oLine(sortedBy, append,
      if (append) sortSpec(path, n - 1) else Seq.empty)
    val fresh = freshFiles ++ rowCountLines(freshFiles) ++ order ++
      txn.map(t => s"T\t${t._1}\t${t._2}").toSeq ++ carryLines ++
      Seq("P\t" + partCols.map(GraftStorage.parsePartField(_).spec)
        .mkString(","), s"H\t${df.schema.json}")
    if (append)
      // O(delta) log-structured append: drop the inherited P (fresh
      // re-declares the SAME spec — the require above pinned it), O,
      // and this app's txn marker; everything else replays
      publishManifestDelta(fs, dir, n,
        Seq("P\t", "O\t") ++ txn.map(t => s"T\t${t._1}\t").toSeq,
        fresh, Some(commitDir))
    else publishManifest(fs, dir, n, fresh, Some(commitDir))
    n
  }

  /** Shared gate of every partitioned commit surface: key types must
    * round-trip through partition-dir strings, names must avoid the
    * manifest/path delimiters, and nothing may collide with the
    * `__gp_` copy-column namespace (silent data loss otherwise).
    */
  private[sources] def validatePartCols(
      schema: org.apache.spark.sql.types.StructType,
      partCols: Seq[String]): Unit = {
    val fields = partCols.map(GraftStorage.parsePartField)
    val missing = fields.map(_.col).filterNot(schema.fieldNames.contains)
    require(missing.isEmpty,
      s"partition columns absent from the schema: ${missing.mkString(", ")}")
    fields.foreach { f =>
      val dt = schema(f.col).dataType
      f match {
        case GraftStorage.IdentityPart(c) =>
          require(GraftStorage.partKeyType(dt),
            s"partition column $c: $dt is not an identity-partition " +
              "key type (string/integral/date/boolean)")
        case GraftStorage.BucketPart(n, c) =>
          require(n > 0, s"bucket($n,$c): bucket count must be positive")
          require(GraftStorage.bucketKeyType(dt),
            s"bucket column $c: $dt is not hash-bucketable (float/" +
              "double are excluded — -0.0/NaN bit patterns split " +
              "SQL-equal keys across buckets; cast the column or " +
              "recreate the table on a stable key type)")
        case GraftStorage.TemporalPart(u, c) =>
          import org.apache.spark.sql.types.{DateType, TimestampType}
          // NTZ is deliberately excluded: its micros are zone-less
          // "local" values, so a UTC ordinal over them would not mean
          // what the pruning bounds claim
          require(dt == TimestampType || (dt == DateType && u != "hours"),
            s"$u($c): $dt is not a valid source type (timestamp, or " +
              "date for years/months/days)")
      }
      require(!f.col.exists(",\t/=.()\n\r".contains(_)),
        s"partition column name '${f.col}' contains a manifest/path/" +
          "reference delimiter (comma, tab, /, =, ., parens, or a " +
          "line break)")
    }
    val prefixes = Seq(GraftStorage.PartDirPrefix, "__gb", "__gt")
    val clash = schema.fieldNames
      .filter(n => prefixes.exists(n.startsWith))
    require(clash.isEmpty,
      s"columns ${clash.mkString(", ")} collide with the " +
        "partition-dir copy-column namespace (__gp_/__gb) — " +
        "withColumn would overwrite them and partitionBy would strip " +
        "them from the data files (silent loss); rename them first")
  }

  /** TRUNCATE as a metadata-only commit: version N+1 carries the
    * schema (and, on a partitioned table, the `P` spec — a truncate
    * must not silently de-partition the table) and zero files.
    */
  def truncateVersioned(path: String): Long = {
    import org.apache.hadoop.fs.Path
    val vs = listVersions(path)
    require(vs.nonEmpty, s"no versions committed under $path")
    val n = vs.last + 1
    val spec = partitionSpec(path, vs.last)
    // legacy (pre-schema-in-log) manifests carry no H line — a
    // truncate must still leave the table readable, so synthesize one
    // from the prior snapshot's resolved schema
    val h0 = manifestEntries(path, vs.last).filter(_.startsWith("H\t"))
    val h =
      if (h0.nonEmpty) h0
      else Seq(s"H\t${readVersioned(path, Some(vs.last)).schema.json}")
    val entries =
      (if (spec.nonEmpty) Seq(s"P\t${spec.mkString(",")}") else Seq.empty) ++
      // txn markers survive TRUNCATE (Delta keeps setTransaction
      // history the same way): a checkpointed sink replaying its
      // last batch after a truncate must NOT re-insert it into the
      // table the user just emptied
      txnLines(path, vs.last) ++
      h
    val dir = new Path(path)
    publishManifest(
      dir.getFileSystem(spark.sparkContext.hadoopConfiguration),
      dir, n, entries)
    n
  }

  /** CREATE TABLE ... PARTITIONED BY: version 0 as a pure-metadata
    * commit (one `P` + one `H` line, zero files); the first INSERT
    * reads the spec and writes the partitioned layout.
    */
  def createVersionedPartitioned(path: String,
      schema: org.apache.spark.sql.types.StructType,
      partCols: Seq[String],
      sortedBy: Seq[String] = Seq.empty): Long = {
    import org.apache.hadoop.fs.Path
    require(partCols.nonEmpty, "createVersionedPartitioned needs " +
      "partition columns (use writeVersioned for unpartitioned tables)")
    validatePartCols(schema, partCols)
    GraftStorage.requireSortCols(schema, sortedBy)
    require(listVersions(path).isEmpty,
      s"$path already has committed versions")
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    publishManifest(fs, dir, 0L,
      (if (sortedBy.nonEmpty) Seq(s"O\t${sortedBy.mkString(",")}")
       else Seq.empty) ++
      Seq("P\t" + partCols.map(GraftStorage.parsePartField(_).spec)
        .mkString(","), s"H\t${schema.json}"))
    0L
  }

  /** Width of the hash-distribution exchange feeding a partitioned
    * commit. Scale-adaptive, never a local constant: the data term
    * (plan-stats bytes over a ~64 MB write-task target) governs large
    * commits, and a cluster-parallelism floor keeps a small commit's
    * per-dir writers CONCURRENT — an AQE-coalesced exchange collapses
    * them into one task that opens each dir's parquet writer serially.
    * Unknown stats (no file-backed source) fall back to the plan's own
    * partitioning.
    */
  private[sources] def writeTasks(df: DataFrame): Int = {
    val cores = spark.sparkContext.defaultParallelism.toLong
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val target = 64L << 20
    val byData =
      if (est <= 0 || est >= BigInt(1L << 50)) // default/unknown stat
        df.rdd.getNumPartitions.toLong
      else ((est + target - 1) / target).toLong
    math.min(math.max(cores, byData), 1L << 20).toInt
  }

  /** Write one commit's data files honoring the table's partition
    * layout — identity `__gp_` dirs when `partCols` is non-empty,
    * flat otherwise — and return the normalized fresh file list.
    * EVERY Scala-API commit surface that writes data (appends,
    * partitioned create/append, the partial rewrites) goes through
    * here, so a partitioned table's replacement files stay key-pure
    * and the storage-partitioned join survives maintenance and DML.
    */
  private[sources] def writeCommitData(df: DataFrame,
      commitDir: org.apache.hadoop.fs.Path, partCols: Seq[String],
      fs: org.apache.hadoop.fs.FileSystem,
      /** column mapping of the snapshot being rewritten: a PARTIAL
        * rewrite's fresh files must keep the stable PHYSICAL names or
        * they would drift from the carried files' schema.
        */
      mapping: Option[(Map[String, String], Seq[String])] = None)
      : Seq[String] = {
    val out = toPhysicalDf(df, mapping, "partial rewrite")
    // Commit-protocol v2: tasks rename their files straight into the
    // destination; job commit skips the driver's serial per-dir
    // mergePaths walk (measured 0.3-0.4s per 30-dir commit). Safe
    // here BY CONSTRUCTION: commitDir is a fresh version-private dir
    // and the manifest line that makes its files visible is only
    // published after this write returns — a failed job leaves
    // unreferenced files for removeOrphans, never a torn snapshot.
    if (partCols.isEmpty) {
      out.write.mode("overwrite")
        .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
        .parquet(commitDir.toString)
      fs.listStatus(commitDir).toSeq
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .map(_.getPath.toUri.getPath)
    } else {
      val fields = partCols.map(GraftStorage.parsePartField)
      // keyExpr is the single source of the layout formula (for
      // buckets: Spark's hash() = Murmur3 seed 42, the same function
      // the catalog's V2 `graft.bucket` reports, so co-bucketed
      // tables align for the SPJ)
      val pdf = fields.foldLeft(out)((d, f) =>
        d.withColumn(f.dirName, f.keyExpr(out.schema(f.col).dataType)))
      pdf.write.mode("overwrite")
        .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
        .partitionBy(fields.map(_.dirName): _*)
        .parquet(commitDir.toString)
      listParquetRecursive(fs, commitDir)
    }
  }

  /** Leaf data files under a partitioned commit dir (recursive;
    * sidecars and hidden files excluded), manifest-normalized.
    */
  private def listParquetRecursive(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = fs.listFiles(dir, true)
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (f.isFile && name.endsWith(".parquet") &&
          !name.startsWith("_") && !name.startsWith("."))
        out += f.getPath.toUri.getPath
    }
    out.toSeq.sorted
  }

  /** The table's identity-partition columns at version `v` (empty:
    * unpartitioned snapshot).
    */
  private[graft] def partitionSpec(path: String, v: Long): Seq[String] =
    manifestEntries(path, v).collectFirst {
      case e if e.startsWith("P\t") =>
        GraftStorage.splitSpecTokens(e.drop(2))
    }.getOrElse(Seq.empty)

  /** PARTITION SPEC EVOLUTION — a metadata-only commit that changes
    * the layout of every commit FROM HERE ON (Iceberg's spec-id
    * design applied per snapshot): existing data files keep their old
    * directory keys untouched; the next INSERT/append writes the new
    * layout. Readers of the mixed snapshot stay CORRECT and degrade
    * gracefully — the key-grouped scan engages only when every file
    * parses a key under the CURRENT spec, so SPJ/zone-synthesis pause
    * until a `compactVersioned` re-lays the whole table under the new
    * spec (each historical version still reads with its own spec).
    * `newSpec` empty de-partitions the table. Returns the committed
    * version.
    */
  def alterPartitionSpec(path: String, newSpec: Seq[String]): Long = {
    import org.apache.hadoop.fs.Path
    val vs = listVersions(path)
    require(vs.nonEmpty, s"no versions committed under $path")
    val schema = mergedManifestSchema(path, vs.last)
      .getOrElse(readVersioned(path, Some(vs.last)).schema)
    // canonical token form: 'bucket(4, k)' and 'bucket(4,k)' are the
    // SAME layout — compare and store parsed, or a cosmetic respell
    // would commit a bogus evolution (and its non-canonical P line
    // would then fail raw-string append checks)
    val canon = newSpec.map(GraftStorage.parsePartField(_).spec)
    if (canon.nonEmpty) validatePartCols(schema, canon)
    require(partitionSpec(path, vs.last)
        .map(GraftStorage.parsePartField(_).spec) != canon,
      s"the table is already partitioned by " +
        (if (canon.isEmpty) "nothing" else canon.mkString(", ")))
    val n = vs.last + 1
    // delta commit: drop only P (files, stats, blooms, O, H, R, DVs
    // all stay true — no data byte moves); legacy pre-H manifests
    // get a synthesized schema line so the table stays readable
    val h =
      if (manifestEntries(path, vs.last).exists(_.startsWith("H\t")))
        Seq.empty
      else Seq(s"H\t${schema.json}")
    val dir = new Path(path)
    publishManifestDelta(
      dir.getFileSystem(spark.sparkContext.hadoopConfiguration),
      dir, n, Seq("P\t"),
      h ++ (if (canon.nonEmpty) Seq(s"P\t${canon.mkString(",")}")
            else Seq.empty))
    n
  }

  /** The table's declared per-file sort order at version `v` (`O`
    * manifest line; empty: no claim). When non-empty, EVERY data file
    * of the snapshot is internally sorted by these columns ascending
    * nulls-first — the commit surfaces guarantee it (enforce on
    * write, or drop the line).
    */
  private[graft] def sortSpec(path: String, v: Long): Seq[String] =
    manifestEntries(path, v).collectFirst {
      case e if e.startsWith("O\t") =>
        e.drop(2).split(',').toSeq.filter(_.nonEmpty)
    }.getOrElse(Seq.empty)

  /** The latest manifest's raw `T` txn-marker lines. */
  private[sources] def txnLines(path: String, v: Long): Seq[String] =
    manifestEntries(path, v).filter(_.startsWith("T\t"))

  /** Batch ids `appId` has committed to this table — the read half
    * of the `txn` marker ([[writeVersioned]]), immune to
    * version-number drift from interleaved maintenance commits.
    * Each commit with a txn REPLACES the app's prior marker, so the
    * manifest holds ONE line per appId (the max batch id — Delta's
    * setTransaction design; manifests stay O(apps), not O(batches));
    * use [[txnCommitted]] as the sink-side gate. Malformed lines are
    * ignored, never fatal. Latest manifest only (markers ride
    * appends, maintenance rewrites, and TRUNCATE; a user overwrite
    * resets them with the table).
    */
  def txnBatchIds(path: String, appId: String): Set[Long] =
    listVersions(path).lastOption.map { v =>
      txnLines(path, v).iterator.flatMap { e =>
        val p = e.split('\t')
        if (p.length == 3 && p(1) == appId) p(2).toLongOption else None
      }.toSet
    }.getOrElse(Set.empty)

  /** Whether `appId` has already committed `batchId` (or any later
    * batch — micro-batch ids are monotone per checkpoint, and only
    * the max survives marker replacement). THE foreachBatch
    * idempotence gate:
    * `if (!st.txnCommitted(out, app, id)) st.writeVersioned(..,
    * txn = Some(app -> id))`.
    */
  def txnCommitted(path: String, appId: String, batchId: Long): Boolean =
    txnBatchIds(path, appId).exists(_ >= batchId)

  // ------------------------------------------------------------------
  // Named refs (tags / branches) + write-audit-publish
  // ------------------------------------------------------------------

  private def refsDir(path: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(path),
      "_refs")

  private def requireRefName(name: String): Unit =
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '_' || c == '-'),
      s"ref name must be [A-Za-z0-9_-]+, got '$name'")

  private def writeRef(path: String, kind: String, name: String,
      version: Long, allowMove: Boolean): Long = {
    import org.apache.hadoop.fs.Path
    requireRefName(name)
    val vs = listVersions(path)
    require(vs.contains(version),
      s"version $version does not exist under $path")
    val dir = refsDir(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    val dst = new Path(dir, s"$kind.$name")
    if (!allowMove && fs.exists(dst))
      throw new IllegalStateException(
        s"tag '$name' already exists on $path (tags are immutable; " +
          "use a branch for a movable ref)")
    val tmp = new Path(dir, s".$kind.$name." +
      s"${java.util.UUID.randomUUID.toString.take(8)}.tmp")
    val out = fs.create(tmp, true)
    try out.write(version.toString.getBytes("UTF-8"))
    finally out.close()
    if (allowMove) {
      // branches move: replace-by-rename (last writer wins, benign)
      fs.delete(dst, false)
      if (!fs.rename(tmp, dst)) {
        fs.delete(tmp, false)
        throw new IllegalStateException(
          s"ref '$kind.$name' on $path lost a concurrent publish race")
      }
    } else {
      // tags are IMMUTABLE: go through the same put-if-absent commit
      // primitive as manifests — a bare exists+rename is a TOCTOU
      // race on stores whose rename replaces (two racing tagVersion
      // calls would both 'succeed' and the tag would silently move)
      try GraftStorage.commitPrimitiveFor(fs).putIfAbsent(fs, tmp, dst)
      catch {
        case _: java.util.ConcurrentModificationException =>
          throw new IllegalStateException(
            s"tag '$name' already exists on $path (tags are " +
              "immutable; use a branch for a movable ref)")
      }
    }
    version
  }

  /** Create an IMMUTABLE named tag pinning `version` (default: the
    * latest published version) — `_refs/tag.<name>`. Tagged versions
    * survive [[vacuumVersioned]] regardless of `keepLast`: a tag is
    * the retention contract of the lakehouse engines' named
    * snapshots. Fails if the tag exists.
    */
  def tagVersion(path: String, name: String,
      version: Option[Long] = None): Long =
    writeRef(path, "tag", name,
      version.getOrElse(latestVisibleVersion(path)), allowMove = false)

  /** Create or MOVE a named branch pointer — `_refs/branch.<name>`.
    * A branch is a movable published-state pointer (the Iceberg
    * branch ref without divergent writes: the commit log stays
    * linear; advance the pointer as commits land). Branch-pinned
    * versions survive vacuum like tags.
    */
  def branchVersion(path: String, name: String,
      version: Option[Long] = None): Long = {
    // CREATION over a leftover _branchlog refuses: the stale staged
    // deltas (an abandoned same-name branch, or a crashed discard)
    // would silently become THIS branch's pending writes — audited
    // and fast-forwarded into main as if freshly staged
    if (!listRefs(path).toMap.contains(s"branch.$name")) {
      requireRefName(name)
      val logDir = branchLogDir(path, name)
      val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(branchDeltas(fs, logDir).isEmpty,
        s"cannot create branch '$name' on $path: a leftover branch " +
          "log with staged deltas exists at " +
          s"${logDir.toUri.getPath} — it would be resurrected as " +
          "this branch's pending writes; remove it explicitly first")
    }
    writeRef(path, "branch", name,
      version.getOrElse(latestVisibleVersion(path)), allowMove = true)
  }

  /** All named refs of a table: `("tag.<n>" | "branch.<n>") ->
    * version`, metadata-rate.
    */
  def listRefs(path: String): Seq[(String, Long)] = {
    val dir = refsDir(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .map(_.getPath)
      .filter(p => !p.getName.startsWith(".") &&
        (p.getName.startsWith("tag.") || p.getName.startsWith("branch.")))
      .map(p => p.getName ->
        GraftStorage.readLines(fs, p).head.trim.toLong)
      .sortBy(_._1)
  }

  /** Version a ref points at (tag first, then branch). */
  def resolveRef(path: String, name: String): Long = {
    requireRefName(name)
    val refs = listRefs(path).toMap
    refs.get(s"tag.$name").orElse(refs.get(s"branch.$name"))
      .getOrElse(throw new IllegalArgumentException(
        s"no tag or branch named '$name' under $path " +
          s"(have: ${listRefs(path).map(_._1).mkString(", ")})"))
  }

  /** Drop a tag or branch (the versions it pinned become ordinary
    * history, reclaimable by vacuum). A branch carrying STAGED
    * (unpublished) writes refuses: deleting just the pointer would
    * strand its `_branchlog` — orphan GC's liveness walk only covers
    * LISTED branches, so the stranded log's staged files would be
    * swept while the log still references them, and a later
    * same-name branch would silently resurrect the stale deltas.
    * Publish or discard first; an EMPTY leftover log dir (a crashed
    * publish's tail) is cleaned up with the pointer.
    */
  def dropRef(path: String, name: String): Unit = {
    import org.apache.hadoop.fs.Path
    requireRefName(name)
    val dir = refsDir(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hit = Seq(s"tag.$name", s"branch.$name")
      .map(new Path(dir, _)).filter(fs.exists(_))
    require(hit.nonEmpty, s"no tag or branch named '$name' under $path")
    if (hit.exists(_.getName == s"branch.$name")) {
      val logDir = branchLogDir(path, name)
      require(branchDeltas(fs, logDir).isEmpty,
        s"branch '$name' on $path has staged (unpublished) writes — " +
          "dropping the pointer would strand them (invisible to GC " +
          "liveness, resurrected by a later same-name branch); run " +
          "branchPublish or branchDiscardWrites first")
      if (fs.exists(logDir)) fs.delete(logDir, true): Unit
    }
    hit.foreach(fs.delete(_, false))
  }

  /** Snapshot read through a named ref (pruned: stats-in-log file
    * skipping applies to ref reads like any pinned-version read).
    */
  def readVersionedRef(path: String, name: String): DataFrame =
    readVersionedPruned(path, Some(resolveRef(path, name)))

  /** Named-refs inventory as a DataFrame — the `graft_refs('/t')`
    * TVF surface (metadata-rate: one tiny file per ref).
    */
  def refsVersioned(path: String): DataFrame =
    spark.createDataFrame(listRefs(path)).toDF("ref", "version")

  // -------------------- WRITABLE BRANCHES --------------------
  //
  // WAP-at-scale: stage a SEQUENCE of commits on a named branch,
  // audit the branch state, then FAST-FORWARD publish to main —
  // while main keeps taking unrelated commits (Iceberg's branch
  // write / Delta's shadow-table pattern; the reference's analogous
  // mechanism is the temp-parts → validate → splice publish of
  // BamSink.java:82-138, lifted from one file to a commit sequence).
  // A branch commit is an ADDITIONS-ONLY manifest delta (appends /
  // fresh files + sidecars) recorded under `_branchlog/<name>/b<K>`,
  // NEVER in the main log: default readers cannot see it, vacuum
  // cannot reap it (its files are invisible to manifest liveness
  // until publish), and main commits interleave freely — because the
  // deltas only ADD lines, replaying them on ANY later main head is
  // exactly the commit a serial append would have produced there.

  private def branchLogDir(path: String,
      name: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(path), s"_branchlog/$name")

  /** Ordered pending branch-delta files (`b<K>`, zero-padded). */
  private def branchDeltas(fs: org.apache.hadoop.fs.FileSystem,
      logDir: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] =
    if (!fs.exists(logDir)) Seq.empty
    else fs.listStatus(logDir).toSeq.map(_.getPath)
      .filter(p => p.getName.startsWith("b") &&
        p.getName.drop(1).forall(_.isDigit))
      .sortBy(_.getName)

  private def requireBranchRef(path: String, name: String): Long = {
    requireRefName(name)
    listRefs(path).toMap.getOrElse(s"branch.$name",
      throw new IllegalArgumentException(
        s"no branch named '$name' under $path — create it with " +
          "branchVersion first"))
  }

  /** The branch's resolved entry list: its base version's manifest
    * with every pending branch delta replayed on top — the same
    * algebra main's delta commits use.
    */
  private[sources] def branchEntries(path: String,
      name: String): Seq[String] = {
    val base = requireBranchRef(path, name)
    val logDir = branchLogDir(path, name)
    val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    branchDeltas(fs, logDir).foldLeft(manifestEntries(path, base)) {
      (acc, d) => GraftStorage.applyManifestDelta(
        acc, GraftStorage.readLines(fs, d))
    }
  }

  /** Audit read of the branch STATE (base snapshot + pending branch
    * commits) — what [[branchPublish]] would make the table say.
    */
  def readVersionedBranch(path: String, name: String): DataFrame =
    readResolvedEntries(path, branchEntries(path, name))

  /** Append `df` as one BRANCH COMMIT: full data write (stats/bloom
    * sidecars, row tallies, schema line — byte-identical to what a
    * serial append would commit), recorded as an additions-only
    * delta in the branch log instead of the main manifest. Default
    * readers stay on main; the audit reads the branch. Returns the
    * branch commit index.
    */
  def branchAppend(df: DataFrame, path: String, branch: String,
      statsCols: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty): Long = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val state = branchEntries(path, branch) // validates the ref
    // branch writes live in the branch STATE's physical space
    val mapping = mappingOfEntries(state)
    val dfP = toPhysicalDf(df, mapping, s"branch append to $path")
    // fail fast on type-conflicting evolution against the BRANCH
    // state (same gate as a main append)
    GraftStorage.requireSchemaMerges(state :+ s"H\t${dfP.schema.json}")
    val commitDir = newCommitDir(dir, listVersions(path).last + 1)
    // same staging core as a main append — the publish's
    // "byte-identical to serial appends" contract depends on it
    val (freshFiles, sidecars) = stageAppendData(dfP, path,
      commitDir, fs, mapping, statsCols, bloomCols, checkMorKey = true)
    val additions = freshFiles ++ sidecars ++
      rowCountLines(freshFiles) ++ Seq(s"H\t${dfP.schema.json}")
    // an unsorted append drops a prior sort-order claim, on a branch
    // exactly as on main (the claim is table-wide)
    val removals = Seq("O\t")
    val logDir = branchLogDir(path, branch)
    fs.mkdirs(logDir)
    // put-if-absent on the next slot; racing branch writers retry
    // with the advanced index (data dirs are writer-unique)
    var attempt = 0
    while (true) {
      val k = branchDeltas(fs, logDir).size
      val body = s"G\tbranch\t$k" +:
        (removals.map("X\t" + _) ++ additions)
      val tmp = new Path(logDir,
        s".b$k.${java.util.UUID.randomUUID.toString.take(8)}.tmp")
      val out = fs.create(tmp, true)
      try out.write(body.mkString("\n").getBytes("UTF-8"))
      finally out.close()
      try {
        GraftStorage.commitPrimitiveFor(fs).putIfAbsent(fs, tmp,
          new Path(logDir, f"b$k%05d"))
        return k
      } catch {
        case e: java.util.ConcurrentModificationException =>
          attempt += 1
          if (attempt > 10) { fs.delete(commitDir, true); throw e }
      }
    }
    -1L // unreachable
  }

  /** FAST-FORWARD the audited branch into main: replay each pending
    * branch delta, in order, as a real main commit (optimistic
    * put-if-absent per commit; a concurrent main commit just advances
    * the head the next replay lands on — sound because branch deltas
    * only ADD lines). The published manifests are byte-identical to
    * what serial appends of the same data would have produced. Moves
    * the branch pointer to the final published version and retires
    * the branch log. Refuses loudly when main's head is audit-pending
    * (WAP) or when main evolved a type-conflicting schema since the
    * branch was cut — the branch stays intact for a retry/discard.
    */
  def branchPublish(path: String, branch: String,
      maxRetries: Int = 10): Long = {
    import org.apache.hadoop.fs.Path
    requireBranchRef(path, branch): Unit
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logDir = branchLogDir(path, branch)
    val deltas = branchDeltas(fs, logDir)
    require(deltas.nonEmpty,
      s"branch '$branch' on $path has no pending commits to publish")
    var head = listVersions(path).last
    deltas.foreach { d =>
      val body = GraftStorage.readLines(fs, d).drop(1) // G header
      val removals = body.collect { case l if l.startsWith("X\t") =>
        l.drop(2) }
      val additions = body.filterNot(_.startsWith("X\t"))
      var attempt = 0
      var published = false
      while (!published) {
        // type-conflict gate INSIDE the retry loop: a lost race means
        // a concurrent main commit landed — its H lines must re-gate
        // before this delta replays on the new head, or a conflicting
        // merge would poison the log (the exact failure the gate
        // exists to prevent)
        GraftStorage.requireSchemaMerges(
          manifestEntries(path, head) ++ additions)
        try {
          publishManifestDelta(fs, dir, head + 1, removals, additions)
          published = true
        } catch {
          case e: java.util.ConcurrentModificationException =>
            attempt += 1
            if (attempt > maxRetries) throw e
        }
        head = listVersions(path).last
      }
      // retire THIS delta immediately: a mid-sequence failure (WAP
      // gate, crash, conflicting evolution) must leave the log
      // holding only the UNPUBLISHED suffix — a retry never
      // double-publishes, and a discard never deletes data files a
      // main manifest now references
      fs.delete(d, false): Unit
    }
    // the branch pointer fast-forwards to the published head; the
    // (now empty) log retires
    branchVersion(path, branch, Some(head)): Unit
    fs.delete(logDir, true)
    head
  }

  /** Discard the branch's pending commits: delete the staged data
    * dirs and the branch log — main is NEVER touched (nothing was
    * published), and the branch pointer stays at its base. Returns
    * the number of discarded branch commits.
    */
  /** Count of a branch's staged (unpublished) write deltas — 0 when
    * the branch is a plain pointer. SQL `VERSION AS OF '<branch>'`
    * gates on this: a pointer-only branch serves its pinned snapshot,
    * while a branch carrying staged writes refuses (the pointer alone
    * would silently drop them).
    */
  def branchPendingWrites(path: String, branch: String): Long = {
    val logDir = branchLogDir(path, branch)
    val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(logDir)) 0L
    else branchDeltas(fs, logDir).size.toLong
  }

  def branchDiscardWrites(path: String, branch: String): Long = {
    import org.apache.hadoop.fs.Path
    requireBranchRef(path, branch): Unit
    val logDir = branchLogDir(path, branch)
    val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val deltas = branchDeltas(fs, logDir)
    val staged = deltas.flatMap { d =>
      GraftStorage.readLines(fs, d).drop(1)
        .filterNot(_.startsWith("X\t"))
        .collect { case e if !e.contains('\t') =>
          new Path(e).getParent }
    }.distinct
    staged.foreach(p => fs.delete(p, true))
    fs.delete(logDir, true)
    deltas.size.toLong
  }

  /** Distinct audit-pending wap ids in version `v`'s manifest (the
    * single accessor for the `W` line format — wapStage/Publish/
    * Discard, vacuum, and latest-visible resolution all read it
    * through here).
    */
  private def pendingWapIds(path: String, v: Long): Seq[String] =
    manifestEntries(path, v)
      .collect { case e if e.startsWith("W\t") => e.drop(2) }.distinct

  /** Latest published version among `vs`, None when every version is
    * audit-pending.
    */
  private def latestVisibleOption(path: String,
      vs: Seq[Long]): Option[Long] =
    vs.reverse.find(v => pendingWapIds(path, v).isEmpty)

  /** Latest PUBLISHED version: trailing audit-pending commits
    * ([[wapStage]]'s `W`-marked manifests) are invisible to default
    * readers — the WAP contract's whole point. The audit gate only
    * ever lets stages stack at the log HEAD, so the walk-back is
    * bounded by one staging episode.
    */
  def latestVisibleVersion(path: String): Long = {
    val vs = listVersions(path)
    require(vs.nonEmpty, s"no versions committed under $path")
    latestVisibleOption(path, vs)
      .getOrElse(throw new IllegalStateException(
        s"every version of $path is audit-pending (stage without " +
          "publish); read an explicit version to audit, or publish"))
  }

  /** WRITE-AUDIT-PUBLISH stage: commit `df` as an ordinary append —
    * full data write, stats/bloom sidecars, the works — but carrying
    * a `W\t<wapId>` audit-pending marker, so DEFAULT readers still
    * resolve the prior published snapshot. The staged version is
    * readable EXPLICITLY (`readVersioned(path, Some(v))`) for audit
    * queries; until it resolves, every non-stage commit on the table
    * is rejected loudly (see [[requireNoPendingAudit]]) — the
    * temp-then-splice publish discipline of the reference's
    * single-file sink (BamSink.java:82-138) lifted to table commits.
    * Stages stack: a multi-commit ingest stages several versions
    * under one `wapId` and publishes them atomically-in-order.
    */
  def wapStage(df: DataFrame, path: String, wapId: String,
      statsCols: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty): Long = {
    require(wapId.nonEmpty && !wapId.exists(c => c == '\t' || c == '\n'),
      s"wapId must be non-empty without tab/newline, got '$wapId'")
    val vs0 = listVersions(path)
    require(vs0.nonEmpty,
      s"WAP staging needs an existing table at $path (bootstrap with " +
        "a normal commit first — there is no published state to " +
        "shield yet)")
    // stages may stack, but only under ONE id: a second auditor's id
    // would wedge the table (publish/discard require all pending ids
    // to match, and the audit gate rejects everything else)
    val pending = pendingWapIds(path, vs0.last)
    require(pending.forall(_ == wapId),
      s"cannot stage '$wapId' on $path: audit '${pending.mkString(",")}' " +
        "is pending — publish or discard it first")
    // requireBase pins the checked head: two RACING first stages
    // with different ids would otherwise both pass the check and
    // wedge the table with mixed pending ids (neither publishable
    // nor discardable) — the loser must fail loudly instead
    commitVersioned(df, path, append = true, statsCols, bloomCols,
      Seq.empty, None, carryLines = Seq(s"W\t$wapId"),
      requireBase = Some(vs0.last), morKey = None)
  }

  /** Publish the staged commits: one METADATA-ONLY commit whose
    * manifest is the head's resolution minus the `W` markers — zero
    * data bytes move at any scale. Verifies every pending marker
    * matches `wapId` (two interleaved audits cannot publish each
    * other's data). Returns the published version.
    */
  def wapPublish(path: String, wapId: String): Long = {
    import org.apache.hadoop.fs.Path
    val vs = listVersions(path)
    require(vs.nonEmpty, s"no versions committed under $path")
    val head = vs.last
    val pending = pendingWapIds(path, head)
    require(pending.nonEmpty, s"nothing is staged on $path")
    require(pending.forall(_ == wapId),
      s"staged wap ids ${pending.mkString(",")} do not all match " +
        s"'$wapId' — publish them under their own id")
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    publishManifestDelta(fs, dir, head + 1,
      removals = Seq("W\t"), additions = Seq.empty, wapResolve = true)
    head + 1
  }

  /** Discard the staged commits: republish the latest PUBLISHED
    * snapshot as the new head (metadata-only; the staged data files
    * stay until vacuum retires their manifests). The rejected-batch
    * path of the audit workflow.
    */
  def wapDiscard(path: String, wapId: String): Long = {
    import org.apache.hadoop.fs.Path
    val vs = listVersions(path)
    require(vs.nonEmpty, s"no versions committed under $path")
    val head = vs.last
    val pending = pendingWapIds(path, head)
    require(pending.nonEmpty, s"nothing is staged on $path")
    require(pending.forall(_ == wapId),
      s"staged wap ids ${pending.mkString(",")} do not all match " +
        s"'$wapId'")
    val visible = latestVisibleVersion(path)
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    publishManifest(fs, dir, head + 1,
      manifestEntries(path, visible), wapResolve = true)
    head + 1
  }

  /** EXTERNAL key values of one partitioned file, parsed from its
    * `__gp_<col>=<value>` path segments; None when any segment is
    * missing (a file from an unpartitioned commit).
    */
  private[sources] def partKeyOf(schema: org.apache.spark.sql.types.StructType,
      partFields: Seq[GraftStorage.PartField],
      file: String): Option[Seq[Any]] = {
    val segs: Map[String, String] = file.split('/').iterator
      .filter(_.contains('=')).map { s =>
        val i = s.indexOf('=')
        s.substring(0, i) -> s.substring(i + 1)
      }.toMap
    val vals = partFields.map { f =>
      segs.get(f.dirName).flatMap { raw =>
        f match {
          case GraftStorage.BucketPart(_, _) =>
            // bucket dirs hold the int bucket id (hash(null)=seed, so
            // no default-partition dir ever appears)
            raw.toIntOption.map(java.lang.Integer.valueOf)
          case GraftStorage.TemporalPart(_, _) =>
            // temporal dirs hold the int ordinal; a NULL source value
            // lands in the default-partition dir → null key (the file
            // stays keyed — it synthesizes no zone, but SPJ grouping
            // and layout-preserving rewrites still see its key)
            if (raw == org.apache.spark.sql.catalyst.catalog
                .ExternalCatalogUtils.DEFAULT_PARTITION_NAME) Some(null)
            else raw.toIntOption.map(java.lang.Integer.valueOf)
          case GraftStorage.IdentityPart(c) =>
            val un = org.apache.spark.sql.catalyst.catalog
              .ExternalCatalogUtils.unescapePathName(raw)
            Some(
              if (un == org.apache.spark.sql.catalyst.catalog
                  .ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
              else GraftStorage.decodePartValue(schema(c).dataType, un))
        }
      }
    }
    if (vals.exists(_.isEmpty)) None else Some(vals.map(_.get))
  }

  /** CHECK constraints on a versioned table — declared once, enforced
    * on every commit that introduces rows (create/append, UPDATE,
    * MERGE; merge-on-read DELETE adds no rows and skips). One file
    * per constraint under `_constraints/<name>`, body = the SQL
    * predicate; ANSI semantics: a row violates only when the
    * predicate evaluates to FALSE (NULL passes, as in SQL CHECK).
    *
    * Enforcement sits at the commit protocol's natural gate — AFTER
    * the data write, BEFORE the manifest publish — so a failed commit
    * is invisible (readers resolve manifests only) and its data dir
    * is removed. Validation reads back only the NEW commit's files
    * and only the constraint's columns (columnar pruning), so the
    * cost is O(delta, referenced cols), never O(table).
    */
  def addCheckConstraint(path: String, name: String,
      predicateSql: String): Unit = {
    require(listVersions(path).isEmpty || !hasColumnMapping(path),
      s"CHECK constraint on $path: the table renames/drops columns " +
        "(column mapping) and constraint expressions name columns — " +
        "compact (REORG) first")
    import org.apache.hadoop.fs.Path
    require(name.matches("[A-Za-z0-9_]+"),
      s"constraint name must be [A-Za-z0-9_]+, got '$name'")
    // the existing snapshot must already satisfy the new rule
    if (listVersions(path).nonEmpty)
      requireSatisfies(readVersioned(path), Map(name -> predicateSql),
        s"existing snapshot of $path")
    val cdir = new Path(new Path(path), "_constraints")
    val fs = cdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(cdir)
    val tmp = new Path(cdir, s".$name.tmp")
    val out = fs.create(tmp, true)
    out.write(predicateSql.getBytes("UTF-8"))
    out.close()
    // Re-declaring replaces the old predicate on EVERY filesystem,
    // ATOMICALLY where the filesystem can: local uses an atomic
    // replacing move (no window in which the constraint is absent —
    // a concurrent commit validates against either the old or the
    // new predicate, never none); elsewhere rename is tried first
    // (fresh declare, and POSIX-semantics stores overwrite) and only
    // a refused rename (HDFS with an existing destination) takes the
    // delete-then-rename path, whose narrow window is confined to
    // the re-declare case on such stores. Failure to land is LOUD.
    val dst = new Path(cdir, name)
    if (fs.getScheme == "file") {
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp.toUri.getPath),
        java.nio.file.Paths.get(dst.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    } else if (!fs.rename(tmp, dst)) {
      fs.delete(dst, false)
      if (!fs.rename(tmp, dst)) {
        fs.delete(tmp, false)
        throw new IllegalStateException(
          s"failed to install constraint '$name' at $dst")
      }
    }
  }

  /** Declared CHECK constraints: name → SQL predicate. */
  def checkConstraints(path: String): Map[String, String] = {
    import org.apache.hadoop.fs.Path
    val cdir = new Path(new Path(path), "_constraints")
    val fs = cdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(cdir)) Map.empty
    else fs.listStatus(cdir).toSeq
      .filter(f => f.isFile && !f.getPath.getName.startsWith("."))
      .map { f =>
        val in = fs.open(f.getPath)
        val body = try {
          val buf = new Array[Byte](f.getLen.toInt)
          in.readFully(0, buf)
          new String(buf, "UTF-8")
        } finally in.close()
        f.getPath.getName -> body
      }.toMap
  }

  /** Remove a declared constraint (future commits stop checking it). */
  def dropCheckConstraint(path: String, name: String): Unit = {
    import org.apache.hadoop.fs.Path
    val f = new Path(new Path(path), s"_constraints/$name")
    val fs = f.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(f), s"no constraint '$name' on $path")
    fs.delete(f, false)
  }

  /** Set (or replace) one table property — a `_props/<name>` side
    * file, the `_constraints` machinery's shape: root-level `_` dirs
    * ride clone/vacuum untouched and need no manifest commit (a
    * property is writer CONFIGURATION, not snapshot state — Iceberg's
    * `write.delete.mode` contract, which `delete_mode` + `mor_key`
    * mirror for SQL DELETE routing).
    */
  def setTableProperty(path: String, name: String, value: String): Unit = {
    import org.apache.hadoop.fs.Path
    GraftStorage.requirePropName(name)
    // flipping a table INTO merge-on-read mode makes the catalog
    // declare mor_key non-nullable — unsound over stored NULLs
    // (codegen elides the null checks and reads garbage), so the flip
    // validates the CURRENT snapshot once, loudly, O(table) at flip
    // time. CREATE TABLE hits this with zero versions (free).
    if (name == "delete_mode" || name == "mor_key") {
      val props = tablePropertiesOf(path) + (name -> value)
      if (props.get("delete_mode").contains("merge-on-read"))
        props.get("mor_key").foreach { k =>
          listVersions(path).lastOption.foreach { v =>
            val snap = readVersioned(path, Some(v))
            require(snap.columns.exists(_.equalsIgnoreCase(k)),
              s"cannot set $name on $path: mor_key '$k' is not a " +
                "column of the current snapshot")
            require(snap.filter(col(k).isNull).isEmpty,
              s"cannot set $name on $path: stored rows carry a NULL " +
                s"'$k' — a merge-on-read key is an identifier column " +
                "(declared non-null to readers); delete or rewrite " +
                "the NULL-keyed rows first")
          }
        }
    }
    val pdir = new Path(new Path(path), "_props")
    val fs = pdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(pdir)
    val tmp = new Path(pdir, s".$name.tmp")
    val out = fs.create(tmp, true)
    try out.write(value.getBytes("UTF-8")) finally out.close()
    val dst = new Path(pdir, name)
    if (fs.getScheme == "file") {
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp.toUri.getPath),
        java.nio.file.Paths.get(dst.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    } else if (!fs.rename(tmp, dst)) {
      fs.delete(dst, false)
      if (!fs.rename(tmp, dst)) {
        fs.delete(tmp, false)
        throw new IllegalStateException(
          s"failed to set property '$name' at $dst")
      }
    }
  }

  /** Drop one declared table property (UNSET TBLPROPERTIES). Removing
    * `delete_mode`/`mor_key` is always legal — the table falls back
    * to copy-on-write routing and the catalog schema drops the
    * non-null key declaration on the next load; existing DVs keep
    * applying through the manifest (they are snapshot state, not
    * configuration).
    */
  def removeTableProperty(path: String, name: String): Unit = {
    import org.apache.hadoop.fs.Path
    // same gate as setTableProperty: a path-shaped name (e.g.
    // '../_manifest/v12') would normalize OUTSIDE _props and delete
    // arbitrary table files
    GraftStorage.requirePropName(name)
    val f = new Path(new Path(path), s"_props/$name")
    val fs = f.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(f, false): Unit
  }

  /** Declared table properties: name → value (empty when none). */
  def tablePropertiesOf(path: String): Map[String, String] = {
    import org.apache.hadoop.fs.Path
    val pdir = new Path(new Path(path), "_props")
    val fs = pdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(pdir)) Map.empty
    else fs.listStatus(pdir).toSeq
      .filter(f => f.isFile && !f.getPath.getName.startsWith("."))
      .map { f =>
        val in = fs.open(f.getPath)
        val body = try {
          val buf = new Array[Byte](f.getLen.toInt)
          in.readFully(0, buf)
          new String(buf, "UTF-8")
        } finally in.close()
        f.getPath.getName -> body
      }.toMap
  }

  /** One aggregate pass counting FALSE evaluations per constraint;
    * throws [[ConstraintViolationException]] if any row violates.
    */
  private def requireSatisfies(df: DataFrame,
      constraints: Map[String, String], what: String): Unit = {
    if (constraints.isEmpty) return
    val names = constraints.keys.toSeq.sorted
    val aggs = names.map { n =>
      count(when(!coalesce(expr(constraints(n)), lit(true)), 1)).as(n)
    }
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val counts = names.zipWithIndex
      .map { case (n, i) => n -> row.getLong(i) }
      .filter(_._2 > 0).toMap
    if (counts.nonEmpty)
      throw new ConstraintViolationException(counts,
        s"CHECK constraint violation on $what: " +
          counts.toSeq.sorted.map { case (n, c) =>
            s"$n (${constraints(n)}): $c rows" }.mkString("; "))
  }

  /** Write a deletion-vector DataFrame as parquet while counting its
    * NULL keys IN THE SAME JOB (`Dataset.observe` rides the write
    * action): the NULL-key safety gate every key-based DV commit
    * runs, without the extra re-read job the gate used to cost per
    * commit. Returns the observed NULL-key count (task retries can
    * only over-count a real NULL — the >0 gate is retry-safe; a
    * completed write has run every partition, so a present NULL is
    * always counted).
    */
  private def writeDvCountingNulls(dv: DataFrame, keyColP: String,
      outDir: String): Long = {
    val obs = org.apache.spark.sql.Observation()
    dv.observe(obs,
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.when(col(keyColP).isNull,
            org.apache.spark.sql.functions.lit(1))).as("null_keys"))
      .write.mode("overwrite")
      .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
      .parquet(outDir)
    obs.get("null_keys") match {
      case l: java.lang.Long => l.longValue()
      case x => String.valueOf(x).toLong
    }
  }

  /** Identifier-field contract of `delete_mode=merge-on-read` tables
    * (Iceberg's rule, enforced on EVERY write path): the `mor_key`
    * column must be present and non-null in each appended row. The
    * SQL surface already enforces it through the catalog's
    * non-nullable declared schema; this is the same gate for Scala
    * writers — a NULL key could never ride a key-based deletion
    * vector, and worse, a non-null declared column holding a stored
    * NULL reads back as GARBAGE under codegen (null checks elided).
    * Costs one O(delta) pass over the commit's own files, and only on
    * tables that opted into MoR.
    */
  private[sources] def requireMorKeyNonNull(path: String,
      writeSchema: org.apache.spark.sql.types.StructType,
      commitDir: org.apache.hadoop.fs.Path,
      fs: org.apache.hadoop.fs.FileSystem,
      /** explicit fresh-file list (partitioned commits nest files in
        * key subdirs — a bare dir read would misparse them).
        */
      files: Option[Seq[String]] = None): Unit = {
    val props = tablePropertiesOf(path)
    if (!props.get("delete_mode").contains("merge-on-read")) return
    props.get("mor_key").foreach { k =>
      def refuse(what: String): Nothing = {
        fs.delete(commitDir, true)
        throw new IllegalArgumentException(
          s"append to $path: $what — the table is " +
            s"delete_mode=merge-on-read and its mor_key '$k' is an " +
            "identifier column (non-null on every row); deletion " +
            "vectors cannot address NULL keys")
      }
      if (!writeSchema.fieldNames.exists(_.equalsIgnoreCase(k)))
        refuse(s"the append's schema lacks the key column '$k'")
      val data = files match {
        case Some(fs) if fs.isEmpty => return
        case Some(fs) =>
          spark.read.schema(writeSchema).parquet(fs: _*)
        case None =>
          spark.read.schema(writeSchema).parquet(commitDir.toString)
      }
      if (!data.filter(col(k).isNull).isEmpty)
        refuse(s"appended rows carry a NULL '$k'")
    }
  }

  /** Constraint validation over an EXPLICIT file list — the V2
    * commit's form: only the files the successful write attempts
    * reported are validated (and later manifested), so a torn orphan
    * from a crashed attempt in the same dir can neither fail the
    * commit nor sneak rows into validation. Reads back the files
    * (constraint columns only) and, on violation, removes the commit
    * dir so the aborted commit leaves no trace.
    */
  private[sources] def validateCommitFiles(path: String,
      files: Seq[String], commitDir: org.apache.hadoop.fs.Path,
      fs: org.apache.hadoop.fs.FileSystem): Unit = {
    val cs = checkConstraints(path)
    if (cs.isEmpty || files.isEmpty || !fs.exists(commitDir)) return
    val base = spark.read.parquet(files: _*)
    // constraints resolve against the TABLE's merged schema: a delta
    // shaped like a pre-evolution commit lacks evolved columns, and a
    // constraint on one must see NULL (ANSI pass), not an unresolved-
    // column AnalysisException
    val widened = listVersions(path).lastOption
      .flatMap(v => mergedManifestSchema(path, v))
      .fold(base) { schema =>
        val have = base.columns.toSet
        schema.fields.filterNot(f => have(f.name)).foldLeft(base) {
          (d, f) => d.withColumn(f.name, lit(null).cast(f.dataType))
        }
      }
    try requireSatisfies(widened, cs,
      s"commit ${commitDir.getName} of $path")
    catch {
      case e: ConstraintViolationException =>
        fs.delete(commitDir, true)
        throw e
    }
  }

  /** `R\t<rows>\t<path>` manifest lines for a commit's fresh files —
    * row counts IN THE LOG, so `countVersioned` answers COUNT(*) from
    * manifests alone. Each is a KB-scale footer read, once per NEW file
    * at commit time (never per table file).
    */
  private[sources] def rowCountLines(files: Seq[String]): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    def line(f: String) = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(f), conf),
        org.apache.parquet.HadoopReadOptions.builder(conf).build())
      try s"R\t${r.getRecordCount}\t$f" finally r.close()
    }
    // parallel footer opens: serial reads cost ~0.2 s per 30-file
    // commit locally and a round trip per file on an object store
    if (files.size <= 1) files.map(line)
    else GraftStorage.onDriverPool(files)(line)
  }

  /** COUNT(*) at metadata rate: when every data file of the snapshot
    * carries an `R` row-count line and no deletion vector is in play,
    * the answer is a manifest sum — zero data bytes read at any table
    * size (the Delta/Iceberg "stats-only query" fast path). Falls
    * back to a scan for legacy manifests or MoR snapshots (DV row
    * counts are per-key, not per-file).
    */
  def countVersioned(path: String, version: Option[Long] = None): Long =
    countVersionedFast(path, version)
      .getOrElse(readVersioned(path, version).count())

  /** The manifest-sum half of [[countVersioned]]: Some(count) when
    * every data file carries an `R` line and no DV is in play, None
    * when only a scan would know — callers choose whether the scan
    * runs eagerly (countVersioned) or as a lazy plan (the
    * `graft_count` TVF, where an eager scan inside ANALYSIS would
    * make EXPLAIN read the table).
    */
  def countVersionedFast(path: String,
      version: Option[Long] = None): Option[Long] = {
    val vs = listVersions(path)
    require(vs.nonEmpty, s"no versions committed under $path")
    val v = version.getOrElse(latestVisibleVersion(path))
    val rcs = manifestEntries(path, v).collect {
      case e if e.startsWith("R\t") =>
        val p = e.split('\t'); (p(2), p(1).toLong)
    }.toMap
    val files = manifestFiles(path, v)
    if (manifestDvs(path, v).isEmpty && files.forall(rcs.contains))
      Some(files.map(rcs).sum)
    else None
  }

  /** Fresh, WRITER-UNIQUE commit directory for version `n`. Two
    * racing writers must never share a data dir: before the manifest
    * race is even decided, the loser's `mode("overwrite")` data write
    * would destroy the winner's already-published part files (part
    * names are per-job UUIDs, so the overwrite deletes rather than
    * collides). Manifests record full paths, so dir names carry no
    * semantics — the suffix only guarantees isolation.
    */
  private[sources] def newCommitDir(dir: org.apache.hadoop.fs.Path,
      n: Long): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(dir,
      s"data/c$n-${java.util.UUID.randomUUID.toString.take(8)}")

  /** Write + publish one version manifest through the put-if-absent
    * gate. The temp name is writer-unique too (the shared `.v<n>.tmp`
    * would be its own smaller race). On a lost race this writer's own
    * commit data dir is removed before rethrowing — the winner's
    * commit stays untouched and fully readable.
    */
  private[sources] def publishManifest(fs: org.apache.hadoop.fs.FileSystem,
      tablePath: org.apache.hadoop.fs.Path, n: Long,
      entries: Seq[String],
      cleanup: Option[org.apache.hadoop.fs.Path] = None,
      wapResolve: Boolean = false): Unit = {
    import org.apache.hadoop.fs.Path
    try requireNoPendingAudit(tablePath.toString, n, entries, wapResolve)
    catch { case e: IllegalStateException =>
      cleanup.foreach(fs.delete(_, true)); throw e
    }
    val manifestDir = new Path(tablePath, "_manifest")
    fs.mkdirs(manifestDir)
    val tmp = new Path(manifestDir,
      s".v$n.${java.util.UUID.randomUUID.toString.take(8)}.tmp")
    // exact-duplicate lines collapse to their FIRST occurrence —
    // semantically idempotent for every line kind, and it keeps a
    // checkpoint O(files + DISTINCT schemas): schema-stable appends
    // contribute one identical `H` line per commit, which would
    // otherwise make checkpoints (and every carriedMetaLines rewrite)
    // grow O(commits). First-occurrence order preserves the H-merge
    // first-seen column order.
    val deduped = entries.distinct
    val out = fs.create(tmp, true)
    try out.write(deduped.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    try publishAtomic(fs, tmp, new Path(manifestDir, s"v$n"))
    catch {
      case e: java.util.ConcurrentModificationException =>
        cleanup.foreach(fs.delete(_, true))
        throw e
    }
  }

  /** How many consecutive delta commits before an append publishes a
    * full checkpoint manifest (bounds cold-resolve replay AND lets
    * vacuum retire old chain links). `<= 1` disables deltas entirely
    * (every commit a checkpoint — the pre-log behavior).
    */
  private def manifestCheckpointInterval: Int =
    spark.conf.get("spark.graft.manifest.checkpointInterval", "20").toInt

  /** Publish version `n` as a LOG-STRUCTURED COMMIT over `n-1`:
    * `removals` are drop-by-prefix claims against the inherited
    * lines, `additions` the fresh lines. Writes O(delta) bytes —
    * UNLESS the chain has reached [[manifestCheckpointInterval]], in
    * which case the resolved list is written as a checkpoint (the
    * resolve is O(delta) too when the writer's cache holds `n-1`,
    * which a streaming loop always does). Same put-if-absent gate and
    * loser-cleanup contract as [[publishManifest]].
    */
  private[sources] def publishManifestDelta(
      fs: org.apache.hadoop.fs.FileSystem,
      tablePath: org.apache.hadoop.fs.Path, n: Long,
      removals: Seq[String], additions: Seq[String],
      cleanup: Option[org.apache.hadoop.fs.Path] = None,
      wapResolve: Boolean = false): Unit = {
    require(n > 0, "a delta commit needs a base version")
    val path = tablePath.toString
    // the audit gate must see the DELTA's own fresh lines (a stacked
    // stage carries its W there), not the replayed resolution
    try requireNoPendingAudit(path, n, additions, wapResolve)
    catch { case e: IllegalStateException =>
      cleanup.foreach(fs.delete(_, true)); throw e
    }
    val k = manifestCheckpointInterval
    val depth = manifestDepth(path, n - 1) + 1
    if (depth >= k || k <= 1)
      publishManifest(fs, tablePath, n,
        GraftStorage.applyManifestDelta(
          manifestEntries(path, n - 1),
          s"G\tdelta\t${n - 1}\t$depth" +:
            (removals.map("X\t" + _) ++ additions)),
        cleanup, wapResolve = true)
    else
      publishManifest(fs, tablePath, n,
        s"G\tdelta\t${n - 1}\t$depth" +:
          (removals.map("X\t" + _) ++ additions),
        cleanup, wapResolve = true)
  }

  /** The S/H/B metadata lines a rewriting commit (CoW/MERGE) carries
    * forward, plus R row-count lines for the files it keeps: H stays
    * valid (rewrites are written WITH the merged schema), S/B keep
    * pruning the untouched files (zone/bloom lookups are per file, so
    * stale rows for replaced files are never consulted).
    */
  private[sources] def carriedMetaLines(path: String, version: Long,
      untouched: Seq[String]): Seq[String] = {
    val untouchedSet = untouched.toSet
    // T (txn) lines ride every maintenance rewrite: dropping one
    // would make a streaming sink re-commit an already-committed
    // batch after a compact — duplicate rows, the exactly-once
    // contract's other failure mode
    manifestEntries(path, version).filter(e =>
      e.startsWith("S\t") || e.startsWith("H\t") ||
        e.startsWith("B\t") || e.startsWith("P\t") ||
        e.startsWith("T\t") || e.startsWith("N\t") ||
        (e.startsWith("R\t") && untouchedSet(e.split('\t')(2))))
  }

  /** WRITE-AUDIT-PUBLISH gate: while the log HEAD is audit-pending
    * (its manifest carries a `W` line from [[wapStage]]), the only
    * legal next commits are further stages (their lines carry `W`
    * forward) and the explicit resolutions ([[wapPublish]] /
    * [[wapDiscard]], which pass `wapResolve`). Anything else —
    * appends, DML, compaction, DDL — fails LOUDLY: un-audited data
    * must never leak into a published snapshot by being inherited
    * through an interleaved commit's manifest.
    */
  private def requireNoPendingAudit(path: String, n: Long,
      entries: Seq[String], wapResolve: Boolean): Unit =
    if (!wapResolve && n > 0 &&
        !entries.exists(_.startsWith("W\t")) &&
        manifestEntries(path, n - 1).exists(_.startsWith("W\t")))
      throw new IllegalStateException(
        s"commit rejected: version ${n - 1} of $path is audit-pending " +
          "(write-audit-publish stage). CALL graft.wap_publish to " +
          "publish it or wapDiscard to drop it first.")

  /** PUT-IF-ABSENT manifest publish — the optimistic-concurrency
    * gate of the commit protocol: two writers that race to the same
    * version number must produce one winner and one LOUD loser, never
    * a silently lost commit. On a real object-store commit service
    * the rename maps to an atomic put-if-absent; on local/HDFS the
    * exists pre-check narrows the race window and the rename result
    * catches the rest. The loser's temp file is removed; its caller
    * re-reads the log and retries with the next version number (or
    * surfaces the conflict).
    */
  private def publishAtomic(fs: org.apache.hadoop.fs.FileSystem,
      tmp: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Unit =
    GraftStorage.commitPrimitiveFor(fs).putIfAbsent(fs, tmp, dst)

  /** Append under OPTIMISTIC CONCURRENCY: on a lost publish race the
    * commit retries against the advanced log (fresh version number,
    * fresh carried entries) up to `maxRetries` times — the writer-
    * facing loop every lakehouse client ships. The input is only
    * re-WRITTEN, never re-derived, and each attempt's data dir is
    * writer-unique, so concurrent appenders interleave losslessly.
    */
  def appendVersionedRetrying(df: DataFrame, path: String,
      maxRetries: Int = 10, statsCols: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty): Long = {
    var attempt = 0
    while (true) {
      try return writeVersioned(df, path, append = true, statsCols,
        bloomCols)
      catch {
        case e: java.util.ConcurrentModificationException =>
          attempt += 1
          if (attempt > maxRetries) throw e
      }
    }
    -1L // unreachable
  }

  /** Committed versions of a versioned table, ascending. */
  def listVersions(path: String): Seq[Long] = {
    import org.apache.hadoop.fs.Path
    val manifestDir = new Path(new Path(path), "_manifest")
    val fs = manifestDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(manifestDir)) Seq.empty
    else fs.listStatus(manifestDir).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.drop(1).forall(_.isDigit) =>
        n.drop(1).toLong }
      .sorted
  }

  /** RESOLVED manifest lines of one version. Line kinds:
    *  - a bare path = one immutable data file of the snapshot;
    *  - `D<TAB><keyCol><TAB><path>` = one DELETION-VECTOR file (a
    *    parquet of deleted key values for `keyCol`) that readers of
    *    this version must anti-join away (merge-on-read deletes);
    *  - `S<TAB><dir>` = a `_zonemap` stats table of one commit
    *    (manifest-level data skipping);
    *  - `H<TAB><schema json>` = one commit's schema (schema-in-log;
    *    readers merge H lines by name);
    *  - `R<TAB><rows><TAB><path>` = a data file's row count
    *    (metadata-rate COUNT(*), [[countVersioned]]);
    *  - `W<TAB><wapId>` = AUDIT-PENDING ([[wapStage]]): default
    *    readers resolve past this version, and only further stages
    *    or an explicit publish/discard may commit on top of it.
    *
    * ON DISK a `v<N>` file is either that full line list (a
    * CHECKPOINT — every overwrite/CoW/maintenance commit, plus every
    * `checkpointInterval`-th append) or a LOG-STRUCTURED DELTA over
    * `v<N-1>`:
    *   `G<TAB>delta<TAB><base><TAB><depth>`  header (base == N-1)
    *   `X<TAB><prefix>`                      drop inherited lines
    *                                         starting with prefix
    *   ...fresh lines appended after the survivors.
    * Appends therefore WRITE O(delta) metadata per commit — at 10⁵–10⁶
    * table files a streaming micro-batch no longer rewrites the whole
    * file list (the Delta-Lake commit-log + periodic-checkpoint
    * shape; the reference's own index merge likewise ships only
    * deltas, impl/file/IndexFileMerger.java:62-102). Readers resolve
    * by replaying the ≤interval-length chain once and caching; a
    * `v<N>.ck` sidecar (written by [[vacuumVersioned]] when it
    * retires part of a chain) short-circuits the replay.
    */
  private[graft] def manifestEntries(path: String,
      version: Long): Seq[String] = {
    // ITERATIVE chain resolve — stack depth must NOT equal chain
    // length (a user raising spark.graft.manifest.checkpointInterval
    // to 10k+ would StackOverflow a recursive resolve): walk `G`
    // headers DOWN until a checkpoint, a `v<N>.ck` sidecar, or a
    // cached resolution, then fold FORWARD applying each delta
    // (caching every intermediate so the next reader stops early).
    // get/putIfAbsent, NOT computeIfAbsent: the fold re-enters the
    // cache for intermediate versions (CHM forbids recursive update).
    var chain = List.empty[(Long, (String, Long, Long), Seq[String])]
    var base: Seq[String] = null
    var v = version
    while (base == null) {
      val next =
        try Some(rawManifest(path, v))
        catch {
          case e: IllegalArgumentException if chain.nonEmpty =>
            // reader-vs-vacuum race: vacuum publishes the oldest KEPT
            // version's .ck sidecar and only then deletes retired
            // bases — a cold reader that sampled the sidecar as
            // absent re-checks it once before failing a kept read
            val (cv, ckey, _) = chain.head
            checkpointSidecar(path, cv) match {
              case Some(lines) =>
                GraftStorage.manifestResolvedCache.putIfAbsent(ckey, lines)
                base = lines
                chain = chain.tail
                None
              case None => throw e
            }
        }
      next.foreach { case (key, raw) =>
        val hit = GraftStorage.manifestResolvedCache.get(key)
        if (hit != null) base = hit
        else raw.headOption match {
          case Some(h) if h.startsWith("G\tdelta\t") =>
            checkpointSidecar(path, v) match {
              case Some(lines) =>
                GraftStorage.manifestResolvedCache.putIfAbsent(key, lines)
                base = lines
              case None =>
                chain = (v, key, raw) :: chain
                v = h.split('\t')(2).toLong
            }
          case _ =>
            GraftStorage.manifestResolvedCache.putIfAbsent(key, raw)
            base = raw
        }
      }
    }
    chain.foldLeft(base) { case (acc, (_, key, raw)) =>
      val resolved = GraftStorage.applyManifestDelta(acc, raw)
      GraftStorage.manifestResolvedCache.putIfAbsent(key, resolved)
      resolved
    }
  }

  /** Read (and cache) the raw on-disk lines of `_manifest/v<N>` —
    * a checkpoint's full list or a delta's header/X/fresh lines.
    * Manifests are write-once (publishAtomic), so the parse caches
    * keyed by FULL URI + (mtime, len): the status call replaces a
    * read+parse per helper, and the mtime/len key keeps a table
    * deleted-and-recreated at the same path (every test fixture does
    * this) from serving stale entries.
    */
  private def rawManifest(path: String,
      version: Long): ((String, Long, Long), Seq[String]) = {
    import org.apache.hadoop.fs.Path
    val mf = new Path(new Path(path), s"_manifest/v$version")
    val fs = mf.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = Option(GraftStorage.manifestListingHint.get())
      .flatMap(_.get(mf.toUri.getPath))
      .getOrElse {
        try fs.getFileStatus(mf)
        catch {
          case _: java.io.FileNotFoundException =>
            throw new IllegalArgumentException(
              s"requirement failed: version $version does not exist " +
                s"under $path")
        }
      }
    val key = (mf.toUri.toString, st.getModificationTime, st.getLen)
    if (GraftStorage.manifestCache.size > 4096) {
      GraftStorage.manifestCache.clear()
      GraftStorage.manifestResolvedCache.clear()
    }
    (key, GraftStorage.manifestCache.computeIfAbsent(key, _ =>
      GraftStorage.readLines(fs, mf)))
  }

  /** Run `f` with ONE `_manifest/` listing pre-resolving every
    * version file's status: inside the scope, [[rawManifest]]'s
    * cache-validation status lookups are served from the listing
    * instead of issuing one getFileStatus RPC per version — the
    * whole-history inspection surfaces (`#history`,
    * [[historyVersioned]]) touch EVERY retained version, and at 10⁴
    * commits on an object store the per-version form is 10⁴ serial
    * HEADs at plan time. Sound because manifests are write-once: a
    * listing taken at scope entry is exact for every version it
    * contains; versions published after it simply miss and fall
    * through to the live lookup. Scoped + thread-local, so no
    * cross-query staleness survives. The callback receives the
    * listing keyed by file NAME (`v<N>` → status) for its own use.
    */
  private[sources] def withManifestListing[A](path: String)(
      f: Map[String, org.apache.hadoop.fs.FileStatus] => A): A = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(new Path(path), "_manifest")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a MISSING dir is a legitimate empty listing (0-version table);
    // any other listing failure propagates — silently serving an
    // empty hint would make every version's committed_at read null
    // where the old per-version form surfaced real mtimes or threw
    val listed =
      try fs.listStatus(dir).toSeq.filter(_.isFile)
      catch { case _: java.io.FileNotFoundException =>
        Seq.empty[org.apache.hadoop.fs.FileStatus] }
    val prev = GraftStorage.manifestListingHint.get()
    // keyed by URI PATH: qualification (authority spelling) differs
    // between listed statuses and caller-constructed paths, but the
    // scope is one table's manifest dir, so the path is unambiguous
    val byUri = listed.map(s => s.getPath.toUri.getPath -> s).toMap
    GraftStorage.manifestListingHint.set(
      if (prev == null) byUri else prev ++ byUri)
    try f(listed.map(s => s.getPath.getName -> s).toMap)
    finally GraftStorage.manifestListingHint.set(prev)
  }

  /** The full line list stored in `v<N>.ck`, if [[vacuumVersioned]]
    * materialized one (content is the deterministic resolution of
    * version N — equivalent to replaying its chain).
    */
  private def checkpointSidecar(path: String,
      version: Long): Option[Seq[String]] = {
    import org.apache.hadoop.fs.Path
    val ck = new Path(new Path(path), s"_manifest/v$version.ck")
    val fs = ck.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(ck)) Some(GraftStorage.readLines(fs, ck)) else None
  }

  /** RAW on-disk lines of one version's manifest (checkpoint full
    * list, or delta header/X/fresh lines) — the O(delta) walk surface
    * for whole-history consumers ([[GraftMetaTables]]'s `#history`
    * processes 10⁴ commits at delta rate through this instead of
    * resolving each version's full 10⁴-line list).
    */
  private[sources] def rawManifestLines(path: String,
      version: Long): Seq[String] = rawManifest(path, version)._2

  /** Delta-chain depth of one version's manifest: 0 for a checkpoint
    * (full list), base's depth + 1 for a delta — read from the `G`
    * header, never by walking the chain.
    */
  private def manifestDepth(path: String, version: Long): Int =
    rawManifest(path, version)._2.headOption match {
      case Some(h) if h.startsWith("G\tdelta\t") => h.split('\t')(3).toInt
      case _ => 0
    }

  private[graft] def manifestFiles(path: String, version: Long): Seq[String] =
    manifestEntries(path, version).filterNot(_.contains('\t'))

  /** (key column, dv parquet file) entries of one version. */
  private[sources] def manifestDvs(path: String,
      version: Long): Seq[(String, String)] =
    manifestEntries(path, version).collect {
      case e if e.startsWith("D\t") =>
        val parts = e.split('\t')
        (parts(1), parts(2))
    }

  /** Ordered view of one version's data files and deletion vectors:
    * each file paired with the count of `D` lines ABOVE it in the
    * resolved manifest. POSITION IS THE SEQUENCE NUMBER — a DV
    * deletes keys only from files that appear BEFORE it (Iceberg's
    * equality-delete sequence rule, expressed by line order): append
    * commits land their file lines after every prior `D` line, so a
    * re-inserted key SURVIVES earlier deletes; a MoR upsert commit
    * writes its `D` lines before its fresh file lines, so the upsert
    * deletes the old copies and keeps its own. Line order survives
    * the whole manifest algebra — delta replay appends, checkpoints
    * materialize the resolved order, restore/clone republish it, and
    * `X` drops remove lines without reordering survivors.
    */
  private[sources] def manifestFilesDvs(path: String, version: Long)
      : (Seq[(String, Int)], Seq[(String, String)]) =
    GraftStorage.filesDvsOfEntries(manifestEntries(path, version))

  /** `_zonemap` stats directories a version's manifest references
    * (`S` lines — one per stats-bearing commit).
    */
  private[sources] def manifestStats(path: String, version: Long): Seq[String] =
    manifestEntries(path, version).collect {
      case e if e.startsWith("S\t") => e.split('\t')(1)
    }

  /** `_bloom` sidecar directories a version's manifest references
    * (`B` lines - one per bloom-indexed commit).
    */
  private[sources] def manifestBlooms(path: String, version: Long): Seq[String] =
    manifestEntries(path, version).collect {
      case e if e.startsWith("B\t") => e.split('\t')(1)
    }

  /** Every path a manifest pins — data files, deletion vectors, and
    * stats directories — the liveness unit vacuum must honor.
    * (`H` schema lines pin no path.)
    */
  /** Every filesystem path a resolved entry list references: data
    * files (bare lines), deletion vectors (D), and sidecar dirs
    * (S/B). The liveness primitive of vacuum and orphan removal.
    */
  private def entryPaths(entries: Seq[String]): Seq[String] =
    entries.flatMap { e =>
      if (e.startsWith("D\t")) Some(e.split('\t')(2))
      else if (e.startsWith("S\t")) Some(e.split('\t')(1))
      else if (e.startsWith("B\t")) Some(e.split('\t')(1))
      else if (e.startsWith("H\t")) None
      else if (e.startsWith("R\t")) None // its path is a bare entry
      else if (e.startsWith("P\t")) None // partition spec, no path
      else if (e.startsWith("W\t")) None // audit-pending marker
      else if (e.startsWith("N\t")) None // column mapping, no path
      else Some(e)
    }

  private def manifestAllPaths(path: String, version: Long): Seq[String] =
    entryPaths(manifestEntries(path, version))

  /** Remove ORPHANED files under `data/` — files NO retained
    * manifest, WAP stage, or branch log references: the droppings of
    * crashed writers, lost publish races, and aborted maintenance
    * that [[vacuumVersioned]] can never see (vacuum reclaims only
    * what retired manifests referenced; a never-published commit dir
    * is referenced by nothing). Iceberg's remove_orphan_files
    * contract: AGE-GATED — only files older than `olderThanMillis`
    * (default 3 days) are candidates, so a concurrent writer staging
    * its commit dir right now can never be swept; stale `.tmp`
    * publish artifacts under `_manifest`/`_refs` retire on the same
    * clock. Walks this table's own `data/` tree only. Returns the
    * deleted file count.
    */
  def removeOrphansVersioned(path: String,
      olderThanMillis: Long = 3L * 24 * 3600 * 1000): Long = {
    import org.apache.hadoop.fs.Path
    // the age gate IS the concurrency contract ("a writer staging its
    // commit dir right now can never be swept") — an interval shorter
    // than any plausible write leaves in-flight staged files
    // deletable the moment they land. Iceberg's remove_orphan_files
    // enforces the same floor; lowering it is an explicit opt-in.
    val minAge = spark.conf
      .getOption("spark.graft.removeOrphans.minAgeMillis")
      .map(_.toLong).getOrElse(3600L * 1000)
    require(olderThanMillis >= minAge,
      s"removeOrphans on $path: olderThanMillis=$olderThanMillis is " +
        s"below the $minAge ms safety floor — a sweep that young can " +
        "delete a concurrent writer's staged-but-unpublished commit " +
        "files; set spark.graft.removeOrphans.minAgeMillis to " +
        "override deliberately (test rigs only)")
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vs = listVersions(path)
    require(vs.nonEmpty, s"no versions committed under $path")
    def key(p: String): String = new Path(p).toUri.getPath
    // liveness = every retained version (staged WAP versions are
    // listed versions, so they count) + every branch log's resolved
    // state (branch-staged data is live the moment its delta lands,
    // though no main manifest references it yet)
    // FAIL CLOSED: metadata this GC cannot read means it cannot
    // prove anything dead — a branch log that fails to resolve
    // aborts the sweep loudly instead of classifying the branch's
    // staged files as orphans
    val branchStates = listRefs(path).collect {
      case (name, _) if name.startsWith("branch.") =>
        branchEntries(path, name.stripPrefix("branch."))
    }
    val allEntries =
      vs.map(manifestEntries(path, _)) ++ branchStates
    val live = allEntries.flatMap(entryPaths).map(key).toSet
    // only S/B sidecar entries are DIRECTORIES — the prefix check
    // scans just those (file-count × dir-count, not file² at 10⁵)
    val liveDirs = allEntries.flatten.collect {
      case e if e.startsWith("S\t") => key(e.split('\t')(1))
      case e if e.startsWith("B\t") => key(e.split('\t')(1))
    }.distinct
    val cutoff = System.currentTimeMillis() - olderThanMillis
    def liveCovers(fkey: String): Boolean =
      live(fkey) || liveDirs.exists(d => fkey.startsWith(d + "/"))
    var removed = 0L
    // `_`/`.`-prefixed markers (_SUCCESS, .crc checksum sidecars) are
    // never manifest-referenced — skip them here; the dead-dir sweep
    // below reclaims them with their dir once nothing real is left
    def isMarker(n: String): Boolean =
      n.startsWith("_") || n.startsWith(".")
    def walk(d: Path): Unit = fs.listStatus(d).foreach { st =>
      if (st.isDirectory) walk(st.getPath)
      else if (!isMarker(st.getPath.getName) &&
          !liveCovers(key(st.getPath.toString)) &&
          st.getModificationTime < cutoff) {
        fs.delete(st.getPath, false)
        removed += 1
      }
    }
    val dataDir = new Path(dir, "data")
    if (fs.exists(dataDir)) walk(dataDir)
    // crashed atomic publishes leave `.*.tmp` files behind
    Seq("_manifest", "_refs").foreach { m =>
      val md = new Path(dir, m)
      if (fs.exists(md)) fs.listStatus(md).foreach { st =>
        if (st.isFile && st.getPath.getName.startsWith(".") &&
            st.getPath.getName.endsWith(".tmp") &&
            st.getModificationTime < cutoff) {
          fs.delete(st.getPath, false)
          removed += 1
        }
      }
    }
    // sweep commit dirs holding nothing but `_` markers (cosmetic):
    // a fully-orphaned dir whose data files were just removed — but
    // ONLY when the dir itself predates the cutoff and no live path
    // points under it
    // age witness = the surviving markers' own mtimes (the dir's
    // mtime just refreshed when this very sweep deleted its files);
    // an EMPTY dir falls back to dir mtime (a writer creates the dir
    // fresh before its first file lands)
    def allOldMarkers(d: Path): Boolean =
      fs.listStatus(d).forall { st =>
        if (st.isDirectory) allOldMarkers(st.getPath)
        else isMarker(st.getPath.getName) &&
          st.getModificationTime < cutoff
      }
    if (fs.exists(dataDir))
      fs.listStatus(dataDir).foreach { d =>
        val dkey = key(d.getPath.toString)
        val pinned = live.exists(p => p == dkey || p.startsWith(dkey + "/"))
        val contents = fs.listStatus(d.getPath)
        if (d.isDirectory && !pinned && (
            (contents.isEmpty && d.getModificationTime < cutoff) ||
            (contents.nonEmpty && allOldMarkers(d.getPath))))
          fs.delete(d.getPath, true): Unit
      }
    removed
  }

  /** SCHEMA-IN-LOG: the snapshot's read schema, merged by name across
    * every commit's `H` manifest line (in commit order, first-seen
    * column order, same-name columns must agree on type). This is how
    * a reader learns the table shape from KBs of metadata — no
    * parquet footer is opened, unlike `mergeSchema`, whose cost is a
    * footer read per file and grows with the table. Commits written
    * before schema lines existed yield None (callers fall back to
    * footer inference).
    */
  private[sources] def mergedManifestSchema(path: String,
      version: Long): Option[org.apache.spark.sql.types.StructType] =
    GraftStorage.mergeSchemaJsons(manifestEntries(path, version)
      .collect { case e if e.startsWith("H\t") => e.drop(2) })

  /** Snapshot inventory of a versioned table — (version, file,
    * bytes) per manifest entry, the DESCRIBE HISTORY / `.files`
    * introspection surface of the lakehouse engines. Strictly
    * metadata-rate: manifests are KBs at any table size and the
    * per-file status calls touch only the namenode/object-store
    * listing path, never data bytes. Also the relation behind the
    * `graft_files('path')` SQL table function ([[graft.GraftExtensions]]).
    */
  def filesVersioned(path: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rows = listVersions(path).flatMap { v =>
      manifestFiles(path, v).map { f =>
        (v, f, fs.getFileStatus(new Path(f)).getLen)
      }
    }
    spark.createDataFrame(rows).toDF("version", "file", "bytes")
  }

  /** OPTIMIZE for versioned tables: rewrite the latest snapshot into
    * `targetFiles` files as a NEW overwrite commit — readers of every
    * historical version are untouched (their manifests still point at
    * the old files), and the small-file problem appends create is
    * fixed without breaking time travel. Returns the new version.
    */
  def compactVersioned(path: String, targetFiles: Int = 1): Long = {
    // a partitioned table compacts WITHIN its layout: hash the keys
    // into targetFiles tasks (≈ one file per key per task) and keep
    // the identity dirs + P spec — compaction must not de-partition
    val lastV = listVersions(path).lastOption
    val spec = lastV.map(partitionSpec(path, _)).getOrElse(Seq.empty)
    // a declared sort order survives compaction by RE-ENFORCING it
    // (the write surfaces re-sort within tasks; coalescing sorted
    // runs would interleave them, so the unpartitioned path switches
    // to a range repartition — which also re-clusters the zones)
    val sortCols = lastV.map(sortSpec(path, _)).getOrElse(Seq.empty)
    // streaming txn markers ride maintenance rewrites: losing one
    // would make a checkpointed sink re-commit its batch (duplicates)
    val tLines = lastV.map(txnLines(path, _)).getOrElse(Seq.empty)
    val n = if (spec.nonEmpty) {
      // repartition by the LAYOUT key (bucket id, not the raw key):
      // clustering by the raw column would scatter each bucket over
      // every task and multiply files instead of compacting them
      val cur = readVersioned(path, lastV)
      writeVersionedPartitioned(
        cur.repartition(targetFiles,
          GraftStorage.partKeys(spec, cur.schema): _*),
        path, spec, append = false, sortedBy = sortCols,
        txn = None, carryLines = tLines, requireBase = lastV)
    } else {
      val (sc0, bc0) = priorSidecarCoverage(path)
      val cur = readVersioned(path, lastV)
      // a full compact reads LOGICAL rows and rewrites them as the
      // new physical schema — any RENAME/DROP mapping resets here, so
      // carried sidecar/sort column names (physical) translate to
      // their logical names (dropped columns fall away)
      val mapping = lastV.flatMap(columnMapping(path, _))
      def toLog(cs: Seq[String]): Seq[String] = mapping match {
        case None => cs
        case Some((map, dropped)) => cs.flatMap { c =>
          if (dropped.exists(_.equalsIgnoreCase(c))) None
          else Some(map.find(_._2.equalsIgnoreCase(c)).map(_._1)
            .getOrElse(c))
        }
      }
      val (sc, bc) = (toLog(sc0), bc0.flatMap { c =>
        if (c.startsWith(GraftStorage.TokenBloomPrefix))
          toLog(Seq(c.stripPrefix(GraftStorage.TokenBloomPrefix)))
            .headOption.map(GraftStorage.TokenBloomPrefix + _)
        else toLog(Seq(c)).headOption
      })
      val sortColsL = toLog(sortCols)
      val clustered =
        if (sortColsL.isEmpty) cur.coalesce(targetFiles)
        else cur.repartitionByRange(targetFiles, sortColsL.map(col): _*)
      commitVersioned(clustered, path, append = false, sc, bc, sortColsL,
        None, tLines, lastV, None)
    }
    tagMaintenance(path, n, "compact")
  }

  /** SCOPED compaction — `OPTIMIZE ... WHERE`: rewrite into
    * `targetFiles` ONLY the files holding rows that match
    * `predicate`; every other file carries verbatim. THE maintenance
    * shape at 100 TB: a time-partitioned table compacts yesterday's
    * small ingest files while the other 10k days move zero bytes —
    * full-table [[compactVersioned]] would be a 100 TB rewrite. The
    * layout spec is honored (fresh files re-key under the current
    * spec) and a declared sort order is RE-ENFORCED on the fresh
    * files, so the `O` claim survives. No matching file → no commit
    * (returns the current version). Merge-on-read deletion vectors
    * are materialized first (same contract as the CoW rewrites —
    * carried D lines cannot ride a partial rewrite soundly here
    * because compaction must not resurrect nor double-apply).
    */
  def compactVersionedWhere(path: String, predicate: Column,
      targetFiles: Int = 1): Long = {
    val v = materializedHead(path)
    // O(scope), not O(table): discovery runs over the PRUNED reader,
    // so manifest zones (sidecar stats AND path-derived partition /
    // temporal keys) drop provably non-matching files before any data
    // byte is read — a one-day predicate on a 10k-day table opens one
    // day, which is the whole point of this surface
    val (affected, untouched) = splitAffected(manifestFiles(path, v),
      readVersionedPruned(path).filter(predicate))
    if (affected.isEmpty) return v
    val spec = partitionSpec(path, v)
    val sortCols = sortSpec(path, v)
    val rows = readRawFiles(path, v, affected)
    val clustered =
      if (spec.nonEmpty)
        rows.repartition(targetFiles,
          GraftStorage.partKeys(spec, rows.schema): _*)
      else if (sortCols.nonEmpty)
        rows.repartitionByRange(targetFiles, sortCols.map(col): _*)
      else rows.coalesce(targetFiles)
    rewriteCommit(path, v, untouched, Some(clustered),
      columnMapping(path, v), realSidecarCoverage(path, v), sortCols,
      Some("compact_where"))
  }

  /** REORG APPLY DELETES at O(affected files) — the scoped MoR
    * maintenance op ([[compactVersioned]] clears DVs too, but by
    * rewriting the WHOLE table; at 100 TB with 0.1% of files holding
    * deleted rows that is the wrong cost model — Iceberg's
    * rewrite_data_files delete-compaction serves the same need).
    *
    * Three-phase, all sequence-rule-exact ([[manifestFilesDvs]]):
    *
    *  1. DISCOVER: per DV key column, the deleted keys load once
    *     (broadcast-sized by the MoR write invariant) and candidate
    *     files prune FIRST by position (a file after the last `D`
    *     line has no applicable deletes — a fresh MoR upsert's own
    *     rows never scan) then by zone stats (key range vs per-file
    *     [min,max]); one columnar probe job over the survivors reads
    *     just the key column and keeps files where some matched key's
    *     DV index ≥ the file's sequence position.
    *  2. REWRITE: affected files group by sequence position; each
    *     group anti-joins exactly its applicable DV suffix, and the
    *     survivors write layout-aware (key-rolled for partitioned
    *     specs, re-sorted for sort claims) into one fresh commit.
    *  3. PUBLISH: untouched files + their meta carry verbatim, fresh
    *     files restate sidecar coverage, and NO `D` line survives —
    *     the read tax is gone while every historical version still
    *     resolves its own DVs. DVs that deleted nothing fold into a
    *     metadata-only commit (zero data bytes moved).
    */
  def applyDeletesVersioned(path: String): Long = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    val vs = listVersions(path)
    require(vs.nonEmpty, s"no versions committed under $path")
    val v = vs.last
    val (orderedFiles, dvs) = manifestFilesDvs(path, v)
    if (dvs.isEmpty) return v
    def key(p: String): String = new Path(p).toUri.getPath
    val gen: Map[String, Int] =
      orderedFiles.map { case (f, g) => key(f) -> g }.toMap
    val dvIdx: Seq[((String, String), Int)] = dvs.zipWithIndex

    // ---- 1. discover the affected files, metadata-first
    lazy val zones = versionedScanParts(path, v).zones
    val affected = scala.collection.mutable.Set[String]()
    dvIdx.groupBy(_._1._1).foreach { case (c, entries) =>
      if (c == GraftStorage.PosDvCol) {
        // POSITION DVs name their victims' files EXPLICITLY —
        // discovery is one metadata-scale read of the DV's distinct
        // file column, no probe, no zone lookup
        entries.foreach { case ((_, dvFile), idx) =>
          spark.read.parquet(dvFile).select("file").distinct()
            .collect().foreach { r =>
              val k = key(r.getString(0))
              if (gen.get(k).exists(_ <= idx)) affected += k
            }
        }
      } else {
      val maxIdx = entries.map(_._2).max
      // position pruning: only files BEFORE some D line of this
      // column can hold an applicably-deleted row
      val cands0 = orderedFiles.collect {
        case (f, g) if g <= maxIdx => f
      }
      if (cands0.nonEmpty) {
        val keyDf = entries.map { case ((_, f), idx) =>
          spark.read.parquet(f).select(col(c).as("__gk")).distinct()
            .withColumn("__gidx", lit(idx))
        }.reduce(_.unionByName(_))
        val bounds = keyDf.agg(min(col("__gk")), max(col("__gk"))).head()
        val cands =
          if (bounds.isNullAt(0)) Seq.empty // empty DV: nothing deleted
          else {
            // zone pruning: per-file [min,max] vs the key range
            val rangeF: org.apache.spark.sql.sources.Filter =
              org.apache.spark.sql.sources.And(
                org.apache.spark.sql.sources
                  .GreaterThanOrEqual(c, bounds.get(0)),
                org.apache.spark.sql.sources
                  .LessThanOrEqual(c, bounds.get(1)))
            val zmap = zones.load(Set(c))
            cands0.filter { f =>
              val stats = zmap.getOrElse(key(f), Map.empty)
              stats.isEmpty || GraftFilters.mayMatch(stats, rangeF)
            }
          }
        if (cands.nonEmpty) {
          // one columnar probe: key column + file name only. A file
          // is affected iff some row's key matches a DV entry whose
          // index is at or past the file's sequence position.
          val hit = readRawFilesPhysical(path, v, cands)
            .select(col(s"`$c`").as("__gk"), input_file_name().as("__gf"))
            .join(broadcast(keyDf), "__gk")
            .groupBy(col("__gf"))
            .agg(max(col("__gidx")).as("__gmax"))
            .collect()
          hit.foreach { r =>
            val f = key(r.getString(0))
            if (r.getInt(1) >= gen(f)) affected += f
          }
        }
      }
      }
    }

    val n = v + 1
    if (affected.isEmpty) {
      // DVs deleted nothing that still exists — fold them away as a
      // metadata-only commit (O(delta): one X drop-prefix replays)
      publishManifestDelta(fs, dir, n, Seq("D\t"), Seq.empty, None)
      return tagMaintenance(path, n, "apply_deletes")
    }

    // ---- 2. rewrite exactly the affected files, per sequence group;
    // 3. publish: no D line survives, untouched files carry
    // PHYSICAL space end-to-end: D lines, sidecars and the carried
    // files all store physical names — the fresh files must match
    // (no logical round-trip, so writeCommitData gets no mapping)
    val hasPosDvs = dvs.exists(_._1 == GraftStorage.PosDvCol)
    def prep(d: DataFrame): DataFrame =
      if (!hasPosDvs) d
      else d.select((d.columns.toIndexedSeq.map(c => col(s"`$c`")) :+
        col("_metadata.file_path").as(GraftStorage.PosFileCol) :+
        col("_metadata.row_index").as(GraftStorage.PosIdxCol)): _*)
    val survivors0 = affected.toSeq.sorted
      .map(f => orderedFiles.find(of => key(of._1) == f).get)
      .groupBy(_._2).toSeq.map { case (g, group) =>
        antiJoinDvEntries(
          prep(readRawFilesPhysical(path, v, group.map(_._1))),
          dvIdx.filter(_._2 >= g).map(_._1))
      }.reduce(_.unionByName(_))
    val survivors =
      if (hasPosDvs) survivors0.drop(GraftStorage.PosFileCol,
        GraftStorage.PosIdxCol)
      else survivors0
    rewriteCommit(path, v,
      orderedFiles.map(_._1).filterNot(f => affected(key(f))),
      Some(survivors), None, realSidecarCoverage(path, v),
      sortSpec(path, v), Some("apply_deletes"))
  }

  /** Columns the version's REAL sidecars (S/B manifest lines) cover —
    * maintenance rewrites (compact, z-order, DV apply) must carry this
    * coverage forward, or the op that is advertised to IMPROVE scans
    * silently turns off file pruning and the manifest-rate aggregate
    * path from its commit on. Unlike [[priorSidecarCoverage]] this
    * excludes the path-derived partition-key zones, so a PARTIAL
    * rewrite restates exactly what the sidecars stated. Answered by
    * the same providers that serve the reads.
    */
  private def realSidecarCoverage(path: String,
      v: Long): (Seq[String], Seq[String]) = {
    (zoneSidecarFor(manifestStats(path, v)).columns.toSeq.sorted,
      bloomSidecarFor(manifestBlooms(path, v)).columns.toSeq.sorted)
  }

  private[sources] def priorSidecarCoverage(
      path: String): (Seq[String], Seq[String]) =
    listVersions(path).lastOption match {
      case None => (Seq.empty, Seq.empty)
      case Some(v) =>
        // the read providers' column inventories, plus the partition
        // spec's path-derived zones — no stats rows materialized
        val parts = versionedScanParts(path, v)
        (parts.zones.columns.toSeq.sorted, parts.blooms.columns.toSeq.sorted)
    }

  /** ZERO-COPY shallow clone (the CLONE TABLE of the lakehouse
    * engines): publish the source snapshot's manifest as the target's
    * v0 — no data bytes move at ANY table size; the clone is KBs of
    * metadata referencing the source's immutable files. Because
    * commits only ever ADD `data/c<N>` dirs under their own table,
    * later writes to the clone land in the CLONE's directories and
    * the two tables diverge independently — a 100 TB dev/test fork
    * for free. Lifecycle caveat (same as Delta shallow clones):
    * `vacuumVersioned` on the SOURCE can drop files a clone still
    * references, so retention policy must span clones. Returns the
    * clone's version (always 0).
    */
  /** RESTORE TABLE TO VERSION — rollback as a NEW commit: republish
    * version `v`'s manifest entries as version N+1. Metadata-only (no
    * data bytes move; the restored files are immutable and still on
    * disk), history is preserved (the bad versions stay time-
    * travelable until vacuum), and readers of the latest snapshot
    * simply see the old content — the Delta RESTORE contract.
    * Refuses to restore past vacuumed history (manifest resolve fails
    * fast). Returns the new version number.
    */
  /** ALTER TABLE ADD COLUMNS as a METADATA-ONLY commit: version N+1
    * carries every prior entry verbatim plus one `H` schema line with
    * the added columns — zero data bytes move at any table size, and
    * readers of the new snapshot surface the columns as NULL for
    * every existing file (the schema-in-log merge that already
    * serves append-time evolution). Added columns must be nullable
    * (there is no data to backfill) and must not collide with
    * existing names (same-name/same-type would silently no-op,
    * same-name/other-type would poison the log — both rejected
    * here, BEFORE the publish, by the mergeSchemaJsons gate plus an
    * explicit name check). Returns the new version.
    */
  // ------------- COLUMN MAPPING (RENAME / DROP COLUMN) -------------
  //
  // Data files are immutable, so a rename cannot touch them: instead
  // the manifest carries ONE `N` mapping line (logical→physical
  // renames + dropped physical names — Iceberg's column-ids /
  // Delta's name-mapping, expressed over the schema-in-log). Files
  // keep their PHYSICAL column names forever: reads project
  // physical→logical as the last step, writes translate
  // logical→physical before any byte lands, and the H schema lines
  // stay physical. RENAME and DROP are therefore metadata-only
  // commits at any table size; time travel keeps each version's own
  // names because the N line rides the manifest replay like every
  // other entry. A full rewrite (compact/overwrite) writes
  // logical-as-physical files and RESETS the mapping.

  /** (logical→physical renames, dropped physical names) of a resolved
    * entry list; None when the snapshot carries no mapping.
    */
  private[sources] def mappingOfEntries(entries: Seq[String])
      : Option[(Map[String, String], Seq[String])] =
    entries.collectFirst {
      case e if e.startsWith("N\t") => GraftStorage.parseMapping(e.drop(2))
    }

  private[sources] def columnMapping(path: String,
      version: Long): Option[(Map[String, String], Seq[String])] =
    mappingOfEntries(manifestEntries(path, version))

  /** Does the snapshot rename or drop any column? Mapped snapshots
    * read through the V1 projection (the analyzer rule substitutes
    * it under catalog scans) and reset at compact/overwrite.
    */
  def hasColumnMapping(path: String,
      version: Option[Long] = None): Boolean = {
    val vs = listVersions(path)
    vs.nonEmpty &&
      columnMapping(path,
        version.getOrElse(latestVisibleVersion(path))).isDefined
  }

  /** Physical (stored) name of a logical column under a mapping. */
  private[sources] def physicalNameOf(name: String,
      mapping: Option[(Map[String, String], Seq[String])]): String =
    mapping.flatMap(_._1.find(_._1.equalsIgnoreCase(name)).map(_._2))
      .getOrElse(name)

  /** READ-side projection: physical columns → logical names, dropped
    * physical columns removed. The identity when no mapping.
    */
  private[sources] def toLogicalDf(df: DataFrame,
      mapping: Option[(Map[String, String], Seq[String])]): DataFrame =
    mapping match {
      case None => df
      case Some((map, dropped)) =>
        val physToLog = map.map(_.swap)
        df.select(df.columns.toIndexedSeq
          .filterNot(c => dropped.exists(_.equalsIgnoreCase(c)))
          .map(c => physToLog.find(_._1.equalsIgnoreCase(c))
            .map(l => col(s"`$c`").as(l._2)).getOrElse(col(s"`$c`"))): _*)
    }

  private[sources] def logicalSchemaOf(
      physical: org.apache.spark.sql.types.StructType,
      mapping: Option[(Map[String, String], Seq[String])])
      : org.apache.spark.sql.types.StructType =
    mapping match {
      case None => physical
      case Some((map, dropped)) =>
        val physToLog = map.map(_.swap)
        org.apache.spark.sql.types.StructType(physical.fields.toSeq
          .filterNot(f => dropped.exists(_.equalsIgnoreCase(f.name)))
          .map(f => physToLog.find(_._1.equalsIgnoreCase(f.name))
            .map(l => f.copy(name = l._2)).getOrElse(f)))
    }

  /** WRITE-side translation: logical columns → physical names, so
    * fresh files always store the stable physical schema. A NEW
    * column (not in the logical schema) keeps its name — unless that
    * name is a renamed-away or dropped PHYSICAL name, which is
    * refused loudly: re-using it would silently resurface the old
    * files' stored values under the new column. This schema-level
    * form is the single source of that contract — the DataFrame form
    * below and the SQL write path (GraftBatchWrite) both ride it.
    */
  private[sources] def physicalSchemaOf(
      schema: org.apache.spark.sql.types.StructType,
      mapping: Option[(Map[String, String], Seq[String])],
      what: String): org.apache.spark.sql.types.StructType =
    mapping match {
      case None => schema
      case Some((map, dropped)) =>
        val reserved = map.values.toSeq ++ dropped
        org.apache.spark.sql.types.StructType(schema.fields.map { f =>
          map.find(_._1.equalsIgnoreCase(f.name)) match {
            case Some((_, phys)) => f.copy(name = phys)
            case None =>
              if (reserved.exists(_.equalsIgnoreCase(f.name)))
                throw new IllegalArgumentException(
                  s"$what: column name '${f.name}' is a renamed-away " +
                    "or dropped physical column of this mapped table " +
                    "— re-using it would resurface old stored values; " +
                    "pick a different name or compact (REORG) first")
              f
          }
        })
    }

  private[sources] def toPhysicalDf(df: DataFrame,
      mapping: Option[(Map[String, String], Seq[String])],
      what: String): DataFrame =
    mapping match {
      case None => df
      case Some(_) =>
        // positional rename to the translated schema (same rows)
        df.toDF(physicalSchemaOf(df.schema, mapping, what)
          .fieldNames.toIndexedSeq: _*)
    }

  /** ALTER TABLE RENAME COLUMN — METADATA-ONLY at any table size:
    * publishes one `N` mapping line binding the new logical name to
    * the column's stable physical name; zero data bytes move, every
    * pre-rename file reads correctly through the projection, and
    * time travel keeps each version's own names. Refused on
    * partitioned tables (path-derived keys carry the physical name),
    * on the declared `mor_key` (unset/reset the property around the
    * rename), and while CHECK constraints exist (their expressions
    * name columns). Compaction resets the mapping.
    */
  def renameColumnVersioned(path: String, from: String,
      to: String): Long = {
    import org.apache.hadoop.fs.Path
    val vs = listVersions(path)
    require(vs.nonEmpty, s"no versions committed under $path")
    val v = vs.last
    require(to.nonEmpty && !to.exists(c => c == '\t' || c == '\n'),
      s"invalid column name '$to'")
    require(partitionSpec(path, v).isEmpty,
      s"RENAME COLUMN on $path: the table is partitioned — " +
        "path-derived keys carry physical names; compact/re-partition " +
        "instead")
    require(checkConstraints(path).isEmpty,
      s"RENAME COLUMN on $path: CHECK constraints reference columns " +
        "by expression — drop them, rename, then re-add")
    require(!tablePropertiesOf(path).get("mor_key")
        .exists(_.equalsIgnoreCase(from)),
      s"RENAME COLUMN on $path: '$from' is the declared mor_key — " +
        "unset delete_mode/mor_key, rename, then re-declare")
    val entries = manifestEntries(path, v)
    val physSchema = GraftStorage.mergeSchemaJsons(entries.collect {
      case e if e.startsWith("H\t") => e.drop(2)
    }).getOrElse(throw new IllegalArgumentException(
      s"RENAME COLUMN on $path: the table predates schema-in-log " +
        "(no H lines) — rewrite it once (compact) first"))
    val mapping = mappingOfEntries(entries)
    val logical = logicalSchemaOf(physSchema, mapping)
    require(logical.fieldNames.exists(_.equalsIgnoreCase(from)),
      s"RENAME COLUMN on $path: '$from' is not a column " +
        s"(${logical.fieldNames.mkString(", ")})")
    require(!logical.fieldNames.exists(_.equalsIgnoreCase(to)),
      s"RENAME COLUMN on $path: '$to' already exists")
    val (map, dropped) = mapping.getOrElse((Map.empty[String, String],
      Seq.empty[String]))
    // guard the physical namespace too: a logical name equal to a
    // tombstoned physical name would make a later compact ambiguous
    require(!dropped.exists(_.equalsIgnoreCase(to)),
      s"RENAME COLUMN on $path: '$to' is a dropped column's stored " +
        "name; compact (REORG) first")
    val phys = physicalNameOf(from, mapping)
    val map1 = map.filterNot(_._1.equalsIgnoreCase(from))
    val map2 =
      if (phys.equalsIgnoreCase(to)) map1 // renamed back to stored name
      else map1 + (to -> phys)
    val n = v + 1
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    publishManifestDelta(fs, dir, n, Seq("N\t"),
      if (map2.isEmpty && dropped.isEmpty) Seq.empty
      else Seq(s"N\t${GraftStorage.renderMapping(map2, dropped)}"))
    n
  }

  /** ALTER TABLE DROP COLUMN — METADATA-ONLY: the physical column is
    * tombstoned in the `N` mapping line; readers stop projecting it,
    * the stored bytes stay until a compact rewrites (and resets the
    * mapping). Same refusals as RENAME, plus the last column and the
    * sort/partition columns.
    */
  def dropColumnVersioned(path: String, name: String): Long = {
    import org.apache.hadoop.fs.Path
    val vs = listVersions(path)
    require(vs.nonEmpty, s"no versions committed under $path")
    val v = vs.last
    require(partitionSpec(path, v).isEmpty,
      s"DROP COLUMN on $path: the table is partitioned — compact/" +
        "re-partition instead")
    require(checkConstraints(path).isEmpty,
      s"DROP COLUMN on $path: CHECK constraints reference columns by " +
        "expression — drop them first")
    require(!tablePropertiesOf(path).get("mor_key")
        .exists(_.equalsIgnoreCase(name)),
      s"DROP COLUMN on $path: '$name' is the declared mor_key")
    require(!sortSpec(path, v).exists(_.equalsIgnoreCase(name)),
      s"DROP COLUMN on $path: '$name' is a declared sort column — " +
        "re-compact without it first")
    val entries = manifestEntries(path, v)
    val physSchema = GraftStorage.mergeSchemaJsons(entries.collect {
      case e if e.startsWith("H\t") => e.drop(2)
    }).getOrElse(throw new IllegalArgumentException(
      s"DROP COLUMN on $path: the table predates schema-in-log — " +
        "compact first"))
    val mapping = mappingOfEntries(entries)
    val logical = logicalSchemaOf(physSchema, mapping)
    require(logical.fieldNames.exists(_.equalsIgnoreCase(name)),
      s"DROP COLUMN on $path: '$name' is not a column")
    require(logical.fields.length > 1,
      s"DROP COLUMN on $path: cannot drop the last column")
    val (map, dropped) = mapping.getOrElse((Map.empty[String, String],
      Seq.empty[String]))
    val phys = physicalNameOf(name, mapping)
    val map2 = map.filterNot(_._1.equalsIgnoreCase(name))
    val n = v + 1
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    publishManifestDelta(fs, dir, n, Seq("N\t"),
      Seq(s"N\t${GraftStorage.renderMapping(map2, dropped :+ phys)}"))
    n
  }

  /** ALTER TABLE ADD COLUMNS — metadata-only (one H line). A field
    * may carry Spark's `CURRENT_DEFAULT`/`EXISTS_DEFAULT` metadata
    * pair (`ADD COLUMN d INT DEFAULT 5`): the EXISTENCE default is
    * validated and CONSTANT-FOLDED here at DDL time, then applied by
    * the vectorized parquet reader to every stored row that LACKS the
    * column — pre-ADD files read the default with ZERO rewrite at any
    * table size (Iceberg v3's initial-default / Delta's
    * EXISTS_DEFAULT contract), while post-ADD rows that store an
    * explicit NULL read NULL. Documented semantics choices: the
    * default keys off COLUMN ABSENCE in the stored file (a post-ADD
    * subset-schema append reads the default too — exactly Spark's
    * existence-default contract for file sources), and TIME TRAVEL to
    * a pre-ADD version shows no column at all (each version owns its
    * schema), never a null-fill.
    */
  def addColumnsVersioned(path: String,
      cols0: org.apache.spark.sql.types.StructType): Long = {
    import org.apache.hadoop.fs.Path
    val vs = listVersions(path)
    require(vs.nonEmpty, s"no versions committed under $path")
    require(cols0.fields.nonEmpty, "ADD COLUMNS with no columns")
    require(cols0.fields.forall(_.nullable),
      "added columns must be nullable (rows in stored files have no " +
        "values to backfill; an EXISTS_DEFAULT fills absent COLUMNS, " +
        "not nullability)")
    // validate + fold the defaults BEFORE anything publishes: a
    // default that doesn't parse, doesn't cast to the column type, or
    // isn't constant must fail the DDL, not every later read
    val cols = org.apache.spark.sql.types.StructType(
      cols0.fields.map { f =>
        if (!f.metadata.contains("EXISTS_DEFAULT") &&
            !f.metadata.contains("CURRENT_DEFAULT")) f
        else {
          // analyze() reads ONE metadata key — point it at whichever
          // the field actually carries (an EXISTS-only field would
          // otherwise die on a raw key-not-found, not the loud gate)
          val key = if (f.metadata.contains("CURRENT_DEFAULT"))
            "CURRENT_DEFAULT" else "EXISTS_DEFAULT"
          val analyzed = org.apache.spark.sql.catalyst.util
            .ResolveDefaultColumns.analyze(f,
              "ALTER TABLE ADD COLUMNS", key)
          require(analyzed.foldable,
            s"ADD COLUMNS on $path: DEFAULT for '${f.name}' is not a " +
              "constant expression — existence defaults fold once at " +
              "DDL time")
          val folded = org.apache.spark.sql.catalyst.expressions
            .Literal(analyzed.eval(), f.dataType)
          val mb = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putString("EXISTS_DEFAULT", folded.sql)
          if (!f.metadata.contains("CURRENT_DEFAULT"))
            mb.putString("CURRENT_DEFAULT", folded.sql): Unit
          f.copy(metadata = mb.build())
        }
      })
    val mapping = columnMapping(path, vs.last)
    val physical = mergedManifestSchema(path, vs.last)
      .map(_.fieldNames.toSeq).getOrElse(Seq.empty)
    val logical = mergedManifestSchema(path, vs.last)
      .map(ps => logicalSchemaOf(ps, mapping).fieldNames.toSeq)
      .getOrElse(Seq.empty)
    // collisions checked in BOTH namespaces: a new column re-using a
    // renamed-away/dropped PHYSICAL name would resurface old stored
    // values under it
    val dup = cols.fieldNames.filter(c =>
      logical.exists(_.equalsIgnoreCase(c)) ||
        physical.exists(_.equalsIgnoreCase(c)))
    require(dup.isEmpty,
      s"ADD COLUMNS name collision with existing (or renamed-away/" +
        s"dropped stored) columns: ${dup.mkString(", ")}")
    // type-conflict gate (belt and braces with the name check)
    GraftStorage.mergeSchemaJsons(
      manifestEntries(path, vs.last).collect {
        case e if e.startsWith("H\t") => e.drop(2)
      } :+ cols.json)
    val n = vs.last + 1
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // metadata-only DDL as a one-line delta commit
    publishManifestDelta(fs, dir, n, Seq.empty, Seq(s"H\t${cols.json}"))
    n
  }

  /** ALTER COLUMN TYPE — widening only, METADATA-ONLY at any size:
    * publishes one H line re-declaring the column at the wider type;
    * the merged schema takes it and every immutable stored file
    * re-reads through the vectorized reader's per-file promotion
    * (int32→long, float→double — [[GraftStorage.widens]], the Iceberg
    * type-promotion set). Zero data bytes move; time travel keeps
    * each version's own type; narrowing/re-typing refuses loudly
    * (that genuinely needs a rewrite). Partition key columns refuse:
    * their values are path-derived strings parsed under the declared
    * type, and mixed-width directory keys would split one logical
    * partition.
    */
  def widenColumnVersioned(path: String, column: String,
      to: org.apache.spark.sql.types.DataType): Long = {
    import org.apache.hadoop.fs.Path
    val vs = listVersions(path)
    require(vs.nonEmpty, s"no versions committed under $path")
    val v = vs.last
    val mapping = columnMapping(path, v)
    val phys = physicalNameOf(column, mapping)
    require(!partitionSpec(path, v).exists(spec =>
        GraftStorage.parsePartField(spec).col.equalsIgnoreCase(phys)),
      s"ALTER COLUMN TYPE on $path: '$column' is a partition key — " +
        "path-derived values parse under the declared type; " +
        "re-partition (compact) instead")
    val merged = mergedManifestSchema(path, v).getOrElse(
      throw new IllegalArgumentException(
        s"no schema recorded in the log of $path"))
    val f = merged.fields.find(_.name.equalsIgnoreCase(phys)).getOrElse(
      throw new IllegalArgumentException(
        s"ALTER COLUMN TYPE on $path: no column '$column' " +
          s"(have: ${logicalSchemaOf(merged, mapping).fieldNames
            .mkString(", ")})"))
    require(f.dataType != to,
      s"'$column' is already ${to.simpleString}")
    require(GraftStorage.widens(f.dataType, to),
      s"ALTER COLUMN TYPE on $path: ${f.dataType.simpleString} -> " +
        s"${to.simpleString} is not a widening promotion — stored " +
        "files are immutable and only byte/short/int -> wider int, " +
        "float -> double, decimal(p,s) -> decimal(p+k,s), and " +
        "date -> timestamp_ntz re-read losslessly; anything else " +
        "needs an explicit rewrite (SELECT-cast into a new table)")
    val n = v + 1
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // metadata-only DDL as a one-line delta commit (same shape as
    // ADD COLUMNS): the H line re-declares ONLY the widened column
    publishManifestDelta(fs, dir, n, Seq.empty,
      Seq("H\t" + org.apache.spark.sql.types.StructType(
        Seq(f.copy(dataType = to))).json))
    n
  }

  def restoreVersioned(path: String, toVersion: Long): Long = {
    import org.apache.hadoop.fs.Path
    val vs = listVersions(path)
    require(vs.nonEmpty, s"no versions committed under $path")
    require(vs.contains(toVersion),
      s"version $toVersion of $path does not exist (have $vs)")
    val entries = manifestEntries(path, toVersion)
    val n = vs.last + 1
    val tableDir = new Path(path)
    val fs = tableDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    publishManifest(fs, tableDir, n, entries)
    n
  }

  /** Commit history — (version, committed_at epoch-millis, n_files,
    * n_rows) per version, newest last. committed_at is the manifest
    * publish instant (the atomic rename's mtime); n_rows is the
    * PHYSICAL (pre-deletion-vector) total from the manifest's R
    * lines when complete, −1 otherwise (unknown without a scan —
    * history stays strictly metadata-rate, same contract as
    * `#history`.row_count). The DESCRIBE HISTORY surface, also
    * behind the `graft_history('/t')` TVF.
    */
  def historyVersioned(path: String): DataFrame = {
    // the metadata-table walk does the heavy lifting at DELTA rate
    // (one `_manifest/` listing for every mtime + cache validation,
    // running state instead of a full per-version resolve — the
    // naive form is O(commits × files)); this surface just reshapes
    // its richer rows to the original (version, committed_at millis,
    // n_files, n_rows) schema, with -1 for unknown row counts
    val rows = GraftMetaTables.rows(spark, path, "history").toSeq
      .map { r =>
        (r.getLong(0),
          if (r.isNullAt(1)) 0L else r.getLong(1) / 1000L,
          r.getLong(3),
          if (r.isNullAt(5)) -1L else r.getLong(5))
      }
    spark.createDataFrame(rows)
      .toDF("version", "committed_at", "n_files", "n_rows")
  }

  def cloneVersioned(src: String, dst: String,
      version: Option[Long] = None): Long = {
    import org.apache.hadoop.fs.Path
    val vs = listVersions(src)
    require(vs.nonEmpty, s"no versions committed under $src")
    require(listVersions(dst).isEmpty,
      s"clone target $dst already has committed versions")
    val v = version.getOrElse(vs.last)
    // RAW entries: a clone of a merge-on-read table must carry the
    // deletion vectors too, or it would resurrect the deleted rows
    val files = manifestEntries(src, v)
    val dstDir = new Path(dst)
    val fs = dstDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    publishManifest(fs, dstDir, 0L, files)
    0L
  }

  /** Row-level DELETE as a COPY-ON-WRITE commit: only the files that
    * actually contain matching rows are rewritten (their surviving
    * rows land in a fresh `data/c<N>` dir); every untouched file is
    * carried into the new manifest verbatim. At 100 TB a 0.1% delete
    * rewrites the handful of files holding those rows — write cost is
    * proportional to AFFECTED data, not table size — and every prior
    * version still time-travels to the pre-delete rows because its
    * manifest pins the old immutable files. The affected-file listing
    * is metadata-scale (distinct input_file_name of matching rows,
    * bounded by file count). Returns the new version.
    */
  def deleteVersioned(path: String, predicate: Column): Long =
    // SQL DELETE semantics: remove only rows where the predicate is
    // TRUE — a NULL evaluation keeps the row. The naive
    // filter(!predicate) silently drops NULL-evaluating rows, but
    // only in files that also held a TRUE match (untouched files
    // carry verbatim) — data-dependent row loss.
    rewriteVersioned(path, predicate,
      df => df.filter(!coalesce(predicate, lit(false))))

  /** Row-level DELETE as a MERGE-ON-READ commit (the
    * deletion-vector path of the lakehouse engines, keyed variant):
    * instead of rewriting the files that hold matching rows
    * (copy-on-write, [[deleteVersioned]]), the commit writes ONLY the
    * matching rows' `keyCol` values as a deletion-vector parquet and
    * carries every data file verbatim — write cost is O(deleted
    * keys) regardless of how many files the victims are scattered
    * across. Readers of the new version anti-join the DV away
    * (map-side: the DV broadcasts); readers of every prior version
    * are untouched. The read tax accrues per MoR commit, so
    * [[compactVersioned]] doubles as REORG APPLY DELETES: it reads
    * the DV-applied snapshot and publishes a clean copy-on-write
    * commit with no DV entries.
    *
    * CoW deletes a 0.1% scattered across 10k files would rewrite all
    * 10k; this writes one KB-scale DV. The crossover back to CoW is
    * when accumulated DVs approach broadcast size — which is what
    * compact is for. `keyCol` must identify rows uniquely (same
    * contract as [[mergeVersioned]]'s key) and must be NON-NULL on
    * every matching row — NULL keys cannot ride a key-based DV (the
    * read-side anti-join never matches NULL) and are rejected loudly;
    * route NULL-keyed deletes through [[deleteVersioned]].
    */
  def deleteVersionedMor(path: String, predicate: Column,
      keyCol: String,
      /** exactly-once marker for streaming CDC-apply sinks whose
        * batch holds only deletes (same contract as the append/merge
        * txn markers).
        */
      txn: Option[(String, Long)] = None): Long = {
    GraftStorage.requireTxn(txn)
    val vs = listVersions(path)
    require(vs.nonEmpty, s"no versions committed under $path")
    // the DV parquet and its D line live in PHYSICAL names (the
    // space the read-side anti-join runs in, before the mapping
    // projection)
    val keyColP = physicalNameOf(keyCol, columnMapping(path, vs.last))
    // DV = matching keys of the CURRENT snapshot (existing DVs apply:
    // a key deleted twice is stored once). The NULL-key gate rides
    // the same job as an observed metric (see publishDvOnlyCommit).
    publishDvOnlyCommit(path, vs.last, keyColP, txn, "deleteVersionedMor")(
      writeDvCountingNulls(readVersioned(path).filter(predicate)
        .select(col(keyCol).as(keyColP)).distinct(), keyColP, _))
  }

  /** Keyed MoR DELETE from a KEYS DataFrame — the CDC-apply shape:
    * the caller already HOLDS the victim keys (a change-feed batch's
    * delete rows, say), so the keys ARE the deletion vector. Writes
    * them directly as the DV parquet and publishes the one-line delta
    * commit — the TABLE IS NEVER SCANNED (no predicate evaluation, no
    * snapshot read), and the keys never round-trip through the
    * driver: a streaming replica applies a delete batch as one
    * distributed write of the batch itself. Keys absent from the
    * table are legal no-ops (the read-side anti-join simply never
    * matches — Iceberg's equality-delete contract); NULL keys are
    * rejected loudly (same reason as the predicate variant); the key
    * column must exist on the current snapshot with the same type, or
    * the anti-join would silently compare across casts.
    */
  def deleteVersionedMorKeys(path: String, keys: DataFrame,
      keyCol: String, txn: Option[(String, Long)] = None): Long = {
    GraftStorage.requireTxn(txn)
    val vs = listVersions(path)
    require(vs.nonEmpty, s"no versions committed under $path")
    val mapping = columnMapping(path, vs.last)
    val schema = logicalSchemaOf(mergedManifestSchema(path, vs.last)
      .getOrElse(readVersioned(path, Some(vs.last)).schema), mapping)
    val tableField = schema.fields.find(_.name.equalsIgnoreCase(keyCol))
      .getOrElse(throw new IllegalArgumentException(
        s"deleteVersionedMorKeys: '$keyCol' is not a column of $path"))
    val keyField = keys.schema.fields
      .find(_.name.equalsIgnoreCase(keyCol))
      .getOrElse(throw new IllegalArgumentException(
        s"deleteVersionedMorKeys: keys DataFrame has no '$keyCol' " +
          s"column (${keys.columns.toSeq})"))
    require(keyField.dataType == tableField.dataType,
      s"deleteVersionedMorKeys: key type ${keyField.dataType} does " +
        s"not match table column type ${tableField.dataType} — the " +
        "read-side anti-join must compare without casts")
    val keyColP = physicalNameOf(keyCol, mapping)
    publishDvOnlyCommit(path, vs.last, keyColP, txn,
      "deleteVersionedMorKeys")(writeDvCountingNulls(
        keys.select(col(keyCol).as(keyColP)).distinct(), keyColP, _))
  }

  /** Row-level DELETE by POSITION — merge-on-read for KEYLESS tables
    * (Iceberg's second delete form): the deletion vector holds
    * (file, row position) pairs materialized from the scan's
    * `_metadata` columns, so NO identifier column is required and
    * duplicate rows delete exactly as matched. Write cost is
    * O(matched rows) however many files the victims scatter across;
    * readers anti-join on (file, position) — same broadcast-ceiling
    * contract as the keyed DVs, and [[applyDeletesVersioned]] /
    * [[compactVersioned]] fold position DVs away at O(affected
    * files). Positions bind to EXPLICIT files, so later appends are
    * naturally unaffected (the sequence rule is implicit). CDC across
    * a position-delete range takes the exact snapshot-diff path.
    */
  def deleteVersionedMorPos(path: String, predicate: Column,
      txn: Option[(String, Long)] = None): Long = {
    GraftStorage.requireTxn(txn)
    val vs = listVersions(path)
    require(vs.nonEmpty, s"no versions committed under $path")
    val v = vs.last
    publishDvOnlyCommit(path, v, GraftStorage.PosDvCol, txn,
        "deleteVersionedMorPos") { commitDir =>
      // resolved snapshot (existing DVs applied) with positions; the
      // predicate evaluates over logical columns like any DELETE
      readResolvedEntries(path, manifestEntries(path, v), keepPos = true)
        .filter(predicate)
        .select(col(GraftStorage.PosFileCol).as("file"),
          col(GraftStorage.PosIdxCol).as("pos"))
        .write.mode("overwrite")
        .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
        .parquet(commitDir)
      0L // positions cannot be NULL
    }
  }

  /** Serializable-isolation validation for replaying a DELTA
    * row-level commit computed against `base` on top of `head` — the
    * OPTIMISTIC REBASE every row-level commit path shares (the SQL
    * delta-DML UPDATE/MERGE loop in [[GraftMorDeltaBatchWrite]] and
    * the hook DV DELETE paths via [[publishDvOnlyCommit]]): every
    * interleaved commit in `(base, head]` must be a PURE APPEND (no
    * removed/reordered files — a rewrite may have rewritten the
    * victims; no DV drift — a concurrent delete may overlap; same
    * partition spec), and for KEY-based deletes no appended file may
    * hold a key the delta deletes (the sequence rule would make the
    * replayed D lines delete the fresh row too). Position DVs pass
    * `deletedKeys = None`: positions bind to EXPLICIT base files, so
    * pure appends can never overlap them. O(interleaved appends)
    * work: one key-column-only scan of the appended files
    * semi-checked against the broadcast-sized DV. Throws
    * [[java.util.ConcurrentModificationException]] on any true
    * conflict (callers clean their staged dirs and surface it).
    */
  private[sources] def validateDisjointRebase(path: String, base: Long,
      head: Long, deletedKeys: Option[(String, Seq[String])],
      what: String): Unit = {
    def conflict(msg: String): Nothing =
      throw new java.util.ConcurrentModificationException(
        s"commit conflict: $path advanced past version $base while " +
          s"$what ran, and the interleaved commits are not disjoint " +
          s"appends ($msg) — re-run the command")
    val (fBase, dBase) = manifestFilesDvs(path, base)
    val (fHead, dHead) = manifestFilesDvs(path, head)
    if (dHead != dBase) conflict("deletion vectors drifted")
    if (fHead.take(fBase.size) != fBase)
      conflict("files were removed or reordered")
    if (partitionSpec(path, head) != partitionSpec(path, base))
      conflict("the partition spec changed")
    val appended = fHead.drop(fBase.size).map(_._1)
    deletedKeys.foreach { case (keyCol, dvFiles) =>
      if (appended.nonEmpty && dvFiles.nonEmpty) {
        val dvDf = spark.read.parquet(dvFiles: _*)
        val keyDt = dvDf.schema.fields
          .find(_.name.equalsIgnoreCase(keyCol)).map(_.dataType)
          .getOrElse(conflict(
            s"deletion vector lacks key column '$keyCol'"))
        // explicit single-column schema: appended files missing the
        // key column null-fill, and NULL never equi-matches
        val overlap = spark.read
          .schema(org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField(keyCol, keyDt))))
          .parquet(appended: _*)
          .join(dvDf.select(col(keyCol)), Seq(keyCol), "left_semi")
        if (!overlap.isEmpty)
          conflict("a concurrent append added rows whose keys this " +
            "command deletes")
      }
    }
  }

  /** The DV-only delete commit over version `v`, shared by the three
    * MoR DELETE surfaces: `writeDv` writes the deletion vector of
    * `keyCol` into the staged commit dir it is given and returns the
    * NULL keys it observed ([[writeDvCountingNulls]] — the gate rides
    * the write job). Then the broadcast-ceiling gate ([[dvLines]])
    * and the pure-delta publish (D lines + optional txn marker,
    * everything else inherited) through the SAME optimistic
    * rebase-and-retry as the SQL delta-DML commits
    * ([[publishRebasing]]), so a concurrent unrelated append never
    * kills a hook DELETE that the UPDATE path would have rebased.
    * Returns the PUBLISHED version.
    */
  private def publishDvOnlyCommit(path: String, v: Long, keyCol: String,
      txn: Option[(String, Long)], what: String)(
      writeDv: String => Long): Long = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val commitDir = newCommitDir(dir, v + 1)
    if (writeDv(commitDir.toString) > 0) {
      fs.delete(commitDir, true)
      throw new IllegalArgumentException(
        s"$what: matching rows carry a NULL '$keyCol' — a " +
          "key-based deletion vector cannot express them; use the " +
          "copy-on-write deleteVersioned for NULL-keyed victims")
    }
    // a MoR delete is the purest delta commit: inherit everything,
    // add only the DV lines — O(deleted keys) metadata AND data
    publishRebasing(fs, dir.toString, commitDir, v,
      txn.map(t => s"T\t${t._1}\t").toSeq,
      dvLines(fs, commitDir, commitDir, keyCol, what,
        "deleteVersioned (copy-on-write)") ++
        txn.map(t => s"T\t${t._1}\t${t._2}").toSeq, what)
  }

  /** OPTIMISTIC REBASE-AND-RETRY publish of a delta row-level commit
    * staged in `commitDir` against version `base` — the one loop the
    * DV delete hooks ([[publishDvOnlyCommit]]) and the SQL delta-DML
    * commit ([[GraftMorDeltaBatchWrite]]) share. A table that advanced
    * past `base` does NOT abort outright: if every interleaved commit
    * is a DISJOINT append ([[validateDisjointRebase]] — no removed
    * files, no DV drift, no appended row carrying a key the keyed `D`
    * lines among `additions` delete), the delta replays verbatim on
    * the new head: the DV still targets exactly the same old copies
    * (interleaved files land BEFORE its D lines, so the key-overlap
    * check is what makes this sound) and fresh files are new either
    * way. True conflicts abort loudly, up to 5 lost publish races
    * retry. NO cleanup handle rides the publish: a lost put-if-absent
    * race must leave the staged files intact for the retry — passing
    * `commitDir` there would delete the data the retried manifest
    * lines reference; it is removed on terminal failure only.
    * Returns the published version.
    */
  private[sources] def publishRebasing(fs: org.apache.hadoop.fs.FileSystem,
      path: String, commitDir: org.apache.hadoop.fs.Path, base: Long,
      removals: Seq[String], additions: Seq[String], what: String): Long = {
    // position DVs bind to explicit base files: appends cannot overlap
    val keyed = additions.filter(_.startsWith("D\t")).map(_.split('\t'))
      .filterNot(_(1) == GraftStorage.PosDvCol)
    val deletedKeys = keyed.headOption.map(d => d(1) -> keyed.map(_(2)))
    var attempt = 0
    while (true) {
      val head = listVersions(path).last
      if (head != base)
        try validateDisjointRebase(path, base, head, deletedKeys, what)
        catch { case e: Throwable => fs.delete(commitDir, true); throw e }
      try {
        publishManifestDelta(fs, new org.apache.hadoop.fs.Path(path),
          head + 1, removals, additions, None)
        return head + 1
      } catch {
        case e: java.util.ConcurrentModificationException =>
          attempt += 1
          if (attempt > 5) { fs.delete(commitDir, true); throw e }
        case scala.util.control.NonFatal(e) =>
          fs.delete(commitDir, true); throw e
      }
    }
    -1L // unreachable
  }

  /** The `spark.graft.mor.maxDvBytes` deletion-vector ceiling
    * (default 64 MB).
    */
  private[sources] def maxDvBytes: Long =
    spark.conf.getOption("spark.graft.mor.maxDvBytes")
      .map(_.toLong).getOrElse(64L << 20)

  /** `D\t<keyCol>\t<file>` lines for the deletion-vector parquet
    * staged under `dvDir` — every DV commit forms them here, behind
    * the guard of the 'DVs are broadcast-sized by construction'
    * invariant every MoR read plan relies on: a DV over
    * [[maxDvBytes]] would make EVERY subsequent read broadcast it, so
    * it is refused at write time (the staged `commitDir` is removed
    * first), pointing `what`'s caller at `alt`, the copy-on-write
    * route that is the right plan for changes that big anyway.
    */
  private[sources] def dvLines(fs: org.apache.hadoop.fs.FileSystem,
      commitDir: org.apache.hadoop.fs.Path, dvDir: org.apache.hadoop.fs.Path,
      keyCol: String, what: String, alt: String): Seq[String] = {
    val dv = fs.listStatus(dvDir).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    val (bytes, max) = (dv.map(_.getLen).sum, maxDvBytes)
    if (bytes > max) {
      fs.delete(commitDir, true)
      throw new DvTooLargeException(bytes, max,
        s"$what: the deletion vector is $bytes bytes, over the " +
          s"spark.graft.mor.maxDvBytes ceiling of $max — every read " +
          s"would broadcast it; use $alt for changes this large " +
          "(or raise the ceiling)")
    }
    dv.map(f => s"D\t$keyCol\t${f.getPath.toUri.getPath}")
  }

  /** MERGE-ON-READ upsert — MERGE at O(delta) write cost: ONE commit
    * holding a deletion vector of the upserted keys plus the fresh
    * rows as new data files, the `D` lines placed before the file
    * lines so the sequence rule ([[manifestFilesDvs]]) deletes
    * exactly the keys' OLD copies and keeps the commit's own. Zero
    * existing files move — where [[mergeVersioned]] rewrites every
    * file holding a matched key (copy-on-write), this writes
    * O(|updates|) bytes however scattered the matches are: the
    * 100 TB CDC-apply shape (Iceberg's equality-delete upsert).
    * The read tax is the standard DV anti join (readVersioned /
    * MorReadRule), cleared by compactVersioned; MoR upserts stack —
    * each generation's rows survive later generations' deletes only
    * if their keys differ. `key` must identify rows uniquely and be
    * non-null on every updates row (NULL-keyed rows are rejected
    * loudly). Partitioned tables are refused: fresh rows would land
    * outside the identity layout — use [[mergeVersioned]] there.
    * `txn` gives streaming upsert sinks the same exactly-once marker
    * as the append sinks.
    */
  def mergeVersionedMor(path: String, updates: DataFrame, key: String,
      txn: Option[(String, Long)] = None): Long = {
    val vs = listVersions(path)
    require(vs.nonEmpty, s"no versions committed under $path")
    require(partitionSpec(path, vs.last).isEmpty,
      s"mergeVersionedMor on $path: the table is partitioned — " +
        "fresh rows would land outside the identity layout; use " +
        "mergeVersioned (copy-on-write) instead")
    // columns from the log (schema lines + column mapping); only
    // legacy tables without H lines open the snapshot for them
    val cols = mergedManifestSchema(path, vs.last)
      .map(logicalSchemaOf(_, columnMapping(path, vs.last)).fieldNames)
      .getOrElse(readVersioned(path, Some(vs.last)).columns)
    require(cols.toSet == updates.columns.toSet,
      s"merge schema mismatch: table ${cols.toSeq} vs " +
        s"updates ${updates.columns.toSeq}")
    require(cols.contains(key), s"key '$key' is not a column")
    // stats/bloom coverage carries: the fresh files index like any
    // append so pruned reads keep skipping after the upsert
    val (sc, bc) = priorSidecarCoverage(path)
    commitVersioned(updates.select(cols.map(col).toIndexedSeq: _*),
      path, append = true, sc, bc, Seq.empty, txn, Seq.empty, None,
      morKey = Some(key))
  }

  /** Row-level UPDATE as a MERGE-ON-READ commit: the matching rows,
    * with `set` applied, upsert through [[mergeVersionedMor]] — one
    * O(matched rows) commit (DV of their keys + their new copies),
    * zero files rewritten, where [[updateVersioned]] rewrites every
    * file holding a match. Non-matching rows live untouched in their
    * original files and are not in the DV, so they survive — the
    * sequence rule keeps the fresh copies alive. Same key contract
    * as the MoR family (unique, non-null on matches).
    */
  def updateVersionedMor(path: String, predicate: Column,
      set: Map[String, Column], key: String): Long = {
    // rewriting the key would build the DV from POST-update values:
    // it would delete an unrelated row that already held the new key
    // and leave the matched row's old copy alive — silent corruption,
    // so refuse (key changes are a delete+insert, or CoW update)
    require(!set.keys.exists(_.equalsIgnoreCase(key)),
      s"updateVersionedMor cannot SET the key column '$key': the " +
        "deletion vector must target the OLD key values; use " +
        "updateVersioned (copy-on-write) to rewrite keys")
    val cur = readVersioned(path)
    val updated = cur.filter(predicate).select(cur.columns.map { c =>
      set.get(c).map(e => e.as(c)).getOrElse(col(c))
    }.toIndexedSeq: _*)
    mergeVersionedMor(path, updated, key)
  }

  /** Row-level UPDATE, same copy-on-write machinery as
    * [[deleteVersioned]]: files containing matching rows are
    * rewritten with `set` applied to the matching rows and the rest
    * kept as-is; untouched files carry over. `set` maps column name →
    * replacement expression (evaluated only on rows matching
    * `predicate`).
    */
  def updateVersioned(path: String, predicate: Column,
      set: Map[String, Column]): Long =
    rewriteVersioned(path, predicate, { affected =>
      val cols = affected.columns.map { c =>
        set.get(c) match {
          case Some(e) => when(predicate, e).otherwise(col(c)).as(c)
          case None    => col(c)
        }
      }
      affected.select(cols.toIndexedSeq: _*)
    })

  /** MERGE INTO for versioned tables — the upsert as ONE copy-on-write
    * commit: rows of `updates` whose `key` exists in the snapshot
    * replace the stored row (matched ⇒ update-all), the rest append
    * (not-matched ⇒ insert). Only files containing matched keys are
    * rewritten; inserts land in the fresh commit dir next to the
    * rewrites; untouched files carry into the new manifest verbatim.
    * Write cost = affected files + insert delta — the Delta/Iceberg
    * MERGE contract on the manifest format. Schemas must align by
    * name (positional differences are a caller bug surfaced by the
    * require).
    */
  def mergeVersioned(path: String, updates: DataFrame,
      key: String): Long = {
    val v = materializedHead(path) // file-wise machinery reads raw files
    val files = manifestFiles(path, v)
    val cur = readRawFiles(path, v, files)
    require(cur.columns.toSet == updates.columns.toSet,
      s"merge schema mismatch: table ${cur.columns.toSeq} vs " +
        s"updates ${updates.columns.toSeq}")
    val upd = updates.select(cur.columns.map(col).toIndexedSeq: _*)
      .localCheckpoint() // read twice: matched split + insert anti
    // files holding matched keys
    val (affected, untouched) = splitAffected(files,
      cur.join(upd.select(col(key)), Seq(key), "left_semi"))
    // rewritten affected files: updates win on key, others carried;
    // plus the pure inserts (keys unseen anywhere in the snapshot)
    val affectedDf =
      if (affected.isEmpty) cur.limit(0)
      else readRawFiles(path, v, affected)
    val survivors = affectedDf.join(broadcast(upd.select(col(key))),
      Seq(key), "left_anti")
    val matched = upd.join(cur.select(col(key)), Seq(key), "left_semi")
      .select(cur.columns.map(col).toIndexedSeq: _*)
    val inserts = upd.join(cur.select(col(key)), Seq(key), "left_anti")
      .select(cur.columns.map(col).toIndexedSeq: _*)
    rewriteCommit(path, v, untouched,
      Some(survivors.unionByName(matched).unionByName(inserts)),
      columnMapping(path, v))
  }

  /** CDC — row-level changes between two committed versions, computed
    * from the MANIFEST file diff: files present in both manifests are
    * skipped entirely (immutable parts ⇒ identical rows), and the
    * row-level multiset difference runs only over churned files.
    * `insert` rows exist in `to` but not `from`; `delete` the reverse;
    * an UPDATE surfaces as delete pre-image + insert post-image (the
    * change-data-feed contract, reconstructed from snapshots). Rows a
    * copy-on-write rewrite merely CARRIED into fresh files appear on
    * both sides of the file diff and cancel in the multiset except —
    * the result equals the global snapshot diff while reading only
    * the churned files, so cost scales with churn, not table size.
    *
    * Merge-on-read ranges take an O(churn) path of their own (see
    * inline) with one deliberate CDF-standard deviation from a pure
    * snapshot diff: a key deleted and re-inserted with IDENTICAL
    * values inside the range reports as a delete+insert pair (the
    * row-level change really happened; Delta's CDF does the same)
    * rather than cancelling.
    */
  def changesVersioned(path: String, fromVersion: Long,
      toVersion: Long): DataFrame = {
    import org.apache.hadoop.fs.Path
    def key(p: String): String = new Path(p).toUri.getPath
    // merge-on-read commits change NO data file, so the file-delta
    // fast path below would read them as empty changes. When the
    // range is APPEND-SHAPED (old files and old D lines carried in
    // position, new ones only appended — every delta-DML/upsert/
    // append chain looks like this), the diff is O(churn):
    //   deletes = `from` rows whose key a NEW DV names (all `from`
    //     files precede every new D line, so the sequence rule makes
    //     this exact — and already-deleted rows are absent from the
    //     resolved `from` read);
    //   inserts = the NEW files' rows, each anti-joined with exactly
    //     the new DVs past its own position (an upsert chain's
    //     intermediate rows cancel; old DVs never apply to new files).
    // Anything else (CoW rewrites, compaction, restore) falls to the
    // file-delta diff below or — if DV sets moved non-monotonically —
    // the full snapshot compare, which is what a row-accurate CDC
    // over arbitrary history costs.
    val (filesF, dvsF) = manifestFilesDvs(path, fromVersion)
    val (filesT, dvsT) = manifestFilesDvs(path, toVersion)
    val appendShaped =
      dvsT.take(dvsF.size) == dvsF &&
        filesT.take(filesF.size) == filesF
    val fromMapping = columnMapping(path, fromVersion)
    val toMapping = columnMapping(path, toVersion)
    // a RENAME/DROP landed inside the range: the two snapshots'
    // logical spaces disagree, so the diff runs in PHYSICAL space
    // (names are stable there) and surfaces in the TO-version's
    // logical shape. The rename commit itself moves no rows — two
    // physically identical snapshots diff to zero change rows.
    if (fromMapping != toMapping) {
      def physEntries(v: Long): Seq[String] =
        manifestEntries(path, v).filterNot(_.startsWith("N\t"))
      def phys(v: Long): DataFrame =
        readResolvedEntries(path, physEntries(v))
      // a PURE rename/drop commit leaves the physical entries
      // byte-identical — zero change rows at METADATA cost (this is
      // every CDF batch that spans only the mapping commit)
      if (physEntries(fromVersion) == physEntries(toVersion)) {
        val empty = readVersioned(path, Some(toVersion)).limit(0)
        return empty.withColumn("_change_type", lit(""))
          .filter(lit(false))
      }
      val toP = phys(toVersion)
      val fromP0 = phys(fromVersion)
      val fromP =
        if (fromP0.schema.fieldNames.sameElements(
            toP.schema.fieldNames)) fromP0
        else fromP0.select(toP.schema.fields.map { f =>
          if (fromP0.columns.exists(_.equalsIgnoreCase(f.name)))
            col(s"`${f.name}`")
          else lit(null).cast(f.dataType).as(f.name)
        }.toIndexedSeq: _*)
      return toLogicalDf(toP.exceptAll(fromP), toMapping)
        .withColumn("_change_type", lit("insert"))
        .unionByName(toLogicalDf(fromP.exceptAll(toP), toMapping)
          .withColumn("_change_type", lit("delete")))
    }
    // change rows surface in the TO-version's shape: an ADD COLUMNS
    // commit inside the range widens the snapshot, and a pre-image
    // read at `from` lacks the new columns — align it (missing
    // columns null-filled, the same value schema-in-log gives the
    // stored rows) or the insert/delete union throws mid-stream.
    // Target = the LOGICAL schema (the mapping is range-stable here).
    def alignedToTarget(df: DataFrame): DataFrame =
      mergedManifestSchema(path, toVersion)
        .map(logicalSchemaOf(_, toMapping)) match {
        case Some(target)
            if !df.schema.fieldNames.sameElements(target.fieldNames) =>
          df.select(target.fields.map { f =>
            if (df.columns.exists(_.equalsIgnoreCase(f.name)))
              col(s"`${f.name}`")
            else lit(null).cast(f.dataType).as(f.name)
          }.toIndexedSeq: _*)
        case _ => df
      }
    /** D-line key columns are PHYSICAL; resolved reads are logical. */
    def logicalKeyOf(c: String): String = toMapping match {
      case Some((map, _)) =>
        map.find(_._2.equalsIgnoreCase(c)).map(_._1).getOrElse(c)
      case None => c
    }
    /** A DV key column's type at `to`, from the schema-in-log. */
    def keyTypeOf(c: String): Option[org.apache.spark.sql.types.DataType] =
      mergedManifestSchema(path, toVersion)
        .flatMap(_.find(_.name.equalsIgnoreCase(c))).map(_.dataType)
    if (dvsT.size > dvsF.size && appendShaped &&
        // POSITION DVs have no key column to pre-image by — the
        // range falls to the exact snapshot diff below
        !dvsT.drop(dvsF.size).exists(_._1 == GraftStorage.PosDvCol)) {
      val newDvs = dvsT.zipWithIndex.drop(dvsF.size)
      val newFiles = filesT.drop(filesF.size)
      lazy val fromDf = readVersioned(path, Some(fromVersion))
      val byCol = newDvs.groupBy(_._1._1).toSeq.sortBy(_._1)
      val deletes = byCol match {
        case Seq((c, entries)) =>
          // single key column (the overwhelmingly common shape): the
          // pre-image scan prunes by the DV key RANGE through the
          // stats-in-log reader, so a KB-scale delete commit reads
          // only the files that can hold a matched key — not the
          // whole `from` snapshot. The range comes from the DV
          // files' own FOOTER stats (metadata-rate — they are this
          // engine's parquet, stats always present) instead of a
          // min/max aggregate job per CDC step; an unusable footer
          // falls back to the job.
          val lc = logicalKeyOf(c)
          val keys = dvRows(c, keyTypeOf(c), entries.map(_._1._2))
            .select(col(s"`$c`").as(lc))
          val bounds: Option[(Any, Any)] =
            footerColumnBounds(entries.map(_._1._2), c,
              keys.schema(lc).dataType).getOrElse {
              val b = keys.agg(min(col(lc)), max(col(lc))).head()
              if (b.isNullAt(0)) None else Some((b.get(0), b.get(1)))
            }
          bounds match {
            case None => fromDf.limit(0)
            case Some((mn, mx)) =>
              readVersionedPruned(path, Some(fromVersion))
                .filter(col(lc) >= lit(mn) && col(lc) <= lit(mx))
                .join(broadcast(keys), Seq(lc), "left_semi")
          }
        case _ =>
          // several key columns: chain semi/anti per column so a row
          // matching two columns' DVs surfaces exactly once
          byCol.foldLeft((fromDf.limit(0), fromDf)) {
            case ((acc, remaining), (c, entries)) =>
              val lc = logicalKeyOf(c)
              val keys = dvRows(c, keyTypeOf(c), entries.map(_._1._2))
                .select(col(s"`$c`").as(lc))
              (acc.unionByName(
                remaining.join(broadcast(keys), Seq(lc), "left_semi")),
                remaining.join(broadcast(keys), Seq(lc), "left_anti"))
          }._1
      }
      val inserts =
        if (newFiles.isEmpty) alignedToTarget(fromDf.limit(0))
        else newFiles.groupBy(_._2).toSeq.map { case (g, group) =>
          // anti-join in PHYSICAL space (D lines + DV parquet store
          // physical names), project to logical after
          toLogicalDf(antiJoinDvEntries(
            readRawFilesPhysical(path, toVersion, group.map(_._1)),
            newDvs.filter(_._2 >= g).map(_._1)), toMapping)
        }.reduce(_.unionByName(_))
      return inserts.withColumn("_change_type", lit("insert"))
        .unionByName(alignedToTarget(deletes)
          .withColumn("_change_type", lit("delete")))
    }
    if (dvsF != dvsT) {
      val fromDf = alignedToTarget(readVersioned(path, Some(fromVersion)))
      val toDf = readVersioned(path, Some(toVersion))
      return toDf.exceptAll(fromDf)
        .withColumn("_change_type", lit("insert"))
        .unionByName(fromDf.exceptAll(toDf)
          .withColumn("_change_type", lit("delete")))
    }
    val before = manifestFiles(path, fromVersion)
    val after = manifestFiles(path, toVersion)
    val beforeKeys = before.map(key).toSet
    val afterKeys = after.map(key).toSet
    val removed = before.filterNot(f => afterKeys(key(f)))
    val added = after.filterNot(f => beforeKeys(key(f)))
    lazy val empty = readVersioned(path, Some(toVersion)).limit(0)
    def rows(fls: Seq[String]): DataFrame =
      if (fls.isEmpty) empty
      else readRawFiles(path, toVersion, fls)
    rows(added).exceptAll(rows(removed))
      .withColumn("_change_type", lit("insert"))
      .unionByName(rows(removed).exceptAll(rows(added))
        .withColumn("_change_type", lit("delete")))
  }

  /** VACUUM — drop history: keep the latest `keepLast` manifests,
    * delete older manifests and every data file ONLY they reference.
    * Live files (referenced by any kept manifest) are never touched,
    * so the kept versions read byte-identically afterwards; vacuumed
    * versions fail fast at manifest resolution instead of returning
    * partial data. Returns the number of data files deleted. All
    * bookkeeping is metadata-scale (manifest lists, no data reads).
    */
  def vacuumVersioned(path: String, keepLast: Int = 1): Long = {
    import org.apache.hadoop.fs.Path
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vs = listVersions(path)
    require(vs.nonEmpty, s"no versions committed under $path")
    // named refs PIN their versions past any keepLast horizon: a tag
    // is the retention contract of a published snapshot, so the keep
    // set is the trailing window PLUS every tag/branch target (no
    // longer necessarily contiguous)
    val pinned = listRefs(path).map(_._2).filter(vs.contains).distinct
    // the latest PUBLISHED version is always pinned: a keepLast
    // window counted over trailing audit-pending stages would
    // otherwise retire the only snapshot default readers (and
    // wapDiscard) can resolve
    val pinnedVisible = latestVisibleOption(path, vs)
    val keepSet =
      (vs.takeRight(keepLast) ++ pinned ++ pinnedVisible).toSet
    val keep = vs.filter(keepSet)
    val drop = vs.filterNot(keepSet)
    if (drop.isEmpty) return 0L
    def key(p: String): String = new Path(p).toUri.getPath
    // liveness spans data files AND deletion vectors: dropping a DV a
    // kept manifest still lists would resurrect its deleted rows
    val live = keep.flatMap(manifestAllPaths(path, _)).map(key).toSet
    val dead = drop.flatMap(manifestAllPaths(path, _)).map(key)
      .distinct.filterNot(live)
    dead.foreach(f => fs.delete(new Path(f), true)) // stats are dirs
    // delta chains reference their base BY VERSION — before retiring
    // manifests, materialize a `v<N>.ck` checkpoint sidecar for every
    // BOUNDARY kept version (a delta whose predecessor is being — or
    // was already — dropped), so each kept delta's replay stops at a
    // kept chain link or a sidecar. With only a trailing window that
    // is the oldest kept version; ref-pinned keeps add one boundary
    // per pinned island. Content is the deterministic resolution, so
    // a racing double-write is harmless.
    keep.filter(v => manifestDepth(path, v) > 0 && !keepSet(v - 1))
      .foreach { boundary =>
        val ck = new Path(dir, s"_manifest/v$boundary.ck")
        if (!fs.exists(ck)) {
          val tmp = new Path(dir, s"_manifest/.v$boundary.ck." +
            s"${java.util.UUID.randomUUID.toString.take(8)}.tmp")
          var visible = false
          try {
            val out = fs.create(tmp, true)
            try out.write(manifestEntries(path, boundary)
              .mkString("\n").getBytes("UTF-8"))
            finally out.close()
            // a failed rename is benign ONLY when a racing vacuum
            // already published the (deterministic) sidecar — on any
            // other failure (transient FS error, missing parent)
            // retiring the chain below would strand every kept delta
            // version, i.e. metadata loss, so verify visibility and
            // abort loudly
            val renamed = fs.rename(tmp, ck)
            visible = renamed || fs.exists(ck)
            if (!renamed) fs.delete(tmp, false)
          } finally if (!visible) fs.delete(tmp, false)
          if (!visible) throw new java.io.IOException(
            s"vacuum: checkpoint sidecar $ck could not be " +
              "materialized; aborting manifest retirement (kept " +
              "versions stay readable; re-run vacuum)")
        }
      }
    drop.foreach { v =>
      fs.delete(new Path(dir, s"_manifest/v$v"), false)
      fs.delete(new Path(dir, s"_manifest/v$v.ck"), false)
      fs.delete(new Path(dir, s"_manifest/v$v.op"), false)
    }
    // sweep commit dirs the deletes emptied (cosmetic, metadata-scale)
    // — but NEVER a dir whose `_`-prefixed survivors include a
    // sidecar (_zonemap/_bloom) a kept manifest still pins via
    // carried S/B lines: a CoW rewrite can retire every DATA file of
    // a commit while later snapshots keep pruning through its stats
    val dataDir = new Path(dir, "data")
    if (fs.exists(dataDir))
      fs.listStatus(dataDir).foreach { d =>
        val dkey = key(d.getPath.toString)
        val pinned = live.exists(p => p == dkey || p.startsWith(dkey + "/"))
        if (d.isDirectory && !pinned && fs.listStatus(d.getPath)
            .forall(f => f.getPath.getName.startsWith("_")))
          fs.delete(d.getPath, true)
      }
    dead.size.toLong
  }

  /** Streaming source over a versioned table's commit log — a
    * checkpointed consumer processes exactly each commit's delta
    * across runs (the "stream a lakehouse table" pattern).
    */
  def streamVersioned(path: String): DataFrame =
    streamVersioned(path, ignoreChanges = false)

  /** MANIFEST-DRIVEN streaming (see [[GraftStreamSource]]): offsets
    * are commit versions, each micro-batch reads exactly the files
    * the manifests added in its range, audit-pending (WAP-staged)
    * commits stay invisible until published, and non-append commits
    * (copy-on-write rewrites, deletion-vector drift) fail loudly
    * unless `ignoreChanges` opts into add-only delivery — the
    * replacement for the earlier file-glob reader, whose two
    * documented caveats (staged files surfacing pre-publish, CoW
    * re-surfacing carried rows silently) this closes.
    */
  def streamVersioned(path: String,
      ignoreChanges: Boolean): DataFrame =
    spark.readStream.format("graft-stream")
      .option("ignoreChanges", ignoreChanges.toString)
      .load(path)

  /** STREAMING CHANGE DATA FEED (Delta's `readChangeFeed` contract):
    * each micro-batch delivers the commits' CHANGE ROWS — table
    * columns plus `_change_type` ('insert'/'delete'; an UPDATE is the
    * delete pre-image + insert post-image pair) and
    * `_commit_version` — instead of raw added files. The first batch
    * is the current snapshot as inserts (DV-resolved, so
    * merge-on-read tables stream WITHOUT a compact); each later
    * commit contributes its own O(churn) diff
    * ([[changesVersioned]]'s fast paths: a delta-DML commit costs its
    * DV + matched files, a maintenance rewrite cancels to zero
    * rows). The downstream CDC-apply shape: feed these rows to a
    * [[mergeVersionedMor]] sink and two tables stay in sync at
    * O(churn) per trigger.
    */
  def streamVersionedChanges(path: String): DataFrame =
    spark.readStream.format("graft-stream")
      .option("readChangeFeed", "true")
      .load(path)

  /** Stream pinned to a NAMED REF (tag or branch): the drain target
    * resolves through the ref instead of the latest published
    * version, and — unlike a default stream — WAP-STAGED versions at
    * or below the ref's pin are delivered: pinning a branch at a
    * staged commit is the explicit audit opt-in (an audit pipeline
    * CDC-follows the staged data BEFORE publish while default
    * consumers stay shielded). A tag ref gives a bounded drain (up
    * to the tag, then idle); a branch ref follows the pointer as it
    * advances. A branch carrying staged branch-log writes refuses,
    * same as batch `VERSION AS OF '<branch>'`.
    */
  def streamVersionedRef(path: String, ref: String,
      changeFeed: Boolean = false): DataFrame =
    spark.readStream.format("graft-stream")
      .option("ref", ref)
      .option("readChangeFeed", changeFeed.toString)
      .load(path)

  /** Shared copy-on-write core: split the latest snapshot's file list
    * into affected (contain rows matching `predicate`) and untouched;
    * rewrite only the affected files via `rewrite`; publish a new
    * manifest of untouched ++ fresh files.
    */
  /** The head version of a table the file-wise rewrites read: if the
    * latest version carries merge-on-read deletion vectors, a clean
    * copy-on-write commit is published first (REORG APPLY DELETES) —
    * the machinery reads raw files and would otherwise resurrect
    * DV-deleted rows.
    */
  private def materializedHead(path: String): Long = {
    val vs = listVersions(path)
    require(vs.nonEmpty, s"no versions committed under $path")
    if (manifestDvs(path, vs.last).nonEmpty)
      compactVersioned(path, math.max(1, manifestFiles(path, vs.last).size))
    listVersions(path).last
  }

  /** Copy-on-write DELETE/UPDATE: the files holding a `predicate`
    * match are rewritten through `rewrite`, the rest carry.
    */
  private def rewriteVersioned(path: String, predicate: Column,
      rewrite: DataFrame => DataFrame): Long = {
    val v = materializedHead(path)
    val files = manifestFiles(path, v)
    val (affected, untouched) = splitAffected(files,
      readRawFiles(path, v, files).filter(predicate))
    rewriteCommit(path, v, untouched,
      if (affected.isEmpty) None
      else Some(rewrite(readRawFiles(path, v, affected))),
      columnMapping(path, v))
  }

  /** The `files` holding at least one row of `matching` (a read over
    * them), split from the rest as (affected, untouched) — the
    * discovery step of every partial rewrite. Metadata-scale: one
    * distinct `input_file_name` per file holding a match.
    */
  private def splitAffected(files: Seq[String],
      matching: DataFrame): (Seq[String], Seq[String]) = {
    import org.apache.hadoop.fs.Path
    def key(p: String): String = new Path(p).toUri.getPath
    val hit = matching.select(input_file_name()).distinct()
      .collect().map(r => key(r.getString(0))).toSet
    files.partition(f => hit(key(f)))
  }

  /** The one PARTIAL-REWRITE commit of version `v + 1` — copy-on-write
    * DELETE/UPDATE, MERGE, scoped compaction and apply-deletes all
    * publish here: `rows` (None: nothing to rewrite) land in a fresh
    * commit dir under the snapshot's partition layout (`mapping`:
    * the column mapping they are written through), pass the CHECK
    * gate, and publish next to the `untouched` files and their
    * carried meta lines. Maintenance rewrites pass the snapshot's
    * real sidecar `coverage` (restated over the fresh files — they
    * must not LOSE pruning the snapshot had) and `sortCols`
    * (re-enforced within each task and re-declared as the `O` line),
    * and tag the commit with `op`; DML passes neither, so its fresh
    * files carry no sidecars and the sort claim drops.
    */
  private def rewriteCommit(path: String, v: Long, untouched: Seq[String],
      rows: Option[DataFrame],
      mapping: Option[(Map[String, String], Seq[String])],
      coverage: (Seq[String], Seq[String]) = (Nil, Nil),
      sortCols: Seq[String] = Nil, op: Option[String] = None): Long = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val spec = partitionSpec(path, v)
    val n = v + 1
    val commitDir = newCommitDir(dir, n)
    val fresh = rows.fold(Seq.empty[String]) { df =>
      val relaid =
        if (sortCols.isEmpty) df
        else df.sortWithinPartitions(
          (GraftStorage.partKeys(spec, df.schema) ++ sortCols.map(col)): _*)
      val out = writeCommitData(relaid, commitDir, spec, fs, mapping)
      validateCommitFiles(path, out, commitDir, fs)
      out
    }
    val (sc, bc) = if (fresh.isEmpty) (Nil, Nil) else coverage
    val meta = carriedMetaLines(path, v, untouched) ++
      rowCountLines(fresh) ++ sidecarLines(commitDir, sc, bc) ++
      GraftStorage.oLine(sortCols, append = false, Seq.empty)
    publishManifest(fs, dir, n, untouched ++ fresh ++ meta,
      Some(commitDir))
    op.fold(n)(tagMaintenance(path, n, _))
  }

  /** Resolve `AS OF <timestamp>` to a version: the newest manifest
    * whose publish time (the atomic rename's mtime — the commit
    * instant) is at or before `tsMillis`. Metadata-rate: one status
    * call per manifest, KBs at any table size.
    */
  def versionAsOf(path: String, tsMillis: Long): Long = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vs = listVersions(path)
    require(vs.nonEmpty, s"no versions committed under $path")
    val eligible = vs.filter { v =>
      fs.getFileStatus(new Path(dir, s"_manifest/v$v"))
        .getModificationTime <= tsMillis
    }
    require(eligible.nonEmpty,
      s"no version of $path existed at epoch-millis $tsMillis " +
        s"(earliest commit is after it)")
    eligible.max
  }

  /** Time travel by timestamp — `SELECT ... AS OF <ts>`. */
  def readVersionedAsOf(path: String, tsMillis: Long): DataFrame =
    readVersioned(path, Some(versionAsOf(path, tsMillis)))

  /** Whether a snapshot carries merge-on-read deletion vectors (its
    * read is then a DV anti-join, not a single file relation).
    */
  def hasDeletionVectors(path: String,
      version: Option[Long] = None): Boolean = {
    val vs = listVersions(path)
    require(vs.nonEmpty, s"no versions committed under $path")
    manifestDvs(path,
      version.getOrElse(latestVisibleVersion(path))).nonEmpty
  }

  /** Snapshot read with MANIFEST-LEVEL DATA SKIPPING: resolve the
    * version's file list AND its commits' recorded per-file [min,max]
    * stats, and serve both through a [[ZoneMapFileIndex]] over the
    * exact manifest files — pushed filters then prune files at PLAN
    * time, before any split is scheduled (the Delta/Iceberg
    * stats-in-log read path). Files from commits written without
    * `statsCols` have no stats rows and are kept conservatively.
    * Falls back to the plain snapshot read when the manifest carries
    * no stats or the snapshot holds merge-on-read deletion vectors
    * (the DV anti-join needs the full row stream; compact first).
    */
  def readVersionedPruned(path: String,
      version: Option[Long] = None): DataFrame = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.types.StructType
    val vs = listVersions(path)
    require(vs.nonEmpty, s"no versions committed under $path")
    val v = version.getOrElse(latestVisibleVersion(path))
    // identity-partitioned snapshots prune from path-derived zones
    // even with zero sidecars — only skip the pruning relation when
    // NO stats source exists (or DVs force the anti-join path).
    // Bucket fields synthesize no zones (a bucket id bounds nothing),
    // so a bucket-ONLY spec is not a stats source; identity and
    // temporal fields both are.
    if ((manifestStats(path, v).isEmpty &&
        manifestBlooms(path, v).isEmpty &&
        !partitionSpec(path, v).map(GraftStorage.parsePartField)
          .exists(f => !f.isInstanceOf[GraftStorage.BucketPart])) ||
        manifestDvs(path, v).nonEmpty)
      return readVersioned(path, version)
    val parts = versionedScanParts(path, v)
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val index = new ZoneMapFileIndex(classic,
      parts.files.map(new Path(_)), Some(parts.schema), parts.zones,
      parts.blooms)
    val rel = HadoopFsRelation(index, StructType(Nil), parts.schema,
      None, new ParquetFileFormat(), readerOptions)(classic)
    // logical projection on top: filters on logical names push
    // through the aliases down to the physical scan, so zone/bloom
    // pruning (keyed physical) keeps working under a mapping
    toLogicalDf(
      Bridge.ofRows(spark, LogicalRelation(rel, isStreaming = false)),
      columnMapping(path, v))
  }

  /** Everything a pruning scan of one snapshot needs: the manifest's
    * exact file list, its stats-in-log zone rows, its bloom-in-log
    * filters, and the schema-in-log schema. Shared between
    * [[readVersionedPruned]] (V1 relation) and the DSv2 catalog
    * table's ScanBuilder ([[GraftCatalog]]) so both read paths prune
    * through the identical sidecar machinery.
    */
  private[sources] def versionedScanParts(path: String,
      v: Long): VersionedScanParts = {
    import org.apache.hadoop.fs.Path
    val statDirs = manifestStats(path, v)
    val bloomDirs = manifestBlooms(path, v)
    val files = manifestFiles(path, v)
    // stats-in-log zone rows: LAZY and COLUMN-SCOPED (nothing read
    // until a query filters; each load projects just the referenced
    // columns' __min/__max) — plan-time driver bytes scale with the
    // predicate, not files × indexed-cols (the 10⁶-file ceiling)
    val sidecarZones = zoneSidecarFor(statDirs)
    val fullSchema = mergedManifestSchema(path, v)
      .getOrElse(spark.read.parquet(files: _*).schema)
    // identity-partitioned snapshot: each file's path-derived key IS
    // an exact [min,max]==key zone entry — static pruning, runtime
    // pruning, and partition-col MIN/MAX at manifest rate, with no
    // sidecar built or read
    val partCols = partitionSpec(path, v)
    val partFields = partCols.map(GraftStorage.parsePartField)
    val keyFn: String => Option[Seq[Any]] =
      if (partCols.isEmpty) _ => None
      else f => partKeyOf(fullSchema, partFields, f)
    val zones =
      if (partCols.isEmpty) sidecarZones
      else {
        // identity-partitioned snapshot: each file's path-derived key
        // IS an exact [min,max]==key zone entry — static pruning,
        // runtime pruning, and partition-col MIN/MAX at manifest
        // rate, with no sidecar built or read. Overlays are applied
        // for ALL partition columns on EVERY load (path-derived, no
        // bytes read), so precedence cannot regress across scoped
        // loads: synthesized entries WIN over sidecar rows for
        // IDENTITY partition cols ([key,key] is exact where footer-
        // derived string bounds may be truncation-widened); bucket
        // ids are NOT column values — no zone entry; temporal ids
        // bound the source column only unit-wide — those LOSE to
        // sidecar rows (footer min/max is tighter).
        val identityCols = partFields.collect {
          case GraftStorage.IdentityPart(c) => c }.toSet
        val temporalCols = partFields.collect {
          case GraftStorage.TemporalPart(_, c) => c }.toSet
        def overlay(sidecar: Map[String, Map[String, (Any, Any)]])
            : Map[String, Map[String, (Any, Any)]] =
          files.foldLeft(sidecar) { (z, f) =>
            val key = new Path(f).toUri.getPath
            keyFn(key) match {
              case Some(vals) =>
                val synth = partFields.zip(vals).collect {
                  case (GraftStorage.IdentityPart(c), x) => c -> ((x, x))
                }.toMap
                val wide = partFields.zip(vals).collect {
                  case (GraftStorage.TemporalPart(u, c), id: Integer) =>
                    c -> GraftStorage.temporalBounds(
                      u, fullSchema(c).dataType, id.intValue())
                }.toMap
                if (synth.isEmpty && wide.isEmpty) z
                else z.updated(key,
                  wide ++ z.getOrElse(key, Map.empty) ++ synth)
              case None => z
            }
          }
        new Sidecar[(Any, Any)](
          () => sidecarZones.columns ++ identityCols ++ temporalCols,
          cols => overlay(sidecarZones.load(cols)))
      }
    // bloom-in-log (`B` lines): each commit's `_bloom` sidecar serves
    // point-predicate file pruning through the same lazy provider as
    // readPruned
    VersionedScanParts(files, zones, bloomSidecarFor(bloomDirs),
      fullSchema, partCols, keyFn, sortSpec(path, v))
  }

  /** Raw manifest-file read honoring the snapshot's schema-in-log
    * (files from pre-evolution commits surface added columns as
    * nulls). The file-wise machinery (copy-on-write rewrites, MERGE,
    * CDC) must read THROUGH this or an evolved table's per-file
    * schema drift breaks their unions.
    */
  private def readRawFiles(path: String, v: Long,
      files: Seq[String]): DataFrame =
    // LOGICAL names out (file-wise callers — CoW rewrites, MERGE,
    // CDC — work in logical space; writeCommitData translates back)
    toLogicalDf(readRawFilesPhysical(path, v, files),
      columnMapping(path, v))

  /** Raw manifest-file read in PHYSICAL (stored) names — the space
    * deletion vectors and sidecars live in.
    */
  private def readRawFilesPhysical(path: String, v: Long,
      files: Seq[String]): DataFrame = {
    val reader = mergedManifestSchema(path, v) match {
      case Some(schema) => spark.read.schema(schema)
      case None         => spark.read
    }
    reader.parquet(files: _*)
  }

  /** Time-travel read: the file set of `version` (default: latest).
    * Resolves ONLY the manifest — later commits never perturb the
    * snapshot.
    */
  def readVersioned(path: String, version: Option[Long] = None,
      mergeSchema: Boolean = false): DataFrame = {
    val vs = listVersions(path)
    require(vs.nonEmpty, s"no versions committed under $path")
    // default = latest PUBLISHED: audit-pending staged commits stay
    // invisible until wapPublish
    val v = version.getOrElse(latestVisibleVersion(path))
    readResolvedEntries(path, manifestEntries(path, v), mergeSchema)
  }

  /** DV-resolved read of one RESOLVED ENTRY LIST — the core of
    * [[readVersioned]], shared with branch-state reads (which replay
    * branch deltas over a base manifest and have no version number
    * to key on).
    */
  private[sources] def readResolvedEntries(path: String,
      entries: Seq[String], mergeSchema: Boolean = false,
      /** keep the `__gfile`/`__gpos` metadata columns in the output
        * (the position-delete writer evaluates its predicate over
        * them).
        */
      keepPos: Boolean = false): DataFrame = {
    val files = entries.filterNot(_.contains('\t'))
    val schemaOpt = GraftStorage.mergeSchemaJsons(entries.collect {
      case e if e.startsWith("H\t") => e.drop(2) })
    // POSITION DVs delete by (file, row position): the scan
    // materializes both from `_metadata` so the anti-join can run,
    // and drops them again at the end
    val hasPos = keepPos || entries.exists(
      _.startsWith(s"D\t${GraftStorage.PosDvCol}\t"))
    def prep(d: DataFrame): DataFrame =
      if (!hasPos) d
      else d.select((d.columns.toIndexedSeq.map(c => col(s"`$c`")) :+
        col("_metadata.file_path").as(GraftStorage.PosFileCol) :+
        col("_metadata.row_index").as(GraftStorage.PosIdxCol)): _*)
    // schema-in-log first (KB metadata, fills columns absent from
    // older files with nulls); footer-based mergeSchema only for
    // legacy tables without H lines
    val reader0 = schemaOpt match {
      case Some(schema)          => spark.read.schema(schema)
      case None if mergeSchema   => spark.read.option("mergeSchema", "true")
      case None                  => spark.read
    }
    val reader = reader0.options(readerOptions)
    // opened only where it is the plan, or where no H line gives the
    // mixed-generation branch its schema
    lazy val base =
      if (files.isEmpty) schemaOpt match {
        // schema-in-log: an empty snapshot still knows its shape
        case Some(schema) => spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        // legacy manifests predate writer-unique commit dirs, so the
        // deterministic first-commit dir exists to sniff
        case None => reader.parquet(path + "/data/c0").limit(0)
      }
      else prep(reader.parquet(files: _*))
    if (files.isEmpty) {
      // no stored rows: DVs have nothing to delete (and an empty
      // relation carries no _metadata for a pos anti-join); keepPos
      // callers still get their typed (empty) position columns
      val shaped =
        if (!keepPos) base
        else base
          .withColumn(GraftStorage.PosFileCol,
            lit(null).cast(org.apache.spark.sql.types.StringType))
          .withColumn(GraftStorage.PosIdxCol,
            lit(null).cast(org.apache.spark.sql.types.LongType))
      return toLogicalDf(shaped, mappingOfEntries(entries))
    }
    // merge-on-read: anti-join away each deletion vector's keys.
    // DVs are O(deleted keys) so the build sides stay broadcast-sized
    // by construction; grouped per key column so a table deleted on
    // one key pays ONE anti join however many MoR commits piled up.
    // SEQUENCE-SCOPED (manifest line order): a DV applies only to
    // files listed ABOVE it — appends after a delete resurrect their
    // keys, and a MoR upsert's fresh rows survive its own delete.
    val (orderedFiles, dvs) = GraftStorage.filesDvsOfEntries(entries)
    val resolved =
      if (dvs.isEmpty) base
      else if (orderedFiles.forall(_._2 == 0) || files.isEmpty)
        // every file precedes every DV (pure-delete history) — one
        // segment, exactly the single-scan plan as before
        antiJoinDvEntries(base, dvs)
      else {
        // mixed generations: group files by how many DVs precede
        // them; each group anti-joins only the DVs that came AFTER
        // it. Group count is O(MoR generations) — compaction folds
        // them away. Reads pin one schema so unions cannot drift.
        val schema = schemaOpt.getOrElse(base.schema)
        orderedFiles.groupBy(_._2).toSeq.sortBy(_._1).map {
          case (g, fsG) =>
            antiJoinDvEntries(prep(spark.read.schema(schema)
              .options(readerOptions)
              .parquet(fsG.map(_._1): _*)), dvs.drop(g))
        }.reduce(_ unionByName _)
      }
    val noPos =
      if (hasPos && !keepPos) resolved.drop(GraftStorage.PosFileCol,
        GraftStorage.PosIdxCol)
      else resolved
    // column mapping LAST: files and DVs live in physical names; the
    // caller sees logical names with dropped columns projected away
    toLogicalDf(noPos, mappingOfEntries(entries))
  }

  /** The rows of one DV key group's files: the build side of every
    * DV join. Keyed DVs read `keyCol` at `keyType`, the table's
    * CURRENT key type (possibly WIDENED since early generations were
    * written): the same per-file parquet promotion as data files, and
    * no inference job (footer inference would also pin the first
    * generation's type and misread wider later ones); None infers,
    * for legacy tables without schema lines. Position DVs read
    * (file string, pos long). No `distinct()`: a left-anti or
    * left-semi join gives the same rows whatever duplicates its build
    * side holds, so a distinct would only add a shuffle stage.
    */
  private[sources] def dvRows(keyCol: String,
      keyType: Option[org.apache.spark.sql.types.DataType],
      files: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types._
    if (keyCol == GraftStorage.PosDvCol)
      spark.read.schema(StructType(Seq(StructField("file", StringType),
        StructField("pos", LongType)))).parquet(files: _*)
    else keyType
      .fold(spark.read)(t => spark.read.schema(
        StructType(Seq(StructField(keyCol, t)))))
      .parquet(files: _*).select(col(s"`$keyCol`"))
  }

  /** Anti-join `df` against deletion-vector entries, grouped per key
    * column — THE single definition of what a DV removes. Resolved
    * reads ([[readVersioned]]), CDC ([[changesVersioned]]) and
    * [[applyDeletesVersioned]] all route here, and the catalog read
    * ([[MorReadRule]]) builds the same joins over [[dvRows]], so DV
    * semantics (null keys survive, per-column broadcast) cannot
    * diverge between surfaces.
    */
  private[sources] def antiJoinDvEntries(df: DataFrame,
      entries: Seq[(String, String)]): DataFrame = {
    val (pos, keyed) = entries.partition(_._1 == GraftStorage.PosDvCol)
    val afterKeys = keyed.groupBy(_._1).toSeq.sortBy(_._1).foldLeft(df) {
      case (d, (keyCol, es)) =>
        val keyType = d.schema.find(_.name.equalsIgnoreCase(keyCol))
          .map(_.dataType)
        d.join(broadcast(dvRows(keyCol, keyType, es.map(_._2))),
          Seq(keyCol), "left_anti")
    }
    if (pos.isEmpty) afterKeys
    else {
      // POSITION DVs anti-join on (file, row position): the left side
      // must carry the `__gfile`/`__gpos` metadata columns — readers
      // of pos-DV snapshots materialize them from `_metadata`
      val dv = dvRows(GraftStorage.PosDvCol, None, pos.map(_._2))
      afterKeys.join(broadcast(dv),
        afterKeys(GraftStorage.PosFileCol) === dv("file") &&
          afterKeys(GraftStorage.PosIdxCol) === dv("pos"),
        "left_anti")
    }
  }

  /** Commit-scoped OP TAG (`_manifest/v<N>.op`): row-preserving
    * maintenance rewrites (compact, z-order, apply_deletes) record
    * their name so change consumers can SKIP the commit outright —
    * its logical row state is identical by construction, and
    * computing the guaranteed-empty diff would cost two snapshot
    * scans. Outside the manifest replay algebra on purpose (the tag
    * describes ONE commit, never a snapshot); written best-effort
    * AFTER the publish (a missing tag degrades to the slow exact
    * diff, never to wrong results); vacuum retires it with its
    * manifest.
    */
  private def writeCommitOp(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path, n: Long, op: String): Unit =
    try {
      val out = fs.create(
        new org.apache.hadoop.fs.Path(dir, s"_manifest/v$n.op"), true)
      try out.write(op.getBytes("UTF-8")) finally out.close()
    } catch { case _: Exception => () }

  /** Publish-side half of the op tag: returns `n` for chaining. */
  private def tagMaintenance(path: String, n: Long, op: String): Long = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(path)
    writeCommitOp(dir.getFileSystem(
      spark.sparkContext.hadoopConfiguration), dir, n, op)
    n
  }

  /** The op tag of one commit, if a maintenance rewrite left one. */
  private[sources] def commitOpOf(path: String,
      version: Long): Option[String] = {
    import org.apache.hadoop.fs.Path
    val f = new Path(new Path(path), s"_manifest/v$version.op")
    val fs = f.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(f)) None
    else {
      val len = fs.getFileStatus(f).getLen.toInt
      val in = fs.open(f)
      try {
        val buf = new Array[Byte](len)
        in.readFully(0, buf)
        Some(new String(buf, "UTF-8"))
      } finally in.close()
    }
  }

  /** K1 literal: one spec-valid CSV FILE via parallel part writes +
    * driver byte-splice — the reference's single-file sink shape
    * (BamSink.java:64-139) rather than coalesce(1), which funnels the
    * whole write through one task. Executors write headerless parts
    * with full parallelism; the driver then writes the header
    * (BamSink.java:96-99), splices parts in lexicographic name order
    * (Merger.java:41-63) skipping hidden/zero-length parts
    * (HiddenFileFilter.java:31-37, Merger.java:44-48) with the serial
    * copy fallback of HadoopFileSystemWrapper.concat:155-166, and
    * deletes the `path + ".parts"` temp dir
    * (HtsjdkReadsRddStorage.java:224-229). Partition order = part
    * order, so a range-partitioned, within-partition-sorted input
    * yields a globally ordered file (README.md:148-161 contract).
    */
  def writeSingleCsv(df: DataFrame, path: String,
      withHeader: Boolean = true): Unit = {
    import org.apache.hadoop.fs.Path
    val tmp = path + ".parts"
    df.write.mode("overwrite").csv(tmp)
    val fs = new Path(tmp).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(new Path(tmp)).toSeq
      .filter(f => f.isFile && f.getLen > 0 &&
        !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName)
    val out = fs.create(new Path(path), true)
    try {
      if (withHeader)
        out.write((df.columns.mkString(",") + "\n").getBytes("UTF-8"))
      val buf = new Array[Byte](1 << 20)
      parts.foreach { part =>
        val in = fs.open(part.getPath)
        try {
          var n = in.read(buf)
          while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
        } finally in.close()
      }
    } finally out.close()
    fs.delete(new Path(tmp), true)
  }

  /** Small-file COMPACTION — the table-maintenance pass (Delta/
    * Iceberg OPTIMIZE analogue) a long-lived 100 TB table needs after
    * many small appends: rewrites the directory into
    * ceil(totalBytes / targetBytes) files. With `clusterBy` the
    * rewrite re-establishes range clustering (repartitionByRange +
    * sort — so row-group/zone-map pruning stays sharp after the
    * compaction); without it a shuffle-free coalesce just glues small
    * files. The rewrite goes to `path + ".compact"` and swaps in only
    * after success (write-temp-then-rename, the same last-step
    * atomicity as the reference's single-file commit), and an
    * existing `_zonemap` sidecar is rebuilt over the new files.
    */
  def compact(path: String, targetBytes: Long,
      clusterBy: Option[String] = None): Unit = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    val dataFiles = fs.listStatus(dir).toSeq.filter(f => f.isFile &&
      f.getPath.getName.endsWith(".parquet") &&
      !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
    val totalBytes = dataFiles.map(_.getLen).sum
    val n = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val hadZoneMap = fs.exists(new Path(dir, "_zonemap"))
    val zoneCols: Seq[String] =
      if (!hadZoneMap) Nil
      else spark.read.parquet(s"$path/_zonemap").schema.fieldNames
        .filter(_.endsWith("__min")).map(_.stripSuffix("__min")).toSeq
    // a Bloom sidecar indexes the OLD files — record its columns so
    // the rewrite can rebuild it over the new ones (silently dropping
    // an index the reader relies on would be a correctness-adjacent
    // surprise: readPruned would stop pruning)
    val hadBloom = fs.exists(new Path(dir, "_bloom"))
    val bloomCols: Seq[String] =
      if (!hadBloom) Nil
      else spark.read.parquet(s"$path/_bloom").select("col")
        .distinct().collect().map(_.getString(0)).toSeq.sorted
    val (bloomExpected, bloomFpp) =
      if (!hadBloom) (100000L, 0.01)
      else bloomSizing(spark.read.parquet(s"$path/_bloom"))
    val df = spark.read.parquet(path)
    val tmp = new Path(path + ".compact")
    withMicrosTimestamps {
      val rewritten = clusterBy match {
        case Some(c) =>
          df.repartitionByRange(n, col(c)).sortWithinPartitions(col(c))
        case None => df.coalesce(n)
      }
      rewritten.write.mode("overwrite").parquet(tmp.toString)
    }
    fs.delete(dir, true)
    fs.rename(tmp, dir)
    if (hadZoneMap && zoneCols.nonEmpty) buildZoneMap(path, zoneCols)
    if (hadBloom && bloomCols.nonEmpty)
      buildBloomIndex(path, bloomCols, bloomExpected, bloomFpp)
  }

  /** INCREMENTAL indexed append — the reference's per-part index +
    * driver merge pattern (IndexFileMerger.java:62-102) applied to
    * the zone-map sidecar: append `df` as new range-clustered files,
    * then extend `_zonemap` by reading ONLY the new files' footers
    * (existing rows are reused verbatim). At 100 TB an append of a
    * daily batch touches a handful of footers instead of re-scanning
    * the table's metadata. Falls back to a full `buildZoneMap` when
    * any new footer lacks usable stats.
    */
  def appendIndexed(df: DataFrame, path: String, clusterBy: String,
      zoneCols: String*): Unit = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    val zmPath = new Path(dir, "_zonemap")
    require(fs.exists(zmPath),
      s"appendIndexed requires an existing indexed table at $path")
    val existing = spark.read.parquet(zmPath.toString)
    val known = existing.select("file").collect().map(_.getString(0)).toSet
    withMicrosTimestamps {
      val writer = df.repartitionByRange(df.sparkSession.conf
        .get("spark.sql.shuffle.partitions").toInt, col(clusterBy))
        .sortWithinPartitions(col(clusterBy))
        .write.mode("append")
      rowGroupBytes.foreach(b => writer.option("parquet.block.size", b.toString))
      writer.parquet(path)
    }
    val dataSchema = graft.T.parquet(spark, path).schema
    val fieldType = dataSchema.fields.map(f => f.name -> f.dataType).toMap
    val newFiles = fs.listStatus(dir).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet") &&
        !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith(".") &&
        !known.contains(f.getPath.toString))
      .sortBy(_.getPath.getName)
    val newRows = newFiles.map { f =>
      try fileZoneRow(f.getPath, zoneCols, fieldType, conf)
      catch { case scala.util.control.NonFatal(_) => None }
    }
    if (newRows.forall(_.isDefined)) {
      val merged = existing.collect().toSeq ++ newRows.map(_.get)
      spark.createDataFrame(
        java.util.Arrays.asList(merged: _*), existing.schema)
        .coalesce(1)
        .write.mode("overwrite").parquet(zmPath.toString)
    } else buildZoneMap(path, zoneCols)
  }

  /** The interleaved z-value for `zcols` of `df`: each column is
    * linearly scaled to a `bits`-bit integer over its [min, max] (one
    * metadata-size aggregation job) and the bits interleave
    * round-robin into one long. Shared by [[writeZOrdered]] and
    * [[optimizeVersioned]].
    */
  private def zValueColumn(df: DataFrame, zcols: Seq[String],
      bits: Int = 16): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types._
    // monotonic numeric image of each clustering column (timestamps
    // via epoch micros — a straight double cast is rejected for NTZ)
    val fieldType = df.schema.fields.map(f => f.name -> f.dataType).toMap
    def numeric(c: String): org.apache.spark.sql.Column = fieldType(c) match {
      case TimestampType => unix_micros(col(c)).cast("double")
      case TimestampNTZType =>
        unix_micros(col(c).cast(TimestampType)).cast("double")
      case DateType => unix_date(col(c)).cast("double")
      case _ => col(c).cast("double")
    }
    val statAggs = zcols.flatMap(c => Seq(
      min(numeric(c)).as(s"${c}__mn"),
      max(numeric(c)).as(s"${c}__mx")))
    val r = df.agg(statAggs.head, statAggs.tail: _*).head()
    zcols.zipWithIndex.map { case (c, j) =>
      val mn = r.getDouble(2 * j)
      val mx = r.getDouble(2 * j + 1)
      val range = if (mx > mn) mx - mn else 1.0
      val maxCode = (1L << bits) - 1
      val scaled = least(greatest(
        ((numeric(c) - mn) / range * maxCode).cast("long"),
        lit(0L)), lit(maxCode))
      (0 until bits).map(b =>
        shiftleft(shiftright(scaled, b).bitwiseAND(lit(1L)),
          b * zcols.size + j))
        .reduce((a, b) => a.bitwiseOR(b))
    }.reduce((a, b) => a.bitwiseOR(b))
  }

  /** OPTIMIZE … ZORDER BY for VERSIONED tables: rewrite the live
    * snapshot clustered on the interleaved z-value of `zcols` and
    * publish it as a NEW commit — history is untouched (old manifests
    * pin the old files), and every file of the new version carries a
    * narrow [min,max] in EVERY clustering dimension, so parquet
    * row-group stats (and any sidecar built over the commit dir)
    * prune whichever column a query filters. The Delta/Iceberg
    * OPTIMIZE ZORDER contract on the manifest format. Returns the new
    * version.
    */
  def optimizeVersioned(path: String, zcols: Seq[String],
      targetFiles: Int = 8): Long = {
    require(zcols.nonEmpty, "optimizeVersioned needs at least one column")
    // pin the base FIRST, read AT it: data, carried markers, and the
    // conflict gate must all see the same snapshot
    val base = listVersions(path).lastOption
    val cur = readVersioned(path, base)
    val z = zValueColumn(cur, zcols)
    // carry prior sidecar coverage AND stats-cover the clustering
    // columns themselves — the z-order rewrite exists to make their
    // per-file [min,max] narrow
    val (sc, bc) = priorSidecarCoverage(path)
    val tLines = base.map(txnLines(path, _)).getOrElse(Seq.empty)
    tagMaintenance(path,
      commitVersioned(cur.withColumn("__graft_z", z)
        .repartitionByRange(targetFiles, col("__graft_z"))
        .sortWithinPartitions(col("__graft_z"))
        .drop("__graft_z"), path,
        append = false, (sc ++ zcols).distinct.sorted, bc,
        // a z-order rewrite breaks any declared row order — drop O,
        // but keep the streaming txn markers alive
        Seq.empty, None, tLines, base, None),
      "zorder")
  }

  /** MULTI-dimension clustered write — the Z-ORDER analogue of
    * `writeIndexed`'s single-column range clustering (what Delta /
    * Iceberg expose as OPTIMIZE ZORDER BY): each clustering column is
    * linearly scaled to a 16-bit integer over its [min, max] (one
    * metadata-size aggregation job), the bits are interleaved
    * round-robin into one z-value, and the data is range-partitioned
    * + sorted by it, then zone-mapped on ALL the source columns.
    * Locality on the z-curve gives every file a narrow [min,max] in
    * EVERY dimension, so the `_zonemap` sidecar (and parquet
    * row-group stats) prune on whichever column a query filters —
    * where plain range clustering only ever prunes its single sort
    * key. Columns must be numeric/timestamp (anything castable to
    * double monotonically); rows with a null clustering value sort
    * into the low partitions and are never pruned incorrectly (zone
    * bounds ignore nulls, the residual filter handles them).
    */
  def writeZOrdered(df: DataFrame, path: String, zcols: Seq[String]): Unit = {
    require(zcols.nonEmpty, "writeZOrdered needs at least one column")
    val zExpr = zValueColumn(df, zcols)
    withMicrosTimestamps {
      val writer = df.withColumn("__graft_z", zExpr)
        .repartitionByRange(df.sparkSession.conf
          .get("spark.sql.shuffle.partitions").toInt, col("__graft_z"))
        .sortWithinPartitions(col("__graft_z"))
        .drop("__graft_z")
        .write.mode("overwrite")
      rowGroupBytes.foreach(b => writer.option("parquet.block.size", b.toString))
      writer.parquet(path)
    }
    buildZoneMap(path, zcols)
  }

  /** K1 for the COLUMNAR format: one parquet FILE via parallel part
    * writes + a driver ROW-GROUP-LEVEL merge — the BamSink
    * parts+concat shape (BamSink.java:64-139) for parquet, where a
    * byte splice is impossible (single footer). Executors write parts
    * with full parallelism; the driver then re-emits each part's row
    * groups into one file with `ParquetFileWriter.appendFile` — a
    * metadata-aware raw copy of column chunks (no decode/re-encode),
    * in lexicographic part-name order = partition order, so a
    * range-partitioned, within-partition-sorted input yields a
    * globally ordered single file. Key-value footer metadata (Spark's
    * schema blob) is carried over from the first part. This replaces
    * `coalesce(1)`, which serializes the whole encode through one
    * task.
    */
  def writeSingleParquet(df: DataFrame, path: String): Unit = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter}
    val tmp = path + ".parts"
    df.write.mode("overwrite").parquet(tmp)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(tmp).getFileSystem(conf)
    val parts = fs.listStatus(new Path(tmp)).toSeq
      .filter(f => f.isFile && f.getLen > 0 &&
        f.getPath.getName.endsWith(".parquet") &&
        !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName)
    require(parts.nonEmpty, s"no parquet parts written under $tmp")
    val (schema, kv) = {
      val r = ParquetFileReader.open(conf, parts.head.getPath)
      try {
        val md = r.getFooter.getFileMetaData
        (md.getSchema, md.getKeyValueMetaData)
      } finally r.close()
    }
    val writer = new ParquetFileWriter(
      conf, schema, new Path(path), ParquetFileWriter.Mode.OVERWRITE)
    writer.start()
    parts.foreach(p => writer.appendFile(conf, p.getPath))
    writer.end(kv)
    fs.delete(new Path(tmp), true)
  }

  /** Splittable-ingestion recipe for raw compressed text landing at
    * scale: plain `.gz` is an unsplittable container — one task per
    * FILE, so a directory of fat gzip shards caps parallelism at the
    * shard count no matter how many executors exist. The reference
    * lifts that limit with BGZF block framing inside the gzip stream
    * (BGZFEnhancedGzipCodec.java:63-102, BGZFCodec.java:54-101); the
    * columnar-engine answer is DECOMPRESS ONCE: read the .gz shards
    * with whatever per-file parallelism they allow, parse with an
    * explicit schema, and rewrite into sharded parquet — after which
    * every downstream read is splittable (`splitSize`-bounded),
    * columnar-pruned, and stats-indexed, and the gzip wall is paid
    * exactly once instead of on every query. The one-time cost
    * parallelizes across files; `coalesceTo` (0 = keep) bounds output
    * shard count for small ingests.
    */
  def ingestGzipText(src: String, dst: String,
      schema: org.apache.spark.sql.types.StructType,
      header: Boolean = false, delimiter: String = ",",
      coalesceTo: Int = 0): DataFrame = {
    val parsed = spark.read.schema(schema)
      .option("header", header.toString)
      .option("sep", delimiter)
      .csv(src)
    val sized = if (coalesceTo > 0) parsed.coalesce(coalesceTo) else parsed
    sized.write.mode("overwrite").parquet(dst)
    read(dst)
  }

  /** K7 write half — SPLITTABLE compressed text: one `.bgz` (BGZF,
    * blocked gzip) shard per partition, written executor-parallel.
    * Unlike plain gzip, every ≤64 KiB block decompresses
    * independently and carries its size in-band, so the READ side
    * can split each shard — the reference's
    * BGZFCodec (BGZFCodec.java:54-101) as a Spark-native sink.
    * `df` must be a single string column of lines.
    */
  def writeBgzfText(df: DataFrame, path: String,
      blockInput: Int = Bgzf.MaxBlockInput): Unit = {
    import org.apache.spark.sql.types.StringType
    require(df.schema.fields.length == 1 &&
      df.schema.fields(0).dataType == StringType,
      s"writeBgzfText wants one string column, got ${df.schema.simpleString}")
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs0 = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs0.delete(dir, true)
    fs0.mkdirs(dir)
    val winners = writeBgzfParts(df, path, blockInput, writeEof = true)
    // keep exactly the successful attempts' shards, drop the rest
    fs0.listStatus(dir).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".bgz") &&
        !winners(f.getPath.getName))
      .foreach { stray =>
        fs0.delete(stray.getPath, false)
        fs0.delete(new org.apache.hadoop.fs.Path(dir,
          s"_bgzi/${stray.getPath.getName}.bgzi"), false)
      }
  }

  /** ATTEMPT-ISOLATED BGZF part writer behind both BGZF sinks: each
    * task attempt writes a uuid-unique `.bgz` part under `dir` (+ its
    * `_bgzi/<name>.bgzi` sidecar — the write-time block index, the
    * reference's .sbi/.gzi shape, HeaderlessBamOutputFormat.java:
    * 111-130) and returns the name, so the DRIVER acts on exactly the
    * successful attempts' parts and a zombie/speculative attempt can
    * never tear a part another attempt already finished. The sidecar
    * is written AFTER its data file: a crash leaves at most a missing
    * sidecar (readers fall back to the chain walk). `writeEof = false`
    * leaves the part terminator-less, for splicing.
    */
  private def writeBgzfParts(df: DataFrame, dir: String, blockInput: Int,
      writeEof: Boolean): Set[String] = {
    import org.apache.hadoop.fs.Path
    val confMap = GraftStorage.confSnapshotStatic(
      spark.sparkContext.hadoopConfiguration)
    df.rdd.mapPartitionsWithIndex { (i, rows) =>
      if (rows.isEmpty) Iterator.empty
      else {
        val name =
          f"part-$i%05d-${java.util.UUID.randomUUID.toString.take(8)}.bgz"
        val p = new Path(dir, name)
        val fs = p.getFileSystem(GraftStorage.restoreConfStatic(confMap))
        val w = new Bgzf.BlockWriter(fs.create(p, true), blockInput)
        rows.foreach(r => w.write((r.getString(0) + "\n").getBytes("UTF-8")))
        w.close(writeEof)
        val si = new java.io.DataOutputStream(
          fs.create(new Path(dir, s"_bgzi/$name.bgzi"), true))
        try Bgzf.writeBgzi(si, w.bytesWritten, w.blockIndex)
        finally si.close()
        Iterator.single(name)
      }
    }.collect().toSet
  }

  /** K1 single-FILE BGZF sink — the reference's flagship sink shape
    * (BamSink.java:64-139): every partition writes a TERMINATOR-LESS
    * BGZF part executor-parallel, and the driver byte-concatenates
    * the parts in partition order and appends the 28-byte EOF block —
    * a spec-valid single `.bgz` file with zero recompression, because
    * blocked gzip is closed under concatenation. A merged `_bgzi`
    * sidecar is written next to it (part offsets shifted by the
    * preceding parts' lengths — IndexFileMerger.java:62-102's merge,
    * streamed so driver memory stays O(1)).
    *
    * `path` is the target FILE (e.g. `/data/out/lines.bgz`); the
    * sidecar lands at `<parent>/_bgzi/<name>.bgzi`. `df` must be one
    * string column of lines, as in [[writeBgzfText]].
    */
  def writeSingleBgzf(df: DataFrame, path: String,
      blockInput: Int = Bgzf.MaxBlockInput): Unit = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.types.StringType
    require(df.schema.fields.length == 1 &&
      df.schema.fields(0).dataType == StringType,
      s"writeSingleBgzf wants one string column, got ${df.schema.simpleString}")
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val partsDir = new Path(path + ".parts")
    fs.delete(partsDir, true)
    fs.mkdirs(partsDir)
    // the driver splices ONLY the names the successful attempts
    // returned, in partition order — a zombie attempt's torn part is
    // never read
    val winners = writeBgzfParts(df, partsDir.toString, blockInput,
      writeEof = false)
    // driver splice: the winning parts in partition order + EOF marker
    val parts = fs.listStatus(partsDir).toSeq
      .filter(f => f.isFile && winners(f.getPath.getName))
      .sortBy(_.getPath.getName)
    val out = fs.create(target, true)
    val buf = new Array[Byte](1 << 20)
    try {
      parts.foreach { p =>
        val in = fs.open(p.getPath)
        try {
          var n = in.read(buf)
          while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
        } finally in.close()
      }
      out.write(Bgzf.EofMarker)
    } finally out.close()
    // merged sidecar: each part's offsets shifted by the bytes before
    // it. Two passes over the KB-scale part indexes so driver memory
    // is bounded by ONE part's index, never the whole file's.
    def partIndex(p: org.apache.hadoop.fs.FileStatus): Seq[(Long, Int)] = {
      val in = fs.open(new Path(partsDir, s"_bgzi/${p.getPath.getName}.bgzi"))
      val idx = try Bgzf.readBgzi(in) finally in.close()
      idx.getOrElse(throw new IllegalStateException(
        s"missing part index for ${p.getPath}"))._2
    }
    val totalLen = parts.map(_.getLen).sum + Bgzf.EofMarker.length
    val totalBlocks = parts.map(partIndex(_).size.toLong).sum
    require(totalBlocks <= Int.MaxValue, s"block count $totalBlocks")
    val si = new java.io.DataOutputStream(fs.create(
      new Path(new Path(path).getParent,
        s"_bgzi/${target.getName}.bgzi"), true))
    try {
      Bgzf.writeBgziHeader(si, totalLen, totalBlocks.toInt)
      var base = 0L
      parts.foreach { p =>
        partIndex(p).foreach { case (off, sz) =>
          si.writeLong(base + off); si.writeInt(sz)
        }
        base += p.getLen
      }
    } finally si.close()
    fs.delete(partsDir, true)
  }

  /** K7/S7/S8 read half — split-parallel lines from BGZF shards, the
    * reference's block-boundary + record-boundary discovery
    * (BgzfBlockGuesser / BamRecordGuesser) re-expressed Spark-first:
    *
    *   1. split planning groups each file's blocks into ~`splitSize`
    *      splits. A file whose `_bgzi` sidecar records its length
    *      (everything [[writeBgzfText]] and [[writeSingleBgzf]] write)
    *      plans on the DRIVER from that KB-scale block index, with no
    *      Spark job — the reference reads its .sbi/.gzi on the driver
    *      too. Only files without a valid sidecar (foreign, rewritten
    *      or torn) walk their BSIZE chain (18-byte header reads +
    *      seeks) in one distributed pass;
    *   2. each split decompresses ONLY its own blocks and applies the
    *      exactly-once line rules (Bgzf.linesForSplit scaladoc), so a
    *      1000-executor cluster reads one fat shard with 1000-way
    *      parallelism — the capability plain .gz denies.
    *
    * Returns lines; feed `spark.read.schema(...).csv(ds)` for typed
    * parsing (`scan_text_bgzf`).
    */
  def readBgzfLines(path: String,
      targetSplitBytes: Long = 0L): org.apache.spark.sql.Dataset[String] = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    // a directory of shards or ONE file (the single-file sink's
    // output) — both resolve to the same split machinery
    val st0 = fs.getFileStatus(dir)
    val files = shardFiles(
      if (st0.isFile) Seq(st0) else fs.listStatus(dir).toSeq, ".bgz")
    val target = splitTarget(targetSplitBytes)
    val confMap = GraftStorage.confSnapshotStatic(conf)
    val sc = spark.sparkContext
    val indexed = GraftStorage.onDriverPool(files) { case (f, len) =>
      Bgzf.sidecarBlocks(new Path(f), len, conf)
    }
    val unindexed = files.zip(indexed).collect { case (f, None) => f }
    val walked: Map[String, Seq[Bgzf.Split]] =
      if (unindexed.isEmpty) Map.empty
      else sc.parallelize(unindexed, unindexed.size).map { case (f, len) =>
        val p = new Path(f)
        val in = p.getFileSystem(GraftStorage.restoreConfStatic(confMap)).open(p)
        try f -> Bgzf.splitsOf(f, Bgzf.blockOffsets(in, len), len, target)
        finally in.close()
      }.collect().toMap
    val splits = files.zip(indexed).flatMap {
      case ((f, len), Some(blocks)) => Bgzf.splitsOf(f, blocks, len, target)
      case ((f, _), None) => walked(f)
    }
    spark.createDataset(sc.parallelize(splits, math.max(1, splits.size))
      .flatMap(s => Bgzf.linesForSplit(GraftStorage.restoreConfStatic(confMap), s)))(
      Encoders.STRING)
  }

  /** Visible, non-empty files among `statuses` ending in one of
    * `suffixes`, as (path, length) in path order — the shard set both
    * BGZF readers plan over.
    */
  private def shardFiles(statuses: Seq[org.apache.hadoop.fs.FileStatus],
      suffixes: String*): Seq[(String, Long)] =
    statuses
      .filter { f =>
        val name = f.getPath.getName
        f.isFile && f.getLen > 0 && suffixes.exists(name.endsWith) &&
          !name.startsWith("_") && !name.startsWith(".")
      }
      .sortBy(_.getPath.toString)
      .map(f => (f.getPath.toString, f.getLen))

  /** Split size for the BGZF readers: the caller's target, else the
    * facade's `splitSize`, else `spark.sql.files.maxPartitionBytes`.
    */
  private def splitTarget(targetSplitBytes: Long): Long =
    if (targetSplitBytes > 0) targetSplitBytes
    else splitSize.getOrElse(
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")))

  /** S7 sniffing complement — foreign `.gz` directories, the case the
    * decompress-once recipe (`ingestGzipText`) does not cover on FIRST
    * touch. BGZF is valid gzip, so producers routinely ship it with a
    * misleading `.gz` extension; the reference dispatches on CONTENT,
    * not suffix (BGZFEnhancedGzipCodec.java:63-102 probes the first
    * member's FEXTRA "BC" subfield). Same policy here, per file, in a
    * distributed metadata pass:
    *
    *   - sniffs BGZF → the splittable block-chain path
    *     (`readBgzfLines` internals): one fat shard fans out to
    *     ~`splitSize` tasks;
    *   - plain gzip → one whole-file task (the container admits no
    *     better; java.util.zip handles concatenated members), so a
    *     directory of shards still gets file-grain parallelism.
    *
    * Worst case equals Spark's built-in gzip text read; best case
    * equals the BGZF split read — strictly dominant, which is why the
    * reference installs its codec globally. Returns raw lines; feed
    * `spark.read.schema(...).csv(ds)` for typed parsing.
    */
  def readGzTextSniffed(path: String,
      targetSplitBytes: Long = 0L): org.apache.spark.sql.Dataset[String] = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(path)
    val hconf = spark.sparkContext.hadoopConfiguration
    val files = shardFiles(dir.getFileSystem(hconf).listStatus(dir).toSeq,
      ".gz", ".gzip", ".bgz")
    val target = splitTarget(targetSplitBytes)
    val confMap = GraftStorage.confSnapshotStatic(hconf)
    val sc = spark.sparkContext
    // One distributed pass sniffs AND (for BGZF) walks the block
    // chain — header reads + seeks, metadata-rate; the collect is
    // O(splits), never data-sized.
    val units = sc.parallelize(files, math.max(1, files.size))
      .flatMap { case (f, len) =>
        val c = GraftStorage.restoreConfStatic(confMap)
        val p = new Path(f)
        val in = p.getFileSystem(c).open(p)
        try {
          if (Bgzf.sniffBgzf(in))
            Bgzf.splitsOf(f, Bgzf.blockOffsets(in, len), len, target)
              .map(Right(_))
          else Seq(Left(f))
        } finally in.close()
      }.collect().toSeq
    val bgzfSplits = units.collect { case Right(s) => s }
    val plainFiles = units.collect { case Left(f) => f }
    val bgzfLines =
      if (bgzfSplits.isEmpty) spark.emptyDataset(Encoders.STRING)
      else spark.createDataset(
        sc.parallelize(bgzfSplits, bgzfSplits.size)
          .flatMap(s => Bgzf.linesForSplit(GraftStorage.restoreConfStatic(confMap), s)))(
        Encoders.STRING)
    val plainLines =
      if (plainFiles.isEmpty) spark.emptyDataset(Encoders.STRING)
      else spark.createDataset(
        sc.parallelize(plainFiles, plainFiles.size).flatMap { f =>
          val c = GraftStorage.restoreConfStatic(confMap)
          val p = new Path(f)
          val raw = p.getFileSystem(c).open(p)
          val rd = new java.io.BufferedReader(new java.io.InputStreamReader(
            new java.util.zip.GZIPInputStream(raw), "UTF-8"))
          new Iterator[String] {
            private var nxt = rd.readLine()
            override def hasNext: Boolean = {
              if (nxt == null) rd.close(); nxt != null
            }
            override def next(): String = {
              val v = nxt; nxt = rd.readLine(); v
            }
          }
        })(Encoders.STRING)
    bgzfLines.union(plainLines)
  }

  /** Write with disq-style option resolution
    * (HtsjdkReadsRddStorage.java:187-229): cardinality SINGLE →
    * one-file commit; MULTIPLE → sharded dir; optional partition
    * column → hive layout; always overwrite (README.md:57).
    */
  def write(df: DataFrame, path: String, options: WriteOption*): Unit = {
    val single = options.contains(SingleFile)
    val parts = options.collectFirst { case PartitionedBy(c) => c }
    val sorted = options.collectFirst { case SortedBy(cols @ _*) => cols }
    var out = df
    sorted.foreach(cols => out = out.sortWithinPartitions(cols.map(col): _*))
    if (single) out = out.coalesce(1)
    val writer = out.write.mode("overwrite")
    parts match {
      case Some(c) => writer.partitionBy(c).parquet(path)
      case None => writer.parquet(path)
    }
  }
}

/** Distributed per-file Bloom aggregation for `buildBloomIndex`:
  * partial filters built map-side merge associatively (bitwise OR)
  * like any sketch — the per-part-index → merged-index pattern
  * (IndexFileMerger.java:62-102) as a typed Aggregator.
  */
private[graft] final class BloomLongAgg(expected: Long, fpp: Double)
  extends org.apache.spark.sql.expressions.Aggregator[
    (String, Long), org.apache.spark.util.sketch.BloomFilter, Array[Byte]] {
  import org.apache.spark.util.sketch.BloomFilter
  override def zero: BloomFilter = BloomFilter.create(expected, fpp)
  override def reduce(b: BloomFilter, a: (String, Long)): BloomFilter = {
    b.putLong(a._2); b
  }
  override def merge(x: BloomFilter, y: BloomFilter): BloomFilter =
    x.mergeInPlace(y)
  override def finish(b: BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    b.writeTo(bos); bos.toByteArray
  }
  override def bufferEncoder =
    org.apache.spark.sql.Encoders.javaSerialization[BloomFilter]
  override def outputEncoder = org.apache.spark.sql.Encoders.BINARY
}

private[graft] final class BloomStringAgg(expected: Long, fpp: Double)
  extends org.apache.spark.sql.expressions.Aggregator[
    (String, String), org.apache.spark.util.sketch.BloomFilter, Array[Byte]] {
  import org.apache.spark.util.sketch.BloomFilter
  override def zero: BloomFilter = BloomFilter.create(expected, fpp)
  override def reduce(b: BloomFilter, a: (String, String)): BloomFilter = {
    b.putString(a._2); b
  }
  override def merge(x: BloomFilter, y: BloomFilter): BloomFilter =
    x.mergeInPlace(y)
  override def finish(b: BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    b.writeTo(bos); bos.toByteArray
  }
  override def bufferEncoder =
    org.apache.spark.sql.Encoders.javaSerialization[BloomFilter]
  override def outputEncoder = org.apache.spark.sql.Encoders.BINARY
}

/** Everything a pruning scan of one snapshot needs: the manifest's
  * exact file list, its stats-in-log zone rows, its bloom-in-log
  * filters, and the schema-in-log schema. Shared between
  * `readVersionedPruned` (V1 relation) and the DSv2 catalog table's
  * ScanBuilder ([[GraftCatalog]]) so both read paths prune through
  * the identical sidecar machinery.
  */
private[sources] final case class VersionedScanParts(
    files: Seq[String],
    zones: Sidecar.Zones,
    blooms: Sidecar.Blooms,
    schema: org.apache.spark.sql.types.StructType,
    partCols: Seq[String] = Seq.empty,
    partKey: String => Option[Seq[Any]] = _ => None,
    sortCols: Seq[String] = Seq.empty)

object GraftStorage {

  /** `f` over `items` on a bounded driver thread pool, results in
    * input order: the driver-side metadata reads (footers, sidecars)
    * that replace a Spark job. 8 threads by default, the reference's
    * index-merge parallelism (IndexFileMerger.java:83).
    */
  private[sources] def onDriverPool[A, B](items: Seq[A], threads: Int = 8)(
      f: A => B): Seq[B] =
    if (items.isEmpty) Seq.empty
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(threads, items.size))
      try items.map(a => pool.submit(new java.util.concurrent.Callable[B] {
          override def call(): B = f(a)
        })).map(_.get())
      finally pool.shutdown()
    }

  /** Directory-column prefix of partitioned commits: partitionBy runs
    * on `__gp_<col>` COPIES so the data files keep the originals.
    */
  val PartDirPrefix = "__gp_"

  /** One field of a table's partition spec: identity (`col` — the
    * key IS the value; low-cardinality dims), bucket (`bucket(n,col)`
    * — the key is `pmod(hash(col), n)`; the high-cardinality
    * fact-fact SPJ shape, same hash as Spark's `hash()`), or a
    * temporal transform (`years|months|days|hours(col)` — the key is
    * a UTC epoch-unit ordinal; THE time-partitioned fact layout).
    */
  sealed trait PartField {
    def col: String
    /** the manifest `P`-line token */
    def spec: String
    /** the `<dir>=<value>` segment name (also the copy-column name) */
    def dirName: String
    /** the layout key as a Column — what a row's dir value IS.
      * `dt` is the SOURCE column's type (temporal ids depend on it:
      * a DateType key is already an epoch-day int, a TimestampType
      * key is UTC micros); identity and bucket ignore it.
      */
    def keyExpr(dt: org.apache.spark.sql.types.DataType)
        : org.apache.spark.sql.Column
  }
  final case class IdentityPart(col: String) extends PartField {
    def spec: String = col
    def dirName: String = PartDirPrefix + col
    def keyExpr(dt: org.apache.spark.sql.types.DataType)
        : org.apache.spark.sql.Column =
      org.apache.spark.sql.functions.col(col)
  }
  final case class BucketPart(n: Int, col: String) extends PartField {
    def spec: String = s"bucket($n,$col)"
    def dirName: String = s"__gb${n}_$col"
    def keyExpr(dt: org.apache.spark.sql.types.DataType)
        : org.apache.spark.sql.Column = {
      val F = org.apache.spark.sql.functions
      F.pmod(F.hash(F.col(col)), F.lit(n))
    }
  }
  /** `unit(col)` for unit ∈ years/months/days/hours: the Iceberg-
    * convention temporal transform. The id is computed in UTC from
    * the raw storage value (epoch days for DateType, epoch micros
    * for TimestampType) — deliberately NOT through a session-timezone
    * date cast, so two sessions in different zones lay out (and
    * prune) identically. Unlike a bucket id, a temporal id BOUNDS the
    * source column, so every partition dir doubles as an exact zone
    * entry ([[temporalBounds]]): a `ts BETWEEN ...` predicate prunes
    * files at manifest rate with no sidecar built.
    */
  final case class TemporalPart(unit: String, col: String)
      extends PartField {
    def spec: String = s"$unit($col)"
    def dirName: String = s"__gt${unit.head}_$col"
    def keyExpr(dt: org.apache.spark.sql.types.DataType)
        : org.apache.spark.sql.Column = {
      val F = org.apache.spark.sql.functions
      import org.apache.spark.sql.types.{DateType, TimestampType}
      val c = F.col(col)
      val epochDate = F.lit(java.sql.Date.valueOf("1970-01-01"))
      dt match {
        case DateType => unit match {
          case "days"   => F.datediff(c, epochDate)
          case "months" =>
            (F.year(c) - F.lit(1970)) * F.lit(12) + F.month(c) - F.lit(1)
          case "years"  => F.year(c) - F.lit(1970)
          case other => throw new IllegalArgumentException(
            s"$other($col) does not apply to a DATE column")
        }
        case TimestampType =>
          val us = F.unix_micros(c)
          // exact long floor-division: us - pmod(us, d) is an exact
          // multiple of d, so the double quotient rounds to the true
          // ordinal even past 2^53 micros (plain floor(us/d) would
          // not — a midnight timestamp off by one ulp flips the day)
          def fdiv(d: Long) = F.round(
            (us - F.pmod(us, F.lit(d))) / F.lit(d.toDouble))
            .cast(org.apache.spark.sql.types.IntegerType)
          unit match {
            case "hours" => fdiv(3600000000L)
            case "days"  => fdiv(86400000000L)
            case _ =>
              val d = F.date_add(epochDate, fdiv(86400000000L))
              if (unit == "years") F.year(d) - F.lit(1970)
              else (F.year(d) - F.lit(1970)) * F.lit(12) +
                F.month(d) - F.lit(1)
          }
        case other => throw new IllegalArgumentException(
          s"$unit($col): $other is not a temporal partition key type")
      }
    }
  }

  /** THE bucket-id formula: `pmod(h, n)` over Spark's `hash()` (Murmur3
    * seed 42). Three evaluation surfaces must agree exactly — the
    * Column path ([[BucketPart.keyExpr]]), the writer's interpreted
    * per-row path, and the catalog's V2 `graft.bucket` function — so
    * the interpreted ones both call this.
    */
  def bucketId(h: Int, n: Int): Int = ((h % n) + n) % n

  /** THE temporal-id formula, interpreted: `raw` is the storage value
    * (Int epoch days for DateType, Long UTC micros for
    * TimestampType). The same three surfaces as [[bucketId]] must
    * agree — [[TemporalPart.keyExpr]], the catalog writer's per-row
    * path, and the V2 `graft.days`/... functions all reduce to this.
    */
  def temporalId(unit: String,
      dt: org.apache.spark.sql.types.DataType, raw: Any): Int = {
    import org.apache.spark.sql.types.{DateType, TimestampType}
    val epochDay: Long = dt match {
      case DateType => raw.asInstanceOf[Number].intValue().toLong
      case TimestampType =>
        val us = raw.asInstanceOf[Number].longValue()
        if (unit == "hours")
          return Math.toIntExact(Math.floorDiv(us, 3600000000L))
        Math.floorDiv(us, 86400000000L)
      case other => throw new IllegalArgumentException(
        s"$unit over $other is not a temporal partition key")
    }
    unit match {
      case "days" => Math.toIntExact(epochDay)
      case "months" =>
        val d = java.time.LocalDate.ofEpochDay(epochDay)
        (d.getYear - 1970) * 12 + d.getMonthValue - 1
      case "years" =>
        java.time.LocalDate.ofEpochDay(epochDay).getYear - 1970
      case other => throw new IllegalArgumentException(
        s"$other($dt) is not a temporal transform unit")
    }
  }

  /** EXTERNAL [min,max] of the source column implied by one temporal
    * id — the zone entry a partition dir synthesizes. Timestamp
    * bounds are inclusive micros (`next start - 1µs`); date bounds
    * are the unit's first/last day. Values are `java.sql.Timestamp`/
    * `java.sql.Date` — the SAME external convention every other zone
    * producer uses (`decodeStat`, `decodePartValue`): `GraftFilters
    * .cmp` compares same-class values only, so a `java.time` bound
    * here would silently disable every sources.Filter pruning
    * surface (runtime join-key pruning, CoW group elision) while the
    * catalyst-literal path still worked.
    */
  def temporalBounds(unit: String,
      dt: org.apache.spark.sql.types.DataType, id: Int): (Any, Any) = {
    import org.apache.spark.sql.types.{DateType, TimestampType}
    def usInstant(us: Long): java.sql.Timestamp =
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))
    def dayRange: (Long, Long) = unit match {
      case "days" => (id.toLong, id.toLong + 1)
      case "months" =>
        val first = java.time.LocalDate
          .of(1970 + Math.floorDiv(id, 12), Math.floorMod(id, 12) + 1, 1)
        (first.toEpochDay, first.plusMonths(1).toEpochDay)
      case "years" =>
        val first = java.time.LocalDate.of(1970 + id, 1, 1)
        (first.toEpochDay, first.plusYears(1).toEpochDay)
      case other => throw new IllegalArgumentException(
        s"$other is not a temporal transform unit")
    }
    dt match {
      case TimestampType if unit == "hours" =>
        (usInstant(id.toLong * 3600000000L),
          usInstant((id.toLong + 1) * 3600000000L - 1L))
      case TimestampType =>
        val (d0, d1) = dayRange
        (usInstant(d0 * 86400000000L), usInstant(d1 * 86400000000L - 1L))
      case DateType =>
        val (d0, d1) = dayRange
        (java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d0)),
          java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d1 - 1)))
      case other => throw new IllegalArgumentException(
        s"$unit over $other is not a temporal partition key")
    }
  }

  /** Shared gate of every sortedBy declaration surface: columns must
    * exist, and names must avoid the `O` line's own delimiters (a
    * comma would silently split into two bogus sort columns; a line
    * break would corrupt the manifest itself).
    */
  /** D-line marker for POSITION deletion vectors: the DV parquet
    * holds (file, pos) pairs instead of key values — row-level
    * deletes with NO key contract (Iceberg's position deletes).
    */
  private[sources] val PosDvCol = "__gpos__"
  /** Helper column names a pos-DV read materializes from _metadata. */
  private[sources] val PosFileCol = "__gfile"
  private[sources] val PosIdxCol = "__gidxpos"

  /** One-line JSON body of the `N` column-mapping manifest line. */
  private[sources] def renderMapping(map: Map[String, String],
      dropped: Seq[String]): String = {
    import org.json4s.JsonDSL._
    org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(
        ("map" -> map) ~ ("dropped" -> dropped)))
  }

  private[sources] def parseMapping(json: String)
      : (Map[String, String], Seq[String]) = {
    implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
    val j = org.json4s.jackson.JsonMethods.parse(json)
    ((j \ "map").extract[Map[String, String]],
      (j \ "dropped").extract[Seq[String]])
  }

  /** Property names are single path segments under `_props` — a
    * path-shaped or all-dots name ('..') would Path-normalize OUTSIDE
    * the directory and read/delete arbitrary table files.
    */
  private[sources] def requirePropName(name: String): Unit =
    require(name.matches("[A-Za-z0-9_.]+") && !name.forall(_ == '.'),
      s"property name must be [A-Za-z0-9_.]+ (and not all dots), " +
        s"got '$name'")

  private[sources] def requireSortCols(
      schema: org.apache.spark.sql.types.StructType,
      sortedBy: Seq[String]): Unit = {
    val missing = sortedBy.filterNot(schema.fieldNames.contains)
    require(missing.isEmpty,
      s"sortedBy columns absent from the schema: " +
        missing.mkString(", "))
    sortedBy.foreach(c => require(!c.exists(",\t\n\r".contains(_)),
      s"sortedBy column name '$c' contains a manifest delimiter " +
        "(comma, tab, or a line break)"))
  }

  /** Shared gate of the txn-marker surfaces: the appId rides a
    * tab-separated manifest line, so it must be non-empty and
    * delimiter-free.
    */
  private[sources] def requireTxn(txn: Option[(String, Long)]): Unit =
    txn.foreach { case (app, _) =>
      require(app.nonEmpty && !app.exists("\t\n\r".contains(_)),
        s"txn appId '$app' is empty or contains a manifest delimiter")
    }

  /** The `O` manifest line a commit may publish: fresh tables record
    * the claim, appends keep it only by re-declaring the SAME order
    * (appending unsorted files next to sorted ones would turn the
    * table-wide claim false).
    */
  /** The layout-key expressions of partition `spec` over `schema`:
    * the columns a rewrite clusters and sorts by to stay key-pure.
    */
  private[sources] def partKeys(spec: Seq[String],
      schema: org.apache.spark.sql.types.StructType): Seq[Column] =
    spec.map { s =>
      val f = parsePartField(s)
      f.keyExpr(schema(f.col).dataType)
    }

  private[sources] def oLine(sortedBy: Seq[String], append: Boolean,
      priorSort: Seq[String]): Seq[String] =
    if (sortedBy.nonEmpty && (!append || priorSort == sortedBy))
      Seq(s"O\t${sortedBy.mkString(",")}")
    else Seq.empty

  /** Comma-split of a partition-spec string at paren depth 0 only —
    * the comma INSIDE `bucket(n,col)` is part of the token. Shared by
    * the manifest `P`-line parser and the CALL-procedure argument.
    */
  private[sources] def splitSpecTokens(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0
    val cur = new StringBuilder
    s.foreach {
      case ',' if depth == 0 => out += cur.toString; cur.clear()
      case c =>
        if (c == '(') depth += 1 else if (c == ')') depth -= 1
        cur += c
    }
    if (cur.nonEmpty) out += cur.toString
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  private val BucketSpec = """bucket\(\s*(\d+)\s*,(.+)\)""".r
  private val TemporalSpec = """(years|months|days|hours)\((.+)\)""".r
  def parsePartField(s: String): PartField = s.trim match {
    case BucketSpec(n, c) =>
      require(n.toInt > 0, s"bucket count must be positive in '$s'")
      BucketPart(n.toInt, c.trim)
    case TemporalSpec(u, c) => TemporalPart(u, c.trim)
    case c => IdentityPart(c)
  }

  /** Identity-partition key types: scalars whose partition-dir string
    * round-trips exactly ([[decodePartValue]]).
    */
  private[sources] def partKeyType(
      dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType | LongType | IntegerType | ShortType | ByteType |
           DateType | BooleanType => true
      case _ => false
    }
  }

  /** Types Spark's `hash()` (Murmur3, seed 42) covers with stable
    * cross-table semantics — the bucket-key admission set. Float and
    * double are deliberately excluded (as Iceberg does): SQL-equal
    * values with different bit patterns (`-0.0` vs `0.0`,
    * non-canonical NaNs from foreign writers) would hash to different
    * buckets and silently break the co-partitioning SPJ trusts.
    */
  private[sources] def bucketKeyType(
      dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType | LongType | IntegerType | ShortType | ByteType |
           DateType | BooleanType | TimestampType | TimestampNTZType => true
      case _ => false
    }
  }

  /** Partition-dir string → EXTERNAL value of the column's type. */
  private[sources] def decodePartValue(
      dt: org.apache.spark.sql.types.DataType, s: String): Any = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType => s
      case LongType => java.lang.Long.valueOf(s)
      case IntegerType => java.lang.Integer.valueOf(s)
      case ShortType => java.lang.Short.valueOf(s)
      case ByteType => java.lang.Byte.valueOf(s)
      case DateType => java.sql.Date.valueOf(s)
      case BooleanType => java.lang.Boolean.valueOf(s)
      case other => throw new IllegalArgumentException(
        s"not an identity-partition key type: $other")
    }
  }

  /** SPI of the commit protocol's ONE atomicity primitive: install
    * `tmp` as `dst` iff `dst` does not exist — atomically, so two
    * racing writers produce one winner and one LOUD loser. The loser
    * must delete `tmp` and throw ConcurrentModificationException;
    * the winner must leave `dst` fully readable and remove `tmp`.
    *
    * Built-ins: link(2) on `file://` (true put-if-absent),
    * exists+rename elsewhere (atomic where rename refuses an
    * existing destination — HDFS — and a NARROWED-window best effort
    * where it does not). S3-class stores whose rename/copy silently
    * OVERWRITES must register a primitive backed by their
    * conditional-put (If-None-Match PUT, DynamoDB lock, …) via
    * [[registerCommitPrimitive]] before the versioned layer's
    * concurrent-writer guarantees hold there — RemoteFsSpec proves
    * the failure mode and the registered-primitive fix on an
    * overwriting-rename filesystem.
    */
  trait CommitPrimitive {
    def putIfAbsent(fs: org.apache.hadoop.fs.FileSystem,
        tmp: org.apache.hadoop.fs.Path,
        dst: org.apache.hadoop.fs.Path): Unit
  }

  private val commitPrimitives =
    new java.util.concurrent.ConcurrentHashMap[String, CommitPrimitive]()

  /** Bind a conditional-put implementation to a filesystem scheme
    * (process-wide; wins over the built-in dispatch).
    */
  def registerCommitPrimitive(scheme: String,
      p: CommitPrimitive): Unit = {
    commitPrimitives.put(scheme, p): Unit
  }

  private[graft] def commitPrimitiveFor(
      fs: org.apache.hadoop.fs.FileSystem): CommitPrimitive =
    Option(commitPrimitives.get(fs.getScheme)).getOrElse(
      if (fs.getScheme == "file") LocalLinkPrimitive
      else RenameIfAbsentPrimitive)

  private def lose(fs: org.apache.hadoop.fs.FileSystem,
      tmp: org.apache.hadoop.fs.Path, msg: String): Nothing = {
    fs.delete(tmp, false)
    throw new java.util.ConcurrentModificationException(msg)
  }

  /** TRUE put-if-absent on the local filesystem: hard-link the temp
    * file to the destination — link(2) fails atomically if the
    * destination exists, closing the exists/rename race window the
    * generic branch cannot (POSIX rename overwrites).
    */
  object LocalLinkPrimitive extends CommitPrimitive {
    override def putIfAbsent(fs: org.apache.hadoop.fs.FileSystem,
        tmp: org.apache.hadoop.fs.Path,
        dst: org.apache.hadoop.fs.Path): Unit =
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(dst.toUri.getPath),
          java.nio.file.Paths.get(tmp.toUri.getPath))
        fs.delete(tmp, false): Unit
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          lose(fs, tmp,
            s"commit conflict: $dst was published by another writer")
      }
  }

  /** HDFS rename refuses an existing destination (safe there); on
    * stores whose rename overwrites, the exists pre-check narrows
    * the window and the rename result catches the rest — register a
    * real conditional-put primitive for such schemes.
    */
  object RenameIfAbsentPrimitive extends CommitPrimitive {
    override def putIfAbsent(fs: org.apache.hadoop.fs.FileSystem,
        tmp: org.apache.hadoop.fs.Path,
        dst: org.apache.hadoop.fs.Path): Unit = {
      if (fs.exists(dst))
        lose(fs, tmp,
          s"commit conflict: $dst was published by another writer")
      if (!fs.rename(tmp, dst))
        lose(fs, tmp, s"commit conflict publishing $dst")
    }
  }
  /** Write-once manifest parse caches — see manifestEntries. Raw
    * holds the on-disk lines (delta or checkpoint); resolved holds
    * the replayed snapshot list. Both key by (uri, mtime, len), both
    * valid forever (manifests are write-once; deltas reference
    * write-once bases), so a long-running streaming writer resolves
    * each new commit incrementally: resolve(v) = cached resolve(v-1)
    * + O(delta) replay.
    */
  private[sources] val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[
      (String, Long, Long), Seq[String]]()
  private[sources] val manifestResolvedCache =
    new java.util.concurrent.ConcurrentHashMap[
      (String, Long, Long), Seq[String]]()

  /** Scoped listing-backed status lookups for [[rawManifest]] — set
    * only inside [[GraftStorage.withManifestListing]]; keyed by full
    * manifest-file URI.
    */
  private[sources] val manifestListingHint =
    new ThreadLocal[Map[String, org.apache.hadoop.fs.FileStatus]]

  /** Replay one delta file over its base's resolved lines: inherited
    * lines matching any `X` prefix drop, fresh lines append (same
    * carried-then-fresh order the eager writer produced).
    */
  /** Sequence-ordered (file, #preceding-D-lines) pairs and DV entries
    * of a resolved entry list — the entry-list core of
    * [[GraftStorage.manifestFilesDvs]], shared with branch-state
    * resolution (which replays branch deltas over a base manifest
    * without a version number to key on).
    */
  private[sources] def filesDvsOfEntries(entries: Seq[String])
      : (Seq[(String, Int)], Seq[(String, String)]) = {
    var dvSeen = 0
    val files = Seq.newBuilder[(String, Int)]
    val dvs = Seq.newBuilder[(String, String)]
    entries.foreach {
      case e if e.startsWith("D\t") =>
        val parts = e.split('\t')
        dvs += ((parts(1), parts(2)))
        dvSeen += 1
      case e if !e.contains('\t') => files += ((e, dvSeen))
      case _ => ()
    }
    (files.result(), dvs.result())
  }

  private[sources] def applyManifestDelta(base: Seq[String],
      rawDelta: Seq[String]): Seq[String] = {
    val body = rawDelta.drop(1) // G header
    val removals = body.collect { case l if l.startsWith("X\t") =>
      l.drop(2) }
    val additions = body.filterNot(_.startsWith("X\t"))
    base.filterNot(l => removals.exists(l.startsWith)) ++ additions
  }

  /** Slurp one small metadata file as non-empty UTF-8 lines. */
  private[sources] def readLines(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Seq[String] = {
    val in = fs.open(p)
    val bytes = try {
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var r = in.read(buf)
      while (r >= 0) { bos.write(buf, 0, r); r = in.read(buf) }
      bos.toByteArray
    } finally in.close()
    new String(bytes, "UTF-8").linesIterator.filter(_.nonEmpty).toSeq
  }

  /** Rebuild a Hadoop Configuration from a snapshot Map INSIDE a
    * task. Lives on the companion so closures capture only the Map,
    * never the session-bound GraftStorage instance.
    */
  private[graft] def restoreConfStatic(m: Map[String, String])
      : org.apache.hadoop.conf.Configuration = {
    val c = new org.apache.hadoop.conf.Configuration(false)
    m.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** Snapshot a driver-side Hadoop Configuration to a plain Map so an
    * executor task can rebuild it via [[restoreConfStatic]] — a bare
    * `new Configuration()` inside a task drops every `spark.hadoop.*`
    * session setting (credentials, custom schemes).
    */
  private[graft] def confSnapshotStatic(
      c: org.apache.hadoop.conf.Configuration): Map[String, String] = {
    val it = c.iterator()
    val b = Map.newBuilder[String, String]
    while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue) }
    b.result()
  }

  /** Is `from → to` a WIDENING type promotion — one the vectorized
    * parquet reader performs per file at scan time (Spark's
    * IntegerToLong/FloatToDouble/IntegerToDecimal/DateToTimestampNTZ
    * updaters), so immutable stored files re-read correctly under the
    * wider requested type? The full Iceberg type-promotion set:
    * integers widen up the int ladder, float widens to double,
    * decimal precision grows at fixed scale, date lifts to
    * timestamp_ntz. Everything else (narrowing, re-typing,
    * int→double, scale changes) needs a rewrite and is refused.
    */
  private[sources] def widens(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      // decimal PRECISION growth at the same scale (every stored
      // value representable; the reader re-scales per file)
      case (d1: DecimalType, d2: DecimalType) =>
        d1.scale == d2.scale && d2.precision > d1.precision
      // a date is midnight of itself in the wall-clock domain
      case (DateType, TimestampNTZType) => true
      case _ => false
    }
  }

  /** Widen a raw EXTERNAL stat/sidecar value to `dt`'s external
    * class. After ALTER COLUMN TYPE, zone stats written pre-widen
    * still carry the NARROW runtime box (java.lang.Integer under a
    * now-LongType attribute) until a post-widen stats commit exists —
    * converters and orderings built for `dt` would ClassCastException
    * on the narrow box. Identity for nulls and non-numeric targets.
    * Public because the `graftbridge` meta-aggregate path needs it
    * too.
    */
  def widenValue(v: Any,
      dt: org.apache.spark.sql.types.DataType): Any = {
    import org.apache.spark.sql.types._
    (v, dt) match {
      case (null, _) => null
      // WIDENING arms only (source box strictly narrower-or-equal) —
      // a WIDE box under a narrow attribute is index corruption, and
      // silently truncating it would turn that into wrong pruning;
      // unmatched values fall through for the downstream converter
      // to refuse loudly
      case (n @ (_: java.lang.Byte | _: java.lang.Short |
          _: java.lang.Integer | _: java.lang.Long), LongType) =>
        java.lang.Long.valueOf(n.asInstanceOf[Number].longValue())
      case (n @ (_: java.lang.Byte | _: java.lang.Short |
          _: java.lang.Integer), IntegerType) =>
        java.lang.Integer.valueOf(n.asInstanceOf[Number].intValue())
      case (n @ (_: java.lang.Byte | _: java.lang.Short), ShortType) =>
        java.lang.Short.valueOf(n.asInstanceOf[Number].shortValue())
      case (n @ (_: java.lang.Float | _: java.lang.Double),
          DoubleType) =>
        java.lang.Double.valueOf(n.asInstanceOf[Number].doubleValue())
      // BigDecimal is precision-free externally — identity suffices
      // for decimal widening; dates lift to their midnight for a
      // DATE → TIMESTAMP_NTZ widen
      case (d: java.sql.Date, TimestampNTZType) =>
        d.toLocalDate.atStartOfDay()
      case (d: java.time.LocalDate, TimestampNTZType) =>
        d.atStartOfDay()
      case _ => v
    }
  }

  /** Merge `H`-line schema jsons by name: commit order, first-seen
    * column order, same-name columns must agree on type — or stand in
    * a WIDENING relation ([[widens]]), in which case the merged
    * schema takes the wider type and every file reads through the
    * parquet reader's per-file promotion.
    */
  /** The schema-drift gate of every append surface: the `H` lines
    * among `entries` (the base snapshot's plus the commit's own) must
    * merge — a type conflict throws BEFORE anything publishes, so it
    * can never poison the log (readers would die on every resolve).
    */
  private[sources] def requireSchemaMerges(entries: Seq[String]): Unit =
    mergeSchemaJsons(entries.collect {
      case e if e.startsWith("H\t") => e.drop(2)
    }): Unit

  private[sources] def mergeSchemaJsons(jsons: Seq[String])
      : Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.spark.sql.types.{DataType, StructType}
    if (jsons.isEmpty) None
    else Some(jsons.map(j => DataType.fromJson(j).asInstanceOf[StructType])
      .reduce { (a, b) =>
        val out = scala.collection.mutable.ArrayBuffer(a.fields: _*)
        b.fields.foreach { f =>
          out.indexWhere(_.name == f.name) match {
            case -1 => out += f
            case i =>
              if (out(i).dataType != f.dataType) {
                if (widens(f.dataType, out(i).dataType)) ()
                else if (widens(out(i).dataType, f.dataType))
                  out(i) = out(i).copy(dataType = f.dataType)
                else require(false,
                  s"schema evolution type conflict on '${f.name}': " +
                    s"${out(i).dataType.simpleString} vs " +
                    s"${f.dataType.simpleString}")
              }
          }
        }
        StructType(out.toSeq)
      })
  }

  /** Sidecar `col` prefix marking a TOKENIZED text Bloom (filter over
    * the space-separated tokens of `<col>`, not its whole values).
    * The FileIndex consults these for
    * `array_contains(split(col, ' '), w)` predicates.
    */
  val TokenBloomPrefix = "tokens:"
}

/** Raised when a commit introduces rows that evaluate a declared
  * CHECK constraint to FALSE. Carries per-constraint violation counts
  * so callers (and tests) can act on the census, not parse messages.
  */
final class ConstraintViolationException(val counts: Map[String, Long],
    msg: String) extends IllegalStateException(msg)

/** A merge-on-read commit's deletion vector exceeded
  * `spark.graft.mor.maxDvBytes`: every subsequent read would
  * broadcast it, so the writer refuses instead (typed so the SQL
  * DELETE route can fall back to copy-on-write).
  */
final class DvTooLargeException(val dvBytes: Long, val maxBytes: Long,
    msg: String) extends IllegalArgumentException(msg)

sealed trait WriteOption
/** K1: spec-valid single file (coalesce-1 commit). */
case object SingleFile extends WriteOption
/** K4: sharded directory (default). */
case object Sharded extends WriteOption
/** Hive-style partition layout on a column. */
final case class PartitionedBy(column: String) extends WriteOption
/** Order-preservation contract: sort within partitions before write
  * (README.md:148-161).
  */
final case class SortedBy(columns: String*) extends WriteOption
