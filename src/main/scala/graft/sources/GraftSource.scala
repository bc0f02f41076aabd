package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider}

/** `spark.read.format("graft")` / `df.write.format("graft")` — the
  * DataSource front door for [[GraftStorage]], giving API parity with
  * the reference's storage builder (HtsjdkReadsRddStorage.java:47-116)
  * through Spark's own source registry instead of a facade object.
  *
  * Deliberately a THIN delegate (SURVEY.md §8d #3): the read path
  * resolves through the exact same plan `GraftStorage.readPruned`
  * builds — the built-in vectorized parquet `FileFormat` under a
  * `ZoneMapFileIndex` when a `_zonemap` sidecar exists, the stock
  * parquet relation otherwise — so the front door CANNOT fork the
  * scan path or lose pushdown/pruning/codegen; it only resolves
  * options and hands back the underlying `HadoopFsRelation`.
  *
  * Read options:
  *   - `zonemap` (default true): plan-time file pruning through the
  *     `_zonemap` sidecar when present.
  *   - `strictSchema` (default false): refuse directories with mixed
  *     file schemas (the reference's mixed-format error,
  *     HtsjdkReadsRddStorage.java:154-158).
  *   - `splitSize`: bytes per input partition
  *     (HtsjdkReadsRddStorage.splitSize).
  *   - `versionAsOf`: time-travel to a committed version of a
  *     versioned table; `versioned=true` reads the latest manifest.
  *
  * Write options (SaveMode defaults to Spark's ErrorIfExists — pass
  * `.mode("overwrite")` for the reference's always-overwrite contract
  * (README.md:57). Append is supported for the sharded layout: a
  * table with on-disk `_zonemap`/`_bloom` sidecars routes through the
  * incremental index maintenance paths so appended files stay
  * covered; appending clustered data needs `clusterBy` restated):
  *   - `layout`: `sharded` (default) | `single` (one parquet file via
  *     parallel parts + row-group append merge) | `singleCsv`.
  *   - `clusterBy` [+ `zone`, comma-separated]: range-clustered write
  *     with a `_zonemap` sidecar (`GraftStorage.writeIndexed`).
  *   - `zorder` (comma-separated): multi-dimension z-curve clustering
  *     with zone maps on every listed column.
  *   - `partitionBy`: hive-style partition column.
  *   - `rowGroupBytes`: parquet row-group size (index granularity).
  */
final class GraftSource extends RelationProvider
    with CreatableRelationProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  override def createRelation(
      ctx: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val spark = ctx.sparkSession
    // multi-path contract: PLAIN sharded directories load as one
    // multi-root parquet relation via `.option("paths", "[a,b]"
    // JSON)` — Spark's DataFrameReader never forwards `.load(a, b)`
    // varargs to a V1 RelationProvider, so the option form IS the
    // multi-path API (same JSON encoding Spark uses V2-side). A path
    // carrying versioned manifests or pruning sidecars still demands
    // the single-path form — a union of such tables has no single
    // sidecar/manifest to consult, and silently reading them without
    // pruning (or reading ALL commit dirs of a versioned table) would
    // be wrong, not slow.
    val multi: Seq[String] = parameters.get("paths").map { js =>
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readValue(js, classOf[Array[String]]).toSeq
    }.getOrElse(Nil)
    if (multi.size > 1) {
      val conf = spark.sparkContext.hadoopConfiguration
      val special = multi.filter { p =>
        val root = new org.apache.hadoop.fs.Path(p)
        val fs = root.getFileSystem(conf)
        Seq("_manifest", "_zonemap", "_bloom").exists(s =>
          fs.exists(new org.apache.hadoop.fs.Path(root, s)))
      }
      if (special.nonEmpty) throw new IllegalArgumentException(
        s"graft multi-path reads support plain sharded directories " +
          s"only; ${special.mkString(", ")} carry manifests/sidecars — " +
          "read those via the single-path form, the graft catalog, or " +
          "union per-path reads explicitly")
      if (parameters.get("strictSchema").exists(_.toBoolean)) {
        // the SAME footer-level uniformity check the single-path form
        // runs, per root AND across roots — an intra-root schema
        // mixture must fail here exactly as it would under one path
        // (schema inference samples footers and would miss it)
        val st0 = GraftStorage(spark)
        multi.foreach(st0.checkUniformSchema)
        val schemas = multi.map(p => spark.read.parquet(p).schema).distinct
        if (schemas.size > 1) throw new IllegalArgumentException(
          s"strictSchema: multi-path roots disagree on schema: $schemas")
      }
      parameters.get("splitSize").foreach(b =>
        spark.conf.set("spark.sql.files.maxPartitionBytes", b))
      return relationOf(spark.read.parquet(multi: _*))
    }
    // multi-path load(a, b, ...) reaches a V1 RelationProvider with NO
    // path option at all — the missing-path error carries the guidance
    val path = parameters.get("path").orElse(multi.headOption).getOrElse(
      throw new IllegalArgumentException(
        "graft source requires exactly ONE path (a file or a directory " +
          "of shards); multi-path loads are not supported — read the " +
          "common parent directory, or union per-path reads explicitly"))
    var st = GraftStorage(spark)
    if (parameters.get("strictSchema").exists(_.toBoolean)) st = st.strictSchema()
    parameters.get("splitSize").foreach(b => st = st.splitSize(b.toLong))
    val asOf = parameters.get("versionAsOf").map(_.toLong)
    val versioned = asOf.isDefined ||
      parameters.get("versioned").exists(_.toBoolean)
    val useZoneMap = parameters.get("zonemap").forall(_.toBoolean)
    val df =
      if (versioned) {
        // a V1 relation is ONE file relation; a merge-on-read
        // snapshot's read is a DV anti-JOIN and cannot be narrowed to
        // one without silently resurrecting the deleted rows — refuse
        // with guidance instead
        if (st.hasDeletionVectors(path, asOf))
          throw new IllegalArgumentException(
            s"versioned read of $path: snapshot carries merge-on-read " +
              "deletion vectors, which format(\"graft\") cannot express " +
              "as a single relation. Use GraftStorage.readVersioned, " +
              "the graft_versioned() SQL function, or compactVersioned " +
              "(REORG APPLY DELETES) first.")
        // stats-in-log skipping when the manifest records it
        st.readVersionedPruned(path, asOf)
      }
      else if (useZoneMap) st.readPruned(path)
      else st.read(path)
    relationOf(df)
  }

  /** The HadoopFsRelation inside a facade-built DataFrame — the write
    * side returns it so `save()` callers can re-read what they wrote.
    */
  private def relationOf(df: DataFrame): BaseRelation =
    org.apache.spark.sql.graftbridge.Bridge.analyzed(df)
      .collect { case l: LogicalRelation => l.relation }
      .headOption
      .getOrElse(throw new IllegalStateException(
        "graft read did not resolve to a file relation"))

  override def createRelation(
      ctx: SQLContext,
      mode: SaveMode,
      parameters: Map[String, String],
      data: DataFrame): BaseRelation = {
    val spark = ctx.sparkSession
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft sink requires a path"))
    val layout = parameters.getOrElse("layout", "sharded")
    val clusterBy = parameters.get("clusterBy")
    val zorder = parameters.get("zorder").map(_.split(",").toSeq)
    var st = GraftStorage(spark)
    parameters.get("rowGroupBytes").foreach(b =>
      st = st.indexGranularity(b.toLong))

    // single-FILE outputs have no directory relation to resolve
    // through the zone-map read path; hand back the file's own format
    def readBack(): BaseRelation = layout match {
      case "singleCsv" => relationOf(
        spark.read.option("header", "true").schema(data.schema).csv(path))
      case "single" => relationOf(graft.T.parquet(spark, path))
      case _ => createRelation(ctx, parameters)
    }

    // `versioned=true`: manifest-snapshot commits with time travel —
    // Overwrite commits a fresh file set, Append commits a delta on
    // the previous manifest; history stays readable via versionAsOf
    if (parameters.get("versioned").exists(_.toBoolean)) {
      if (layout != "sharded" || clusterBy.nonEmpty || zorder.nonEmpty)
        throw new IllegalArgumentException(
          "versioned graft writes support the plain sharded layout only")
      st.writeVersioned(data, path, append = mode == SaveMode.Append)
      return relationOf(st.readVersioned(path))
    }

    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val exists = fs.exists(new org.apache.hadoop.fs.Path(path))
    mode match {
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalArgumentException(s"path already exists: $path")
      case SaveMode.Ignore if exists => return readBack()
      case SaveMode.Append =>
        if (layout != "sharded" || zorder.nonEmpty)
          throw new IllegalArgumentException(
            "graft sink supports Append only for the sharded layout; " +
              "z-ordered tables need a rewrite (compact) to stay clustered")
        // inspect ON-DISK state, not just this call's options: a table
        // written earlier with clusterBy/bloom has sidecars that a
        // plain parquet append would silently leave stale (new files
        // never pruned — correct results, decaying pruning power)
        val hasZm = exists &&
          fs.exists(new org.apache.hadoop.fs.Path(path, "_zonemap"))
        val hasBl = exists &&
          fs.exists(new org.apache.hadoop.fs.Path(path, "_bloom"))
        (hasZm, clusterBy) match {
          case (true, Some(c)) =>
            val zoneCols = spark.read.parquet(s"$path/_zonemap")
              .schema.fieldNames.filter(_.endsWith("__min"))
              .map(_.stripSuffix("__min")).toSeq
            st.appendIndexed(data, path, c, zoneCols: _*)
            if (hasBl) st.refreshBloomIndex(path)
          case (true, None) =>
            throw new IllegalArgumentException(
              s"$path has a _zonemap sidecar: appends must restate " +
                "clusterBy=<col> so new files stay range-clustered and " +
                "indexed (or use GraftStorage.appendIndexed)")
          case (false, Some(_)) =>
            throw new IllegalArgumentException(
              "clusterBy on Append requires an existing indexed table " +
                "(write with clusterBy + mode overwrite first)")
          case (false, None) =>
            if (hasBl) st.appendBloomIndexed(data, path)
            else data.write.mode("append").parquet(path)
        }
        return readBack()
      case _ => () // Overwrite (default) and first-time writes fall through
    }

    (layout, zorder, clusterBy) match {
      case ("single", _, _) => st.writeSingleParquet(data, path)
      case ("singleCsv", _, _) => st.writeSingleCsv(data, path)
      case ("sharded", Some(zc), _) => st.writeZOrdered(data, path, zc)
      case ("sharded", None, Some(c)) =>
        val zones = parameters.get("zone")
          .map(_.split(",").toSeq).getOrElse(Seq(c))
        st.writeIndexed(data, path, c, zones: _*)
      case ("sharded", None, None) =>
        parameters.get("partitionBy") match {
          case Some(p) => st.write(data, path, PartitionedBy(p))
          case None => st.write(data, path)
        }
      case other =>
        throw new IllegalArgumentException(s"unsupported graft layout: $other")
    }
    // `bloom`: comma-separated columns to point-index after the write
    // — composes with any sharded layout (zone maps answer ranges on
    // the clustering key, Blooms answer equality on these)
    parameters.get("bloom").filter(_ => layout == "sharded").foreach { cols =>
      st.buildBloomIndex(path, cols.split(",").toSeq)
    }
    // `tokenBloom`: text columns to token-index (full-text needle
    // pruning through tokens:<col> sidecar entries)
    parameters.get("tokenBloom").filter(_ => layout == "sharded").foreach {
      cols => st.buildTokenBloomIndex(path, cols.split(",").toSeq)
    }
    readBack()
  }
}
