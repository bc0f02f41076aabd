// Lives in Spark's parquet package so the driver can convert a footer
// with Spark's OWN `readSchemaFromFooter` (private[parquet]) and test
// for globs with Spark's own private[spark] predicate — the same bridge
// pattern as org.apache.spark.sql.graftbridge.
package org.apache.spark.sql.execution.datasources.parquet

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.FileIndexOptions
import org.apache.spark.sql.types.StructType

/** Driver-side schema of a parquet table: one file, a flat directory
  * or an explicit file list.
  */
object FooterSchema {

  /** [[of]] for one path with no reader options. */
  def of(spark: SparkSession, path: String): Option[StructType] =
    of(spark, Seq(path), Map.empty)

  /** The schema `spark.read.options(options).parquet(paths: _*)` would
    * infer, read from one footer on the driver — or None when Spark's
    * own path must handle the input.
    *
    * With merging off, Spark's inference lists the visible leaf files,
    * sorts them by path and reads the footer of the first one only
    * (`ParquetUtils.inferSchema`), inside a one-task job. Here the same
    * file is picked by a driver listing and its footer is converted the
    * same way, so the schema is the same and the job is gone. `paths`
    * is one file, one flat directory, or a list of files.
    *
    * None (Spark's path, errors included) for: schema merging or
    * ignoreVariantAnnotation on, a file-listing option, a glob, a
    * visible subdirectory (partition discovery), a `_metadata` or
    * `_common_metadata` summary, no visible data file, a hidden or
    * missing file in the list, or a footer that does not read.
    */
  def of(spark: SparkSession, paths: Seq[String],
      options: Map[String, String]): Option[StructType] = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState
    val ps = paths.map(new Path(_))
    // Spark's inference converts with ignoreVariantAnnotation at its
    // default whatever the session says; the session-conf converter
    // below would not, so that setting stays on Spark's path too
    if (ps.isEmpty || new ParquetOptions(options, state.conf).mergeSchema ||
        state.conf.parquetIgnoreVariantAnnotation ||
        options.keys.exists(k => FileIndexOptions.getAllOptions
          .exists(_.equalsIgnoreCase(k))) ||
        ps.exists(SparkHadoopUtil.get.isGlobPath)) return None
    try {
      val hadoopConf = state.newHadoopConfWithOptions(options)
      // (status, qualified path): Spark sorts leaves by qualified path
      val roots = ps.map { p =>
        val fs = p.getFileSystem(hadoopConf)
        val q = fs.makeQualified(p)
        (fs, fs.getFileStatus(q), q)
      }
      val leaves: Seq[(FileStatus, Path)] = roots match {
        case Seq((fs, dir, q)) if dir.isDirectory =>
          val visible = fs.listStatus(q).toSeq
            .filterNot(st => hidden(st.getPath.getName))
          // subdirectories are partitions, `_`-names summaries: both
          // are Spark's to resolve
          if (visible.exists(st => st.isDirectory ||
              st.getPath.getName.startsWith("_"))) Nil
          else visible.map(st => (st, st.getPath))
        case files =>
          if (files.forall { case (_, st, q) =>
              st.isFile && !q.getName.startsWith("_") && !hidden(q.getName) })
            files.map { case (_, st, q) => (st, q) }
          else Nil
      }
      if (leaves.isEmpty) None
      else {
        val file = leaves.minBy(_._2.toString)._1
        // skip row groups: only the schema is needed, as in Spark's
        // own footer reader
        val meta = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(file, hadoopConf),
          ParquetMetadataConverter.SKIP_ROW_GROUPS)
        Some(ParquetFileFormat.readSchemaFromFooter(
          new Footer(file.getPath, meta),
          new ParquetToSparkSchemaConverter(state.conf)))
      }
    } catch { case NonFatal(_) => None }
  }

  /** The names Spark's file listing skips
    * (`HadoopFSUtils.shouldFilterOutPathName`).
    */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) ||
      name.startsWith(".") || name.endsWith("._COPYING_")) &&
      !name.startsWith("_common_metadata") && !name.startsWith("_metadata")
}
