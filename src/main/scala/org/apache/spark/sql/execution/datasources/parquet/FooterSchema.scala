// Lives in Spark's parquet package so the driver can convert a footer
// with Spark's OWN `readSchemaFromFooter` (private[parquet]) and test
// for globs with Spark's own private[spark] predicate — the same bridge
// pattern as org.apache.spark.sql.graftbridge.
package org.apache.spark.sql.execution.datasources.parquet

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Driver-side schema of a single-file parquet table. */
object FooterSchema {

  /** The schema `spark.read.parquet(path)` would infer, read from the
    * file's footer on the driver — or None when Spark's own path must
    * handle `path`: schema merging or ignoreVariantAnnotation on, a
    * glob, a directory, a missing or hidden file, or a footer that
    * cannot be read.
    *
    * For one file with merging off, Spark's inference reads exactly
    * this footer with this conversion, but inside a one-task job; here
    * the job is gone and the schema is the same. Every None input
    * keeps Spark's behaviour, including its error for bad paths.
    */
  def of(spark: SparkSession, path: String): Option[StructType] = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState
    val p = new Path(path)
    // Spark's inference converts with ignoreVariantAnnotation at its
    // default whatever the session says; the session-conf converter
    // below would not, so that setting stays on Spark's path too
    if (state.conf.isParquetSchemaMergingEnabled ||
        state.conf.parquetIgnoreVariantAnnotation ||
        SparkHadoopUtil.get.isGlobPath(p)) return None
    try {
      val hadoopConf = state.newHadoopConf()
      val file = p.getFileSystem(hadoopConf).getFileStatus(p)
      val name = file.getPath.getName
      // hidden names (and `_metadata` summaries) are Spark's to judge
      if (!file.isFile || name.startsWith("_") || name.startsWith(".") ||
          name.endsWith("._COPYING_")) None
      else {
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
}
