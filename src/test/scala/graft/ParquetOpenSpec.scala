package graft

import java.io.File
import java.nio.file.Files
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.{NanoTime, SimpleGroupFactory}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema
import org.scalatest.funsuite.AnyFunSuite

/** `T.parquet` opens a single file, a flat directory or a file list
  * from one footer on the driver and hands everything else to
  * `spark.read.parquet`. Both ways are pinned here: the footer schema
  * equals Spark's inferred schema (fixtures, a Spark-written nested
  * file, a file with no Spark metadata, under flipped conversion
  * confs, sharded and mixed-schema directories), the footer path runs
  * no job, and partitioned or summary-bearing directories, globs,
  * merging and bad files keep Spark's own path, results and errors.
  */
class ParquetOpenSpec extends AnyFunSuite {
  import SparkTestSession.{jobsOf, spark, SF, SF01}

  private val root = T.scratch(SF, "parquet_open")

  private def fixtures: Seq[String] =
    Seq(SF, SF01).flatMap(d => new File(d).listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).sorted)

  /** One visible part file of a Spark-written single-partition dir. */
  private lazy val sparkFile: String = {
    val dir = s"$root/nested"
    spark.range(0, 20).selectExpr(
      "id",
      "CAST(id * 1.25 AS DECIMAL(12,2)) AS price",
      "timestamp_micros(id * 86400000000) AS ts",
      "array(id, id + 1) AS arr",
      "map(CAST(id AS STRING), id * 2) AS m",
      "named_struct('a', id, 'b', named_struct('c', CAST(id AS STRING))) AS st")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    partFiles(dir).head
  }

  /** A file with no Spark row metadata, so the conversion confs decide
    * its schema: plain binary, INT96 and a local (NTZ) timestamp.
    */
  private lazy val rawFile: String = {
    val p = s"$root/raw.parquet"
    Files.deleteIfExists(new File(p).toPath)
    val schema = MessageTypeParser.parseMessageType(
      """message raw {
        |  required int64 id;
        |  required binary b;
        |  required int96 t96;
        |  required int64 ts_local (TIMESTAMP(MICROS,false));
        |}""".stripMargin)
    val w = ExampleParquetWriter.builder(new Path(p)).withType(schema).build()
    val g = new SimpleGroupFactory(schema)
    try (0 until 3).foreach { i =>
      w.write(g.newGroup().append("id", i.toLong)
        .append("b", Binary.fromString(s"v$i"))
        .append("t96", new NanoTime(2460000 + i, 1000L * i))
        .append("ts_local", 1700000000000000L + i))
    } finally w.close()
    p
  }

  private def withConf[A](kv: (String, String))(body: => A): A = {
    val prev = spark.conf.getOption(kv._1)
    spark.conf.set(kv._1, kv._2)
    try body
    finally prev.fold(spark.conf.unset(kv._1))(spark.conf.set(kv._1, _))
  }

  private def freshDir(name: String): String = {
    val d = new File(s"$root/$name")
    if (d.exists()) d.listFiles().foreach(_.delete())
    d.mkdirs()
    d.getPath
  }

  private def copy(from: String, to: String): Unit =
    Files.copy(new File(from).toPath, new File(to).toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)

  /** The visible part files of a Spark-written directory. */
  private def partFiles(dir: String): Seq[String] =
    new File(dir).listFiles().map(_.getPath)
      .filter(p => p.endsWith(".parquet") && !new File(p).getName.startsWith("."))
      .sorted.toSeq

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Where Spark infers a schema the footer path opens the file with
    * the same one (the relation makes both nullable); where Spark
    * cannot, the footer path declines.
    */
  private def assertFooterMatches(p: String): Unit = {
    val theirs = Try(spark.read.parquet(p).schema).toOption
    assert(FooterSchema.of(spark, p).isDefined == theirs.isDefined, p)
    assert(Try(T.parquet(spark, p).schema).toOption == theirs, p)
  }

  /** The first error condition along the cause chain. */
  private def condition(e: Throwable): Option[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).collectFirst {
      case t: SparkThrowable if t.getCondition != null => t.getCondition
    }

  test("footer schema equals Spark's inferred schema for every fixture table") {
    assert(fixtures.exists(_.endsWith("sf0.01/events.parquet")))
    fixtures.foreach { p =>
      assert(FooterSchema.of(spark, p).isDefined, p)
      assertFooterMatches(p)
    }
  }

  test("footer schema equals Spark's for a Spark-written nested file") {
    val meta = {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new Path(sparkFile), spark.sparkContext.hadoopConfiguration))
      try r.getFooter.getFileMetaData.getKeyValueMetaData.asScala
      finally r.close()
    }
    // the schema comes from Spark's row-metadata key, not the converter
    assert(meta.contains("org.apache.spark.sql.parquet.row.metadata"))
    assert(FooterSchema.of(spark, sparkFile).isDefined)
    assertFooterMatches(sparkFile)
    assert(rows(T.parquet(spark, sparkFile)) == rows(spark.read.parquet(sparkFile)))
  }

  test("footer schema follows flipped conversion confs like Spark's") {
    val flips = Seq(
      "spark.sql.parquet.binaryAsString" -> "true",
      "spark.sql.parquet.int96AsTimestamp" -> "false",
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false")
    val paths = fixtures ++ Seq(sparkFile, rawFile)
    paths.foreach(assertFooterMatches)
    // the defaults read the raw file: INT96 as a timestamp, the local
    // timestamp as TIMESTAMP_NTZ, binary as binary
    assert(FooterSchema.of(spark, rawFile).map(_.map(_.dataType.typeName)) ==
      Some(Seq("long", "binary", "timestamp", "timestamp_ntz")))
    val rawDefault = spark.read.parquet(rawFile).schema
    flips.foreach { kv =>
      withConf(kv) {
        paths.foreach(assertFooterMatches)
        // every flip changes what Spark makes of the raw file
        assert(Try(spark.read.parquet(rawFile).schema).toOption != Some(rawDefault), kv)
      }
    }
  }

  test("a single-file open runs no Spark job; Spark's inference runs one") {
    val p = s"$SF01/lineitem.parquet"
    assert(jobsOf(T.t(spark, SF01, "lineitem").schema) == 0)
    assert(jobsOf(T.parquet(spark, rawFile)) == 0)
    assert(jobsOf(spark.read.parquet(p)) == 1)
    assert(rows(T.t(spark, SF, "region")) == rows(spark.read.parquet(s"$SF/region.parquet")))
  }

  // the directories here are the ones that decline: a partitioned one
  // and one carrying a `_common_metadata` summary (flat ones open from
  // a footer, see the directory tests below)
  test("directories, globs, hidden files and merging keep Spark's path") {
    val partitioned = s"$root/partitioned"
    spark.range(0, 10).selectExpr("id", "id % 2 AS p")
      .write.mode("overwrite").partitionBy("p").parquet(partitioned)
    val summarized = freshDir("summarized")
    copy(s"$SF/region.parquet", s"$summarized/part-00000.parquet")
    copy(s"$SF/nation.parquet", s"$summarized/_common_metadata")
    val glob = s"$SF/*ation.parquet"
    val hidden = s"$root/_hidden.parquet"
    copy(s"$SF/nation.parquet", hidden)
    Seq(partitioned, summarized, glob, hidden).foreach { p =>
      assert(FooterSchema.of(spark, p).isEmpty, p)
      assert(Try(T.parquet(spark, p).schema).toOption ==
        Try(spark.read.parquet(p).schema).toOption, p)
    }
    Seq(partitioned, summarized, glob).foreach { p =>
      assert(jobsOf(T.parquet(spark, p)) == 1, p)
      assert(T.parquet(spark, p).schema == spark.read.parquet(p).schema, p)
      assert(rows(T.parquet(spark, p)) == rows(spark.read.parquet(p)), p)
    }
    // reader options that change inference or listing decline too
    val flat = new File(sparkFile).getParent
    Seq("mergeSchema" -> "true", "recursiveFileLookup" -> "true").foreach { kv =>
      assert(FooterSchema.of(spark, Seq(flat), Map(kv)).isEmpty, kv)
      assert(jobsOf(T.parquet(spark, Seq(flat), Map(kv))) == 1, kv)
    }
    Seq("spark.sql.parquet.mergeSchema", "spark.sql.parquet.ignoreVariantAnnotation")
      .foreach { k =>
        withConf(k -> "true") {
          val p = s"$SF/nation.parquet"
          assert(FooterSchema.of(spark, p).isEmpty, k)
          assert(jobsOf(T.parquet(spark, p)) == 1, k)
          assert(T.parquet(spark, p).schema == spark.read.parquet(p).schema, k)
        }
      }
  }

  test("missing and corrupt files fail with Spark's own error") {
    val missing = s"$root/missing.parquet"
    val corrupt = s"$root/corrupt.parquet"
    Files.write(new File(corrupt).toPath, "not a parquet file at all".getBytes("UTF-8"))
    Seq(missing, corrupt).foreach { p =>
      assert(FooterSchema.of(spark, p).isEmpty, p)
      val ours = intercept[Exception](T.parquet(spark, p))
      val theirs = intercept[Exception](spark.read.parquet(p))
      assert(ours.getClass == theirs.getClass, p)
      assert(condition(ours).isDefined && condition(ours) == condition(theirs), p)
    }
  }

  test("a sharded directory and a file list open from one footer with no job") {
    val dir = s"$root/sharded"
    spark.range(0, 200).selectExpr("id", "CAST(id AS STRING) AS s",
        "CAST(id * 0.5 AS DECIMAL(10,2)) AS d")
      .repartition(4).write.mode("overwrite").parquet(dir)
    val files = partFiles(dir)
    assert(files.size == 4)
    val buffered = Map("io.file.buffer.size" -> "65536")
    Seq[(Seq[String], Map[String, String])](
        Seq(dir) -> Map.empty, Seq(dir) -> buffered,
        files.reverse -> Map.empty, files.take(2) -> buffered)
      .foreach { case (ps, opts) =>
        val theirs = spark.read.options(opts).parquet(ps: _*)
        assert(FooterSchema.of(spark, ps, opts).isDefined, ps)
        assert(jobsOf(T.parquet(spark, ps, opts)) == 0, ps)
        assert(T.parquet(spark, ps, opts).schema == theirs.schema, ps)
        assert(rows(T.parquet(spark, ps, opts)) == rows(theirs), ps)
      }
  }

  test("a mixed-schema flat directory takes the path-sorted first file's schema") {
    val dir = freshDir("mixed")
    val src = s"$root/mixed_src"
    // written b first: the listing order, not the write order, decides
    Seq("b" -> "CAST(id AS INT) AS x", "a" -> "CAST(id AS STRING) AS y")
      .foreach { case (name, expr) =>
        spark.range(0, 3).selectExpr(expr).coalesce(1)
          .write.mode("overwrite").parquet(s"$src/$name")
        copy(partFiles(s"$src/$name").head, s"$dir/part-$name.parquet")
      }
    val files = Seq(s"$dir/part-b.parquet", s"$dir/part-a.parquet")
    Seq(Seq(dir), files, files.reverse).foreach { ps =>
      val theirs = spark.read.parquet(ps: _*).schema
      assert(theirs.fieldNames.toSeq == Seq("y"), ps)
      assert(jobsOf(T.parquet(spark, ps, Map.empty)) == 0, ps)
      assert(T.parquet(spark, ps, Map.empty).schema == theirs, ps)
      assert(rows(T.parquet(spark, ps, Map.empty)) == rows(spark.read.parquet(ps: _*)), ps)
    }
  }

  test("a directory whose first visible file is not parquet fails like Spark") {
    val dir = freshDir("readme_first")
    copy(s"$SF/region.parquet", s"$dir/part-00000.parquet")
    Files.write(new File(s"$dir/README").toPath, "not parquet".getBytes("UTF-8"))
    assert(FooterSchema.of(spark, dir).isEmpty)
    val ours = intercept[Exception](T.parquet(spark, dir))
    val theirs = intercept[Exception](spark.read.parquet(dir))
    assert(ours.getClass == theirs.getClass)
    assert(condition(ours).isDefined && condition(ours) == condition(theirs))
  }
}
