package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** BGZF splittable-text source: block framing round trip, split
  * planning, and — the part that is easy to get subtly wrong — the
  * exactly-once line semantics at every placement of line boundaries
  * vs block and split boundaries (fuzzed over randomized layouts,
  * including newline-at-block-edge, empty lines, lines longer than a
  * whole split, and no trailing newline).
  */
class BgzfSpec extends AnyFunSuite {
  import SparkTestSession.{jobsOf, spark, SF}
  import spark.implicits._

  private val storage = sources.GraftStorage(spark)

  /** `readBgzfLines` and the Spark jobs its planning ran. */
  private def planned(path: String, target: Long)
      : (org.apache.spark.sql.Dataset[String], Int) = {
    var ds: org.apache.spark.sql.Dataset[String] = null
    val jobs = jobsOf { ds = storage.readBgzfLines(path, targetSplitBytes = target) }
    (ds, jobs)
  }

  test("round trip: lines -> .bgz shards -> split-parallel read, exactly once") {
    val out = T.scratch(SF, "bgzf_roundtrip")
    val lines = (0 until 5000).map(i => s"line-$i,payload-${"x" * (i % 40)}")
    lines.toDF("value").repartition(4)
      .createOrReplaceTempView("bgzf_in")
    storage.writeBgzfText(spark.table("bgzf_in"), out, blockInput = 1024)
    val back = storage.readBgzfLines(out, targetSplitBytes = 4096)
    val got = back.collect()
    assert(got.length == lines.length)
    assert(got.sorted.toSeq == lines.sorted, "content must round-trip exactly")
    // genuinely split: more partitions than shards
    assert(back.rdd.getNumPartitions > 4,
      s"expected >4 splits, got ${back.rdd.getNumPartitions}")
  }

  test("fuzz: exactly-once lines across 60 randomized block/split layouts") {
    val rnd = new scala.util.Random(42)
    val conf = spark.sparkContext.hadoopConfiguration
    for (trial <- 0 until 60) {
      // random corpus: empty lines, huge lines, newline-dense runs
      val n = 1 + rnd.nextInt(80)
      val lines = (0 until n).map { i =>
        rnd.nextInt(5) match {
          case 0 => ""
          case 1 => "y" * (50 + rnd.nextInt(400)) // line >> block
          case _ => s"t$trial-l$i-" + ("a" * rnd.nextInt(30))
        }
      }
      val trailingNewline = rnd.nextBoolean()
      val text = lines.mkString("\n") + (if (trailingNewline) "\n" else "")
      val dir = new org.apache.hadoop.fs.Path(
        T.scratch(SF, s"bgzf_fuzz"), s"t$trial")
      val fs = dir.getFileSystem(conf)
      fs.mkdirs(dir)
      val blockInput = 8 + rnd.nextInt(64)
      val w = new sources.Bgzf.BlockWriter(
        fs.create(new org.apache.hadoop.fs.Path(dir, "data.bgz"), true),
        blockInput)
      w.write(text.getBytes("UTF-8"))
      w.close()
      val target = 16 + rnd.nextInt(256)
      val got = storage.readBgzfLines(dir.toString, targetSplitBytes = target)
        .collect().toSeq
      // expected: split semantics ignore a trailing newline's empty tail
      val expected = text.split("\n", -1).toSeq match {
        case init :+ "" if text.nonEmpty => init
        case all => all
      }
      assert(got.sorted == expected.sorted,
        s"trial $trial (block=$blockInput split=$target lines=$n " +
          s"trailing=$trailingNewline):\n got=${got.size} want=${expected.size}")
    }
  }

  test("split planning: blocks grouped near target, block-aligned, EOF marker excluded") {
    val dir = new org.apache.hadoop.fs.Path(T.scratch(SF, "bgzf_splits"))
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = dir.getFileSystem(conf)
    fs.mkdirs(dir)
    val f = new org.apache.hadoop.fs.Path(dir, "data.bgz")
    val w = new sources.Bgzf.BlockWriter(fs.create(f, true), 512)
    w.write(((("z" * 100) + "\n") * 200).getBytes("UTF-8"))
    w.close()
    val len = fs.getFileStatus(f).getLen
    val in = fs.open(f)
    val offsets = try sources.Bgzf.blockOffsets(in, len) finally in.close()
    assert(offsets.nonEmpty)
    // chain is contiguous and stops before the EOF marker
    offsets.sliding(2).foreach {
      case Seq((a, sz), (b, _)) => assert(a + sz == b)
      case _ => ()
    }
    assert(offsets.last._1 + offsets.last._2 == len - 28,
      "EOF marker must not be a data block")
    val splits = sources.Bgzf.splitsOf(f.toString, offsets, len, 256)
    assert(splits.size > 1)
    assert(splits.head.start == 0)
    splits.sliding(2).foreach {
      case Seq(a, b) => assert(a.end == b.start)
      case _ => ()
    }
    assert(splits.last.end == len - 28)
  }

  test("empty input partitions produce no shard; gzip wall vs bgzf splits") {
    val out = T.scratch(SF, "bgzf_orders")
    val o = T.t(spark, SF, "orders")
      .select(concat_ws(",", $"o_orderkey", $"o_orderpriority",
        $"o_totalprice").as("value"))
      .repartition(2)
    storage.writeBgzfText(o, out, blockInput = 2048)
    val files = new java.io.File(out).listFiles().count(_.getName.endsWith(".bgz"))
    assert(files == 2)
    // splittable: a small target yields more tasks than shards, and
    // the parsed table matches the source exactly
    val ds = storage.readBgzfLines(out, targetSplitBytes = 2 * 1024)
    assert(ds.rdd.getNumPartitions > files)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("o_orderkey",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("o_orderpriority",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("o_totalprice",
        org.apache.spark.sql.types.DoubleType)))
    val parsed = spark.read.schema(schema).csv(ds)
    assert(parsed.count() == T.t(spark, SF, "orders").count())
    assert(parsed.agg(sum($"o_orderkey")).head().getLong(0) ==
      T.t(spark, SF, "orders").agg(sum($"o_orderkey")).head().getLong(0))
  }

  test("content sniff: BGZF-under-.gz splits, plain gzip gets file tasks, " +
      "union exactly once") {
    val dir = T.scratch(SF, "gz_sniff")
    val fsPath = new org.apache.hadoop.fs.Path(dir)
    val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(fsPath, true)
    fs.mkdirs(fsPath)
    val lines = (0 until 4000).map(i => s"row-$i,${i % 7}")
    // half the lines BGZF-framed but renamed to the misleading .gz
    val bgzfTmp = dir + ".btmp"
    lines.take(2000).toDF("value").repartition(1)
      .createOrReplaceTempView("sniff_in")
    storage.writeBgzfText(spark.table("sniff_in"), bgzfTmp,
      blockInput = 1024)
    fs.listStatus(new org.apache.hadoop.fs.Path(bgzfTmp)).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".bgz"))
      .foreach { f =>
        fs.rename(f.getPath, new org.apache.hadoop.fs.Path(dir,
          "disguised-" + f.getPath.getName.stripSuffix(".bgz") + ".gz")): Unit
      }
    fs.delete(new org.apache.hadoop.fs.Path(bgzfTmp), true)
    // other half as true plain gzip (unsplittable member)
    val gzOut = new java.io.File(dir, "plain-0.gz")
    val w = new java.io.PrintWriter(new java.io.OutputStreamWriter(
      new java.util.zip.GZIPOutputStream(
        new java.io.FileOutputStream(gzOut)), "UTF-8"))
    lines.drop(2000).foreach(w.println)
    w.close()
    val back = storage.readGzTextSniffed(dir, targetSplitBytes = 4 * 1024)
    assert(back.collect().sorted.toSeq == lines.sorted,
      "mixed dir must union both kinds exactly once")
    // the BGZF half must have split finer than one-task-per-file:
    // 1 disguised shard + 1 plain file but >2 partitions total
    assert(back.rdd.getNumPartitions > 2,
      s"BGZF-under-.gz must split, got ${back.rdd.getNumPartitions} partitions")
  }

  test("sniff rejects plain gzip and accepts BGZF bytes") {
    val bgzf = sources.Bgzf.blockOf("hello".getBytes("UTF-8"), 0, 5)
    val plain = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write("hello".getBytes("UTF-8")); g.close()
      bos.toByteArray
    }
    def asInput(b: Array[Byte]) = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(b))
    assert(sources.Bgzf.sniffBgzf(asInput(bgzf)))
    assert(!sources.Bgzf.sniffBgzf(asInput(plain)))
    assert(!sources.Bgzf.sniffBgzf(asInput(Array[Byte](1, 2, 3))))
  }

  /** Splice an FNAME field into a block our writer produced: FLG |=
    * 0x08, null-terminated name after the 18-byte fixed header, BSIZE
    * (the BC subfield value, bytes 16-17) bumped by the name length —
    * byte-for-byte what an older bgzip front-end with a filename
    * field emits.
    */
  private def withFname(block: Array[Byte], name: String): Array[Byte] = {
    val nameB = name.getBytes("UTF-8") :+ 0.toByte
    val out = new Array[Byte](block.length + nameB.length)
    System.arraycopy(block, 0, out, 0, 18)
    System.arraycopy(nameB, 0, out, 18, nameB.length)
    System.arraycopy(block, 18, out, 18 + nameB.length, block.length - 18)
    out(3) = (out(3) | 0x08).toByte
    val bsize = block.length + nameB.length
    assert(bsize <= 65536)
    out(16) = ((bsize - 1) & 0xff).toByte
    out(17) = (((bsize - 1) >> 8) & 0xff).toByte
    out
  }

  test("foreign BGZF with FNAME/FCOMMENT members splits; sniff still " +
    "refuses non-BGZF gzip") {
    val conf = spark.sparkContext.hadoopConfiguration
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 10) {
      val lines = (0 until 20 + rnd.nextInt(60))
        .map(i => s"f$trial-l$i-" + ("b" * rnd.nextInt(40)))
      val text = lines.mkString("\n") + "\n"
      val dir = new org.apache.hadoop.fs.Path(
        T.scratch(SF, "bgzf_fname"), s"t$trial")
      val fs = dir.getFileSystem(conf)
      fs.mkdirs(dir)
      val outS = fs.create(
        new org.apache.hadoop.fs.Path(dir, "named.bgz"), true)
      val bytes = text.getBytes("UTF-8")
      val blockInput = 16 + rnd.nextInt(48)
      var off = 0
      while (off < bytes.length) {
        val take = math.min(blockInput, bytes.length - off)
        val plainBlock = sources.Bgzf.blockOf(bytes, off, take)
        // every other block carries an FNAME — mixed members are legal
        outS.write(if (off / blockInput % 2 == 0)
          withFname(plainBlock, s"chunk-$off.txt") else plainBlock)
        off += take
      }
      outS.write(sources.Bgzf.EofMarker)
      outS.close()
      val got = storage.readBgzfLines(dir.toString,
        targetSplitBytes = 64 + rnd.nextInt(128)).collect().toSeq
      assert(got.sorted == lines.sorted, s"trial $trial")
    }
    // FNAME-bearing BGZF sniffs as BGZF; FNAME-bearing PLAIN gzip
    // (no FEXTRA) still does not
    val named = withFname(
      sources.Bgzf.blockOf("hello".getBytes("UTF-8"), 0, 5), "x.txt")
    def asInput(b: Array[Byte]) = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(b))
    assert(sources.Bgzf.sniffBgzf(asInput(named)))
    val plainNamed = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write("hello".getBytes("UTF-8")); g.close()
      val b = bos.toByteArray
      b(3) = (b(3) | 0x08).toByte // would carry FNAME; still no FEXTRA
      b
    }
    assert(!sources.Bgzf.sniffBgzf(asInput(plainNamed)))
  }

  test("_bgzi sidecar: written at write time, serves reads with ZERO " +
    "data-file opens at plan time, falls back on staleness") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.bgzcnt.impl", classOf[CountingFileSystem].getName)
    val out = "bgzcnt://" + T.scratch(SF, "bgzf_sidecar")
    val lines = (0 until 3000).map(i => s"sc-$i-" + ("z" * (i % 30)))
    storage.writeBgzfText(lines.toDF("value").repartition(3), out,
      blockInput = 512)
    val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(conf)
    val sidecars = fs.listStatus(
      new org.apache.hadoop.fs.Path(out, "_bgzi")).toSeq
    assert(sidecars.size == 3, "one _bgzi per shard")
    // plan-time split discovery must read ONLY the sidecars, on the
    // driver
    CountingFileSystem.reset()
    val (ds, jobs) = planned(out, 2048)
    assert(jobs == 0, "sidecar-served planning must run no Spark job")
    assert(CountingFileSystem.opens(".bgz") == 0,
      s"sidecar-served planning must not open data files: " +
        s"${CountingFileSystem.snapshot}")
    assert(CountingFileSystem.opens(".bgzi") == 3)
    assert(ds.collect().sorted.toSeq == lines.sorted)
    // staleness: a sidecar recording the wrong data length is IGNORED
    // (fallback chain walk), never trusted into wrong results
    val one = sidecars.head.getPath
    val name = one.getName.stripSuffix(".bgzi")
    val dataLen = fs.getFileStatus(
      new org.apache.hadoop.fs.Path(out, name)).getLen
    val bogus = fs.create(one, true)
    val dos = new java.io.DataOutputStream(bogus)
    sources.Bgzf.writeBgzi(dos, dataLen + 999, Seq((0L, 28))); dos.close()
    CountingFileSystem.reset()
    val (ds2, jobs2) = planned(out, 2048)
    assert(jobs2 == 1, "the stale file's chain walk is one Spark job")
    assert(CountingFileSystem.opens(".bgz") == 1,
      "exactly the stale file re-walks its chain")
    assert(ds2.collect().sorted.toSeq == lines.sorted)
  }

  test("single-file BGZF sink: executor parts + driver splice = one " +
    "spec-valid .bgz, split-read through the merged _bgzi") {
    val dir = T.scratch(SF, "bgzf_single")
    val file = dir + "/all.bgz"
    val lines = (0 until 4000).map(i => s"sf-$i-" + ("q" * (i % 25)))
    storage.writeSingleBgzf(lines.toDF("value").repartition(4), file,
      blockInput = 512)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(file).getFileSystem(conf)
    assert(fs.getFileStatus(new org.apache.hadoop.fs.Path(file)).isFile)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(file + ".parts")),
      "temp parts not cleaned")
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      dir, "_bgzi/all.bgz.bgzi")), "merged sidecar missing")
    // the spliced file ends with the spec EOF marker
    val len = fs.getFileStatus(new org.apache.hadoop.fs.Path(file)).getLen
    val in = fs.open(new org.apache.hadoop.fs.Path(file))
    val tailB = new Array[Byte](sources.Bgzf.EofMarker.length)
    in.seek(len - tailB.length); in.readFully(tailB); in.close()
    assert(java.util.Arrays.equals(tailB, sources.Bgzf.EofMarker))
    // split-parallel read of ONE file, exactly-once across part seams,
    // planned on the driver from the merged sidecar
    val (back, jobs) = planned(file, 4096)
    assert(jobs == 0, "the merged sidecar must plan without a Spark job")
    assert(back.rdd.getNumPartitions > 4,
      s"single file must fan out, got ${back.rdd.getNumPartitions}")
    assert(back.collect().sorted.toSeq == lines.sorted)
    // an empty frame still yields a valid (empty) file
    val empty = dir + "/empty.bgz"
    storage.writeSingleBgzf(lines.toDF("value").limit(0), empty)
    assert(storage.readBgzfLines(empty).collect().isEmpty)
  }

  test("merged _bgzi byte-equals an independent re-index of the " +
    "spliced file — multi-part merges incl. empty parts") {
    // the BaiMergingTest oracle style: the offset-shifting merge
    // (IndexFileMerger analogue) is verified against a from-scratch
    // re-index of the FINAL artifact, so a shift bug cannot hide
    // behind a read path that tolerates it
    val dir = T.scratch(SF, "bgzf_bgzi_oracle")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)

    def mergedSidecar(file: String): Array[Byte] = {
      val p = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(file).getParent,
        s"_bgzi/${new org.apache.hadoop.fs.Path(file).getName}.bgzi")
      val st = fs.getFileStatus(p)
      val in = fs.open(p)
      val b = new Array[Byte](st.getLen.toInt)
      try in.readFully(b) finally in.close()
      b
    }
    def reindex(file: String): Array[Byte] = {
      val p = new org.apache.hadoop.fs.Path(file)
      val len = fs.getFileStatus(p).getLen
      val in = fs.open(p)
      val blocks = try sources.Bgzf.blockOffsets(in, len)
      finally in.close()
      val bos = new java.io.ByteArrayOutputStream()
      val dos = new java.io.DataOutputStream(bos)
      sources.Bgzf.writeBgzi(dos, len, blocks); dos.close()
      bos.toByteArray
    }

    // 6 hash partitions over 4 distinct keys → at least two EMPTY
    // partitions interleaved among the part writers
    val lines = (0 until 5000).map(i => s"ix-$i-" + ("w" * (i % 40)))
    val df = lines.zipWithIndex.toDF("value", "i")
      .withColumn("k", col("i") % 4)
      .repartition(6, col("k")).select(col("value"))
    val file = dir + "/merged.bgz"
    storage.writeSingleBgzf(df, file, blockInput = 700)
    val merged = mergedSidecar(file)
    assert(java.util.Arrays.equals(merged, reindex(file)),
      "merged sidecar differs from an independent re-index")
    // sanity: many blocks from many parts were actually merged
    val nBlocks = sources.Bgzf.readBgzi(new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(merged))).get._2.size
    assert(nBlocks > 20, s"expected a multi-block merge, got $nBlocks")
    assert(storage.readBgzfLines(file, targetSplitBytes = 4096)
      .collect().sorted.toSeq == lines.sorted)

    // the ALL-EMPTY merge: EOF-marker-only file, zero-block index
    val emptyF = dir + "/empty_oracle.bgz"
    storage.writeSingleBgzf(lines.toDF("value").limit(0), emptyF)
    assert(java.util.Arrays.equals(mergedSidecar(emptyF),
      reindex(emptyF)),
      "empty-merge sidecar differs from an independent re-index")
  }
}

/** RawLocalFileSystem under a dedicated scheme that counts open()
  * calls by file suffix — the instrument proving sidecar-served BGZF
  * planning touches zero data files (local mode: executor threads
  * share the JVM, so the static counters see every task's opens).
  */
class CountingFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("bgzcnt:///")
  override def getScheme: String = "bgzcnt"
  override def open(p: org.apache.hadoop.fs.Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    CountingFileSystem.record(p.getName)
    super.open(p, bufferSize)
  }
}

object CountingFileSystem {
  private val counts =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private[graft] def record(name: String): Unit =
    counts.merge(name, 1, (a, b) => a + b)
  def reset(): Unit = counts.clear()
  def opens(suffix: String): Int = {
    val it = counts.entrySet().iterator()
    var n = 0
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey.endsWith(suffix)) n += e.getValue
    }
    n
  }
  def snapshot: String = counts.toString
}
