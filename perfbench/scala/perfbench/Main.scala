package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, when}

import graft.GraftExtensions

/** The benchmark's JVM side: sets up, runs the measured window as a
  * closed loop with one client, checks storage results, dumps query
  * results for the oracle check, and writes everything it measured as
  * one JSON file. perfbench/run.py drives it and computes the metrics.
  *
  * Arguments: workload seed seconds trace(0|1) outJson workDir dataDir
  * launchEpochMs.
  */
object Main {
  final case class OpRun(name: String, pass: Int, traced: Boolean,
      secs: Double, error: Option[String])

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, outJson, work, dir, launchS) = args
    val (seed, seconds, trace) = (seedS.toLong, secondsS.toDouble, traceS == "1")
    val ops = Ops.workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = session(work)
    // JVM launch to a ready session counts in the set-up
    val sessionSecs = (System.currentTimeMillis() - launchS.toLong) / 1e3
    val tr = new Tracer(spark)
    var opSeq = 0

    // Every prepare() in src/main builds its fixtures under the program's
    // fixed scratch root (graft.T.scratch), outside the benchmark's
    // directory, so the benchmark calls none and runs only ops that need
    // no fixture. An op that writes there all the same counts as failed.
    def scratchStamp(dir: String): Long = {
      val f = new File(graft.T.scratch(dir, "x")).getParentFile
      if (f.exists) f.lastModified max 1L else 0L
    }

    def delete(path: String): Unit = {
      val p = Paths.get(path)
      if (Files.exists(p))
        Files.walk(p).iterator.asScala.toSeq.reverse.foreach(Files.delete)
    }

    def diskUse(path: String): (Long, Long) = {
      val p = Paths.get(path)
      if (!Files.exists(p)) (0L, 0L)
      else {
        val files = Files.walk(p).iterator.asScala.filter(Files.isRegularFile(_)).toSeq
        (files.size.toLong, files.map(Files.size).sum)
      }
    }

    /** One op execution, timed; then, outside the clock, the release of
      * what it persisted (as graft.Bench does) and, with `check`, the
      * storage check. With `dump` a query writes its result under
      * check/<name> for the oracle in place of the noop sink.
      */
    def execute(op: Op, dir: String, rng: Random, opId: Int,
        dump: Boolean, check: Boolean): (Double, Option[String]) = {
      opSeq += 1
      val out = if (dump && op.isInstanceOf[Ops.Query]) s"$work/check/${op.name}"
        else s"$work/out/$opSeq"
      val stamp = scratchStamp(dir)
      val t0 = System.nanoTime()
      val res = try Right(tr.op(opId, op.name)(op.run(tr, dir, out, rng, dump)))
        catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}") }
      val secs = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      val checked = res.flatMap {
        case Some(d) if check || tr.recording =>
          try {
            val bad = if (check) d.check() else None
            if (tr.recording) {
              tr.resultRows(opId) = d.resultRows()
              tr.onDisk(opId) = diskUse(out)
            }
            bad.toLeft(())
          } catch { case e: Throwable => Left(s"check failed: $e") }
        case _ => Right(())
      }
      if (out.startsWith(s"$work/out/")) delete(out)
      val outside = if (scratchStamp(dir) != stamp)
        Some(s"wrote under ${new File(graft.T.scratch(dir, "x")).getParent}") else None
      (secs, checked.left.toOption.orElse(outside))
    }

    // ---- set-up: JVM launch, session creation and the first execution
    // of every op, in list order: the warm-up pass, which counts in the
    // set-up time and not in the window. Its outputs are checked outside
    // the clock: queries dump their result for the oracle, storage round
    // trips are compared with plain Spark.
    val setupErrors = ArrayBuffer[String]()
    val setupRng = new Random(seed)
    val setupSecs = sessionSecs + ops.map { op =>
      val (secs, err) = execute(op, dir, setupRng, -1, dump = true, check = true)
      err.foreach(e => setupErrors += s"${op.name}: $e")
      secs
    }.sum

    // CPU time of the JVM's Java threads (driver, scheduler, executor
    // tasks, shuffle and listener threads), by thread; the JIT compiler
    // and GC threads are not Java threads. Time the hypervisor steals
    // is not counted, which keeps the figure steady on a shared machine
    // where wall time is not.
    val threads = ManagementFactory.getThreadMXBean
    def threadCpuNs(): Map[Long, Long] =
      threads.getAllThreadIds.map(id => id -> threads.getThreadCpuTime(id))
        .filter(_._2 >= 0).toMap
    def cpuSince(start: Map[Long, Long]): Double =
      threadCpuNs().map { case (id, ns) => ns - start.getOrElse(id, 0L) }.sum / 1e9

    // ---- measured window: whole passes, each a seeded permutation of
    // the op list, until the ops have taken `seconds` (checks between
    // ops do not count). A traced run traces passes 1, 2, 5, 6, ... so it
    // measures its own overhead against the untraced ones and traces
    // both variants of the alternating storage ops.
    val rng = new Random(seed + 1)
    val runs = ArrayBuffer[OpRun]()
    val passWalls = ArrayBuffer[(Boolean, Double)]()
    val passCpu = ArrayBuffer[Double]()
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs: Long = gc.map(_.getCollectionTime max 0L).sum
    var tracedGcMs = 0L
    val w0 = System.nanoTime()
    var pass = 0
    while (runs.map(_.secs).sum < seconds || (trace && pass < 3)) {
      val traced = trace && (pass % 4 == 1 || pass % 4 == 2)
      if (traced) tr.start()
      val g0 = gcMs
      val c0 = threadCpuNs()
      rng.shuffle(ops).foreach { op =>
        // the first pass checks the storage ops' other variant
        val (secs, err) = execute(op, dir, rng, runs.size, dump = false, check = pass == 0)
        runs += OpRun(op.name, pass, traced, secs, err)
      }
      passWalls += ((traced, runs.filter(_.pass == pass).map(_.secs).sum))
      passCpu += cpuSince(c0)
      if (traced) { tr.stop(); tracedGcMs += gcMs - g0 }
      pass += 1
    }
    val windowSecs = (System.nanoTime() - w0) / 1e9
    // what the window left live on the heap; the second collection
    // takes what Spark's cleaner released after the first
    System.gc(); Thread.sleep(200); System.gc()
    val liveHeapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    // ---- environment probe: graft.Bench's fixed CPU job at a tenth of
    // its size, so a run on a loaded machine can be recognised
    val c0 = System.nanoTime()
    spark.range(0, 40000000L, 1, cpus)
      .selectExpr("sum(xxhash64(id, id * 7919) % 1000000) as h")
      .write.format("noop").mode("overwrite").save()
    val calib = (System.nanoTime() - c0) / 1e9

    // self-test: the storage check must trip on a wrong expectation
    val selfTest = ArrayBuffer[String]()
    if (workload == "disq_roundtrip") {
      val t = spark.read.parquet(s"$dir/reads.parquet")
      val d = Ops.digest(t)
      if (d == Ops.digest(t.limit(t.count().toInt - 1)))
        selfTest += "digest check does not trip on a missing row"
      // one value of one row changed, the row count unchanged
      val first = t.select("name").orderBy("name").head().getString(0)
      val changed = t.withColumn("mapq",
        when(col("name") === first, col("mapq") + 1).otherwise(col("mapq")))
      if (d == Ops.digest(changed))
        selfTest += "digest check does not trip on a changed value"
    }
    val reads = new File(s"$dir/reads.parquet")
    val layers =
      if (!trace) Seq.empty[(String, Double)]
      else Layers.compute(tr, passWalls.toSeq, tracedGcMs, calib,
        if (reads.exists) reads.length else 0L, selfTest)

    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
    val hwmKb = "VmHWM:\\s+(\\d+)".r.findFirstMatchIn(status).map(_.group(1).toDouble).getOrElse(0.0)

    val result = ListMap[String, Any](
      "setup_s" -> setupSecs, "setup_errors" -> setupErrors.toSeq,
      "session_s" -> sessionSecs, "window_s" -> windowSecs,
      "passes" -> passWalls.map(_._2).toSeq,
      "pass_cpu_s" -> passCpu.toSeq,
      "ops" -> runs.toSeq.map(r => ListMap("name" -> r.name, "pass" -> r.pass,
        "traced" -> r.traced, "s" -> r.secs, "error" -> r.error)),
      "oracle" -> ops.collect { case q: Ops.Query =>
        q.name -> graft.SparkEntry.oracleSql.get(q.name) }.toMap,
      "peak_rss_mb" -> hwmKb / 1024, "live_heap_mb" -> liveHeapMb,
      "env" -> ListMap("nproc" -> cpus, "local_n" -> cpus,
        "driver_memory_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
        "jdk" -> System.getProperty("java.version"), "calib_s" -> calib),
      "layers" -> ListMap(layers: _*), "self_test" -> selfTest.toSeq)
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new File(outJson), result)
    spark.stop()
  }
}
