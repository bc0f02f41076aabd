package graft.sources

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, T}

/** Predicate-scoped zone-map sidecar loading — the zone half of the
  * lazy/scoped contract the Bloom half has had since round 6: a
  * query over a large table must pay plan-time driver bytes
  * proportional to files × FILTERED columns, never files × the whole
  * indexed-column inventory (the last 100×-scale ceiling flagged in
  * round 7).
  */
class ZoneScopeSpec extends AnyFunSuite {
  import SparkTestSession.{spark, SF}
  import spark.implicits._

  private val st = GraftStorage(spark)

  private def fresh(name: String): String = {
    val out = T.scratch(SF, name)
    val fs = new Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(out), true)
    out
  }

  /** Column sets the parquet scans under `body` were asked to
    * MATERIALIZE (`FileSourceScanExec.requiredSchema`). Byte-level IO
    * accounting is a dead end on local disks (the task input metric
    * reports split length; nio-path local reads bypass Hadoop FS
    * statistics) — but parquet stores column chunks contiguously, so
    * a scan's required schema IS what bounds its data bytes.
    */
  private def scanSchemas[A](body: => A): (A, Seq[Set[String]]) = {
    val captured =
      java.util.Collections.synchronizedList(
        new java.util.ArrayList[Set[String]]())
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        qe.executedPlan.collectLeaves().foreach {
          case s: org.apache.spark.sql.execution.FileSourceScanExec =>
            captured.add(s.requiredSchema.fieldNames.toSet)
          case _ => ()
        }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      val r = body
      // the execution listener dispatches async
      val deadline = System.nanoTime + 10L * 1000 * 1000 * 1000
      while (captured.isEmpty && System.nanoTime < deadline)
        Thread.sleep(50)
      import scala.jdk.CollectionConverters._
      (r, captured.asScala.toSeq)
    } finally spark.listenerManager.unregister(l)
  }

  /** A synthetic 10k-entry `_zonemap` sidecar with four fat string
    * zone columns — no data files needed: the claim under test is
    * what the LOADER reads, which keys off the sidecar alone.
    */
  private def synthSidecar(out: String, files: Int = 10000): String = {
    val dir = s"$out/_zonemap"
    // values must be INCOMPRESSIBLE (sha chains), or snappy erases
    // the per-column bytes and the scoping measurement below reads
    // footer overhead only
    def fat(tag: String) = concat(
      sha2(concat(col("i").cast("string"), lit(tag + "1")), 256),
      sha2(concat(col("i").cast("string"), lit(tag + "2")), 256),
      sha2(concat(col("i").cast("string"), lit(tag + "3")), 256),
      sha2(concat(col("i").cast("string"), lit(tag + "4")), 256))
    (0 until files).toDF("i")
      .select(
        concat(lit("/synth/part-"), col("i"), lit(".parquet")).as("file"),
        concat(lit("a"), col("i"), lit("x")).as("a__min"),
        fat("a").as("a__max"),
        fat("bmin").as("b__min"), fat("bmax").as("b__max"),
        fat("cmin").as("c__min"), fat("cmax").as("c__max"),
        fat("dmin").as("d__min"), fat("dmax").as("d__max"))
      .repartition(4)
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("zone sidecar loads lazily, column-scoped, at 10k files: " +
      "bytes scale with the predicate's columns, not the table") {
    val out = fresh("zonescope_synth")
    val dir = synthSidecar(out)

    // (a) the column inventory is metadata-only: resolving `columns`
    // materializes zero zone rows
    val zs = st.zoneSidecarFor(Seq(dir))
    assert(zs.columns == Set("a", "b", "c", "d"))
    assert(zs.loadedColumns.isEmpty,
      "reading the column inventory must not load zone rows")

    // (b) a one-column consult loads exactly that column, for every
    // file
    val za = zs.load(Set("a"))
    assert(zs.loadedColumns == Set("a"))
    assert(za.size == 10000)
    assert(za.values.forall(_.keySet == Set("a")),
      "a scoped load must not materialize unrequested columns")
    assert(za("/synth/part-7.parquet")("a")._1.toString.startsWith("a7x"))

    // (c) consulting an unindexed column loads nothing new
    zs.load(Set("nope"))
    assert(zs.loadedColumns == Set("a"))

    // (d) widening to a second column loads only the delta; already-
    // loaded columns serve from cache
    val zab = zs.load(Set("a", "b"))
    assert(zs.loadedColumns == Set("a", "b"))
    assert(zab.values.forall(_.keySet == Set("a", "b")))

    // (e) THE SCALE CLAIM: the load job's parquet scan materializes
    // ONLY `file` + the requested columns' __min/__max — 3 of the 17
    // sidecar columns for a one-column predicate. Parquet column
    // chunks are contiguous, so this is exactly what bounds the
    // load's data bytes: 10⁶ files × a dozen indexed columns cannot
    // be dragged to the driver for a single-column predicate.
    val p1 = st.zoneSidecarFor(Seq(dir)); p1.columns
    val (_, schemas) = scanSchemas(p1.load(Set("a")))
    val loadScans = schemas.filter(_.contains("file"))
    assert(loadScans.nonEmpty, s"no load scan captured: $schemas")
    assert(loadScans.forall(_ == Set("file", "a__min", "a__max")),
      s"the scoped load scanned more than its columns: $loadScans")

    // (f) the streamed (size-gated) regime returns the identical map
    spark.conf.set("spark.graft.zoneSidecar.scopedLoadBytes", "0")
    try {
      val ps = st.zoneSidecarFor(Seq(dir))
      assert(ps.load(Set("a")) == za)
    } finally
      spark.conf.unset("spark.graft.zoneSidecar.scopedLoadBytes")
  }

  test("readPruned loads zone rows only when a query filters, scoped " +
      "to the filtered columns; pruning stays live") {
    val sf01 = "/root/testdata/sf0.1"
    val out = T.scratch(sf01, "zonescope_pruned")
    val li = T.t(spark, sf01, "lineitem")
      .select($"l_orderkey", $"l_partkey", $"l_quantity", $"l_shipdate")
    li.repartitionByRange(32, $"l_orderkey")
      .write.mode("overwrite").parquet(out)
    st.buildZoneMap(out, Seq("l_orderkey", "l_partkey", "l_quantity"))

    def indexOf(df: org.apache.spark.sql.DataFrame): ZoneMapFileIndex =
      org.apache.spark.sql.graftbridge.Bridge.analyzed(df)
        .collect {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            l.relation.asInstanceOf[
              org.apache.spark.sql.execution.datasources.HadoopFsRelation]
              .location.asInstanceOf[ZoneMapFileIndex]
        }.head

    // unfiltered read: zero zone rows materialized
    val plain = st.readPruned(out)
    assert(plain.count() == li.count())
    assert(indexOf(plain).zoneSidecarForTests.loadedColumns.isEmpty,
      "an unfiltered read must not load any zone rows")

    // a one-column range predicate loads exactly that column — and
    // still prunes files (the table is range-clustered on it)
    val q = st.readPruned(out).filter($"l_orderkey" < 1000)
    assert(q.count() == li.filter($"l_orderkey" < 1000).count())
    assert(indexOf(q).zoneSidecarForTests.loadedColumns ==
      Set("l_orderkey"))
    q.collect()
    val scan = q.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .get
    assert(scan.metrics("numFiles").value <= 4,
      s"expected <=4 of 32 files after zone pruning, " +
        s"got ${scan.metrics("numFiles").value}")
  }

  test("mixed statsCols across commits: a column uncovered by an " +
      "older sidecar is NOT mistaken for provably-all-null") {
    // mergeSchema surfaces a missing column as null — identical to
    // indexed-but-all-null. The loader must consult each sidecar
    // part's own footer schema: otherwise MIN/MAX answers from the
    // covered commits only (wrong when the true extremum lives in
    // the uncovered one) and IsNotNull pruning drops live files.
    val out = fresh("zonescope_mixed")
    val o = T.t(spark, SF, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    // the true MIN(o_custkey) lives in commit 1 — which does NOT
    // index o_custkey
    val minCust = o.agg(min($"o_custkey")).head().getLong(0)
    st.writeVersioned(o.filter($"o_custkey" <= 100), out,
      append = false, statsCols = Seq("o_orderkey"))
    st.writeVersioned(o.filter($"o_custkey" > 100), out,
      append = true, statsCols = Seq("o_orderkey", "o_custkey"))
    GraftCatalog.register(spark)
    assert(spark.sql(s"SELECT MIN(o_custkey) FROM graft.`$out`")
      .head().getLong(0) == minCust,
      "meta MIN over a partially-covered column must not answer " +
        "from the covered commits alone")
    // the covered column still takes the manifest fast path
    assert(spark.sql(s"SELECT MIN(o_orderkey) FROM graft.`$out`")
      .head().getLong(0) == o.agg(min($"o_orderkey")).head().getLong(0))
    // and IsNotNull / point filters keep commit-1 files alive
    assert(st.readVersionedPruned(out)
      .filter($"o_custkey".isNotNull).count() == o.count())
    assert(st.readVersionedPruned(out)
      .filter($"o_custkey" === minCust).count() ==
      o.filter($"o_custkey" === minCust).count())
  }

  test("versioned pruned read scopes its stats-in-log load to the " +
      "query's columns") {
    val out = fresh("zonescope_versioned")
    val o = T.t(spark, SF, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    st.writeVersioned(o.repartitionByRange(8, $"o_orderkey"), out,
      append = false, statsCols = Seq("o_orderkey", "o_custkey"))
    val parts = st.versionedScanParts(out, 0L)
    assert(parts.zones.columns == Set("o_orderkey", "o_custkey"))
    assert(parts.zones.loadedColumns.isEmpty,
      "versionedScanParts itself must not materialize stats rows")
    val q = st.readVersionedPruned(out).filter($"o_orderkey" < 500)
    assert(q.count() == o.filter($"o_orderkey" < 500).count())
  }
}
