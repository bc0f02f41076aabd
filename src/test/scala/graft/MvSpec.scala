package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.scalatest.funsuite.AnyFunSuite

/** Materialized-view rewrite gates (plans/MaterializedView.scala):
  * values must match the base-table computation exactly, AND the plan
  * must actually read the summary parquet — a rewrite that silently
  * declines would still pass the value check via the fact scan.
  */
class MvSpec extends AnyFunSuite {
  import SparkTestSession.{spark, SF}
  import org.apache.spark.sql.functions._
  import spark.implicits._

  private def scannedPaths(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    df.collect() // finalize AQE before reading the executed plan
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    scans(df.queryExecution.executedPlan)
      .flatMap(_.relation.location.rootPaths.map(_.toString))
  }

  test("mv_rollup reads the COARSEST matching summary, and matches base") {
    val df = operators.Mv.mvRollup(spark, SF)
    val paths = scannedPaths(df)
    // returnflag-only grouping: both summaries can answer; the
    // selector must pick the smaller returnflag-only one
    assert(paths.nonEmpty &&
      paths.forall(_.contains(operators.Mv.CoarseMvName)),
      s"expected the coarse MV scan, got: $paths")
    val base = T.t(spark, SF, "lineitem")
      .groupBy($"l_returnflag")
      .agg(T.dsum($"l_quantity").as("sum_qty"), count(lit(1)).as("cnt"))
      .orderBy($"l_returnflag")
    assert(df.collect().toSeq == base.collect().toSeq)
  }

  test("mv_rollup_filter applies the grouping-column filter on MV rows " +
      "(fine MV — the filter needs l_linestatus)") {
    val df = operators.Mv.mvRollupFilter(spark, SF)
    val paths = scannedPaths(df)
    assert(paths.nonEmpty && paths.forall(_.contains(operators.Mv.MvName)),
      s"expected only MV scans, got: $paths")
    val base = T.t(spark, SF, "lineitem")
      .filter($"l_linestatus" === "F")
      .groupBy($"l_returnflag")
      .agg(T.dsum($"l_extendedprice").as("sum_price"),
        min($"l_shipdate").as("min_ship"), max($"l_shipdate").as("max_ship"))
      .orderBy($"l_returnflag")
    assert(df.collect().toSeq == base.collect().toSeq)
  }

  test("mv_fallback declines: unmapped measure keeps the fact scan") {
    val df = operators.Mv.mvFallback(spark, SF)
    val paths = scannedPaths(df)
    assert(paths.exists(_.contains("lineitem.parquet")),
      s"expected fact-table scan, got: $paths")
    assert(!paths.exists(_.contains(operators.Mv.MvName)), paths.toString)
  }

  test("unrelated aggregate shapes never rewrite (avg of non-measure, " +
      "non-group filter)") {
    operators.Mv.ensureMv(spark, SF)
    // filter on a NON-grouping column must block the rewrite
    val filtered = T.t(spark, SF, "lineitem")
      .filter($"l_quantity" > 10)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("cnt"))
    val p = scannedPaths(operators.Mv.withMvRewrite(filtered))
    assert(p.exists(_.contains("lineitem.parquet")), p.toString)
  }

  test("session-conf route: spark.graft.mv.enabled rewrites a plain query") {
    operators.Mv.ensureMv(spark, SF)
    spark.conf.set(plans.MaterializedViewRule.EnabledConf, "true")
    try {
      val df = T.t(spark, SF, "lineitem")
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(T.dsum($"l_quantity").as("sum_qty"))
        .orderBy($"l_returnflag", $"l_linestatus")
      val paths = scannedPaths(df)
      assert(paths.nonEmpty && paths.forall(_.contains(operators.Mv.MvName)),
        s"optimizer rule should have rewritten to the MV: $paths")
    } finally spark.conf.set(plans.MaterializedViewRule.EnabledConf, "false")
  }

  test("HLL sketch rollup: union of MV partials equals the direct " +
      "sketch AND the exact distinct count") {
    val df = operators.Mv.mvDistinctRollup(spark, SF)
    val paths = scannedPaths(df)
    assert(paths.nonEmpty && paths.forall(_.contains(operators.Mv.MvName)),
      s"expected only MV scans, got: $paths")
    def direct(lgK: Int) = T.t(spark, SF, "lineitem")
      .groupBy($"l_returnflag")
      .agg(hll_sketch_estimate(hll_sketch_agg($"l_suppkey", lgK)).as("n_supp"),
        count(lit(1)).as("cnt"))
      .orderBy($"l_returnflag")
    assert(df.collect().toSeq == direct(operators.Mv.HllLgK).collect().toSeq)
    // a sketch at another lgConfigK cannot be answered from the MV's
    val otherK = operators.Mv.withMvRewrite(direct(12))
    assert(!scannedPaths(otherK).exists(_.contains(operators.Mv.MvName)))
    val exact = T.t(spark, SF, "lineitem")
      .groupBy($"l_returnflag")
      .agg(countDistinct($"l_suppkey").as("n_supp"), count(lit(1)).as("cnt"))
      .orderBy($"l_returnflag")
    assert(df.collect().toSeq == exact.collect().toSeq)
  }

  test("HAVING + sort built before the rewrite still resolve " +
      "(exprId preservation) and read the MV") {
    val df = operators.Mv.mvRollupHaving(spark, SF)
    val paths = scannedPaths(df)
    assert(paths.nonEmpty && paths.forall(_.contains(operators.Mv.MvName)),
      s"expected only MV scans, got: $paths")
    val base = T.t(spark, SF, "lineitem")
      .groupBy($"l_linestatus")
      .agg(T.dsum($"l_extendedprice").as("sum_price"),
        count(lit(1)).as("cnt"))
      .filter($"sum_price" > 5e7)
      .orderBy($"l_linestatus")
    assert(df.collect().toSeq == base.collect().toSeq)
  }

  test("count rewrite is exact over group subsets (sum of partial counts)") {
    operators.Mv.ensureMv(spark, SF)
    val df = operators.Mv.withMvRewrite(
      T.t(spark, SF, "lineitem").groupBy($"l_linestatus")
        .agg(count(lit(1)).as("cnt"))).orderBy($"l_linestatus")
    val base = T.t(spark, SF, "lineitem").groupBy($"l_linestatus")
      .agg(count(lit(1)).as("cnt")).orderBy($"l_linestatus")
    assert(df.collect().toSeq == base.collect().toSeq)
  }

  test("CUBE rewrites through the MV: Expand over partial rows, " +
      "grouping flags intact") {
    val df = operators.Mv.mvRollupSets(spark, SF)
    val paths = scannedPaths(df)
    assert(paths.nonEmpty && paths.forall(_.contains(operators.Mv.MvName)),
      s"expected only MV scans, got: $paths")
    val base = T.t(spark, SF, "lineitem")
      .cube($"l_returnflag", $"l_linestatus")
      .agg(T.dsum($"l_quantity").as("sum_qty"), count(lit(1)).as("cnt"),
        grouping($"l_returnflag").cast("int").as("g_rf"),
        grouping($"l_linestatus").cast("int").as("g_ls"))
      .orderBy($"l_returnflag".asc_nulls_first,
        $"l_linestatus".asc_nulls_first)
    assert(df.collect().toSeq == base.collect().toSeq)
  }

  test("join rollup: fact side of lineitem JOIN orders answers from " +
      "the per-orderkey summary") {
    val df = operators.Mv.mvJoinRollup(spark, SF)
    val paths = scannedPaths(df)
    assert(paths.exists(_.contains(operators.Mv.JoinMvName)),
      s"expected the join-key MV scan, got: $paths")
    assert(!paths.exists(_.contains("lineitem.parquet")),
      s"fact table must not scan: $paths")
    val base = T.t(spark, SF, "lineitem")
      .join(T.t(spark, SF, "orders"), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(T.dsum($"l_extendedprice").as("sum_price"),
        count(lit(1)).as("cnt"))
      .orderBy($"o_orderpriority")
    assert(df.collect().toSeq == base.collect().toSeq)
  }

  test("join rollup declines dim-side aggregates (partial rows would " +
      "undercount them)") {
    operators.Mv.ensureMv(spark, SF)
    val df = operators.Mv.withMvRewrite(
      T.t(spark, SF, "lineitem")
        .join(T.t(spark, SF, "orders"), $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority")
        .agg(T.dsum($"o_totalprice").as("sum_total")))
      .orderBy($"o_orderpriority")
    val paths = scannedPaths(df)
    assert(paths.exists(_.contains("lineitem.parquet")),
      s"dim aggregate must keep the fact scan: $paths")
    val base = T.t(spark, SF, "lineitem")
      .join(T.t(spark, SF, "orders"), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(T.dsum($"o_totalprice").as("sum_total"))
      .orderBy($"o_orderpriority")
    assert(df.collect().toSeq == base.collect().toSeq)
  }

  test("derived grouping: month(l_shipdate) rollup answers from the " +
      "time-grained summary, filter on the derived expr applies") {
    val df = operators.Mv.mvTimeRollup(spark, SF)
    val paths = scannedPaths(df)
    assert(paths.nonEmpty &&
      paths.forall(_.contains(operators.Mv.MonthMvName)),
      s"expected the month MV scan, got: $paths")
    val base = T.t(spark, SF, "lineitem")
      .groupBy(month($"l_shipdate").as("ship_month"))
      .agg(T.dsum($"l_extendedprice").as("sum_price"),
        count(lit(1)).as("cnt"))
      .orderBy($"ship_month")
    assert(df.collect().toSeq == base.collect().toSeq)
    // a filter on the SAME derived expression maps onto MV rows
    val filtered = operators.Mv.withMvRewrite(
      T.t(spark, SF, "lineitem")
        .filter(month($"l_shipdate") === 6)
        .groupBy(month($"l_shipdate").as("ship_month"))
        .agg(count(lit(1)).as("cnt")))
    assert(scannedPaths(filtered)
      .forall(_.contains(operators.Mv.MonthMvName)))
    val baseF = T.t(spark, SF, "lineitem")
      .filter(month($"l_shipdate") === 6)
      .groupBy(month($"l_shipdate").as("ship_month"))
      .agg(count(lit(1)).as("cnt"))
    assert(filtered.collect().toSeq == baseF.collect().toSeq)
  }

  test("refreshMv rebuilds ALL summaries and re-arms the rewrite") {
    // destroy the month MV first: refresh once silently skipped it
    // (the shared-builder refactor makes that drift impossible, and
    // this pins it) — a stale time rollup would answer wrong sums
    // while claiming freshness
    val monthPath = new org.apache.hadoop.fs.Path(
      T.scratch(SF, operators.Mv.MonthMvName))
    val fs = monthPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(monthPath, true)
    operators.Mv.refreshMv(spark, SF)
    assert(fs.exists(monthPath), "refresh must rebuild the month MV")
    val df = operators.Mv.mvRollup(spark, SF)
    assert(scannedPaths(df).forall(_.contains(operators.Mv.CoarseMvName)))
    val fine = operators.Mv.mvRollupFilter(spark, SF)
    assert(scannedPaths(fine).forall(_.contains(operators.Mv.MvName)))
    // the rebuilt month MV answers the time rollup correctly
    val month = operators.Mv.mvTimeRollup(spark, SF).collect()
    assert(month.length == 12)
  }

  test("staleness guard: a changed source declines the rewrite instead " +
      "of answering from an out-of-date summary") {
    import org.apache.spark.sql.graftbridge.Bridge
    val src = T.scratch(SF, "mv_stale_source")
    T.t(spark, SF, "lineitem").limit(1000)
      .write.mode("overwrite").parquet(src)
    val mvp = T.scratch(SF, "mv_stale_summary")
    spark.read.parquet(src).groupBy($"l_returnflag")
      .agg(count(lit(1)).as("cnt"))
      .write.mode("overwrite").parquet(mvp)
    plans.MvCatalog.register(src, plans.MvCatalog.MvDef(
      name = "mv_stale_summary",
      plan = Bridge.analyzed(spark.read.parquet(mvp)),
      groupCols = Set("l_returnflag"),
      sums = Map.empty, countCol = Some("cnt"),
      mins = Map.empty, maxs = Map.empty,
      sourceFingerprint = Some(plans.MvCatalog.fingerprint(src))))
    def q = operators.Mv.withMvRewrite(
      spark.read.parquet(src).groupBy($"l_returnflag")
        .agg(count(lit(1)).as("cnt"))).orderBy($"l_returnflag")
    assert(scannedPaths(q).forall(_.contains("mv_stale_summary")),
      "fresh source must rewrite")
    // the fact table changes: rewrite must fall back to the base scan
    // and the answer must reflect the NEW data
    T.t(spark, SF, "lineitem").limit(10)
      .write.mode("append").parquet(src)
    val after = q
    assert(scannedPaths(after).forall(_.contains("mv_stale_source")),
      "stale summary must not answer")
    assert(after.agg(sum($"cnt")).collect()(0).getLong(0) == 1010L)
  }
}
