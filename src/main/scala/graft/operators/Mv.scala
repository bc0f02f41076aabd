package graft.operators

import graft.{Fixtures, QueryModule, T}
import graft.T.{dsum, sqlDsum}
import graft.plans.{MaterializedViewRewrite, MvCatalog}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.DecimalType

/** Materialized-view queries — the summary-table rewrite exercised
  * end to end (plans/MaterializedView.scala). One MV over lineitem
  * grouped by (l_returnflag, l_linestatus) answers:
  *
  *   - `mv_rollup`        — rollup to a SUBSET of the MV's grouping
  *     columns (group by l_returnflag alone): partial sums re-summed,
  *     counts re-counted; the oracle computes from the BASE table, so
  *     the rewrite must be value-exact.
  *   - `mv_rollup_filter` — a grouping-column filter applied to MV
  *     rows instead of the fact scan.
  *   - `mv_fallback`      — an aggregate the MV cannot answer
  *     (SUM(l_tax) is not a stored measure): the rewrite must NOT
  *     fire and the query falls back to the fact table, still
  *     correct. Guards against false-positive matches.
  *
  * MvSpec pins the plan side: the first two scan the MV parquet (not
  * lineitem), the third scans lineitem; plus the session-conf route.
  */
object Mv extends QueryModule {

  val MvName = "mv_lineitem_rfls"
  val CoarseMvName = "mv_lineitem_rf_only"
  val JoinMvName = "mv_lineitem_by_okey"
  val MonthMvName = "mv_lineitem_month"
  private val SumCast = DecimalType(18, 2)

  /** ONE aggregation definition per MV, shared by the initial build
    * (ensureMv's Fixtures blocks) and REFRESH's forced rebuild —
    * duplicated definitions drifted once (refresh silently skipped
    * the month MV, leaving the time rollup stale-but-trusted after a
    * source change), so the builders are the single source of truth.
    */
  private def buildFine(s: SparkSession, dir: String) = {
    import s.implicits._
    T.t(s, dir, "lineitem")
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        sum($"l_quantity".cast(SumCast)).as("sum_qty"),
        sum($"l_extendedprice".cast(SumCast)).as("sum_price"),
        count(lit(1)).as("cnt"),
        min($"l_shipdate").as("min_ship"),
        max($"l_shipdate").as("max_ship"),
        hll_sketch_agg($"l_suppkey", HllLgK).as("hll_supp"))
  }

  private def buildCoarse(s: SparkSession, dir: String) = {
    import s.implicits._
    T.t(s, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(
        sum($"l_quantity".cast(SumCast)).as("sum_qty"),
        sum($"l_extendedprice".cast(SumCast)).as("sum_price"),
        count(lit(1)).as("cnt"))
  }

  private def buildOkey(s: SparkSession, dir: String) = {
    import s.implicits._
    T.t(s, dir, "lineitem")
      .groupBy($"l_orderkey")
      .agg(
        sum($"l_extendedprice".cast(SumCast)).as("sum_price"),
        count(lit(1)).as("cnt"))
  }

  private def buildMonth(s: SparkSession, dir: String) = {
    import s.implicits._
    val li = T.t(s, dir, "lineitem")
    li.groupBy(month(li("l_shipdate")).as("ship_month"))
      .agg(
        sum($"l_extendedprice".cast(SumCast)).as("sum_price"),
        count(lit(1)).as("cnt"))
  }

  /** Build the summary parquet once per (dir) and (re-)register it in
    * the catalog with the CALLER's session, so captured plans never
    * go stale across sessions.
    */
  def ensureMv(s: SparkSession, dir: String): String = {
    import s.implicits._
    val path = Fixtures.ensure(dir, MvName) { p =>
      buildFine(s, dir).write.mode("overwrite").parquet(p)
    }
    val src = s"$dir/lineitem.parquet"
    val srcFp = MvCatalog.fingerprint(src)
    MvCatalog.register(
      src,
      MvCatalog.MvDef(
        name = MvName,
        plan = Bridge.analyzed(s.read.parquet(path)),
        groupCols = Set("l_returnflag", "l_linestatus"),
        sums = Map(
          "l_quantity" -> MvCatalog.SumSpec("sum_qty", Some(SumCast)),
          "l_extendedprice" -> MvCatalog.SumSpec("sum_price", Some(SumCast))),
        countCol = Some("cnt"),
        mins = Map("l_shipdate" -> "min_ship"),
        maxs = Map("l_shipdate" -> "max_ship"),
        hlls = Map("l_suppkey" -> ("hll_supp", HllLgK)),
        sourceFingerprint = Some(srcFp)))
    // a COARSER summary over the same source: returnflag-only rollup.
    // The selector prefers it (fewest grouping columns = smallest
    // summary) whenever a query doesn't need l_linestatus, and falls
    // back to the fine MV when it does.
    val coarse = Fixtures.ensure(dir, CoarseMvName) { p =>
      buildCoarse(s, dir).write.mode("overwrite").parquet(p)
    }
    MvCatalog.register(
      src,
      MvCatalog.MvDef(
        name = CoarseMvName,
        plan = Bridge.analyzed(s.read.parquet(coarse)),
        groupCols = Set("l_returnflag"),
        sums = Map(
          "l_quantity" -> MvCatalog.SumSpec("sum_qty", Some(SumCast)),
          "l_extendedprice" -> MvCatalog.SumSpec("sum_price", Some(SumCast))),
        countCol = Some("cnt"),
        mins = Map.empty,
        maxs = Map.empty,
        sourceFingerprint = Some(srcFp)))
    // a JOIN-KEY granularity summary (per l_orderkey) — the rollup
    // that answers fact⋈dim aggregates through the join rewrite
    val okey = Fixtures.ensure(dir, JoinMvName) { p =>
      buildOkey(s, dir).write.mode("overwrite").parquet(p)
    }
    MvCatalog.register(
      src,
      MvCatalog.MvDef(
        name = JoinMvName,
        plan = Bridge.analyzed(s.read.parquet(okey)),
        groupCols = Set("l_orderkey"),
        sums = Map(
          "l_extendedprice" -> MvCatalog.SumSpec("sum_price", Some(SumCast))),
        countCol = Some("cnt"),
        mins = Map.empty,
        maxs = Map.empty,
        sourceFingerprint = Some(srcFp)))
    // TIME-ROLLUP summary: month(l_shipdate) is a DERIVED grouping
    // column, matched by the canonical SQL of the expression
    val monthMv = Fixtures.ensure(dir, MonthMvName) { p =>
      buildMonth(s, dir).write.mode("overwrite").parquet(p)
    }
    // the key must be the ANALYZED expression's SQL — resolution
    // inserts implicit casts (month(CAST(ts AS DATE))) that the raw
    // Column doesn't carry
    val monthKey = {
      import org.apache.spark.sql.catalyst.expressions.Alias
      import org.apache.spark.sql.catalyst.plans.logical.Project
      Bridge.analyzed(
        T.t(s, dir, "lineitem").select(month($"l_shipdate").as("__k")))
        .asInstanceOf[Project].projectList.head
        .asInstanceOf[Alias].child.sql
    }
    MvCatalog.register(
      src,
      MvCatalog.MvDef(
        name = MonthMvName,
        plan = Bridge.analyzed(s.read.parquet(monthMv)),
        groupCols = Set.empty,
        sums = Map(
          "l_extendedprice" -> MvCatalog.SumSpec("sum_price", Some(SumCast))),
        countCol = Some("cnt"),
        mins = Map.empty,
        maxs = Map.empty,
        sourceFingerprint = Some(srcFp),
        derived = Map(monthKey -> "ship_month")))
    path
  }

  /** lgConfigK of the MV's `hll_supp` sketch, of its registration
    * and of mv_distinct_rollup's query — the rewrite fires only when
    * the query's lgConfigK is the registered one. A sketch (and a
    * union of such sketches) stays in its exact coupon regime up to
    * 0.75·2^(lgK−3) distinct values: 12,288 here, above sf1's 10,000
    * suppliers per flag. Spark's default 12 stops at 384 (sf0.1's
    * 1,000 suppliers estimated as 988).
    */
  private[graft] val HllLgK = 17

  /** REFRESH MATERIALIZED VIEW: rebuild ALL FOUR summaries from the
    * current source and re-register with the fresh fingerprint — the
    * recovery path after the staleness guard starts declining.
    * (Fixtures caches per JVM, so force the rebuild by writing
    * directly; the shared builders above guarantee refresh and
    * initial build can never define an MV differently.)
    */
  def refreshMv(s: SparkSession, dir: String): Unit = {
    Seq(
      (MvName, buildFine(s, dir)),
      (CoarseMvName, buildCoarse(s, dir)),
      (JoinMvName, buildOkey(s, dir)),
      (MonthMvName, buildMonth(s, dir))).foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(T.scratch(dir, name))
    }
    ensureMv(s, dir)
    ()
  }

  /** Apply the MV rewrite to one DataFrame's analyzed plan — the
    * race-free per-query route (same scoping philosophy as
    * `Joins.withBinWidth`).
    */
  def withMvRewrite(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    Bridge.ofRows(spark, MaterializedViewRewrite(Bridge.analyzed(df)))
  }

  /** Rollup to one of the MV's two grouping columns. */
  def mvRollup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ensureMv(s, dir)
    withMvRewrite(
      T.t(s, dir, "lineitem")
        .groupBy($"l_returnflag")
        .agg(
          dsum($"l_quantity").as("sum_qty"),
          count(lit(1)).as("cnt"))
    ).orderBy($"l_returnflag")
  }

  /** Grouping-column filter answered from MV rows. */
  def mvRollupFilter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ensureMv(s, dir)
    withMvRewrite(
      T.t(s, dir, "lineitem")
        .filter($"l_linestatus" === "F")
        .groupBy($"l_returnflag")
        .agg(
          dsum($"l_extendedprice").as("sum_price"),
          min($"l_shipdate").as("min_ship"),
          max($"l_shipdate").as("max_ship"))
    ).orderBy($"l_returnflag")
  }

  /** Distinct-count rollup from MV sketch partials: the per-(rf, ls)
    * HLL sketches union into per-rf sketches — register-wise max is
    * lossless, so the estimate equals the direct base-table sketch
    * bit-for-bit (and, up to [[HllLgK]]'s coupon limit, the EXACT
    * distinct count, which is what the DuckDB oracle checks).
    */
  def mvDistinctRollup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ensureMv(s, dir)
    withMvRewrite(
      T.t(s, dir, "lineitem")
        .groupBy($"l_returnflag")
        .agg(
          hll_sketch_estimate(hll_sketch_agg($"l_suppkey", HllLgK))
            .as("n_supp"),
          count(lit(1)).as("cnt"))
    ).orderBy($"l_returnflag")
  }

  /** HAVING + ORDER BY built BEFORE the rewrite: the whole
    * Filter(Sort(Aggregate)) tree goes through `withMvRewrite`, so
    * the parents' references against the original aggregate output
    * must survive — this is the end-to-end proof of the exprId
    * preservation contract.
    */
  def mvRollupHaving(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ensureMv(s, dir)
    withMvRewrite(
      T.t(s, dir, "lineitem")
        .groupBy($"l_linestatus")
        .agg(dsum($"l_extendedprice").as("sum_price"),
          count(lit(1)).as("cnt"))
        .filter($"sum_price" > 5e7)
        .orderBy($"l_linestatus"))
  }

  /** CUBE through the MV — the Aggregate(Expand) rewrite: all four
    * grouping sets of (rf, ls) answer from the fine summary's partial
    * rows replicated per set, with grouping() flags disambiguating
    * collapsed keys. One scan of a KB summary instead of four logical
    * passes over the fact table.
    */
  def mvRollupSets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ensureMv(s, dir)
    withMvRewrite(
      T.t(s, dir, "lineitem")
        .cube($"l_returnflag", $"l_linestatus")
        .agg(
          dsum($"l_quantity").as("sum_qty"),
          count(lit(1)).as("cnt"),
          grouping($"l_returnflag").cast("int").as("g_rf"),
          grouping($"l_linestatus").cast("int").as("g_ls"))
        .orderBy($"l_returnflag".asc_nulls_first,
          $"l_linestatus".asc_nulls_first))
  }

  /** Aggregate pushdown through a join: lineitem⋈orders grouped by a
    * DIM attribute answers from the per-orderkey summary joined to
    * orders — the fact table never scans; at scale the join input
    * shrinks by the rollup factor (rows per order).
    */
  def mvJoinRollup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ensureMv(s, dir)
    withMvRewrite(
      T.t(s, dir, "lineitem")
        .join(T.t(s, dir, "orders"), $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority")
        .agg(
          dsum($"l_extendedprice").as("sum_price"),
          count(lit(1)).as("cnt"))
    ).orderBy($"o_orderpriority")
  }

  /** Time rollup from the month-grained summary: grouping by the
    * DERIVED expression month(l_shipdate) — the dashboard shape every
    * warehouse materializes first.
    */
  def mvTimeRollup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ensureMv(s, dir)
    withMvRewrite(
      T.t(s, dir, "lineitem")
        .groupBy(month($"l_shipdate").as("ship_month"))
        .agg(
          dsum($"l_extendedprice").as("sum_price"),
          count(lit(1)).as("cnt"))
    ).orderBy($"ship_month")
  }

  /** SUM(l_tax) is not a stored measure — the rewrite must decline
    * and the plan must keep the fact-table scan.
    */
  def mvFallback(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ensureMv(s, dir)
    withMvRewrite(
      T.t(s, dir, "lineitem")
        .groupBy($"l_returnflag")
        .agg(dsum($"l_tax", 4).as("sum_tax"))
    ).orderBy($"l_returnflag")
  }

  override def prepare(s: SparkSession, dir: String): Unit = {
    ensureMv(s, dir)
    ()
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mv_rollup" -> (mvRollup(_, _)),
    "mv_rollup_filter" -> (mvRollupFilter(_, _)),
    "mv_distinct_rollup" -> (mvDistinctRollup(_, _)),
    "mv_rollup_having" -> (mvRollupHaving(_, _)),
    "mv_rollup_sets" -> (mvRollupSets(_, _)),
    "mv_join_rollup" -> (mvJoinRollup(_, _)),
    "mv_time_rollup" -> (mvTimeRollup(_, _)),
    "mv_fallback" -> (mvFallback(_, _)))

  override def oracleSql: Map[String, String] = Map(
    "mv_rollup" ->
      s"""SELECT l_returnflag, ${sqlDsum("l_quantity")} AS sum_qty,
         |  COUNT(*) AS cnt
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "mv_rollup_filter" ->
      s"""SELECT l_returnflag, ${sqlDsum("l_extendedprice")} AS sum_price,
         |  MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship
         |FROM lineitem WHERE l_linestatus = 'F'
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "mv_time_rollup" ->
      s"""SELECT CAST(month(l_shipdate) AS INT) AS ship_month,
         |  ${sqlDsum("l_extendedprice")} AS sum_price, COUNT(*) AS cnt
         |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "mv_join_rollup" ->
      s"""SELECT o_orderpriority, ${sqlDsum("l_extendedprice")} AS sum_price,
         |  COUNT(*) AS cnt
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "mv_rollup_sets" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${sqlDsum("l_quantity")} AS sum_qty, COUNT(*) AS cnt,
         |  CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
         |  CAST(GROUPING(l_linestatus) AS INT) AS g_ls
         |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         |ORDER BY l_returnflag ASC NULLS FIRST,
         |  l_linestatus ASC NULLS FIRST""".stripMargin,
    "mv_rollup_having" ->
      s"""SELECT l_linestatus, sum_price, cnt FROM (
         |  SELECT l_linestatus, ${sqlDsum("l_extendedprice")} AS sum_price,
         |    COUNT(*) AS cnt
         |  FROM lineitem GROUP BY l_linestatus)
         |WHERE sum_price > 50000000 ORDER BY l_linestatus""".stripMargin,
    // the sketch stays in its exact (coupon) regime at fixture
    // cardinalities (see HllLgK), so the estimate IS the exact count
    "mv_distinct_rollup" ->
      """SELECT l_returnflag,
        |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
        |  COUNT(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "mv_fallback" ->
      s"""SELECT l_returnflag, ${sqlDsum("l_tax", 4)} AS sum_tax
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
}
