package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants beyond the DuckDB oracle — the reference's
  * test-oracle styles #3/#4 (SURVEY.md §5): partition disjointness,
  * order preservation, approximation bounds.
  */
class OperatorSpec extends AnyFunSuite {
  import SparkTestSession.{spark, SF}
  import spark.implicits._

  private lazy val total =
    operators.Aggs.aggCount(spark, SF).collect()(0).getLong(0)

  test("pairs_group partitions every row exactly once") {
    val sum = operators.Joins.pairsGroup(spark, SF)
      .agg(org.apache.spark.sql.functions.sum($"n_items")).collect()(0).getLong(0)
    assert(sum == total)
  }

  test("zonemap covers every row exactly once") {
    val sum = operators.Aggs.aggZonemap(spark, SF)
      .agg(org.apache.spark.sql.functions.sum($"cnt")).collect()(0).getLong(0)
    assert(sum == total)
  }

  test("per-partition zone map sums to total under varied split sizes") {
    // The SBI/BAI analogue over physical partitions (oracle style #3:
    // every record in exactly one partition, any split size).
    for (bytes <- Seq("262144", "1048576", "134217728")) {
      val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
      spark.conf.set("spark.sql.files.maxPartitionBytes", bytes)
      try {
        val zm = T.t(spark, SF, "lineitem")
          .groupBy(spark_partition_id().as("pid"))
          .agg(count(lit(1)).as("cnt"), min($"l_orderkey"), max($"l_orderkey"))
        val sum = zm.agg(org.apache.spark.sql.functions.sum($"cnt"))
          .collect()(0).getLong(0)
        assert(sum == total, s"maxPartitionBytes=$bytes")
      } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    }
  }

  test("topk returns k rows in descending order") {
    val rows = operators.SortsSets.topk(spark, SF).collect()
    assert(rows.length == 100)
    val prices = rows.map(_.getDouble(2))
    assert(prices.zip(prices.tail).forall { case (a, b) => a >= b })
  }

  test("sort_within yields globally ordered output across range partitions") {
    val keys = operators.SortsSets.sortWithin(spark, SF)
      .coalesce(1).collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(keys.zip(keys.tail).forall { case (a, b) =>
      a._1 < b._1 || (a._1 == b._1 && a._2 <= b._2)
    })
  }

  test("bucketed join plans without a join-key shuffle") {
    val df = operators.Joins.joinBucketed(spark, SF)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"))
    assert(!plan.contains("hashpartitioning(o_orderkey"),
      "orders side must be shuffle-free (bucket-local)")
    assert(!plan.contains("hashpartitioning(l_orderkey"),
      "lineitem side must be shuffle-free (bucket-local)")
    assert(df.count() > 0)
  }

  test("approx_count_distinct within 2*rsd of exact on both columns") {
    val row = operators.Aggs.aggApproxDistinct(spark, SF).collect()(0)
    assert(row.getBoolean(2) && row.getBoolean(3),
      s"HLL estimate out of 2*rsd bound: $row")
    // and the exact counts the query emits agree with aggDistinct
    val exact = operators.Aggs.aggDistinct(spark, SF).collect()(0)
    assert(row.getLong(0) == exact.getLong(0))
    assert(row.getLong(1) == exact.getLong(2))
  }

  test("intersect and except of the same pair are disjoint") {
    val i = operators.SortsSets.setIntersect(spark, SF)
      .select($"key").as[Long].collect().toSet
    val e = operators.SortsSets.setExcept(spark, SF)
      .select($"key").as[Long].collect().toSet
    assert((i & e).isEmpty)
  }

  test("overwrite leaves only the second write") {
    val cnt = operators.Sinks.sinkOverwrite(spark, SF).collect()(0).getLong(0)
    val expect = T.t(spark, SF, "customer")
      .filter($"c_mktsegment" === "BUILDING").count()
    assert(cnt == expect)
  }

  test("single-file sink preserves row order through the round trip") {
    val out = T.scratch(SF, "ordertest")
    T.t(spark, SF, "orders")
      .orderBy($"o_orderkey").coalesce(1)
      .write.mode("overwrite").parquet(out)
    val keys = spark.read.parquet(out).select($"o_orderkey")
      .as[Long].collect()
    assert(keys.sameElements(keys.sorted), "file order must equal sort order")
  }

  test("events_trend: OLS identities hold (line passes through the " +
    "mean point; slopes bounded by the series range)") {
    val rows = operators.Composite.eventsTrend(spark, SF)
      .select($"event_type", $"n", $"slope_per_day", $"intercept")
      .as[(String, Long, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (et, n, slope, icpt) =>
      assert(n > 1, et)
      // recompute the mean point from the same daily rollup: the
      // fitted line must pass through (x̄, ȳ) up to the 1e-6 rounding
      val daily = T.events(spark, SF)
        .filter($"event_type" === et)
        .select(datediff(to_date($"ts"),
          lit("1970-01-01").cast("date")).cast("long").as("x"))
        .groupBy($"x").agg(count(lit(1)).as("y"))
        .agg(avg($"x"), avg($"y")).collect()(0)
      val (mx, my) = (daily.getDouble(0), daily.getDouble(1))
      // tolerance: the slope ships rounded to 1e-6 and x̄ ≈ 2·10⁴
      // epoch-days, so the rounding alone moves ŷ(x̄) by up to ~10⁻²
      assert(math.abs(slope * mx + icpt - my) < 0.05,
        s"$et: ${slope * mx + icpt} vs $my")
    }
  }

  test("profile_corr: r is within [-1, 1] and symmetric inputs " +
    "reproduce the built-in corr to quantization precision") {
    val rows = operators.Quality.profileCorr(spark, SF)
      .select($"pair", $"r").as[(String, Double)].collect().toMap
    assert(rows.size == 3)
    assert(rows.values.forall(r => r >= -1.0 && r <= 1.0))
    val builtin = T.t(spark, SF, "lineitem")
      .agg(corr($"l_quantity", $"l_extendedprice")).collect()(0).getDouble(0)
    assert(math.abs(rows("quantity_price") - builtin) < 1e-4,
      s"${rows("quantity_price")} vs $builtin")
  }

  test("top_k_rows equals the window form, is partition-invariant, " +
    "and partial-aggregates before the exchange") {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.TopKAgg.top_k_rows
    val o = T.t(spark, SF, "orders")
    def viaAgg(parts: Int) = o.repartition(parts)
      .groupBy($"o_orderpriority")
      .agg(top_k_rows(struct($"o_totalprice", $"o_orderkey"), 3).as("t"))
      .select($"o_orderpriority", explode($"t").as("r"))
      .select($"o_orderpriority", $"r.o_totalprice", $"r.o_orderkey")
    val viaWindow = o
      .withColumn("rk", row_number().over(Window
        .partitionBy($"o_orderpriority")
        .orderBy($"o_totalprice".desc, $"o_orderkey".desc)))
      .filter($"rk" <= 3)
      .select($"o_orderpriority", $"o_totalprice", $"o_orderkey")
    val a1 = viaAgg(1).collect().toSet
    val a8 = viaAgg(8).collect().toSet
    val w = viaWindow.collect().toSet
    assert(a1 == w)
    assert(a8 == w)
    // smallest=true keeps the minima
    val lo = o.groupBy($"o_orderpriority")
      .agg(top_k_rows(struct($"o_totalprice", $"o_orderkey"), 1,
        smallest = true).as("t"))
      .select($"o_orderpriority", explode($"t").as("r"))
      .select($"o_orderpriority", $"r.o_totalprice").collect()
    val mins = o.groupBy($"o_orderpriority")
      .agg(min(struct($"o_totalprice", $"o_orderkey")).as("m"))
      .select($"o_orderpriority", $"m.o_totalprice").collect()
    assert(lo.map(r => (r.getString(0), r.getDouble(1))).toSet ==
      mins.map(r => (r.getString(0), r.getDouble(1))).toSet)
    // plan: partial ObjectHashAggregate (map-side k-bounded heap)
    // before ONE exchange; no Window operator anywhere
    // the plan above the one-partition gate
    val plan = OnePartitionSpec.withConf(OnePartitionSpec.Shut) {
      val df = operators.SortsSets.topkGrouped(spark, SF)
      df.collect()
      df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
    }
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(plan.contains("partial_top_k_rows"), plan)
    assert(!plan.contains("Window"), plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1, plan)
    // SQL surface (injected function; analyzer wraps the raw
    // AggregateFunction)
    val viaSql = spark.sql(
      s"""SELECT o_orderpriority, r.o_totalprice, r.o_orderkey FROM (
         |  SELECT o_orderpriority,
         |    top_k_rows(struct(o_totalprice, o_orderkey), 3) AS t
         |  FROM parquet.`$SF/orders.parquet`
         |  GROUP BY o_orderpriority)
         |LATERAL VIEW explode(t) AS r""".stripMargin).collect().toSet
    assert(viaSql == w)
  }

  test("dq_stats_audit: footer statistics equal the data's aggregates") {
    val audit = operators.Quality.dqStatsAudit(spark, SF)
      .select($"tbl", $"col_name", $"n_values", $"n_nulls",
        $"stat_min", $"stat_max")
      .as[(String, String, Long, Long, Double, Double)].collect()
    assert(audit.length == 7)
    audit.foreach { case (tbl, c, nv, nn, mn, mx) =>
      val d = T.t(spark, SF, tbl)
      val row = d.agg(count(lit(1)), count(col(c)),
        min(col(c)).cast("double"), max(col(c)).cast("double"))
        .collect()(0)
      assert(nv == row.getLong(0), s"$tbl.$c n_values")
      assert(nn == row.getLong(0) - row.getLong(1), s"$tbl.$c n_nulls")
      assert(mn == row.getDouble(2), s"$tbl.$c min")
      assert(mx == row.getDouble(3), s"$tbl.$c max")
    }
  }
}
