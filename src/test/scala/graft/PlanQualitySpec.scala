package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan quality gates — the properties that decide whether a
  * query that passes at sf0.01 still works at 100 TB: filters reaching
  * the parquet scan, dims broadcast instead of shuffled, map-side
  * partial aggregation, whole-stage codegen over the hot path, scans
  * reading only the projected columns.
  */
class PlanQualitySpec extends AnyFunSuite {
  import SparkTestSession.{spark, SF}

  // formatted mode prints PushedFilters/ReadSchema untruncated
  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("q6: conjunctive predicate is pushed to the parquet scan") {
    val p = plan(operators.TpchBattery.q6Forecast(spark, SF))
    assert(p.contains("PushedFilters:"), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
    assert(p.contains("LessThan(l_quantity"), p)
  }

  test("q6: scan reads only the four referenced columns") {
    val p = plan(operators.TpchBattery.q6Forecast(spark, SF))
    val readSchema = p.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(Seq("l_shipdate", "l_discount", "l_quantity", "l_extendedprice")
      .forall(readSchema.contains), readSchema)
    assert(!readSchema.contains("l_orderkey"), readSchema)
    assert(!readSchema.contains("l_returnflag"), readSchema)
  }

  test("q1: aggregation is split partial (map-side) then final") {
    val p = plan(operators.TpchBattery.q1Pricing(spark, SF))
    assert(p.contains("partial_sum"), s"expected map-side partial agg:\n$p")
    val aggNodes = p.linesIterator.count(_.trim.matches("""\(\d+\) HashAggregate.*"""))
    assert(aggNodes >= 2, s"expected partial+final HashAggregate:\n$p")
    // the hot path compiles into whole-stage codegen spans
    val codegen = operators.TpchBattery.q1Pricing(spark, SF)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(codegen.contains("WholeStageCodegen"), codegen.take(500))
  }

  test("star joins broadcast their dims, never shuffle them") {
    for (df <- Seq(operators.Joins.joinMulti(spark, SF),
        operators.TpchBattery.q10Returns(spark, SF))) {
      val p = plan(df)
      assert(p.contains("BroadcastHashJoin"), p)
      assert(!p.contains("hashpartitioning(n_nationkey"),
        "nation dim must not shuffle")
      assert(!p.contains("hashpartitioning(r_regionkey"),
        "region dim must not shuffle")
    }
  }

  test("catalog stats + CBO flip the filtered-dim join to broadcast") {
    // both halves pin the plan above the one-partition gate
    operators.Joins.withCbo(spark) { scoped =>
      scoped.conf.set(OnePartitionSpec.Shut._1, OnePartitionSpec.Shut._2)
      val p = plan(operators.Joins.cboDf(scoped, SF))
      assert(p.contains("BroadcastHashJoin"),
        s"CBO filter estimation should pick broadcast:\n${p.take(3000)}")
    }
    // same query, same tiny threshold, CBO off: the file-size
    // estimate is above threshold, so no broadcast — the STATS made
    // the difference, not the data
    val confs = Seq("spark.sql.autoBroadcastJoinThreshold" -> "4096",
      OnePartitionSpec.Shut)
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val p = plan(operators.Joins.cboDf(spark, SF))
      assert(!p.contains("BroadcastHashJoin"),
        s"without CBO the join must not broadcast:\n${p.take(3000)}")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("runtime bloom filter is injected into the fact scan side") {
    operators.Joins.withRuntimeBloomFilter(spark) { scoped =>
      // the plan above the one-partition gate: a shuffle join
      scoped.conf.set(OnePartitionSpec.Shut._1, OnePartitionSpec.Shut._2)
      val df = operators.Joins.runtimeFilterDf(scoped, SF)
      val opt = df.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain") && opt.contains("bloom_filter_agg"),
        s"expected InjectRuntimeFilter to plant a bloom probe:\n${opt.take(3000)}")
      // and the probe sits on the FACT (lineitem) branch, keyed by the
      // join key — fact rows that cannot join die before the shuffle
      assert(opt.contains("l_orderkey"), opt.take(2000))
    }
  }

  test("shuffle_shards: one hash-partition exchange, no global sort") {
    val p = plan(llm.Pipeline.shuffleShards(spark, SF))
    // the shard exchange + the window's own partitioning collapse to
    // the SAME hashpartitioning(shard): reuse, not a second shuffle of
    // the data (the final presentation orderBy is allowed its range
    // exchange over the named rows)
    val hashEx = p.linesIterator.count(l =>
      l.contains("Arguments: hashpartitioning"))
    assert(hashEx == 1, s"expected exactly one hash exchange:\n$p")
  }

  test("bm25: per-term stats broadcast; corpus never shuffles for them") {
    val p = plan(llm.TextStats.bm25(spark, SF))
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("hashpartitioning(df"), "df table must broadcast")
  }

  test("q10: top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = plan(operators.TpchBattery.q10Returns(spark, SF))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("prune_by_stats filter reaches the scan of the clustered table") {
    val p = plan(operators.Scans.pruneByStats(spark, SF))
    assert(p.contains("PushedFilters:"), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
  }

  test("AQE splits a skewed join partition instead of stalling on it") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 1M rows on ONE hot key joined to a 100-key dim: without skew
    // handling one task gets the whole hot partition. AQE must mark
    // the sort-merge join skew-handled and split the hot side.
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prior = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val skewed = spark.range(0, 1000000)
        .select(when($"id" < 990000, 7L).otherwise($"id" % 100).as("k"),
          $"id".as("payload"))
      val dim = spark.range(0, 100).select($"id".as("k2"), ($"id" * 2).as("attr"))
      val joined = skewed.join(dim.hint("merge"), $"k" === $"k2")
        .groupBy($"attr").agg(count(lit(1)).as("cnt"))
      assert(joined.collect().nonEmpty)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"expected AQE skew-join handling:\n$finalPlan")
    } finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("dedup composites: no nested-loop/cartesian joins anywhere in their plans") {
    // the 100 TB gate for the LLM dedup family: clusters and
    // survivors consume the LSH-BOUNDED pair path, and the exact
    // embedding pair join runs as a block-grid EQUI join
    // (1-Bucket-Theta), so none of the three may plan a
    // BroadcastNestedLoopJoin or CartesianProduct at any scale
    for (q <- Seq("llm_dedup_embed", "llm_dedup_clusters", "llm_dedup_survivors")) {
      val df = SparkEntry.queries(q)(spark, SF)
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
  }

  test("dedup_embed grid join: cell equi-join with per-cell bounded inputs") {
    val df = llm.Knn.dedupEmbed(spark, SF)
    val p = df.queryExecution.executedPlan.toString
    // the pair join is an EQUI join on the (ba, bb) cell id — hash or
    // merge, never nested-loop — and the tiny cell table broadcasts
    assert(p.contains("ba#") && p.contains("bb#"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    val equiOnCells = p.linesIterator.exists(l =>
      (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin")) &&
        l.contains("ba#") && l.contains("bb#"))
    assert(equiOnCells, p)
  }

  test("correlated subqueries decorrelate into joins, never per-row loops") {
    // q17: correlated scalar agg subquery -> aggregate + join
    val q17 = operators.TpchBattery.q17SmallQty(spark, SF)
    val p17 = q17.queryExecution.optimizedPlan.toString
    assert(!p17.contains("scalar-subquery"), p17)
    assert(p17.contains("Join"), p17)
    // q21: EXISTS/NOT EXISTS -> semi + anti joins
    val q21 = operators.TpchBattery.q21Exists(spark, SF)
    val p21 = q21.queryExecution.optimizedPlan.toString
    assert(p21.contains("LeftSemi"), p21)
    assert(p21.contains("LeftAnti"), p21)
  }

  test("q18: HAVING pre-aggregation runs BEFORE the joins, shrinking the fact") {
    // aggregate-then-join: the per-orderkey quantity agg must sit below
    // the orders join in the plan, so only qualifying keys are joined
    val p = plan(operators.TpchBattery2.q18Volume(spark, SF))
    val lines = p.linesIterator.toSeq
    val aggIdx = lines.indexWhere(_.contains("HashAggregate"))
    val joinIdx = lines.indexWhere(_.contains("Join"))
    assert(aggIdx >= 0 && joinIdx >= 0, p)
    // in the formatted tree listing, children print below their parent:
    // the agg node must appear under the join header line
    assert(aggIdx > joinIdx, s"agg must feed the join, not follow it:\n$p")
  }

  test("q3/q18: top-k plans as TakeOrderedAndProject, not a global sort") {
    for (df <- Seq(operators.TpchBattery2.q3Shipping(spark, SF),
        operators.TpchBattery2.q18Volume(spark, SF))) {
      val p = plan(df)
      assert(p.contains("TakeOrderedAndProject"), p)
    }
  }

  test("q20: IN-subquery plans as a semi join; q13 keeps the outer join's predicate in the condition") {
    val p20 = operators.TpchBattery2.q20Promotion(spark, SF)
      .queryExecution.optimizedPlan.toString
    assert(p20.contains("LeftSemi"), p20)
    // q13: customers with zero qualifying orders must survive (outer
    // join with the priority predicate in the JOIN condition) — every
    // customer is regrouped, not just those with orders
    val q13 = operators.TpchBattery2.q13CustDist(spark, SF)
    import org.apache.spark.sql.functions._
    val total = q13.agg(sum("custdist")).collect()(0).getLong(0)
    val nCust = T.t(spark, SF, "customer").count()
    assert(total == nCust, s"outer-join histogram must cover all $nCust customers: $total")
  }

  test("q5: same-nation predicate rides the join, dims broadcast") {
    val p = plan(operators.TpchBattery2.q5Local(spark, SF))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("hashpartitioning(n_nationkey"), p)
    assert(!p.contains("hashpartitioning(r_regionkey"), p)
  }

  test("semi/anti joins keep only the join key on the probe side scan") {
    val p = plan(operators.Joins.joinSemi(spark, SF))
    val orderScan = p.linesIterator
      .filter(_.contains("ReadSchema"))
      .find(_.contains("o_custkey")).getOrElse("")
    assert(!orderScan.contains("o_totalprice"),
      s"semi join must prune unused order columns: $orderScan")
  }

  test("curation rank-≤-k filters compile to WindowGroupLimit") {
    for (df <- Seq(llm.Curate.sampleConsistent(spark, SF),
        llm.Curate.topTerms(spark, SF))) {
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("WindowGroupLimit"),
        s"rank filter should push a per-partition group limit:\n${p.take(2000)}")
    }
  }

  test("sketch-bounded curation ops keep equi-join plans (no BNLJ/cartesian)") {
    for (df <- Seq(llm.Curate.decontamBloom(spark, SF),
        llm.Curate.heavyHitters(spark, SF),
        llm.Curate.topTerms(spark, SF))) {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"), p.take(2000))
    }
    // the exact-verify join and the df dim join ride broadcast
    val pb = llm.Curate.decontamBloom(spark, SF)
      .queryExecution.executedPlan.toString
    assert(pb.contains("BroadcastHashJoin"), pb.take(2000))
  }

  test("partitioned-table reads prune at the partition level, not per row") {
    val p = plan(operators.Sinks.sinkPartitioned(spark, SF))
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("event_type"),
      s"partition-column predicate must reach PartitionFilters: $pf\n${p.take(1500)}")
    // the predicate must NOT degrade to a row-level pushed filter on
    // the data scan — partition pruning skips whole directories
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(!pushed.contains("event_type"), pushed)
  }

  test("upsert anti join broadcasts the updates side") {
    val p = operators.Sinks.sinkUpsert(spark, SF)
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p.take(1500))
  }

  test("grouping sets plan as one Expand + hash agg, not one scan per set") {
    val p = plan(operators.Aggs.aggGroupingSets(spark, SF))
    assert(p.linesIterator.count(_.trim.matches("""\(\d+\) Expand.*""")) == 1, p)
    // formatted mode lists each node once in the tree and once in the
    // detail section — count the numbered detail entries
    val scans = p.linesIterator.count(_.trim.matches("""\(\d+\) Scan parquet.*"""))
    assert(scans == 1, s"expected a single fact scan, got $scans:\n$p")
  }

  test("streaming decontam keeps the probe broadcast (stream side never shuffles for the join)") {
    val p = streaming.StreamOps.streamDecontam(spark, SF)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p.take(1500))
  }

  test("PQ encode/probe: broadcast joins, argmin via WindowGroupLimit, no BNLJ") {
    val p = llm.Knn.knnPq(spark, SF).queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(p.contains("WindowGroupLimit"), p.take(2000))
  }

  test("whole-table stats agg is answered from parquet footers (PushedAggregation)") {
    // plan INSIDE the conf scope — pushdown resolves at optimization
    val p = operators.Aggs.withV2ParquetPushdown(spark) {
      plan(operators.Aggs.pushdownAggDf(spark, SF))
    }
    assert(p.contains("PushedAggregation"), p.take(3000))
    assert(p.contains("COUNT(*)") || p.contains("MIN(l_orderkey)"),
      p.take(3000))
    // and the registered query returns the same row as a plain agg
    val got = operators.Aggs.aggPushdownStats(spark, SF).collect()(0)
    val want = operators.Aggs.pushdownAggDf(spark, SF).collect()(0)
    assert(got == want)
  }

  test("partition-keyed join prunes fact partitions dynamically (DPP)") {
    val p = plan(operators.Joins.joinDpp(spark, SF))
    // the fact scan's PartitionFilters must carry the injected
    // dynamicpruning subquery over the dim side's build keys
    assert(p.contains("dynamicpruning"), p.take(3000))
    assert(p.contains("events_dpp"), p.take(3000))
  }

  test("runtime bloom filter reduces the big side of a selective shuffle join") {
    // thresholds are sized for TB-scale tables; scope them down so the
    // sf-scale fixture demonstrates the same injection — planned
    // INSIDE the scope (optimizer-time decision, like agg pushdown)
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "10KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      // the plan above the one-partition gate: a shuffle join
      OnePartitionSpec.Shut)
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import spark.implicits._
      val orders = T.t(spark, SF, "orders")
        .filter($"o_orderpriority" === "1-URGENT")
        .select($"o_orderkey")
      val li = T.t(spark, SF, "lineitem")
        .select($"l_orderkey", $"l_extendedprice")
      val joined = li.join(orders, $"l_orderkey" === $"o_orderkey")
      val p = joined.queryExecution.optimizedPlan.toString
      assert(p.contains("bloom_filter_agg") || p.contains("might_contain"),
        p.take(3000))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("format(\"graft\") resolves to the pushdown-capable parquet scan") {
    val p = plan(operators.Scans.scanGraftFormat(spark, SF))
    assert(p.contains("PushedFilters:"), p.take(2000))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p.take(2000))
    val readSchema = p.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_shipdate") &&
      readSchema.contains("l_extendedprice"), readSchema)
    assert(!readSchema.contains("l_partkey"), readSchema)
  }

  test("WITH RECURSIVE plans Spark's native UnionLoop, not a manual " +
      "unrolled union") {
    // the scoped (pre-collect) plan carries the recursion; the public
    // query re-materializes the tiny aggregate on the caller's session
    val scoped = functions.Funcs.sqlRecursiveCteScoped(spark, SF)
    val logical = scoped.queryExecution.optimizedPlan.toString
    assert(logical.contains("UnionLoop"), logical.take(2000))
    // closure is exact: one terminal row per customer
    val df = functions.Funcs.sqlRecursiveCte(spark, SF)
    val total = df.agg(org.apache.spark.sql.functions.sum("cnt")).head.getLong(0)
    assert(total == T.t(spark, SF, "customer").count())
  }

  test("MERGE hint overrides the broadcast default: SMJ planned on a " +
      "25-row side") {
    val df = operators.Joins.sqlHints(spark, SF)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), p.take(2000))
    assert(!p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("bitmap distinct aggregates bitmaps, not expanded key rows") {
    val p = operators.Aggs.aggBitmapDistinct(spark, SF)
      .queryExecution.executedPlan.toString
    // COUNT(DISTINCT) plans an Expand (one input row per distinct
    // group); the bitmap formulation must not — its shuffle rows are
    // fixed-size bitmaps
    assert(!p.contains("Expand"), p.take(2000))
    assert(p.contains("bitmap_construct_agg") || p.contains("HashAggregate"),
      p.take(2000))
    // lambda HOF projection stays inside whole-stage codegen
    val codegen = graft.functions.Funcs.fnLambda(spark, SF)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(codegen.contains("WholeStageCodegen"), codegen.take(500))
  }

  test("lateral top-2 decorrelates to a window rank, not a per-row rescan") {
    val p = operators.Joins.joinLateral(spark, SF)
      .queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit") || p.contains("Window"),
      p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p.take(2000))
  }

  test("sketch probes are codegen expressions, not Scala UDFs") {
    // the Bloom decontam prefilter and the CMS heavy-hitter prefilter
    // run in the hottest map stage — they must stay inside
    // WholeStageCodegen (a ScalaUDF fences the span and pays per-row
    // boxing + closure dispatch)
    for (df <- Seq(llm.Curate.decontamBloom(spark, SF),
        llm.Curate.heavyHitters(spark, SF))) {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.toLowerCase.contains("scalaudf") && !p.contains("UDF("),
        s"sketch probe must not be a UDF:\n${p.take(2000)}")
    }
    val p = llm.Curate.heavyHitters(spark, SF)
      .queryExecution.executedPlan.toString
    assert(p.contains("cmsestimatecount") || p.contains("CmsEstimateCount"),
      p.take(2000))
  }

  test("sequence packing shuffles once on the group key, not per stage") {
    // the plan above the one-partition gate
    val p = OnePartitionSpec.withConf(OnePartitionSpec.Shut)(
      llm.Curate.packSequences(spark, SF).queryExecution.executedPlan.toString)
    // window on grp, then groupBy(grp, pack): hashpartitioning(grp)
    // already clusters (grp, pack), so the agg must reuse it
    val hashExchanges = p.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(hashExchanges == 1,
      s"expected a single hash exchange on grp:\n${p.take(2000)}")
  }

  test("NOT IN plans the dedicated null-aware anti join, not a nested loop") {
    val df = operators.Joins.joinAntiNullAware(spark, SF)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // BroadcastHashJoin's toString renders isNullAwareAntiJoin as the
    // bare trailing flag: "..., LeftAnti, BuildRight, true"
    assert(p.contains("LeftAnti, BuildRight, true"),
      s"expected the single-column null-aware BroadcastHashJoin:\n${p.take(2500)}")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2500))
  }

  test("sessionization: lag, cumsum, and the session agg share ONE user shuffle") {
    // the plan above the one-partition gate
    val p = OnePartitionSpec.withConf(OnePartitionSpec.Shut)(
      operators.Windows.winSessionize(spark, SF).queryExecution.executedPlan.toString)
    // both windows and the groupBy(user_id, session_idx) are served by
    // hashpartitioning(user_id) — a second exchange would shuffle the
    // whole event stream again at scale
    val hashExchanges = p.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(hashExchanges == 1,
      s"expected a single hash exchange on user_id:\n${p.take(2500)}")
  }

  test("dedup_mark: window and per-type census share ONE event shuffle") {
    val p = operators.Composite.dedupMark(spark, SF)
      .queryExecution.executedPlan.toString
    // the duplicate-key window hashes on (user, type, minute); the
    // final groupBy(event_type) is a tiny re-shuffle of the census
    // cells, never of events — so exactly the window's exchange plus
    // the census one may appear, and no Join anywhere
    val hashExchanges = p.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(hashExchanges <= 2, s"event stream shuffled repeatedly:\n${p.take(2500)}")
    assert(!p.contains("Join"), p.take(2500))
  }

  test("events_attribution: the as-of pass is join-free on one user shuffle") {
    val p = operators.Composite.eventsAttribution(spark, SF)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), p.take(2500))
    val hashExchanges = p.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    // window on user_id + hour census (tiny)
    assert(hashExchanges <= 2,
      s"expected user window + census only:\n${p.take(2500)}")
  }

  test("join_skew_aqe: the hot partition is skew-split, not a straggler") {
    // sf0.01: the 80%-hot derived key puts ~48k rows (≈1 MB of
    // shuffle) in one partition — far above the scoped 256 KB skew
    // threshold, so OptimizeSkewedJoin must mark the join skew-handled
    operators.Joins.withSkewAqe(spark) { scoped =>
      val df = operators.Joins.skewAqeDf(scoped, SparkTestSession.SF01)
      assert(df.collect().length == 7)
      val finalPlan = df.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"expected AQE skew-join split:\n${finalPlan.take(3000)}")
    }
  }

  test("exact-ntile family is size-gated: above the row threshold the " +
    "plan carries NO global-ordering window") {
    // force the gate shut: any realistic input overflows 10 rows
    spark.conf.set(operators.ScaleGate.ExactNtileMaxRows, "10")
    try {
      for ((name, df) <- Seq(
        "events_rfm" -> operators.Composite.eventsRfm(spark, SF),
        "llm_quality_buckets" -> llm.Pipeline.qualityBuckets(spark, SF))) {
        val p = df.queryExecution.executedPlan.toString
        assert(!p.contains("Window"),
          s"$name must not run a global window above the gate:\n${p.take(2500)}")
        // the approx path still produces a full, ordered bucket census
        val rows = df.collect()
        assert(rows.nonEmpty, name)
      }
      // the gated decile report still covers all ten buckets
      val buckets = llm.Pipeline.qualityBuckets(spark, SF)
        .collect().map(_.getInt(0)).toSeq
      assert(buckets == buckets.sorted && buckets.toSet.size >= 9,
        s"approx deciles lost buckets: $buckets")
    } finally spark.conf.unset(operators.ScaleGate.ExactNtileMaxRows)
  }

  test("dq_stats_audit reads footers only — no data-page scan of the " +
    "audited tables in the plan") {
    val p = operators.Quality.dqStatsAudit(spark, SF)
      .queryExecution.executedPlan.toString
    // the only scan is the in-memory file inventory; a FileScan over
    // lineitem/orders/documents would mean data pages were read
    assert(!p.contains("FileScan"), p.take(2500))
  }
}
