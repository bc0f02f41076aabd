package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, LogicalPlan, Project, Repartition}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The one-partition gate (`plans.OnePartitionRule`,
  * `ScaleGate.onePartitionMaxBytes`) both ways: a plan whose scans are
  * each one split and together fit the one partition AQE would
  * coalesce to runs with no shuffle, and every case outside the gate
  * keeps Spark's plan. The gate is shut by a 1-byte coalescing target,
  * which is below any input.
  */
class OnePartitionSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import SparkTestSession.{jobsOf, spark, SF, SF01}
  import OnePartitionSpec.{Shut, withConf}
  import spark.implicits._

  private def shut[A](body: => A): A = withConf(Shut)(body)

  /** Whether the optimized plan coalesces a scan unit. */
  private def onePartition(df: DataFrame): Boolean = {
    def unit(p: LogicalPlan): Boolean = p match {
      case Project(_, c) => unit(c)
      case Filter(_, c) => unit(c)
      case _: LeafNode => true
      case _ => false
    }
    df.queryExecution.optimizedPlan.exists {
      case Repartition(1, false, c) => unit(c)
      case _ => false
    }
  }

  private def shuffles(p: SparkPlan): Seq[ShuffleExchangeExec] =
    collect(p) { case e: ShuffleExchangeExec => e }

  private def broadcasts(p: SparkPlan): Int =
    collect(p) { case e: BroadcastExchangeExec => e }.size

  private def rangeExchanges(p: SparkPlan): Int =
    shuffles(p).count(_.outputPartitioning.isInstanceOf[RangePartitioning])

  /** Rows, jobs and executed plan of one run of `df`. */
  private def run(df: => DataFrame): (Seq[Row], Int, SparkPlan) = {
    var d: DataFrame = null
    var rows: Seq[Row] = null
    val jobs = jobsOf { d = df; rows = d.collect().toSeq }
    (rows, jobs, d.queryExecution.executedPlan)
  }

  private def query(name: String, dir: String): DataFrame =
    SparkEntry.queries(name)(spark, dir)

  // jobs per collect with the gate open and shut (shut, a global sort
  // also pays its sampling job and range shuffle); q3 keeps the
  // broadcast job of its user hint
  private val battery = Seq("q1_pricing" -> (1, 4), "q3_shipping" -> (2, 4),
    "q13_custdist" -> (1, 6), "win_rank" -> (1, 4),
    "interval_merge" -> (1, 4), "llm_pii_scrub" -> (1, 3),
    "llm_bpe_apply" -> (1, 3))

  for ((name, (openJobs, shutJobs)) <- battery)
    test(s"$name runs as one stage: no shuffle, $openJobs job(s), the " +
        "same ordered rows as with the gate shut") {
      query(name, SF01).collect() // warm: llm_bpe_apply trains once
      val (rows, jobs, plan) = run(query(name, SF01))
      assert(shuffles(plan).isEmpty, plan)
      assert(broadcasts(plan) == (if (name == "q3_shipping") 1 else 0), plan)
      val (shutRows, shutRun, _) = shut(run(query(name, SF01)))
      assert(jobs == openJobs, s"$jobs jobs open")
      assert(shutRun == shutJobs, s"$shutRun jobs shut")
      assert(rows == shutRows)
      assert(rows.nonEmpty)
    }

  test("an unhinted equi-join of two scan units plans a shuffled hash " +
      "join in place; a user hint is kept") {
    val o = T.t(spark, SF, "orders")
    val c = T.t(spark, SF, "customer")
    def q(hint: Boolean) = o.join(if (hint) broadcast(c) else c,
        $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment").agg(count(lit(1)).as("n"))
      .orderBy($"c_mktsegment")
    val (rows, jobs, plan) = run(q(hint = false))
    assert(collect(plan) { case j: ShuffledHashJoinExec => j }.size == 1, plan)
    assert(shuffles(plan).isEmpty && broadcasts(plan) == 0, plan)
    assert(jobs == 1)
    val (hRows, hJobs, hPlan) = run(q(hint = true))
    assert(broadcasts(hPlan) == 1 && shuffles(hPlan).isEmpty, hPlan)
    assert(hJobs == 2)
    assert(rows == hRows && rows == shut(run(q(hint = false)))._1)
  }

  test("a join over a join keeps Spark's choice and is not reshuffled") {
    // the upper join's left input is a join: its estimate is the
    // product of its inputs, which EnsureRequirements would reshuffle
    val l = T.t(spark, SF, "lineitem").select($"l_orderkey", $"l_quantity")
    val o = T.t(spark, SF, "orders").select($"o_orderkey", $"o_custkey")
    val c = T.t(spark, SF, "customer").select($"c_custkey", $"c_nationkey")
    def q = l.join(o, $"l_orderkey" === $"o_orderkey")
      .join(c, $"o_custkey" === $"c_custkey")
      .groupBy($"c_nationkey").agg(sum($"l_quantity").as("q"))
      .orderBy($"c_nationkey")
    val (rows, _, plan) = run(q)
    assert(shuffles(plan).isEmpty, plan)
    assert(collect(plan) { case j: ShuffledHashJoinExec => j }.size == 1, plan)
    assert(broadcasts(plan) == 1, plan)
    assert(rows == shut(run(q))._1)
  }

  test("the runtime half fires above a finished stage whose static " +
      "estimate exceeds the gate") {
    // Range is no scan unit and its 10-group aggregate estimates
    // 12 MB; the measured hash stage is a few hundred bytes
    def q = spark.range(1000000L).groupBy(($"id" % 10).as("k"))
      .agg(count(lit(1)).as("c")).orderBy($"k")
    assert(!onePartition(q), "the static plan is outside the gate")
    val (rows, jobs, plan) = run(q)
    assert(rangeExchanges(plan) == 0, plan)
    assert(collect(plan) { case c: CoalesceExec => c }.size == 1, plan)
    val (shutRows, shutJobs, shutPlan) = shut(run(q))
    assert(rangeExchanges(shutPlan) == 1, shutPlan)
    assert(jobs == shutJobs - 2, s"$jobs jobs open vs $shutJobs")
    assert(rows == shutRows)
    assert(rows.map(_.getLong(0)) == (0L until 10L))
  }

  test("a sort whose input fits one partition but does not plan as one " +
      "sorts in place: a multi-file scan, an unpivot") {
    val dir = T.scratch(SF, "one_partition_sorted_files")
    T.t(spark, SF, "orders").repartition(2).write.mode("overwrite").parquet(dir)
    def sorted = spark.read.parquet(dir).select($"o_orderkey", $"o_totalprice")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
    val (rows, jobs, plan) = run(sorted)
    assert(rangeExchanges(plan) == 0, plan)
    val (shutRows, shutJobs, shutPlan) = shut(run(sorted))
    assert(rangeExchanges(shutPlan) == 1, shutPlan)
    assert(jobs == shutJobs - 2, s"$jobs jobs open vs $shutJobs")
    assert(rows == shutRows)
    // unpivot plans an Expand, whose output is not one partition
    val (uRows, uJobs, uPlan) = run(query("agg_unpivot", SF01))
    assert(shuffles(uPlan).isEmpty, uPlan)
    assert(uJobs == 1)
    assert(uRows == shut(run(query("agg_unpivot", SF01)))._1)
  }

  test("a sort under a limit still plans TakeOrderedAndProject") {
    def small = T.t(spark, SF, "orders")
      .select($"o_orderkey", $"o_totalprice")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
    val (rows, _, plan) = run(small.limit(5))
    assert(collect(plan) { case t: TakeOrderedAndProjectExec => t }.size == 1,
      plan)
    assert(rows == run(small)._1.take(5))
  }

  private def aggOf(df: DataFrame): DataFrame =
    df.groupBy($"o_orderstatus").agg(count(lit(1)).as("n"))
      .orderBy($"o_orderstatus")

  test("the gate stays shut on a multi-file directory and on a file " +
      "larger than one split") {
    val dir = T.scratch(SF, "one_partition_two_files")
    T.t(spark, SF, "orders").repartition(2).write.mode("overwrite").parquet(dir)
    val twoFiles = aggOf(spark.read.parquet(dir))
    assert(!onePartition(twoFiles))
    assert(shuffles(run(twoFiles)._3).nonEmpty)
    // orders is 36 KB; with 16 KB splits it is three of them
    withConf("spark.sql.files.maxPartitionBytes" -> "16k",
        "spark.sql.files.openCostInBytes" -> "1k") {
      val split = aggOf(T.t(spark, SF, "orders"))
      assert(!onePartition(split))
      assert(shuffles(run(split)._3).nonEmpty)
    }
    assert(onePartition(aggOf(T.t(spark, SF, "orders"))))
  }

  test("the gate stays shut on an explicit repartition, with AQE off " +
      "and with coalescing off") {
    // the repartition and the aggregate keep their exchanges; the
    // small sort above them still sorts in place
    val q = aggOf(T.t(spark, SF, "orders").repartition(3))
    assert(!onePartition(q))
    val repartitioned = run(q)._3
    assert(shuffles(repartitioned).size == 2, repartitioned)
    assert(rangeExchanges(repartitioned) == 0, repartitioned)
    for (kv <- Seq("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false"))
      withConf(kv) {
        val d = aggOf(T.t(spark, SF, "orders"))
        assert(!onePartition(d), kv)
        assert(shuffles(run(d)._3).size == 2, kv)
      }
  }

  test("the gate leaves a streaming query alone") {
    val input = MemoryStream[Int](spark.implicits.newIntEncoder,
      spark.sqlContext)
    val q = input.toDF().groupBy(($"value" % 3).as("k"))
      .agg(count(lit(1)).as("c")).orderBy($"k")
      .writeStream.outputMode("complete").format("memory")
      .queryName("one_partition_stream").start()
    try {
      input.addData(1 to 10)
      q.processAllAvailable()
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
        .lastExecution.executedPlan
      assert(rangeExchanges(plan) == 1, plan)
    } finally q.stop()
    assert(spark.table("one_partition_stream").as[(Long, Long)].collect()
      .toSeq == Seq((0L, 3L), (1L, 4L), (2L, 3L)))
  }

  test("writeIndexed keeps its range layout: one file per shuffle " +
      "partition") {
    val out = T.scratch(SF, "one_partition_indexed")
    withConf("spark.sql.shuffle.partitions" -> "4") {
      sources.GraftStorage(spark).writeIndexed(
        T.t(spark, SF, "lineitem"), out, "l_shipdate", "l_shipdate")
    }
    val parts = new java.io.File(out).listFiles()
      .count(_.getName.startsWith("part-"))
    assert(parts == 4)
  }
}

object OnePartitionSpec {
  /** A 1-byte coalescing target: below any input, so the one-partition
    * gate is shut. Plan-shape specs that pin the plan Spark runs above
    * the gate build their plans under it.
    */
  val Shut: (String, String) =
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1b"

  def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val spark = SparkTestSession.spark
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }
}
