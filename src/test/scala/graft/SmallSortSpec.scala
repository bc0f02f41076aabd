package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The small-sort gate (`plans.SmallSortRule`, `ScaleGate.smallSortMaxBytes`)
  * both ways: a global sort whose input fits the one partition AQE
  * would coalesce its range shuffle into runs in place — no sampling
  * job, no range exchange — and every case outside the gate keeps
  * Spark's plan.
  */
class SmallSortSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import SparkTestSession.{jobsOf, spark, SF}
  import spark.implicits._

  private val MinPartitionSize =
    "spark.sql.adaptive.coalescePartitions.minPartitionSize"

  private def withConf[A](kv: (String, String))(body: => A): A = {
    val prev = spark.conf.getOption(kv._1)
    spark.conf.set(kv._1, kv._2)
    try body
    finally prev.fold(spark.conf.unset(kv._1))(spark.conf.set(kv._1, _))
  }

  private def rangeExchanges(p: SparkPlan): Seq[ShuffleExchangeExec] =
    collect(p) {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }

  private def inPlace(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists {
      case Repartition(1, false, _) => true
      case _ => false
    }

  /** Rows, jobs and executed plan of one run of `df`. */
  private def run(df: => DataFrame): (Seq[org.apache.spark.sql.Row], Int, SparkPlan) = {
    var d: DataFrame = null
    var rows: Seq[org.apache.spark.sql.Row] = null
    val jobs = jobsOf { d = df; rows = d.collect().toSeq }
    (rows, jobs, d.queryExecution.executedPlan)
  }

  private def smallSort: DataFrame = T.t(spark, SF, "orders")
    .select($"o_orderkey", $"o_totalprice")
    .orderBy($"o_totalprice".desc, $"o_orderkey")

  test("a small ORDER BY sorts in place: no range exchange, two fewer " +
      "jobs, the same ordered rows") {
    assert(inPlace(smallSort))
    val (rows, jobs, plan) = run(smallSort)
    assert(rangeExchanges(plan).isEmpty, plan)
    assert(collect(plan) { case c: CoalesceExec => c }.size == 1, plan)
    // over the gate: a 1-byte coalescing target is below any input
    val (offRows, offJobs, offPlan) =
      withConf(MinPartitionSize -> "1b")(run(smallSort))
    assert(!withConf(MinPartitionSize -> "1b")(inPlace(smallSort)))
    assert(rangeExchanges(offPlan).size == 1, offPlan)
    // the RangePartitioner's sampling job and the range shuffle's
    // map stage are the two jobs the gate saves
    assert(jobs == offJobs - 2, s"$jobs jobs in place vs $offJobs")
    assert(rows == offRows)
    assert(rows.size == 1500)
  }

  test("the runtime half fires above an aggregate whose static " +
      "estimate exceeds the gate") {
    // Range(1e6) estimates 8 MB, its 10-group aggregate 12 MB; the
    // measured hash stage is a few hundred bytes
    def q = spark.range(1000000L).groupBy(($"id" % 10).as("k"))
      .agg(count(lit(1)).as("c")).orderBy($"k")
    assert(!inPlace(q), "the static estimate is over the gate")
    val (rows, jobs, plan) = run(q)
    assert(rangeExchanges(plan).isEmpty, plan)
    assert(collect(plan) { case c: CoalesceExec => c }.size == 1, plan)
    val (offRows, offJobs, offPlan) =
      withConf(MinPartitionSize -> "1b")(run(q))
    assert(rangeExchanges(offPlan).size == 1, offPlan)
    assert(jobs == offJobs - 2, s"$jobs jobs in place vs $offJobs")
    assert(rows == offRows)
    assert(rows.map(_.getLong(0)) == (0L until 10L))
  }

  test("the gate leaves alone: a sort under a limit, AQE off, " +
      "coalescing off") {
    val top = smallSort.limit(5)
    assert(!inPlace(top))
    val (topRows, _, topPlan) = run(top)
    assert(collect(topPlan) { case t: TakeOrderedAndProjectExec => t }
      .size == 1, topPlan)
    assert(topRows == run(smallSort)._1.take(5))
    for (kv <- Seq("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false"))
      withConf(kv) {
        assert(!inPlace(smallSort), kv)
        assert(rangeExchanges(run(smallSort)._3).size == 1, kv)
      }
  }

  test("the gate leaves a streaming sort alone") {
    // a streaming sort needs complete-mode aggregation state, and
    // Spark runs stateful queries with AQE off: the gate is closed
    val input = MemoryStream[Int](spark.implicits.newIntEncoder,
      spark.sqlContext)
    val q = input.toDF().groupBy(($"value" % 3).as("k"))
      .agg(count(lit(1)).as("c")).orderBy($"k")
      .writeStream.outputMode("complete").format("memory")
      .queryName("small_sort_stream").start()
    try {
      input.addData(1 to 10)
      q.processAllAvailable()
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
        .lastExecution.executedPlan
      assert(rangeExchanges(plan).size == 1, plan)
    } finally q.stop()
    assert(spark.table("small_sort_stream").as[(Long, Long)].collect()
      .toSeq == Seq((0L, 3L), (1L, 4L), (2L, 3L)))
  }

  test("writeIndexed keeps its range layout: one file per shuffle " +
      "partition") {
    val out = T.scratch(SF, "small_sort_indexed")
    withConf("spark.sql.shuffle.partitions" -> "4") {
      sources.GraftStorage(spark).writeIndexed(
        T.t(spark, SF, "lineitem"), out, "l_shipdate", "l_shipdate")
    }
    val parts = new java.io.File(out).listFiles()
      .count(_.getName.startsWith("part-"))
    assert(parts == 4)
  }
}
