package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Iterative graph operators: integer-ppb PageRank fixpoint algebra,
  * and the one iteration driver they run on.
  */
class GraphSpec extends AnyFunSuite {
  import SparkTestSession.{jobsAndActionsOf, jobsOf, spark, SF}
  import spark.implicits._

  test("Iterate: a round is one observed checkpoint, the stop test " +
      "runs no job of its own") {
    // {0,1,2} → {0,1} → {0} → {}: the third round is empty
    val shrink = (df: DataFrame) =>
      df.filter($"id" > 0).select(($"id" - 1).as("id"))
    var res: Iterate.Result = null
    val jobs = jobsOf {
      res = Iterate(spark.range(3).toDF(), 10, count(lit(1)).as("n"))(
        shrink)(_("n") == 0L)
    }
    assert(res.rounds == 3 && res.stopped)
    assert(jobs == 3, "one checkpoint job per round and no stop job")
    // with no metrics only the cap ends the loop
    val capped = Iterate(spark.range(3).toDF(), 2)(shrink)(_ => true)
    assert(capped.rounds == 2 && !capped.stopped)
    assert(capped.state.as[Long].collect().toSeq == Seq(0L))
  }

  test("graph queries: every round is one observed checkpoint — pinned " +
      "actions and fewer jobs") {
    // warm: the cached edge layouts outlive a run, so the first run
    // also pays their build; the pins are warm-run counts
    def pins(q: => DataFrame): (Int, Int) = {
      q.collect()
      jobsAndActionsOf(q.collect())
    }
    val g = operators.Graph
    // actions = the lineitem row count + one per round + the collect.
    // bfs: levels 0..3, so the 4th round is the empty one that stops
    val (bfsJobs, bfsActions) = pins(g.bfs(spark, SF))
    assert(g.bfs(spark, SF).count() == 4)
    assert(bfsActions == 1 + 4 + 1)
    assert(bfsJobs <= 23, s"bfs: $bfsJobs jobs (31 with a stop job)")
    // pagerank: 5 fixed rounds, N from a cross-joined aggregate
    val (prJobs, prActions) = pins(g.pagerank(spark, SF))
    assert(prActions == 1 + 5 + 1)
    assert(prJobs <= 37, s"pagerank: $prJobs jobs (41 with a nodes count)")
    // labelprop: 3 fixed rounds
    val (lpJobs, lpActions) = pins(g.labelProp(spark, SF))
    assert(lpActions == 1 + 3 + 1)
    assert(lpJobs <= 18, s"labelprop: $lpJobs jobs (20 with a state seed)")
  }

  test("pagerank: closed-form one-step trajectory incl. dangling " +
      "redistribution") {
    // 1 → {2, 3}; nodes 2 and 3 dangle. N=3, r0 = 333333333 each,
    // base = 50000000. Dangling mass 666666666 → share 222222222.
    // r1(1) = base + 850·222222222 div 1000            = 238888888
    // r1(2) = base + 850·(166666666+222222222) div 1000 = 380555554
    val edges = Seq((1L, 2L), (1L, 3L)).toDF("src", "dst")
    val r1 = operators.Graph.pagerankEdges(spark, edges, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 == Map(1L -> 238888888L, 2L -> 380555554L,
      3L -> 380555554L))
  }

  test("pagerank: rank mass is conserved up to integer truncation " +
      "and authority orders hubs first") {
    // star: hub 0 ↔ leaves 1..20 (both directions, no dangling)
    val leaves = (1L to 20L)
    val edges = (leaves.map(l => (0L, l)) ++ leaves.map(l => (l, 0L)))
      .toDF("src", "dst")
    val r = operators.Graph.pagerankEdges(spark, edges, iters = 5)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val total = r.values.sum
    assert(total <= 1000000000L && total > 990000000L,
      s"mass off: $total")
    val hub = r(0L)
    leaves.foreach(l => assert(hub > r(l), s"hub must outrank leaf $l"))
    assert(leaves.map(r).toSet.size == 1, "symmetric leaves rank equal")
  }

  test("pagerank over the supply graph: top-100 is deterministic and " +
      "well-formed") {
    val top = operators.Graph.pagerank(spark, SF).collect()
    assert(top.length == 100)
    val ranks = top.map(_.getLong(1))
    assert(ranks.sameElements(ranks.sorted.reverse), "descending")
    assert(ranks.forall(_ > 0))
    // re-run is bit-identical (integer fixpoint, no float drift)
    val again = operators.Graph.pagerank(spark, SF).collect()
    assert(top.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      again.map(r => (r.getLong(0), r.getLong(1))).toSeq)
  }
}
