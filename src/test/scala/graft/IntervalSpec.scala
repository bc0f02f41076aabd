package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the distributed interval analytics family
  * (IntervalAnalytics.scala) beyond the DuckDB oracles: island
  * disjointness/conservation, the merge↔coverage duality, and a
  * brute-force closest-distance cross-check at sf0.001.
  */
class IntervalSpec extends AnyFunSuite {
  import SparkTestSession.{spark, SF}
  import spark.implicits._

  // cached with the plan above the one-partition gate: the plan
  // hygiene test below reads this cached plan back
  private lazy val merged = OnePartitionSpec.withConf(OnePartitionSpec.Shut)(
    operators.IntervalAnalytics.intervalMerge(spark, SF).cache())

  test("merged islands are disjoint, non-touching, and conserve the census") {
    val rows = merged.orderBy($"user_id", $"island").collect()
    rows.groupBy(_.getLong(0)).foreach { case (_, ivs) =>
      ivs.sliding(2).foreach {
        case Array(a, b) =>
          // closed intervals: touching ([_,e] then [e+1,_]) merges,
          // so consecutive islands must leave a gap of at least one
          assert(b.getLong(2) > a.getLong(3) + 1,
            s"islands touch/overlap: $a then $b")
        case _ => ()
      }
    }
    rows.foreach(r => assert(r.getLong(3) >= r.getLong(2)))
    // every source interval lands in exactly one island
    val n = merged.agg(sum($"n_merged")).collect()(0).getLong(0)
    val total = T.events(spark, SF).count()
    assert(n == total)
  }

  test("coverage covered_s equals total merged island length (duality)") {
    // sweep-line covered seconds and merged-island total length are
    // two computations of the same measure — closed [s,e] covers
    // e-s+1 seconds
    val cov = operators.IntervalAnalytics.intervalCoverage(spark, SF)
      .select($"user_id", $"covered_s")
    val fromMerge = merged.groupBy($"user_id")
      .agg(sum($"ivl_end" - $"ivl_start" + 1L).as("len"))
    val joined = cov.join(fromMerge, "user_id")
      .filter($"covered_s" =!= $"len")
    assert(joined.count() == 0)
  }

  test("coverage max_depth is at least 1 and at most the interval count") {
    val counts = T.events(spark, SF).groupBy($"user_id")
      .agg(count(lit(1)).as("n"))
    val bad = operators.IntervalAnalytics.intervalCoverage(spark, SF)
      .join(counts, "user_id")
      .filter($"max_depth" < 1 || $"max_depth" > $"n")
    assert(bad.count() == 0)
  }

  test("islands plus gaps tile each user's activity span exactly") {
    val islandLen = merged.groupBy($"user_id")
      .agg(sum($"ivl_end" - $"ivl_start" + 1L).as("ilen"),
        min($"ivl_start").as("lo"), max($"ivl_end").as("hi"))
    val gapLen = operators.IntervalAnalytics.intervalGaps(spark, SF)
      .groupBy($"user_id")
      .agg(sum($"gap_end" - $"gap_start" + 1L).as("glen"))
    val bad = islandLen.join(gapLen, Seq("user_id"), "left_outer")
      .filter($"ilen" + coalesce($"glen", lit(0L)) =!=
        $"hi" - $"lo" + 1L)
    assert(bad.count() == 0)
    // gaps are genuinely uncovered: all positive length
    val neg = operators.IntervalAnalytics.intervalGaps(spark, SF)
      .filter($"gap_end" < $"gap_start")
    assert(neg.count() == 0)
  }

  test("distributed merge equals driver-side normalize on 200 random " +
    "timelines (adjacency contract)") {
    import org.apache.spark.sql.expressions.Window
    // one DataFrame holding 200 independently generated timelines;
    // the per-group islands must equal Intervals.normalize run on
    // each group's interval list — one Spark job, dense coverage of
    // overlap/adjacent/nested/duplicate shapes
    val rnd = new scala.util.Random(42)
    val data = for {
      g <- 0 until 200
      i <- 0 until (1 + rnd.nextInt(30))
    } yield {
      val lo = rnd.nextInt(500).toLong
      (g.toLong, (g * 1000 + i).toLong, lo, lo + rnd.nextInt(40).toLong)
    }
    val df = spark.createDataFrame(data)
      .toDF("user_id", "event_id", "start_s", "end_s")
    val w = Window.partitionBy($"user_id")
      .orderBy($"start_s", $"end_s", $"event_id")
    val cummaxEnd = max($"end_s")
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val got = df
      .withColumn("opens",
        when($"start_s" > coalesce(cummaxEnd + 1L, lit(Long.MinValue)),
          1L).otherwise(0L))
      .withColumn("island",
        sum($"opens").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy($"user_id", $"island")
      .agg(min($"start_s").as("s"), max($"end_s").as("e"))
      .collect()
      .groupBy(_.getLong(0))
      .map { case (g, rows) =>
        g -> rows.sortBy(_.getLong(1)).map(r => (r.getLong(2), r.getLong(3))).toSeq
      }
    val want = data.groupBy(_._1).map { case (g, ivs) =>
      g -> operators.Intervals.normalize(ivs.map(t => (t._3, t._4)))
    }
    assert(got.keySet == want.keySet)
    want.foreach { case (g, exp) =>
      assert(got(g) == exp, s"group $g: got ${got(g)} want $exp")
    }
  }

  test("closest matches the brute-force distance at sf0.001") {
    val tagged = T.events(spark, SF).select(
      $"user_id", $"event_id", $"event_type",
      unix_timestamp($"ts").as("start_s"),
      (unix_timestamp($"ts") + pmod($"event_id", lit(14400L))).as("end_s"))
    // brute force: all (purchase, target-interval) pairs per user over
    // RAW targets — distance to the nearest raw interval equals
    // distance to the nearest merged island (merging only unions
    // overlapping spans; it never changes the point-to-set distance)
    val q = tagged.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id", $"start_s".as("pos"))
    val t = tagged.filter($"event_type" =!= "purchase")
      .select($"user_id", $"start_s", $"end_s")
    val brute = q.join(t, "user_id")
      .groupBy($"user_id", $"event_id")
      .agg(min(greatest(
        $"start_s" - $"pos", $"pos" - $"end_s", lit(0L))).as("bf"))
    val fast = operators.IntervalAnalytics.intervalClosest(spark, SF)
    val diff = fast.join(brute, Seq("user_id", "event_id"), "full_outer")
      .filter(!($"dist_s" <=> $"bf"))
    assert(diff.count() == 0, diff.limit(5).collect().mkString("; "))
  }

  test("interval family plan hygiene: merge/coverage shuffle once, " +
    "closest plans no join") {
    // the plan above the one-partition gate
    def exec(df: => org.apache.spark.sql.DataFrame) =
      OnePartitionSpec.withConf(OnePartitionSpec.Shut) {
        val d = df
        d.collect()
        // AQE toString prints Final AND Initial plans — count only final
        d.queryExecution.executedPlan.toString
          .split("== Initial Plan ==")(0)
      }
    def hashExchanges(p: String): Int =
      "Exchange hashpartitioning".r.findAllIn(p).length
    val pm = exec(operators.IntervalAnalytics.intervalMerge(spark, SF))
    assert(hashExchanges(pm) == 1, pm)
    val pc = exec(operators.IntervalAnalytics.intervalCoverage(spark, SF))
    assert(hashExchanges(pc) == 1, pc)
    val pl = exec(operators.IntervalAnalytics.intervalClosest(spark, SF))
    assert(!pl.contains("Join"), pl)
  }
}
