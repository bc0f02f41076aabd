package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale smoke for the near-dup pipeline: replicate the corpus 20×
  * (disjoint doc_id ranges, unchanged text), run the MinHash-LSH
  * pipeline, and check that every replica's planted pairs survive.
  * Exercises candidate-bounding behavior at 10k docs / ~1M shingle
  * rows — the shape that must hold at 100 TB, where all-pairs
  * verification is impossible but banding keeps candidates linear.
  */
class DedupScaleSpec extends AnyFunSuite {
  import SparkTestSession.{spark, SF}
  import spark.implicits._

  test("embed grid join at 16x corpus: equi-join plan, arithmetically exact") {
    // 8000 vectors -> 32M candidate pairs through the block grid.
    // Replicas are EXACT copies at shifted ids, so the expected pair
    // count is closed-form: every original qualifying pair appears
    // once per replica-pair combination (16^2 ordered -> 136
    // unordered-with-equal allowed), and every vector matches its own
    // 15 other copies (cos=1 >= 0.45): 136*P + C(16,2)*N + 15N ...
    // simpler and robust: count pairs among replicas of the SAME
    // original pair set via the exact predicate on the small table.
    val base = T.t(spark, SF, "embeddings")
      .select($"vec_id", $"embedding")
    val n = base.count()
    val reps = 16
    val big = base.crossJoin(spark.range(reps).select($"id".as("rep")))
      .select(($"vec_id" + $"rep" * 100000L).as("vec_id"), $"embedding")
    val out = T.scratch(SF, "embeddings_16x")
    big.write.mode("overwrite").parquet(out)
    val res = llm.Knn.dedupEmbedOn(spark, out)
    val plan = res.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
    val got = res.count()
    // closed form: P base qualifying pairs x (reps + 2*C(reps,2)) is
    // wrong only if base has exact-duplicate vectors; instead compute
    // the expectation directly: each base pair (a,b), a<b qualifies in
    // all reps^2 (i-rep a, j-rep b) combinations EXCEPT double
    // counting — ids are distinct so ordered-by-id pairs count once
    // each: reps^2 per base pair; self pairs (same base vector, two
    // different reps): C(reps,2) per base vector (cos = 1).
    val basePairs = llm.Knn.dedupEmbed(spark, SF).count()
    val expected = basePairs * reps * reps + n * reps * (reps - 1) / 2
    assert(got == expected, s"got=$got expected=$expected")
  }

  test("minhash-LSH pipeline at 20x corpus keeps planted-pair recall") {
    val base = T.t(spark, SF, "documents")
    val replicas = spark.range(20).select($"id".as("rep"))
    val big = base.crossJoin(replicas)
      .select(($"doc_id" + $"rep" * 10000L).as("doc_id"), $"text")
    val out = T.scratch(SF, "documents_20x")
    big.write.mode("overwrite").parquet(out)

    // same pipeline, pointed at the scaled table
    val t = llm.Dedup.shingleRows(spark.read.parquet(out))
    val sigs = llm.Dedup.minhashSigs(t)
    assert(sigs.count() == 20 * base.count())

    val pairs = {
      // reuse the public query against a scratch dir shaped like a
      // sf dir (documents.parquet inside)
      val dir = T.scratch(SF, "documents_20x_dir")
      big.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      llm.Dedup.dedupNear(spark, dir)
        .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    }
    val basePairs = llm.Dedup.ngramJaccard(spark, SF)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(basePairs.nonEmpty)
    // every replica of every planted pair must be found
    (0 until 20).foreach { rep =>
      basePairs.foreach { case (a, b) =>
        val (ra, rb) = (a + rep * 10000L, b + rep * 10000L)
        assert(pairs.contains((ra, rb)), s"missing pair ($ra,$rb) rep=$rep")
      }
    }
    // identical texts across replicas also become (jaccard=1) pairs;
    // candidates stay bounded — sanity-check the result is not an
    // all-pairs explosion (10k docs → ~50M possible pairs)
    assert(pairs.size < 500000, s"candidate blowup: ${pairs.size}")
  }

  test("distributed clustering at 150k edges: converges ≤20 rounds, exact components") {
    // the PAST-the-driver-gate path (LocalEdgesConf = 100k): 1500
    // chains of 100 edges each — diameter 100, the worst case plain
    // min-label propagation needs 100 rounds for; pointer jumping must
    // close it in O(log d). Closed-form oracle: every node's cluster
    // is its chain's base id. maxIters=20 doubles as the assertion —
    // non-convergence throws.
    val chains = 1500L
    val len = 101L // nodes per chain -> 100 edges
    val pairs = spark.range(chains * (len - 1)).select(
      (($"id" / (len - 1)).cast("long") * 1000L + ($"id" % (len - 1)))
        .as("doc_a"),
      (($"id" / (len - 1)).cast("long") * 1000L + ($"id" % (len - 1)) + 1L)
        .as("doc_b"))
    assert(pairs.count() == 150000)
    val got = llm.Dedup.dedupClustersDistributed(spark, pairs, maxIters = 20)
    val bad = got.filter($"cluster_id" =!= ($"doc_id" / 1000L).cast("long") * 1000L)
    assert(bad.isEmpty, s"wrong labels: ${bad.take(5).mkString(",")}")
    assert(got.count() == chains * len)
    // agreement with the driver union-find on a collectable subgraph:
    // same pairs, first 20 chains, both paths produce identical maps
    val small = pairs.filter($"doc_a" < 20000L)
    val viaDriver = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x; while (parent(r) != r) r = parent(r); r
      }
      small.collect().foreach { row =>
        val (a, b) = (row.getLong(0), row.getLong(1))
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(d => d -> find(d)).toMap
    }
    val viaDist = llm.Dedup.dedupClustersDistributed(spark, small, maxIters = 20)
      .as[(Long, Long)].collect().toMap
    assert(viaDist == viaDriver)
  }

  test("distributed clustering: each round is one observed checkpoint " +
      "and the fixpoint stops in the same round") {
    import SparkTestSession.jobsAndActionsOf
    // 30 chains of 20 edges: diameter 20
    val pairs = spark.range(30L * 20L).select(
      (($"id" / 20L).cast("long") * 1000L + ($"id" % 20L)).as("doc_a"),
      (($"id" / 20L).cast("long") * 1000L + ($"id" % 20L) + 1L).as("doc_b"))
    def run(maxIters: Int) =
      llm.Dedup.dedupClustersDistributed(spark, pairs, maxIters).collect()
    run(20)
    val (jobs, actions) = jobsAndActionsOf(run(20))
    // the edge checkpoint + 7 rounds + the collect; the 7th round is
    // the one that changes no label, so a 6-round cap throws
    assert(actions == 1 + 7 + 1)
    assert(jobs <= 44, s"$jobs jobs (71 with a stop job per round)")
    run(7)
    intercept[IllegalStateException](run(6))
  }

  test("lm_score absorbs a planted Zipfian hot bigram via AQE skew-split") {
    // SURVEY §8c#8's claim, now gated: 300k docs all sharing ONE hot
    // bigram skew the bigram⋈counts shuffle join onto a single key;
    // with broadcast off (vocab² can exceed the threshold at corpus
    // scale) AQE must mark the join skew-handled, not stall one task
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prior = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val docs = spark.range(300000).select($"id".as("doc_id"),
        concat(lit("the cat w"), pmod($"id", lit(97)).cast("string"),
          lit(" the cat")).as("text"))
      val scored = llm.TextStats.lmScoreDocs(spark, docs)
      // materialize THIS QueryExecution so AQE finalizes its plan
      assert(scored.collect().length == 300000)
      val finalPlan = scored.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"expected AQE skew-join on the hot bigram:\n${finalPlan.take(3000)}")
    } finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
