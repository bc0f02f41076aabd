package graft

import org.scalatest.funsuite.AnyFunSuite

/** Probabilistic-operator quality gates: the ops whose internals
  * (xxhash seeds, hyperplanes) have no SQL oracle are bounded against
  * their exact counterparts instead.
  */
class LlmSpec extends AnyFunSuite {
  import SparkTestSession.{spark, SF, SF01}
  import spark.implicits._

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet

  private lazy val exactPairs = pairSet(llm.Dedup.ngramJaccard(spark, SF))

  test("exact ngram jaccard finds the planted near-dup pairs") {
    assert(exactPairs.nonEmpty)
  }

  test("winnowing pairs overlap the jaccard near-dup family") {
    // different similarity notion (shared fingerprinted runs vs
    // set-jaccard), same planted near-dups: the families must agree
    // on a substantial core
    val wp = pairSet(llm.TextStats.winnowPairs(spark, SF))
    assert(wp.nonEmpty)
    val overlap = (wp & exactPairs).size.toDouble / exactPairs.size
    info(s"winnow∩jaccard coverage=$overlap winnow=${wp.size}")
    assert(overlap >= 0.5, s"coverage=$overlap")
  }

  test("minhash-LSH dedup returns exactly the exact-jaccard pairs") {
    val lsh = pairSet(llm.Dedup.dedupNear(spark, SF))
    assert(lsh == exactPairs,
      s"missing=${exactPairs -- lsh} extra=${lsh -- exactPairs}")
  }

  test("stored-index ppjoin matches the LSH incremental pairs exactly") {
    // same cross-batch contract, opposite mechanisms (frozen-order
    // prefix index on disk vs MinHash bands): pair sets must agree
    val stored = pairSet(llm.Dedup.dedupPpjoinStored(spark, SF))
    val lsh = pairSet(llm.Dedup.dedupIncremental(spark, SF))
    assert(stored == lsh, s"missing=${lsh -- stored} extra=${stored -- lsh}")
  }

  test("prefix-filtered ppjoin returns exactly the exact-jaccard pairs, no all-pairs join") {
    val pp = llm.Dedup.dedupPpjoin(spark, SF)
    val plan = pp.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan.take(2000))
    // the fixture's flat df (Σdf²/Σdf ≈ 2) is under the inverted budget
    assert(onePass(pp), "expected the one-pass inverted branch")
    assert(pairSet(pp) == exactPairs,
      s"missing=${exactPairs -- pairSet(pp)} extra=${pairSet(pp) -- exactPairs}")
  }

  // The fixtures never blow the inverted budget nor reach the df cap
  // (max df ≤ 25 against a cap of 64), so the prefix/position path and
  // the saturated LSH fallback run only when forced by these arguments.
  private lazy val shingles =
    llm.Dedup.shingleRows(T.t(spark, SF, "documents")).localCheckpoint()

  /** The one-pass branch is the only one that aggregates first(n). */
  private def onePass(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.toString.contains("first(")

  test("ppjoin prefix path with no saturated token returns exactly the " +
    "exact-jaccard pairs") {
    val pp = llm.Dedup.ppjoinWith(spark, shingles, invertedBudget = 0,
      dfCap = Long.MaxValue)
    assert(!onePass(pp))
    assert(pairSet(pp) == exactPairs,
      s"missing=${exactPairs -- pairSet(pp)} extra=${pairSet(pp) -- exactPairs}")
  }

  test("ppjoin prefix path with every token saturated (all-LSH fallback) " +
    "returns exactly the exact-jaccard pairs") {
    val pp = llm.Dedup.ppjoinWith(spark, shingles, invertedBudget = 0,
      dfCap = 0L)
    assert(!onePass(pp))
    assert(pairSet(pp) == exactPairs,
      s"missing=${exactPairs -- pairSet(pp)} extra=${pairSet(pp) -- exactPairs}")
  }

  test("ppjoin keeps pairs at J = τ whose shared tokens end the prefix") {
    // pair p is docs 2p and 2p+1: k tokens of each doc's own (df 1),
    // m shared ones (df 2). Rarest-first puts the shared tokens LAST,
    // so at J = m/(2k+m) = τ the pair shares only the prefix's tail
    val specs = for (k <- 1 to 4; m <- Seq(2 * k - 1, 2 * k, 2 * k + 1))
      yield (k, m)
    val rows = specs.zipWithIndex.flatMap { case ((k, m), p) =>
      val shared = (0 until m).map(i => s"p${p}_s$i")
      Seq(2L * p, 2L * p + 1).flatMap { d =>
        ((0 until k).map(i => s"d${d}_u$i") ++ shared).map(t => (d, t))
      }
    }
    val want = specs.zipWithIndex.collect {
      case ((k, m), p) if 2 * m >= 2 * k + m => (2L * p, 2L * p + 1)
    }.toSet
    val sh = rows.toDF("doc_id", "tok")
    for (budget <- Seq(0.0, 256.0)) {
      val got =
        pairSet(llm.Dedup.ppjoinWith(spark, sh, budget, Long.MaxValue))
      assert(got == want,
        s"budget=$budget missing=${want -- got} extra=${got -- want}")
    }
  }

  test("stored-index ppjoin with every corpus token saturated matches the " +
    "LSH incremental pairs exactly") {
    val stored = pairSet(llm.Dedup.ppjoinStoredWith(spark, SF, dfCap = 0L))
    val lsh = pairSet(llm.Dedup.dedupIncremental(spark, SF))
    assert(lsh.nonEmpty)
    assert(stored == lsh, s"missing=${lsh -- stored} extra=${stored -- lsh}")
  }

  test("simhash banding recovers most planted near-dup pairs") {
    val sim = pairSet(llm.Dedup.dedupSimhash(spark, SF))
    val recall = (sim & exactPairs).size.toDouble / exactPairs.size
    info(s"simhash recall=$recall pairs=${sim.size}")
    assert(recall >= 0.5, s"recall=$recall")
  }

  test("dedup clusters give both pair endpoints the same canonical label") {
    val labels = llm.Dedup.dedupClusters(spark, SF)
      .as[(Long, Long)].collect().toMap
    assert(exactPairs.nonEmpty)
    exactPairs.foreach { case (a, b) =>
      assert(labels(a) == labels(b), s"pair ($a,$b)")
      assert(labels(a) <= a && labels(a) <= b, "canonical = component min")
    }
    // every label is itself a member labeled by itself (root property)
    labels.values.toSet.foreach((l: Long) => assert(labels(l) == l))
  }

  test("driver union-find and distributed label propagation agree exactly") {
    val local = llm.Dedup.dedupClusters(spark, SF)
      .as[(Long, Long)].collect().toSeq
    spark.conf.set(llm.Dedup.LocalEdgesConf, "0") // force distributed
    try {
      val dist = llm.Dedup.dedupClusters(spark, SF)
        .as[(Long, Long)].collect().toSeq
      assert(local == dist)
      assert(local.nonEmpty)
    } finally spark.conf.unset(llm.Dedup.LocalEdgesConf)
  }

  private def knnSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select($"qid", $"nid").as[(Long, Long)].collect().toSet

  test("PQ knn recalls a useful fraction of brute-force neighbors") {
    val brute = knnSet(llm.Knn.knn(spark, SF))
    val pq = knnSet(llm.Knn.knnPq(spark, SF))
    val recall = (brute & pq).size.toDouble / brute.size
    val trained = knnSet(llm.Knn.knnPqTrained(spark, SF))
    val tRecall = (brute & trained).size.toDouble / brute.size
    info(s"pq recall@5=$recall trained recall@5=$tRecall")
    assert(recall >= 0.15, s"recall=$recall")
    assert(tRecall >= 0.15, s"trained recall=$tRecall")
  }

  test("span removal: clean docs pass through verbatim, dup coverage " +
      "only ever removes") {
    val spans = llm.Dedup.dupSpans(spark, SF)
      .select($"doc_id", $"dup_ppm").as[(Long, Long)].collect().toMap
    val removed = llm.Dedup.dupSpanRemove(spark, SF)
      .select($"doc_id", $"n_toks", $"n_kept", $"clean_text")
      .collect()
    val original = T.t(spark, SF, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    assert(removed.nonEmpty)
    var anyRemoved = false
    removed.foreach { r =>
      val (id, nToks, nKept) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(nKept <= nToks, s"doc $id grew")
      if (spans.getOrElse(id, 0L) == 0L) {
        // no duplicated span anywhere in the doc → untouched
        assert(nKept == nToks, s"doc $id lost tokens with dup_ppm=0")
        assert(r.getString(3) == original(id), s"doc $id text changed")
      }
      if (nKept < nToks) anyRemoved = true
    }
    assert(anyRemoved, "corpus has dup spans; something must be cut")
  }

  test("IVF-PQ composite: results come only from probed cells and " +
      "recall a useful fraction of the IVF candidate ceiling") {
    val brute = knnSet(llm.Knn.knn(spark, SF))
    val ivf = knnSet(llm.Knn.knnIvf(spark, SF))
    val ivfpq = knnSet(llm.Knn.knnIvfPq(spark, SF))
    // the coarse quantizer bounds the candidate set: every IVF-PQ
    // neighbor must be reachable by the plain-IVF candidate plan
    // (same cells, same probes) — PQ only re-ranks inside it
    val ivfCand = llm.Knn.ivfCandidatePairs(spark, SF)
    assert(ivfpq.subsetOf(ivfCand),
      s"${(ivfpq -- ivfCand).take(5)} outside probed cells")
    val recall = (brute & ivfpq).size.toDouble / brute.size
    val ceiling = (brute & ivf).size.toDouble / brute.size
    info(s"ivfpq recall@5=$recall ivf ceiling=$ceiling")
    assert(recall >= 0.10, s"recall=$recall")
  }

  test("LSH knn recalls a useful fraction of brute-force neighbors") {
    val brute = knnSet(llm.Knn.knn(spark, SF))
    val ann = knnSet(llm.Knn.knnLsh(spark, SF))
    val recall = (brute & ann).size.toDouble / brute.size
    info(s"ann recall@5=$recall")
    assert(recall >= 0.15, s"recall=$recall")
  }

  test("IVF knn recalls a useful fraction of brute-force neighbors") {
    val brute = knnSet(llm.Knn.knn(spark, SF))
    val ivf = knnSet(llm.Knn.knnIvf(spark, SF))
    val recall = (brute & ivf).size.toDouble / brute.size
    info(s"ivf recall@5=$recall")
    assert(recall >= 0.5, s"recall=$recall")
  }

  test("trained-centroid IVF matches or beats the first-k heuristic") {
    val brute = knnSet(llm.Knn.knn(spark, SF))
    val heur = knnSet(llm.Knn.knnIvf(spark, SF))
    val trained = knnSet(llm.Knn.knnIvfTrained(spark, SF))
    val rHeur = (brute & heur).size.toDouble / brute.size
    val rTrained = (brute & trained).size.toDouble / brute.size
    info(s"ivf heuristic recall@5=$rHeur trained recall@5=$rTrained")
    assert(rTrained >= 0.5, s"recall=$rTrained")
    // training should not hurt at fixture scale (allow small jitter)
    assert(rTrained >= rHeur - 0.05, s"trained=$rTrained heuristic=$rHeur")
  }

  test("k-means training is deterministic and actually moves centroids") {
    import org.apache.spark.sql.functions._
    val b = SparkTestSession.spark.read
      .parquet(s"$SF/embeddings.parquet")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .withColumn("nrm",
        sqrt(aggregate(transform($"v", x => x * x), lit(0.0), (a, x) => a + x)))
    val c1 = llm.Knn.trainCentroids(spark, b, 16, 3)
    val c2 = llm.Knn.trainCentroids(spark, b, 16, 3)
    assert(c1 == c2, "two fits over the same data must be identical")
    val init = b.filter($"vec_id" < 16).orderBy($"vec_id")
      .select($"v").collect().map(_.getSeq[Double](0).toSeq).toIndexedSeq
    assert(c1 != init, "3 Lloyd passes should move the centroids")
  }

  test("LSH knn similarities are never above brute-force kth") {
    // ANN must return true cosines (no fabricated scores): every ANN
    // hit's score equals the brute-force score for that pair.
    val brute = llm.Knn.knn(spark, SF)
      .select($"qid", $"nid", $"cos_sim").as[(Long, Long, Double)]
      .collect().map { case (q, n, c) => (q, n) -> c }.toMap
    val ann = llm.Knn.knnLsh(spark, SF)
      .select($"qid", $"nid", $"cos_sim").as[(Long, Long, Double)].collect()
    ann.foreach { case (q, n, c) =>
      brute.get((q, n)).foreach(b => assert(b == c, s"pair ($q,$n)"))
    }
  }

  test("survivor selection partitions the corpus exactly") {
    val rows = llm.Pipeline.dedupSurvivors(spark, SF).collect()
    val total = spark.read.parquet(s"$SF/documents.parquet").count()
    assert(rows.map(_.getLong(2)).sum == total, "members partition the corpus")
    // each survivor appears exactly once and clusters are disjoint
    val survivors = rows.map(_.getLong(1))
    assert(survivors.distinct.length == survivors.length)
    // every multi-member cluster corresponds to a found near-dup pair
    val multi = rows.filter(_.getLong(2) > 1)
    assert(multi.nonEmpty, "fixtures plant near-dup pairs")
    multi.foreach { r =>
      assert(exactPairs.exists(p => p._1 == r.getLong(0)),
        s"cluster ${r.getLong(0)} has no planted pair")
    }
  }

  test("contamination flags the planted near-dups of probe docs only when overlapping") {
    val flagged = llm.Pipeline.contamination(spark, SF)
      .collect().map(_.getLong(0)).toSet
    // no probe doc flags itself
    assert(flagged.forall(_ >= 5))
    // any doc sharing a >=0.5-jaccard pair with a probe doc must flag
    exactPairs.filter(_._1 < 5).map(_._2).filter(_ >= 5).foreach { d =>
      assert(flagged.contains(d), s"doc $d near-dups a probe doc")
    }
  }

  test("exact dedup sees all docs unique in fixtures") {
    val r = llm.Dedup.dedupExact(spark, SF).collect()(0)
    assert(r.getLong(0) >= r.getLong(1))
  }

  test("bigram LM score: every multi-token doc scored, probabilities proper") {
    import spark.implicits._
    val scored = llm.TextStats.lmScore(spark, SF)
      .select($"doc_id", $"n_bigrams", $"lm_score").collect()
    val docsWithBigrams = T.t(spark, SF, "documents")
      .filter(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.split($"text", " ")) >= 2).count()
    assert(scored.length == docsWithBigrams)
    // log-probs of a proper (smoothed) distribution are strictly negative
    assert(scored.forall(_.getDouble(2) < 0.0))
    // a near-dup pair is built from the same constructions — their
    // mean log-probs should sit close together (planted pairs ≥0.89
    // jaccard; 0.35 nats is a loose band that still catches a broken
    // count join, which moves scores by whole nats)
    val byId = scored.map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val pairs = llm.Dedup.ngramJaccard(spark, SF)
      .filter($"jaccard" >= 0.89)
      .select($"doc_a", $"doc_b").collect()
    assert(pairs.nonEmpty)
    pairs.foreach { p =>
      val (a, b) = (byId(p.getLong(0)), byId(p.getLong(1)))
      assert(math.abs(a - b) < 0.35, s"pair $p scores $a vs $b")
    }
  }

  test("windowed TTL dedup pairs are the windowed subset of the stream pairs") {
    import spark.implicits._
    val all = llm.Dedup.dedupStream(spark, SF)
      .select($"doc_a", $"doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val windowed = llm.Dedup.dedupStreamTtl(spark, SF)
      .select($"doc_a", $"doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(windowed ==
      all.filter { case (a, b) => b - a <= llm.Dedup.TtlWindow })
    assert(windowed.nonEmpty && windowed.size < all.size)
  }

  test("BPE training matches the closed form and stops when pairs run out") {
    import spark.implicits._
    // vocab {aaab×3}: round 1 merges a_a (freq 6: overlapping pairs
    // count per position, as in canonical BPE), round 2 ties a_b vs
    // aa_a and '_'<'a' breaks toward a_b, round 3 merges the whole
    // word — round 4 has no pairs left and training must stop early.
    val dir = T.scratch(SF, "bpe_closed_form")
    Seq((0L, "aaab aaab"), (1L, "aaab"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rules = llm.TextStats.bpeTrainRules(spark, dir)
    assert(rules == Seq(
      (1, "a_a", "aa", 6L),
      (2, "a_b", "ab", 3L),
      (3, "aa_ab", "aaab", 3L)))
    val applied = llm.TextStats.bpeApply(spark, dir)
      .select($"doc_id", $"n_tokens", $"n_bpe")
      .as[(Long, Long, Long)].collect().toSeq
    // every word collapses to one symbol after full-word merges
    assert(applied == Seq((0L, 2L, 2L), (1L, 1L, 1L)))
    // vocab {ab, cb, db}: the three real pairs tie at 1 and merge in
    // pair order — a word-final empty symbol would add a bogus b_ pair
    // (freq 3) that out-counts all of them
    val dir2 = T.scratch(SF, "bpe_word_final")
    Seq((0L, "ab cb db")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir2/documents.parquet")
    assert(llm.TextStats.bpeTrainRules(spark, dir2) == Seq(
      (1, "a_b", "ab", 1L),
      (2, "c_b", "cb", 1L),
      (3, "d_b", "db", 1L)))
  }

  test("BPE apply never shuffles before the output sort (pure map encode)") {
    val df = llm.TextStats.bpeApply(spark, SF)
    val p = df.queryExecution.optimizedPlan.toString()
    // the encode itself is one projection over the scan; the only
    // exchange in the executed plan must be the final orderBy's range
    // partitioning
    val exchanges = df.queryExecution.executedPlan.toString()
      .linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1, s"expected only the sort exchange:\n$p")
  }

  test("temperature mixing up-weights low-resource domains") {
    import spark.implicits._
    val r = llm.Curate.mixTemperature(spark, SF)
      .select($"n_docs", $"rate_ppm", $"n_kept")
      .as[(Long, Long, Long)].collect()
    assert(r.nonEmpty)
    // α<1 ⇒ sampling RATE decreases with domain size (up to ties)
    val bySize = r.sortBy(_._1)
    assert(bySize.zip(bySize.tail).forall { case ((n1, p1, _), (n2, p2, _)) =>
      n1 > n2 || p1 >= p2 }, bySize.mkString(", "))
    // the budget is roughly half the corpus, and the md5 coin lands
    // near its expectation at fixture scale
    val total = r.map(_._1).sum.toDouble
    val kept = r.map(_._3).sum.toDouble
    assert(kept / total > 0.3 && kept / total < 0.7, s"kept=$kept/$total")
  }

  test("IVF recall instrumentation agrees with the set arithmetic") {
    import spark.implicits._
    val rec = llm.Knn.knnRecall(spark, SF)
      .select($"qid", $"n_match", $"recall_ppm")
      .as[(Long, Long, Long)].collect()
    assert(rec.length > 0)
    assert(rec.forall { case (_, m, ppm) =>
      m >= 0 && m <= 5 && ppm == m * 1000000L / 5 })
    // the measured mean recall must clear the same floor the PQ/LSH
    // suites assert for the underlying IVF index
    val mean = rec.map(_._2).sum.toDouble / (rec.length * 5)
    info(s"ivf recall@5=$mean")
    assert(mean >= 0.15, s"mean recall=$mean")
  }

  test("semdedup: census is conserved and removals are sound " +
    "(every removed id has a smaller same-cell neighbor over τ)") {
    import spark.implicits._
    val corpus = T.t(spark, SF, "embeddings")
    val n = corpus.count()
    val r = llm.Knn.semDedup(spark, SF)
      .select($"cid", $"n_vectors", $"n_removed", $"kept_id_sum")
      .as[(Long, Long, Long, Long)].collect()
    assert(r.map(_._2).sum == n, s"cells must partition the corpus: $n")
    assert(r.forall { case (_, nv, nr, ks) => nr >= 0 && nr < nv && ks > 0 })
    // SemDeDup is cell-scoped by design: its removal set must be a
    // SUBSET of the exact all-pairs graph's dominated side at the
    // same τ (relaxed threshold 0.40 ⊂ exact pairs at 0.40 is what
    // dedupEmbed can't tell us — recompute the exact graph here)
    val exact = corpus
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val dominated = exact.select($"vec_id".as("ia"), $"v".as("va"))
      .crossJoin(exact.select($"vec_id".as("ib"), $"v".as("vb")))
      .filter($"ia" < $"ib")
      .filter(functions.VectorFunctions.cosine_sim($"va", $"vb") >= 0.40)
      .select($"ib").distinct().as[Long].collect().toSet
    val removedTotal = r.map(_._3).sum
    assert(removedTotal <= dominated.size,
      s"cell-scoped removals ($removedTotal) exceed the exact " +
        s"all-pairs dominated set (${dominated.size})")
  }

  test("quality classifier: per-source census conserves the corpus " +
    "and is deterministic across runs") {
    import spark.implicits._
    val n = T.t(spark, SF, "documents").count()
    def run() = llm.TextStats.qualityClassifier(spark, SF)
      .select($"source", $"n_docs", $"n_pos", $"sum_score")
      .as[(String, Long, Long, Long)].collect().toSeq
    val a = run()
    assert(a.map(_._2).sum == n)
    assert(a.forall { case (_, nd, np, _) => np >= 0 && np <= nd })
    // both classes occur — the hashed weights are not degenerate
    assert(a.map(_._3).exists(_ > 0) || a.map(_._3).exists(_ < 0))
    assert(run() == a)
  }

  test("dedup pair verification: pruned and plain branches give the " +
    "same rows on sf0.01 candidates") {
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val sh = llm.Dedup.shingleRows(T.t(spark, SF01, "documents"))
      .localCheckpoint()
    val bands = llm.Dedup.bandRows(llm.Dedup.minhashSigs(sh))
    val candidates = llm.Dedup.bandPairs(bands, bands).distinct()
    def verify(prune: Boolean) =
      llm.Dedup.verifyPairsWith(spark, candidates, sh, prune)
    def semiJoins(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case j: Join if j.joinType == LeftSemi => j
      }.size
    val (plain, pruned) = (verify(prune = false), verify(prune = true))
    assert(semiJoins(plain) == 0)
    assert(semiJoins(pruned) > 0, pruned.queryExecution.optimizedPlan)
    val rows = plain.as[(Long, Long, Double)].collect().toSeq
    assert(rows.nonEmpty)
    assert(pruned.as[(Long, Long, Double)].collect().toSeq == rows)
  }

  test("narrow-scan widen: a scan narrower than the cluster is hash-spread " +
    "by its key, a scan as wide passes through") {
    import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
    val cores = spark.sparkContext.defaultParallelism
    assume(cores > 1)
    val narrow = spark.range(100).toDF().coalesce(1)
    val widened = operators.ScaleGate.widen(narrow, $"id")
    assert(widened.rdd.getNumPartitions == cores)
    assert(widened.queryExecution.optimizedPlan.collectFirst {
      case r: RepartitionByExpression => r.partitionExpressions.map(_.sql)
    } == Some(Seq("id")), widened.queryExecution.optimizedPlan)
    val wide = spark.range(0, 100, 1, cores).toDF()
    assert(operators.ScaleGate.widen(wide, $"id") eq wide)
  }

  test("PQ packed argmin raises ARITHMETIC_OVERFLOW past " +
    "Long.MaxValue / PqCodes instead of wrapping") {
    import org.apache.spark.SparkThrowable
    import org.apache.spark.sql.functions.lit
    val codes = llm.Knn.PqCodes
    def dists(dl0: Long) = spark.range(2 * codes)
      .select(($"id" % 2).as("vec_id"), lit(0).as("m"),
        ($"id" / 2).cast("long").as("c"), (lit(dl0) - $"id").as("dl"))
    // in range: each vector's argmin is its largest-id row
    val ok = llm.Knn.pqArgmin(spark, dists(Long.MaxValue / codes))
      .as[(Long, Int, Long)].collect().sortBy(_._1).toSeq
    assert(ok == Seq((0L, 0, codes - 1L), (1L, 0, codes - 1L)))
    val e = intercept[Exception] {
      llm.Knn.pqArgmin(spark, dists(Long.MaxValue / codes + 2 * codes))
        .collect()
    }
    val conditions = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).collect {
        case t: SparkThrowable => t.getCondition
      }.toSeq
    assert(conditions.contains("ARITHMETIC_OVERFLOW"), e)
  }
}
