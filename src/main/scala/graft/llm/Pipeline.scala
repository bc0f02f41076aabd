package graft.llm

import graft.{QueryModule, T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end training-data pipeline compositions — the operators a
  * 100 TB curation run chains AFTER the primitives in Dedup/TextStats:
  * survivor selection, deterministic sampling, distribution summaries,
  * benchmark decontamination. Each is one declarative plan (no
  * driver-side loops beyond what Dedup.dedupClusters already bounds).
  */
object Pipeline extends QueryModule {

  /** Survivor selection: every document gets a cluster (its near-dup
    * component label, or itself when unpaired — singleton clusters),
    * and each cluster keeps its highest-quality member (quality score
    * from TextStats.quality; ties broken by min doc_id). This is the
    * step that turns pair-finding into an actual dedup decision at
    * scale: one left join against the (tiny) pair-cluster labels + one
    * window argmax partitioned by cluster.
    */
  def dedupSurvivors(s: SparkSession, dir: String): DataFrame =
    dedupSurvivorsOn(s, dir,
      Dedup.shingleRows(T.t(s, dir, "documents")).localCheckpoint())

  private[graft] def dedupSurvivorsOn(s: SparkSession, dir: String,
      shingles: DataFrame): DataFrame = {
    import s.implicits._
    val labels = Dedup.dedupClustersOn(s, shingles) // (doc_id, cluster_id), paired docs only
    val q = TextStats.quality(s, dir).select($"doc_id", $"score")
    val all = T.t(s, dir, "documents").select($"doc_id")
      .join(labels, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce($"cluster_id", $"doc_id"))
      .join(q, "doc_id")
    val w = Window.partitionBy($"cluster_id")
      .orderBy($"score".desc, $"doc_id")
    all
      .withColumn("rn", row_number().over(w))
      .groupBy($"cluster_id")
      .agg(
        min(when($"rn" === 1, $"doc_id")).as("survivor_id"),
        count(lit(1)).as("n_members"))
      .orderBy($"cluster_id")
  }

  /** Deterministic stratified sampling: per-language keep rates
    * applied via a stable key function (doc_id mod), so the sample is
    * reproducible run-to-run and engine-to-engine — the property a
    * training-data pipeline needs for auditability (seeded RNG
    * sampling is Spark-version-dependent). Map-side only: no shuffle
    * except the summary agg.
    */
  def sampleStratified(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val keepPct = when($"lang" === "en", 20)
      .when($"lang" === "fr", 50)
      .otherwise(80)
    T.t(s, dir, "documents")
      .withColumn("keep", pmod($"doc_id", lit(100)) < keepPct)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_total"),
        count(when($"keep", 1)).as("n_kept"))
      .orderBy($"lang")
  }

  /** Token-count histogram: fixed-width buckets over whitespace token
    * counts — the corpus-shape summary a curation run reports. Single
    * pass, map-side bucket + tiny shuffle.
    */
  def tokenHist(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    T.t(s, dir, "documents")
      .select(floor(size(split($"text", " ")) / 20).cast("long").as("bucket"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("cnt"))
      .orderBy($"bucket")
  }

  /** Benchmark decontamination: count 3-gram shingle overlap between
    * every corpus document and a (small) benchmark set — here the
    * first 5 docs stand in for the benchmark. The probe side is
    * distinct shingles broadcast to the corpus scan (the reference's
    * broadcast interval-list membership pattern, SamSource.java:79-102)
    * so the corpus is touched once, no shuffle of corpus rows; a doc
    * with ≥5 shared shingles is flagged contaminated.
    */
  def contamination(s: SparkSession, dir: String): DataFrame =
    // one materialization feeds both the probe set and the corpus side
    contaminationOn(s,
      Dedup.shingleRows(T.t(s, dir, "documents")).localCheckpoint())

  private[graft] def contaminationOn(s: SparkSession, shingles: DataFrame): DataFrame = {
    import s.implicits._
    val probe = shingles.filter($"doc_id" < 5)
      .select($"tok").distinct()
    shingles.filter($"doc_id" >= 5)
      .join(broadcast(probe), "tok")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_overlap"))
      .filter($"n_overlap" >= 5)
      .orderBy($"doc_id")
  }

  /** Domain mixture planning (the DoReMi/Pile-style reweighting
    * step): given target corpus shares per source, derive each
    * source's deterministic keep rate and resulting document yield.
    * One vocabulary-sized agg + a window over the 20-row summary —
    * driver never sees row data.
    */
  def domainMix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = when($"source" === "src0", 0.30)
      .when($"source" === "src1", 0.15)
      .when($"source" === "src2", 0.10)
      .otherwise(0.02)
    T.t(s, dir, "documents")
      .groupBy($"source")
      .agg(count(lit(1)).as("n"))
      .withColumn("total",
        sum($"n").over(org.apache.spark.sql.expressions.Window.partitionBy()))
      .select($"source", $"n",
        round(least(lit(1.0), w * $"total" / $"n"), 6).as("keep_rate"))
      .withColumn("n_kept", floor($"n" * $"keep_rate").cast("long"))
      .orderBy($"source")
  }

  /** Quality deciles: ntile(10) over the quality score — the corpus
    * report a curation run publishes before choosing a cut.
    *
    * SIZE-GATED ([[graft.operators.ScaleGate]]): exact deciles (the
    * oracle form) run only while the corpus fits
    * `spark.graft.ntile.exactMaxRows`; above the gate the SAME report
    * runs on approx_percentile cuts — one sketch pass, no global
    * sort (`llm_quality_cuts` oracles that primitive with
    * error-bound checks).
    */
  def qualityBuckets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val q = TextStats.quality(s, dir).select($"doc_id", $"score")
    graft.operators.ScaleGate
      .gatedNtiles(s, q, Seq(("score", true, "bucket")), "doc_id", 10)
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n"),
        round(min($"score"), 6).as("min_score"),
        round(max($"score"), 6).as("max_score"))
      .orderBy($"bucket")
  }

  /** The 100 TB replacement for exact deciles (SURVEY §8c #1), gated:
    * `approx_percentile` computes quantile cuts in one distributed
    * pass with NO global sort — where `ntile` is a single-partition
    * reduction. Emits the EXACT interpolated quartile cuts (DuckDB
    * mirrors them with quantile_cont) plus booleans asserting the
    * sketch cut lands within 0.02 of exact — out-of-bound sketches
    * flip a boolean and fail the hash compare, the same driver-gated
    * error-bound discipline as agg_approx_distinct.
    */
  def qualityCuts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val q = TextStats.quality(s, dir).select($"score")
    q.agg(
        expr("percentile(score, array(0.25, 0.5, 0.75))").as("ex"),
        expr("approx_percentile(score, array(0.25, 0.5, 0.75), 10000)").as("ap"))
      .select(
        round(element_at($"ex", 1), 6).as("p25"),
        round(element_at($"ex", 2), 6).as("p50"),
        round(element_at($"ex", 3), 6).as("p75"),
        (abs(element_at($"ap", 1) - element_at($"ex", 1)) <= 0.02).as("p25_close"),
        (abs(element_at($"ap", 2) - element_at($"ex", 2)) <= 0.02).as("p50_close"),
        (abs(element_at($"ap", 3) - element_at($"ex", 3)) <= 0.02).as("p75_close"))
  }

  /** Global training-data SHUFFLE into N shards — the last step of
    * every pretraining pipeline: break corpus locality (crawl order,
    * domain clustering) so each shard is an unbiased sample and
    * within-shard order is pseudorandom. Seeded and REPRODUCIBLE:
    * shard = knuth(doc_id) mod N and the within-shard order is the
    * hash order — pure integer arithmetic, so the same corpus always
    * shuffles identically (resumable training, auditable mixes) and
    * DuckDB replays it exactly (no rand(), which no oracle could
    * check and no resume could trust). Physically ONE hash-partition
    * exchange + in-partition sort (`repartition(shard)` +
    * `sortWithinPartitions`), the layout a `partitionBy(shard)` sink
    * then writes as N independent training files; the window
    * row_number here only NAMES each row's position in that order
    * (per-shard partitions, no global window).
    */
  def shuffleShards(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val nShards = 16
    // Knuth multiplicative hash, kept in BIGINT range end-to-end
    val h = (($"doc_id" + 1) * 2654435761L) % 4294967296L
    val sharded = T.t(s, dir, "documents")
      .select($"doc_id", size(split($"text", " ")).cast("long").as("toks"))
      .withColumn("h", h)
      .withColumn("shard", ($"h" % nShards).cast("int"))
      .repartition(nShards, $"shard")
      .sortWithinPartitions($"shard", $"h", $"doc_id")
    sharded
      .withColumn("ord", row_number().over(
        Window.partitionBy($"shard").orderBy($"h", $"doc_id")))
      .select($"shard", $"ord", $"doc_id", $"toks")
      .orderBy($"shard", $"ord")
  }

  /** Epoch-aware data mixing: quality deciles map to repetition
    * factors (top buckets trained 3 epochs, middle 2, lower 1,
    * bottom decile dropped) — the "repeat your best data" recipe of
    * LLM pretraining mixes, stated as one declarative plan: ntile →
    * factor → explode(sequence) multiplies rows WITHOUT copying the
    * corpus (the explode is a zero-shuffle Generate; at 100 TB the
    * epoch column rides into the training shuffle as metadata).
    * Summary per epoch: docs and token mass a trainer would consume.
    */
  def mixEpochs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val q = TextStats.quality(s, dir).select($"doc_id", $"score")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"score".desc, $"doc_id")
    val toks = T.t(s, dir, "documents")
      .select($"doc_id", size(split($"text", " ")).cast("long").as("toks"))
    q.withColumn("bucket", ntile(10).over(w))
      .withColumn("epochs",
        when($"bucket" <= 2, 3).when($"bucket" <= 6, 2)
          .when($"bucket" <= 9, 1).otherwise(0))
      .filter($"epochs" > 0)
      .select($"doc_id", explode(sequence(lit(1), $"epochs")).as("epoch"))
      .join(toks, "doc_id")
      .groupBy($"epoch")
      .agg(count(lit(1)).as("n_docs"), sum($"toks").as("n_toks"))
      .orderBy($"epoch")
  }

  /** Token-budget corpus selection: fill a fixed training-token
    * budget with the highest-quality documents (greedy by score,
    * deterministic tie-break) — "give me the best 20k tokens" — a doc
    * is kept if it STARTS inside the budget (same convention as
    * packSequences). Exact global greedy needs the total order, like
    * exact deciles; the 100 TB path replaces the sort with an
    * approx-percentile score cut (the primitive agg_percentile
    * demonstrates) and spends the budget within partitions. Summary
    * output: kept/total counts and token mass per language. The
    * ordering key is the quality score in integer millionths
    * (`distinct*500000 div n + least(n,100)*5000`) — pure integer
    * arithmetic on both engines, so the greedy cut point can never
    * drift on a round(double) tie the way a double score order can.
    */
  def budgetSelect(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val budget = 20000L
    val d = T.t(s, dir, "documents")
      .select($"doc_id", $"lang",
        size(split($"text", " ")).cast("long").as("n"),
        expr("size(array_distinct(split(text, ' '))) * 500000L" +
          " div size(split(text, ' '))" +
          " + least(size(split(text, ' ')), 100) * 5000L").as("score_u"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"score_u".desc, $"doc_id")
    d.withColumn("cum", sum($"n").over(w))
      .withColumn("keep", $"cum" - $"n" < budget)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_total"),
        count(when($"keep", 1)).as("n_kept"),
        sum(when($"keep", $"n")).as("toks_kept"))
      .orderBy($"lang")
  }

  /** The flagship end-to-end curation pipeline in ONE declarative
    * plan: quality gate → near-dup survivor selection → benchmark
    * decontamination → sequence packing. Catalyst sees the whole
    * chain (semi joins for the keep/survivor sets, an anti join for
    * the flagged set, then the packing window+agg), so filters fold
    * into the shared document scan and the small id-sets broadcast —
    * the composition is what a real 100 TB curation run submits as a
    * single job DAG.
    */
  def pipelineE2e(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // ONE shingle build feeds the dedup chain AND the contamination
    // probe (each would otherwise rebuild + re-checkpoint it)
    val sh = Dedup.shingleRows(T.t(s, dir, "documents")).localCheckpoint()
    val kept = TextStats.quality(s, dir).filter($"keep").select($"doc_id")
    val surv = dedupSurvivorsOn(s, dir, sh).select($"survivor_id".as("doc_id"))
    val flagged = contaminationOn(s, sh).select($"doc_id")
    val fin = T.t(s, dir, "documents")
      .select($"doc_id", size(split($"text", " ")).cast("long").as("n"))
      .join(kept, "doc_id")
      .join(surv, "doc_id")
      .join(flagged, Seq("doc_id"), "left_anti")
      .filter($"doc_id" >= 5)
      .select($"doc_id", pmod($"doc_id", lit(8)).as("grp"), $"n")
    Curate.packCounts(s, fin)
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_dedup_survivors" -> (dedupSurvivors(_, _)),
    "llm_sample_stratified" -> (sampleStratified(_, _)),
    "llm_token_hist" -> (tokenHist(_, _)),
    "llm_domain_mix" -> (domainMix(_, _)),
    "llm_mix_epochs" -> (mixEpochs(_, _)),
    "llm_shuffle_shards" -> (shuffleShards(_, _)),
    "llm_quality_cuts" -> (qualityCuts(_, _)),
    "llm_budget_select" -> (budgetSelect(_, _)),
    "llm_quality_buckets" -> (qualityBuckets(_, _)),
    "llm_pipeline_e2e" -> (pipelineE2e(_, _)),
    "llm_contamination" -> (contamination(_, _)))

  // shared DuckDB fragments: distinct word-3-gram shingles (same CTE
  // the Dedup oracles use) and the TextStats quality score expression
  private val shingleCte =
    """s AS (
      |  SELECT doc_id, unnest([toks[i] || '_' || toks[i+1] || '_' || toks[i+2]
      |      FOR i IN generate_series(1, len(toks)-2)]) AS tok
      |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
      |t AS (SELECT DISTINCT doc_id, tok FROM s)""".stripMargin

  private val scoreSql =
    """round(len(list_distinct(string_split(text, ' ')))
      |    * 1.0 / len(string_split(text, ' ')) * 0.5
      |  + least(len(string_split(text, ' ')), 100) / 100.0 * 0.5, 6)""".stripMargin

  override def oracleSql: Map[String, String] = Map(
    "llm_dedup_survivors" ->
      s"""WITH RECURSIVE $shingleCte,
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM t GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
         |  FROM t a JOIN t b USING (tok) WHERE a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT doc_a, doc_b FROM inter
         |  JOIN sz sa ON sa.doc_id = doc_a
         |  JOIN sz sb ON sb.doc_id = doc_b
         |  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach AS (
         |  SELECT src AS doc_id, src AS lbl FROM edges
         |  UNION
         |  SELECT e.dst AS doc_id, r.lbl
         |  FROM reach r JOIN edges e ON e.src = r.doc_id),
         |lbl AS (SELECT doc_id, MIN(lbl) AS cluster_id
         |        FROM reach GROUP BY doc_id),
         |alldocs AS (
         |  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id,
         |    $scoreSql AS score
         |  FROM documents d LEFT JOIN lbl l ON d.doc_id = l.doc_id),
         |ranked AS (
         |  SELECT cluster_id, doc_id,
         |    row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY score DESC, doc_id) AS rn
         |  FROM alldocs)
         |SELECT cluster_id,
         |  MIN(CASE WHEN rn = 1 THEN doc_id END) AS survivor_id,
         |  COUNT(*) AS n_members
         |FROM ranked GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,
    "llm_sample_stratified" ->
      """SELECT lang, COUNT(*) AS n_total,
        |  COUNT(CASE WHEN doc_id % 100 <
        |    CASE WHEN lang = 'en' THEN 20
        |         WHEN lang = 'fr' THEN 50 ELSE 80 END
        |    THEN 1 END) AS n_kept
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "llm_token_hist" ->
      """SELECT CAST(floor(len(string_split(text, ' ')) / 20) AS BIGINT)
        |    AS bucket,
        |  COUNT(*) AS cnt
        |FROM documents GROUP BY bucket ORDER BY bucket""".stripMargin,
    "llm_contamination" ->
      s"""WITH $shingleCte,
         |probe AS (SELECT DISTINCT tok FROM t WHERE doc_id < 5)
         |SELECT doc_id, COUNT(*) AS n_overlap
         |FROM t JOIN probe USING (tok)
         |WHERE doc_id >= 5
         |GROUP BY doc_id HAVING COUNT(*) >= 5
         |ORDER BY doc_id""".stripMargin,
    "llm_domain_mix" ->
      """WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
        |k AS (
        |  SELECT source, n,
        |    round(least(1.0,
        |      CASE WHEN source = 'src0' THEN 0.30
        |           WHEN source = 'src1' THEN 0.15
        |           WHEN source = 'src2' THEN 0.10
        |           ELSE 0.02 END
        |      * (SUM(n) OVER ()) / n), 6) AS keep_rate
        |  FROM c)
        |SELECT source, n, keep_rate,
        |  CAST(floor(n * keep_rate) AS BIGINT) AS n_kept
        |FROM k ORDER BY source""".stripMargin,
    "llm_budget_select" ->
      s"""WITH d AS (
         |  SELECT doc_id, lang, len(string_split(text, ' ')) AS n,
         |    (len(list_distinct(string_split(text, ' '))) * 500000)
         |        // len(string_split(text, ' '))
         |      + least(len(string_split(text, ' ')), 100) * 5000 AS score_u
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, lang, n,
         |    SUM(n) OVER (ORDER BY score_u DESC, doc_id) AS cum
         |  FROM d)
         |SELECT lang, COUNT(*) AS n_total,
         |  COUNT(CASE WHEN cum - n < 20000 THEN 1 END) AS n_kept,
         |  CAST(SUM(CASE WHEN cum - n < 20000 THEN n END) AS BIGINT)
         |    AS toks_kept
         |FROM c GROUP BY lang ORDER BY lang""".stripMargin,
    "llm_quality_cuts" ->
      s"""WITH q AS (SELECT $scoreSql AS score FROM documents)
         |SELECT round(quantile_cont(score, 0.25), 6) AS p25,
         |  round(quantile_cont(score, 0.50), 6) AS p50,
         |  round(quantile_cont(score, 0.75), 6) AS p75,
         |  true AS p25_close, true AS p50_close, true AS p75_close
         |FROM q""".stripMargin,
    "llm_shuffle_shards" ->
      """WITH h AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS toks,
        |    ((doc_id + 1) * 2654435761) % 4294967296 AS h
        |  FROM documents)
        |SELECT CAST(h % 16 AS INT) AS shard,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY h % 16
        |    ORDER BY h, doc_id) AS INT) AS ord,
        |  doc_id, CAST(toks AS BIGINT) AS toks
        |FROM h ORDER BY shard, ord""".stripMargin,
    "llm_mix_epochs" ->
      s"""WITH q AS (SELECT doc_id, $scoreSql AS score FROM documents),
         |b AS (SELECT doc_id,
         |  ntile(10) OVER (ORDER BY score DESC, doc_id) AS bucket FROM q),
         |f AS (SELECT doc_id,
         |  CASE WHEN bucket <= 2 THEN 3 WHEN bucket <= 6 THEN 2
         |       WHEN bucket <= 9 THEN 1 ELSE 0 END AS epochs FROM b),
         |e AS (SELECT doc_id, unnest(generate_series(1, epochs)) AS epoch
         |      FROM f WHERE epochs > 0),
         |tk AS (SELECT doc_id, len(string_split(text, ' ')) AS toks
         |       FROM documents)
         |SELECT CAST(epoch AS INT) AS epoch, COUNT(*) AS n_docs,
         |  CAST(SUM(toks) AS BIGINT) AS n_toks
         |FROM e JOIN tk USING (doc_id)
         |GROUP BY epoch ORDER BY epoch""".stripMargin,
    "llm_quality_buckets" ->
      s"""WITH q AS (SELECT doc_id, $scoreSql AS score FROM documents),
         |b AS (SELECT doc_id, score,
         |  ntile(10) OVER (ORDER BY score DESC, doc_id) AS bucket FROM q)
         |SELECT bucket, COUNT(*) AS n,
         |  round(MIN(score), 6) AS min_score,
         |  round(MAX(score), 6) AS max_score
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    "llm_pipeline_e2e" ->
      s"""WITH RECURSIVE $shingleCte,
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM t GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
         |  FROM t a JOIN t b USING (tok) WHERE a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT doc_a, doc_b FROM inter
         |  JOIN sz sa ON sa.doc_id = doc_a
         |  JOIN sz sb ON sb.doc_id = doc_b
         |  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach AS (
         |  SELECT src AS doc_id, src AS lbl FROM edges
         |  UNION
         |  SELECT e.dst AS doc_id, r.lbl
         |  FROM reach r JOIN edges e ON e.src = r.doc_id),
         |lbl AS (SELECT doc_id, MIN(lbl) AS cluster_id
         |        FROM reach GROUP BY doc_id),
         |alldocs AS (
         |  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id,
         |    $scoreSql AS score
         |  FROM documents d LEFT JOIN lbl l ON d.doc_id = l.doc_id),
         |ranked AS (
         |  SELECT cluster_id, doc_id,
         |    row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY score DESC, doc_id) AS rn
         |  FROM alldocs),
         |surv AS (SELECT MIN(CASE WHEN rn = 1 THEN doc_id END) AS doc_id
         |         FROM ranked GROUP BY cluster_id),
         |keepq AS (
         |  SELECT doc_id FROM documents
         |  WHERE length(text) BETWEEN 50 AND 5000 AND $scoreSql > 0.3),
         |probe AS (SELECT DISTINCT tok FROM t WHERE doc_id < 5),
         |flagged AS (
         |  SELECT doc_id FROM t JOIN probe USING (tok)
         |  WHERE doc_id >= 5
         |  GROUP BY doc_id HAVING COUNT(*) >= 5),
         |fin AS (
         |  SELECT d.doc_id, d.doc_id % 8 AS grp,
         |    len(string_split(d.text, ' ')) AS n
         |  FROM documents d
         |  JOIN keepq USING (doc_id)
         |  JOIN surv ON surv.doc_id = d.doc_id
         |  WHERE d.doc_id >= 5
         |    AND d.doc_id NOT IN (SELECT doc_id FROM flagged)),
         |c AS (
         |  SELECT grp, doc_id, n,
         |    SUM(n) OVER (PARTITION BY grp ORDER BY doc_id) - n AS start
         |  FROM fin)
         |SELECT grp, CAST(floor(start / 512.0) AS BIGINT) AS pack,
         |  COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS tok_sum
         |FROM c GROUP BY grp, pack ORDER BY grp, pack""".stripMargin)
}
