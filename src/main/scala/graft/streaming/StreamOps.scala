package graft.streaming

import graft.{QueryModule, T}
import graft.T.{dsum, sqlDsum}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Streaming operators — SURVEY.md §2.11.
  *
  * Absent from the reference; first-class here via Structured
  * Streaming primitives (`window`, `session_window`, watermarks,
  * `dropDuplicates`). Each transform below is a pure DataFrame
  * function, so the SAME code runs over the batch events table (for
  * the DuckDB oracle) and over a `readStream` source (streaming smoke
  * test in StreamingSpec) — the Structured Streaming unification.
  */
object StreamOps extends QueryModule {

  /** Tumbling 10-minute windows per event type. Emits the window
    * start as epoch seconds (bigint) for engine-neutral comparison.
    */
  def tumblingCore(ev: DataFrame): DataFrame =
    ev.groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        dsum(col("value"), 6).as("sum_value"))
      .select(
        unix_timestamp(col("window.start")).cast(LongType).as("w_start"),
        col("event_type"), col("cnt"), col("sum_value"))

  def streamTumbling(s: SparkSession, dir: String): DataFrame =
    tumblingCore(T.events(s, dir))
      .orderBy(col("w_start"), col("event_type"))

  /** Running grouped TOP-K over the stream: the k-bounded-heap
    * aggregate ([[graft.functions.TopKAgg]]) as streaming state — the
    * state store holds each group's ≤k serialized rows (O(k·groups)
    * state, never O(events)), each micro-batch folds its arrivals in
    * via the same partial/merge algebra the batch plan uses, and
    * complete mode re-emits the current leaderboard. The batch form
    * below IS the oracle query; StreamingSpec replays it as a real
    * stream and asserts parity.
    */
  def topkCore(ev: DataFrame): DataFrame =
    ev.groupBy(col("event_type"))
      .agg(graft.functions.TopKAgg.top_k_rows(
        struct(col("value"), col("event_id")), 3).as("t"))
      .select(col("event_type"), posexplode(col("t")).as(Seq("pos", "r")))
      .select(col("event_type"), (col("pos") + 1).as("rn"),
        col("r.value").as("value"), col("r.event_id").as("event_id"))

  def streamTopk(s: SparkSession, dir: String): DataFrame =
    topkCore(T.events(s, dir)).orderBy(col("event_type"), col("rn"))

  /** Sliding windows: 10-minute length, 5-minute slide — every event
    * lands in exactly two windows.
    */
  def slidingCore(ev: DataFrame): DataFrame =
    ev.groupBy(window(col("ts"), "10 minutes", "5 minutes"))
      .agg(count(lit(1)).as("cnt"),
        dsum(col("value"), 6).as("sum_value"))
      .select(
        unix_timestamp(col("window.start")).cast(LongType).as("w_start"),
        col("cnt"), col("sum_value"))

  def streamSliding(s: SparkSession, dir: String): DataFrame =
    slidingCore(T.events(s, dir)).orderBy(col("w_start"))

  /** Gap-based sessionization: 30-minute inactivity closes a session
    * (session_window merges events whose gap is strictly under the
    * timeout). Rolled up to per-user session/event counts.
    */
  def sessionCore(ev: DataFrame): DataFrame =
    ev.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))

  def streamSession(s: SparkSession, dir: String): DataFrame =
    sessionCore(T.events(s, dir))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n")).as("n_events"))
      .orderBy(col("user_id"))

  /** Sessionization with a DYNAMIC gap — session_window's expression
    * form: the inactivity timeout depends on the row (purchases close
    * after 60 minutes, everything else after 10), which fixed-gap
    * sessionization cannot express. Sessions form per (user, type);
    * summary per type.
    */
  def sessionDynamicCore(ev: DataFrame): DataFrame = {
    val gap = when(col("event_type") === "purchase", lit("60 minutes"))
      .otherwise(lit("10 minutes"))
    ev.groupBy(session_window(col("ts"), gap),
        col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
  }

  def streamSessionDynamic(s: SparkSession, dir: String): DataFrame =
    sessionDynamicCore(T.events(s, dir))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n")).as("n_events"))
      .orderBy(col("event_type"))

  /** Keep-first dedup per (user_id, event_type) — the batch-checkable
    * analogue of streaming `dropDuplicates` state (first-by-event-time
    * with a deterministic tiebreak).
    */
  def streamDedup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    T.events(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** Watermark-window dedup width (1 hour, micros) — the batch
    * contract behind `dropDuplicatesWithinWatermark`.
    */
  val DedupWindowMicros: Long = 3600L * 1000000L

  /** `dropDuplicatesWithinWatermark` semantics, batch-checkable: per
    * (user, type), a kept event suppresses duplicates for the next
    * window width; the first event PAST the window is kept again and
    * restarts it (the greedy chain the streaming state store walks —
    * keyed state holding first-seen ts, evicted once the watermark
    * passes ts + delay). flatMapGroups does exactly the per-key
    * linear scan the state store does, one group in memory at a time
    * — per-key event counts bound memory the same way streaming state
    * TTL does. The DuckDB oracle replays the chain as a recursive
    * CTE; StreamingSpec runs the true streaming operator and asserts
    * its one-sided contract (no within-window duplicate is ever
    * emitted, every key's first event survives).
    */
  def dedupWatermarkCore(ev: DataFrame): DataFrame = {
    val s = ev.sparkSession
    import s.implicits._
    ev.select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("tsu"))
      .as[(Long, String, Long, Long)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroups { (_, it) =>
        val sorted = it.toVector.sortBy(r => (r._4, r._3))
        val out = Vector.newBuilder[(Long, String, Long, Long)]
        var last = Long.MinValue
        sorted.foreach { r =>
          if (last == Long.MinValue || r._4 > last + DedupWindowMicros) {
            out += r
            last = r._4
          }
        }
        out.result()
      }
      .toDF("user_id", "event_type", "event_id", "tsu")
  }

  def streamDedupWatermark(s: SparkSession, dir: String): DataFrame =
    dedupWatermarkCore(T.events(s, dir))
      .select(col("user_id"), col("event_type"), col("event_id"))
      .orderBy(col("user_id"), col("event_type"), col("event_id"))

  /** Stream-static join core: each event enriched against a static
    * dimension (the broadcast-header pattern, streaming edition —
    * Structured Streaming re-reads the static side per micro-batch,
    * planning it as a broadcast join under the hood). Same function
    * runs batch (oracle) and over readStream (StreamingSpec).
    */
  def staticJoinCore(ev: DataFrame, cust: DataFrame): DataFrame =
    ev.join(broadcast(cust), ev("user_id") === cust("c_custkey"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), dsum(col("value"), 6).as("sum_value"))

  def streamStaticJoin(s: SparkSession, dir: String): DataFrame =
    staticJoinCore(T.events(s, dir), T.t(s, dir, "customer"))
      .orderBy(col("c_mktsegment"), col("event_type"))

  /** Stream-stream interval join core: purchases matched to the same
    * user's clicks in the preceding hour — the event-time range
    * condition that lets Structured Streaming bound both sides' state
    * with watermarks (each side GC's rows older than watermark +
    * range). Batch run is oracled; StreamingSpec runs it as a true
    * two-stream join.
    */
  def intervalJoinPairs(clicks: DataFrame, purchases: DataFrame): DataFrame =
    clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"))

  def intervalJoinAgg(pairs: DataFrame): DataFrame =
    pairs.groupBy(col("p_user"), col("p_id"))
      .agg(count(lit(1)).as("n_clicks"), max(col("c_id")).as("max_click_id"))

  def intervalJoinCore(clicks: DataFrame, purchases: DataFrame): DataFrame =
    intervalJoinAgg(intervalJoinPairs(clicks, purchases))

  def clicksOf(ev: DataFrame): DataFrame =
    ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_id"))

  def purchasesOf(ev: DataFrame): DataFrame =
    ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"))

  def streamIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = T.events(s, dir)
    intervalJoinCore(clicksOf(ev), purchasesOf(ev))
      .orderBy(col("p_user"), col("p_id"))
  }

  /** Stream-stream LEFT OUTER interval join core: every click, with
    * its same-user purchases in the following hour — or nulls if none
    * ever arrive. In streaming, the outer (unmatched) rows are the
    * hard part: they may only emit once the purchase-side watermark
    * has passed the click's join window, so state stays bounded AND
    * results are complete. Batch run is the oracle; StreamingSpec
    * replays it as a true two-stream outer join with watermarks and a
    * window-flushing sentinel.
    */
  def intervalJoinOuterPairs(clicks: DataFrame,
      purchases: DataFrame): DataFrame =
    clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"),
      "left_outer")

  def intervalJoinOuterAgg(pairs: DataFrame): DataFrame =
    pairs.groupBy(col("c_user"), col("c_id"))
      .agg(count(col("p_id")).as("n_purchases"),
        max(col("p_id")).as("max_purchase_id"))

  def intervalJoinOuterCore(clicks: DataFrame,
      purchases: DataFrame): DataFrame =
    intervalJoinOuterAgg(intervalJoinOuterPairs(clicks, purchases))

  def streamJoinOuter(s: SparkSession, dir: String): DataFrame = {
    val ev = T.events(s, dir)
    intervalJoinOuterCore(clicksOf(ev), purchasesOf(ev))
      .orderBy(col("c_user"), col("c_id"))
  }

  /** Two-stream as-of join via the union trick — the scalable as-of
    * shape (SURVEY.md §2.4): instead of joining purchases×clicks and
    * ranking (O(pairs)), tag both streams, union, and carry the last
    * click forward with an ignore-nulls last() window — one shuffle on
    * the key, linear work. For each purchase: the same user's most
    * recent click at-or-before it.
    */
  def joinAsofUnion(s: SparkSession, dir: String): DataFrame = {
    val ev = T.events(s, dir)
      .filter(col("event_type").isin("click", "purchase"))
    val tagged = ev.select(
      col("user_id"), col("ts"), col("event_id"), col("event_type"),
      when(col("event_type") === "click", col("event_id")).as("click_id"))
    // tie-INCLUSIVE as-of contract (shared with AsOfJoinExec, whose
    // merge admits rTs <= lTs): at equal ts, clicks sort BEFORE
    // purchases ('click' < 'purchase'), so a same-instant click is a
    // valid match; among same-ts clicks the max event_id wins
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_type"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    tagged
      .withColumn("last_click_id",
        last(col("click_id"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("last_click_id"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** As-of join with a TOLERANCE bound (pandas merge_asof's
    * `tolerance`): the most recent click at-or-before each purchase,
    * but only if it happened within the last hour — staler matches
    * null out. Same union+last() shape as joinAsofUnion (one shuffle,
    * linear), carrying the click timestamp alongside its id so the
    * staleness test is a post-window projection, not a second join.
    */
  def joinAsofTolerance(s: SparkSession, dir: String): DataFrame = {
    val ev = T.events(s, dir)
      .filter(col("event_type").isin("click", "purchase"))
    val tagged = ev.select(
      col("user_id"), col("ts"), col("event_id"), col("event_type"),
      when(col("event_type") === "click", col("event_id")).as("click_id"),
      when(col("event_type") === "click", col("ts")).as("click_ts"))
    // tie-INCLUSIVE as-of contract (shared with AsOfJoinExec, whose
    // merge admits rTs <= lTs): at equal ts, clicks sort BEFORE
    // purchases ('click' < 'purchase'), so a same-instant click is a
    // valid match; among same-ts clicks the max event_id wins
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_type"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val fresh = col("last_click_ts") >= col("ts") - expr("INTERVAL 1 HOUR")
    tagged
      .withColumn("last_click_id",
        last(col("click_id"), ignoreNulls = true).over(w))
      .withColumn("last_click_ts",
        last(col("click_ts"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"),
        when(fresh, col("last_click_id")).as("last_click_id"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** The same as-of semantics through the NATIVE AsOfJoinExec
    * operator (graft.plans.AsOfJoin): co-partitioned sorted stream
    * merge, O(n) per partition, planned via the injected strategy.
    * Identical results to joinAsofUnion — shared oracle.
    */
  def joinAsofNative(s: SparkSession, dir: String): DataFrame = {
    val ev = T.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user_id"),
        col("event_id").as("last_click_id"), col("ts").as("c_ts"))
    graft.plans.AsOf.join(purchases, clicks,
      "user_id", "c_user_id", "ts", "c_ts", Seq("last_click_id"))
      .select(col("user_id"), col("event_id"), col("last_click_id"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Stream-compatible shingle rows: a typed flatMap (linear per doc,
    * one sliding pass) instead of Dedup.shingleRows' posexplode +
    * window — window functions don't run on unbounded streams, a
    * per-row flatMap does. Distinct-per-doc matches the batch
    * semantics.
    */
  def shingleStream(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select(col("doc_id").cast(LongType), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        // split limit -1 KEEPS trailing empty tokens — Scala's
        // default split drops them, silently diverging from
        // NgramsExpr (UTF8String.split(_, -1)) and DuckDB
        // string_split on texts ending in a space; the probe side of
        // streamDecontam shingles through the batch path, so both
        // sides must share one tokenization
        text.split(" ", -1).iterator.sliding(3).withPartial(false)
          .map(_.mkString("_")).toSet[String].iterator.map(t => (id, t))
      }.toDF("doc_id", "tok")
  }

  /** Streaming decontamination core: corpus docs joined against a
    * STATIC benchmark shingle set (broadcast — Structured Streaming
    * replans the static side per micro-batch), overlap counted per
    * doc. Stateless except the final agg, so state is O(flagged
    * docs), not O(stream). Batch run is the oracle; StreamingSpec
    * replays it as a true file stream.
    */
  def decontamCore(docs: DataFrame, probe: DataFrame): DataFrame =
    shingleStream(docs)
      .join(broadcast(probe), "tok")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_overlap"))

  def streamDecontam(s: SparkSession, dir: String): DataFrame = {
    val docs = T.t(s, dir, "documents")
    val probe = graft.llm.Dedup.shingleRows(docs.filter(col("doc_id") < 5))
      .select(col("tok")).distinct()
    decontamCore(docs.filter(col("doc_id") >= 5), probe)
      .filter(col("n_overlap") >= 3)
      .orderBy(col("doc_id"))
  }

  /** Stateful streaming sequence packing: per-group running token
    * offset carried as `transformWithState` ValueState (Spark 4's
    * arbitrary-state API — flatMapGroupsWithState is the deprecated
    * predecessor); each doc is assigned the 512-token context window
    * where it starts (Curate.packSequences semantics, incremental
    * edition — the state is one Long per group, so a 1000-executor
    * ingest keeps O(groups) state total). Docs are processed in
    * doc_id order within each micro-batch; ordered file replay
    * extends that across batches (StreamingSpec).
    */
  class PackOffsetProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Long), (Long, Long, Long)] {
    import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var off: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      off = getHandle.getValueState[Long]("off",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(grp: Long,
        rows: Iterator[(Long, Long, Long)],
        timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
      var o = if (off.exists()) off.get() else 0L
      val out = rows.toSeq.sortBy(_._1).map { case (id, _, n) =>
        val pack = o / 512
        o += n
        (grp, id, pack)
      }
      off.update(o)
      out.iterator
    }
  }

  def packStreamCore(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    // batch runs of transformWithState execute on RocksDB, whose
    // snapshot reporter needs the driver endpoint materialized
    org.apache.spark.sql.graftbridge.Bridge.ensureStateStoreCoordinator(s)
    val counted = docs
      .select(col("doc_id").cast(LongType), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), pmod(col("doc_id"), lit(8)).as("grp"),
        size(col("toks")).cast(LongType).as("n"))
      .as[(Long, Long, Long)]
    counted.groupByKey(_._2)
      .transformWithState(new PackOffsetProcessor,
        TimeMode.None(), OutputMode.Append())
      .toDF("grp", "doc_id", "pack")
  }

  def streamPack(s: SparkSession, dir: String): DataFrame =
    packStreamCore(T.t(s, dir, "documents"))
      .orderBy(col("grp"), col("doc_id"))

  /** INCREMENTAL materialized-view maintenance — the streaming half of
    * plans/MaterializedView.scala: a readStream over the fact data
    * keeps a summary parquet fresh via update-mode aggregation +
    * foreachBatch upsert. Each micro-batch emits ONLY the groups it
    * changed, carrying their full re-aggregated totals (streaming agg
    * state persists across batches), so the upsert is
    * last-writer-wins per key and the MV equals the batch aggregate
    * after every batch — no full recompute, which at 100 TB is the
    * difference between touching a day's delta and rescanning the
    * fact table per refresh. The query RUNS the stream (AvailableNow,
    * one file per micro-batch over a re-sharded fixture = a real
    * multi-batch incremental run) and returns the refreshed MV;
    * the DuckDB oracle is the batch aggregate over the same events.
    */
  def streamMvRefresh(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val src = graft.Fixtures.ensure(dir, "mv_refresh_events") { p =>
      T.events(s, dir).repartition(4).write.mode("overwrite").parquet(p)
    }
    val mvPath = T.scratch(dir, "mv_refresh_state")
    val ckpt = mvPath + "_ckpt"
    val hconf = s.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(mvPath).getFileSystem(hconf)
    // a refresh run starts from empty state — delete MV + checkpoint
    fs.delete(new org.apache.hadoop.fs.Path(mvPath), true)
    fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
    def upsert(batch: DataFrame): Unit = {
      val p = new org.apache.hadoop.fs.Path(mvPath)
      if (!fs.exists(p)) batch.write.parquet(mvPath)
      else {
        val cur = s.read.parquet(mvPath)
        // keys the batch re-aggregated are replaced; others carry over.
        // localCheckpoint materializes the merge before the overwrite
        // clobbers the files it read.
        val merged = batch.unionByName(
          cur.join(batch.select(col("event_type")),
            Seq("event_type"), "left_anti")).localCheckpoint()
        merged.write.mode("overwrite").parquet(mvPath)
      }
    }
    val schema = s.read.parquet(src).schema
    // the aggregation state has 5 keys: 32 state-store partitions ×
    // 4 micro-batches is pure commit overhead. The partition count
    // pins at checkpoint creation and the refresh starts from a fresh
    // checkpoint every run, so scoping it down is safe — measured
    // 6.7 → 4.2 s at sf0.1 with identical output.
    val spKey = "spark.sql.shuffle.partitions"
    val prevSp = s.conf.get(spKey)
    s.conf.set(spKey, "8")
    try {
      val q = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), dsum(col("value"), 6).as("sum_value"))
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch((b: DataFrame, _: Long) => upsert(b))
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally s.conf.set(spKey, prevSp)
    s.read.parquet(mvPath).orderBy(col("event_type"))
  }

  /** BATCH incremental MV maintenance across two VERSIONED tables
    * ([[graft.sources.IncrementalMv]]): the source ingests three
    * append commits, the first refresh computes the MV in full and
    * records the reflected source version as a `T __mv:<src> <v>`
    * manifest marker; two more appends land and the second refresh
    * reads ONLY the delta files (manifest set difference), merges the
    * partial aggregate, and advances the marker — at 100 TB a
    * refresh touches a day's commits, never the fact table. The
    * marker makes replays idempotent and staleness a metadata-rate
    * question; the oracle is the batch aggregate over all of orders.
    */
  def streamMvIncremental(s: SparkSession, dir: String): DataFrame = {
    val st = graft.sources.GraftStorage(s)
    val mv = graft.sources.IncrementalMv(s)
    val src = T.scratch(dir, "mv_inc_src")
    val mvP = T.scratch(dir, "mv_inc_mv")
    val hconf = s.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(src).getFileSystem(hconf)
    Seq(src, mvP).foreach(p =>
      fs.delete(new org.apache.hadoop.fs.Path(p), true))
    val base = T.t(s, dir, "orders").select(
      col("o_orderkey"), col("o_orderstatus"),
      col("o_totalprice")
        .cast(org.apache.spark.sql.types.DecimalType(18, 2)).as("price"))
    def slice(m: Int) = base.filter(col("o_orderkey") % 4 === m)
      .repartition(2)
    st.writeVersioned(slice(0), src)
    st.writeVersioned(slice(1), src, append = true)
    st.writeVersioned(slice(2), src, append = true)
    mv.refresh(src, mvP, Seq("o_orderstatus"), Seq("price"))
    // two more ingest commits: the next refresh is the INCREMENTAL
    // path (delta files only) and must equal the full aggregate
    st.writeVersioned(slice(3), src, append = true)
    mv.refresh(src, mvP, Seq("o_orderstatus"), Seq("price"))
    st.readVersioned(mvP)
      .select(col("o_orderstatus"), col("cnt"),
        col("sum_price").cast("double").as("total"))
      .orderBy(col("o_orderstatus"))
  }

  /** Stream a VERSIONED table's commit log (`GraftStorage
    * .streamVersioned` → the manifest-driven [[graft.sources
    * .GraftStreamSource]]): offsets are commit versions, each
    * micro-batch reads exactly the files the manifests added in its
    * range, WAP-staged commits stay invisible until published, and
    * non-append commits fail loudly — the "subscribe to a lakehouse
    * table" pattern (StorageSpec pins the incremental-second-run
    * contract, GraftStreamSpec the WAP/change-commit semantics). The
    * query drains the full history (AvailableNow) into an append
    * parquet sink and aggregates it; the oracle is the same
    * aggregate over the batch union of the three commit slices =
    * all of orders.
    */
  /** STREAMING CHANGE DATA FEED (`readChangeFeed`, Delta's contract):
    * the consumer subscribes to a versioned table's CHANGE ROWS —
    * first batch is the snapshot as inserts, every later commit
    * contributes its own O(churn) diff (`_change_type` insert/delete,
    * an UPDATE as the pre-image/post-image pair, `_commit_version`
    * stamped). Here: bootstrap, then a MoR DELETE and a MoR UPDATE
    * commit, a second AvailableNow drain picking up exactly those two
    * commits' rows; the result aggregates the accumulated feed. At
    * 100 TB each trigger costs the commits' DV + matched files, never
    * a table scan — the downstream CDC-apply pipeline shape.
    */
  def streamCdf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val st = graft.sources.GraftStorage(s)
    val src = T.scratch(dir, "stream_cdf_src")
    val outP = T.scratch(dir, "stream_cdf_out")
    val ckpt = outP + "_ckpt"
    val hconf = s.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(src).getFileSystem(hconf)
    Seq(src, outP, ckpt).foreach(p =>
      fs.delete(new org.apache.hadoop.fs.Path(p), true))
    val base = T.t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    st.writeVersioned(base.repartition(4), src)
    def drain(): Unit = {
      val q = st.streamVersionedChanges(src)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", outP)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain() // bootstrap: snapshot as inserts
    st.deleteVersionedMor(src, col("o_orderkey") % 11 === 4, "o_orderkey")
    st.updateVersionedMor(src, col("o_orderkey") % 11 === 6,
      Map("o_totalprice" -> (col("o_totalprice") * 3)), "o_orderkey")
    drain() // the two commits' change rows
    s.read.parquet(outP)
      .groupBy(col("_change_type"), col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("total"))
      .orderBy(col("_change_type"), col("o_orderstatus"))
  }


  /** REF-PINNED STREAMING — the audit-follow contract: a streaming
    * consumer pinned to a named branch (`option("ref", ...)`) drains
    * toward the BRANCH POINTER instead of the latest published
    * version, and WAP-STAGED commits at or below the pin are
    * delivered — an audit pipeline CDC-follows staged data BEFORE
    * publish, while every default consumer stays shielded until the
    * audit publishes. The query runs both consumers side by side:
    * the 'audit' stream (branch advanced onto a staged commit) sees
    * the full data set; the 'default' stream sees only the published
    * prefix. Publish itself is a zero-file-delta commit, so the
    * audit stream re-drains to ZERO new rows after it — staged data
    * is never double-delivered.
    */
  def streamRefFollow(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val st = graft.sources.GraftStorage(s)
    val src = T.scratch(dir, "stream_ref_src")
    val outA = T.scratch(dir, "stream_ref_out_audit")
    val outD = T.scratch(dir, "stream_ref_out_default")
    val ckA = outA + "_ckpt"; val ckD = outD + "_ckpt"
    val hconf = s.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(src).getFileSystem(hconf)
    Seq(src, outA, outD, ckA, ckD).foreach(p =>
      fs.delete(new org.apache.hadoop.fs.Path(p), true))
    val nat = T.t(s, dir, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    def drain(df: DataFrame, outP: String, ck: String): Unit = {
      val q = df.writeStream.outputMode("append")
        .option("checkpointLocation", ck)
        .format("parquet").option("path", outP)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    st.writeVersioned(nat.filter(col("n_regionkey") < 3), src) // v0
    st.branchVersion(src, "audit"): Unit                       // @ v0
    drain(st.streamVersionedRef(src, "audit"), outA, ckA)
    // stage the rest under a WAP audit and advance the branch onto it
    val staged = st.wapStage(
      nat.filter(col("n_regionkey") >= 3), src, "night")
    st.branchVersion(src, "audit", Some(staged)): Unit
    drain(st.streamVersionedRef(src, "audit"), outA, ckA) // staged rows
    drain(st.streamVersioned(src), outD, ckD)             // shielded
    st.wapPublish(src, "night"): Unit
    val audit = s.read.parquet(outA).withColumn("consumer", lit("audit"))
    val dflt = s.read.parquet(outD)
      .withColumn("consumer", lit("default"))
    audit.unionByName(dflt)
      .groupBy(col("consumer"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("n_nationkey")).cast("long").as("key_sum"))
      .orderBy(col("consumer"))
  }

  /** END-TO-END CDC REPLICATION — the loop the whole MoR family
    * exists for: a `readChangeFeed` stream over the SOURCE table
    * net-applies each micro-batch into a REPLICA with O(churn)
    * merge-on-read commits, and the replica converges to the source
    * through any mix of deletes, updates, and appends. Net-apply per
    * batch: the LATEST change per key wins (`_commit_version` desc,
    * then 'insert' over 'delete' — a commit's post-image supersedes
    * its own pre-image); surviving inserts upsert via ONE
    * [[graft.sources.GraftStorage.mergeVersionedMor]] commit
    * (txn-marked, so replays are exactly-once), pure deletes ride a
    * DV commit, and the bootstrap batch lands as a plain append
    * (the replica is empty — no DV needed). `maxVersionsPerTrigger=1`
    * keeps one source commit per batch. At 100 TB each trigger moves
    * the CHANGED rows only: the feed costs the commits' DV + matched
    * files, the apply costs the batch + a KB-scale DV — neither side
    * ever rescans its table.
    */
  def streamCdcReplica(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val st = graft.sources.GraftStorage(s)
    val src = T.scratch(dir, "stream_cdc_replica_src")
    val dst = T.scratch(dir, "stream_cdc_replica_dst")
    val ckpt = dst + "_ckpt"
    val hconf = s.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(src).getFileSystem(hconf)
    Seq(src, dst, ckpt).foreach(p =>
      fs.delete(new org.apache.hadoop.fs.Path(p), true))
    val base = T.t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    // source history: snapshot, MoR delete, MoR update, append
    st.writeVersioned(base.repartition(4), src)
    st.deleteVersionedMor(src, col("o_orderkey") % 13 === 2, "o_orderkey")
    st.updateVersionedMor(src, col("o_orderkey") % 13 === 5,
      Map("o_totalprice" -> (col("o_totalprice") * 2)), "o_orderkey")
    st.writeVersioned(base.filter(col("o_orderkey") % 89 === 3)
      .select((col("o_orderkey") + 20000000L).as("o_orderkey"),
        lit("E").as("o_orderstatus"), lit(3.0).as("o_totalprice")),
      src, append = true)
    st.writeVersioned(base.limit(0), dst) // empty replica, v0
    val q = s.readStream.format("graft-stream")
      .option("readChangeFeed", "true")
      .option("maxVersionsPerTrigger", "1")
      .load(src)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        cdcApplyBatch(st, dst, "o_orderkey", batch, id, "cdc_replica")
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // the replica's state IS the result — its oracle is the SOURCE's
    // final state, which is the convergence claim
    st.readVersioned(dst)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("total"))
      .orderBy(col("o_orderstatus"))
  }

  /** Net-apply one CDC micro-batch into a keyed MoR replica — the
    * foreachBatch body of [[streamCdcReplica]], factored out so the
    * fast/exact path split is spec-testable with constructed batches.
    */
  private[graft] def cdcApplyBatch(st: graft.sources.GraftStorage,
      dst: String, keyCol: String,
      batch: org.apache.spark.sql.DataFrame, id: Long,
      txnApp: String): Unit = {
        if (!st.txnCommitted(dst, txnApp, id)) {
          // Census FIRST, over the RAW batch (one aggregate over the
          // CDF batch files): per-type row and distinct-key counts +
          // the batch's commit span. A batch holding exactly ONE
          // commit of exactly ONE change type with one row per key
          // needs NO per-key ranking — its rows ARE the net change.
          // That skips the full-width window+localCheckpoint for the
          // bootstrap snapshot (the most expensive batch: ~0.8 s
          // ranking 150k rows at sf0.1 just to keep all of them) and
          // for pure append / pure delete commits — every batch of an
          // append-or-delete-only feed, at any scale. A commit that
          // repeats a key (or holds a NULL key), mixed and
          // multi-commit batches take the exact rank+checkpoint path.
          val census = batch.groupBy(col("_change_type"))
            .agg(count(lit(1)).as("n"),
              min(col("_commit_version")).as("v0"),
              max(col("_commit_version")).as("v1"),
              countDistinct(col(keyCol)).as("keys"))
            .collect()
          val counts = census.map(r => r.getString(0) -> r.getLong(1)).toMap
          val keyUniqueCommit = census.nonEmpty &&
            census.map(_.getLong(2)).min == census.map(_.getLong(3)).max &&
            census.forall(r => r.getLong(4) == r.getLong(1))
          def commitUps(ups: org.apache.spark.sql.DataFrame): Unit = {
            if (st.countVersionedFast(dst).contains(0L))
              st.writeVersioned(ups, dst, append = true, Seq.empty,
                Seq.empty, Seq.empty, Some(txnApp -> id)): Unit
            else
              st.mergeVersionedMor(dst, ups, keyCol,
                Some(txnApp -> id)): Unit
          }
          if (keyUniqueCommit && counts.size == 1 && counts.contains("insert")) {
            commitUps(batch.drop("_change_type", "_commit_version"))
          } else if (keyUniqueCommit && counts.size == 1 &&
              counts.contains("delete")) {
            st.deleteVersionedMorKeys(dst, batch.select(col(keyCol)),
              keyCol, Some(txnApp -> id)): Unit
          } else if (census.nonEmpty) {
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy(col(keyCol))
              .orderBy(col("_commit_version").desc, col("_change_type").desc)
            // checkpoint the ranked batch ONCE: the upsert side, the
            // delete-keys side, and the post-rank census all derive
            // from it, so the window computation runs once
            val latest = batch
              .withColumn("__rn", row_number().over(w))
              .filter(col("__rn") === 1).drop("__rn", "_commit_version")
              .localCheckpoint()
            val ups = latest.filter(col("_change_type") === "insert")
              .drop("_change_type")
            // delete keys stay a DATAFRAME end to end: the batch's
            // delete rows ARE the deletion vector
            // (deleteVersionedMorKeys writes them straight to the DV
            // parquet) — no driver collect(), and the replica table is
            // never scanned to apply a delete
            val delKeys = latest.filter(col("_change_type") === "delete")
              .select(col(keyCol))
            // the RAW census over-counts deletes a same-batch insert
            // supersedes, so the branch guards re-census the RANKED
            // batch (one cheap aggregate over the checkpoint)
            val netCounts = latest.groupBy(col("_change_type")).count()
              .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
            // the txn marker rides the batch's LAST commit:
            // delete-only batches mark the delete itself; mixed
            // batches mark the merge (a replay between the two
            // re-runs the delete — content-idempotent, the DV names
            // already-deleted keys)
            val upsEmpty = netCounts.getOrElse("insert", 0L) == 0L
            if (netCounts.getOrElse("delete", 0L) > 0L)
              st.deleteVersionedMorKeys(dst, delKeys, keyCol,
                if (upsEmpty) Some(txnApp -> id) else None): Unit
            if (!upsEmpty) commitUps(ups)
          }
        }
  }


  def streamVersionedSource(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val st = graft.sources.GraftStorage(s)
    val src = T.scratch(dir, "stream_versioned_src")
    val outP = T.scratch(dir, "stream_versioned_out")
    val ckpt = outP + "_ckpt"
    val hconf = s.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(src).getFileSystem(hconf)
    Seq(src, outP, ckpt).foreach(p =>
      fs.delete(new org.apache.hadoop.fs.Path(p), true))
    val base = T.t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    st.writeVersioned(base.filter(col("o_orderkey") % 3 === 0)
      .repartition(2), src)
    st.writeVersioned(base.filter(col("o_orderkey") % 3 === 1)
      .repartition(2), src, append = true)
    st.writeVersioned(base.filter(col("o_orderkey") % 3 === 2)
      .repartition(2), src, append = true)
    val q = st.streamVersioned(src)
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", outP)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(outP)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("total"))
      .orderBy(col("o_orderstatus"))
  }

  /** Streaming INTO a versioned table, exactly-once: each micro-batch
    * lands as one manifest commit via foreachBatch, made IDEMPOTENT
    * by a `T appId batchId` transaction marker in the manifest
    * ([[graft.sources.GraftStorage.txnBatchIds]], Delta's txn
    * design) — a replayed batch (foreachBatch offers at-least-once)
    * finds its marker and skips, and the check survives interleaved
    * maintenance commits, which version-number arithmetic would not.
    * The query drains a 4-file source one file per trigger and proves
    * commits == batches and content == source; StorageSpec pins the
    * replay-skip half (a second checkpointed run commits nothing new).
    */
  def streamVersionedSink(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val st = graft.sources.GraftStorage(s)
    val src = graft.Fixtures.ensure(dir, "stream_vsink_src") { p =>
      T.t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .repartition(4).write.mode("overwrite").parquet(p)
    }
    val outP = T.scratch(dir, "stream_versioned_sink")
    val ckpt = outP + "_ckpt"
    val hconf = s.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(outP).getFileSystem(hconf)
    Seq(outP, ckpt).foreach(p =>
      fs.delete(new org.apache.hadoop.fs.Path(p), true))
    val schema = s.read.parquet(src).schema
    val q = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        // exactly-once via the txn marker, NOT version numbers: an
        // interleaved maintenance commit (compact, ALTER) shifts
        // versions and a batchId==version check would silently skip
        // a real batch
        if (!st.txnCommitted(outP, "stream_versioned_sink", id))
          st.writeVersioned(batch, outP, append = id > 0, Seq.empty,
            Seq.empty, Seq.empty,
            Some("stream_versioned_sink" -> id)): Unit
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    st.readVersioned(outP)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("total"))
      .orderBy(col("o_orderstatus"))
  }

  /** Streaming CDC-APPLY: a checkpointed stream of keyed updates
    * upserts into a versioned table, each micro-batch as ONE
    * merge-on-read commit ([[graft.sources.GraftStorage
    * .mergeVersionedMor]]) — a DV of the batch's keys plus the
    * batch's rows, zero existing files rewritten. The txn marker
    * makes replays idempotent exactly as the append sinks
    * (foreachBatch is at-least-once); each batch is its own DV
    * generation, so the final read exercises the sequence-scoped
    * multi-generation plan. At 100 TB this is how a CDC feed applies
    * to a lakehouse table: per-batch write cost tracks the batch,
    * and nightly compaction folds the generations.
    */
  def streamUpsertMor(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val st = graft.sources.GraftStorage(s)
    val base = T.t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    // keyed update feed: restatused keys (%7) + brand-new keys (%97);
    // keys are UNIQUE across the feed, so the final state is
    // independent of how the files split into micro-batches
    val src = graft.Fixtures.ensure(dir, "stream_upsert_src") { p =>
      base.filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"), lit("X").as("o_orderstatus"),
          (col("o_totalprice") * 2).as("o_totalprice"))
        .union(base.filter(col("o_orderkey") % 97 === 0)
          .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
            lit("N").as("o_orderstatus"), lit(1.0).as("o_totalprice")))
        .repartition(4).write.mode("overwrite").parquet(p)
    }
    val outP = T.scratch(dir, "stream_upsert_mor")
    val ckpt = outP + "_ckpt"
    val hconf = s.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(outP).getFileSystem(hconf)
    Seq(outP, ckpt).foreach(p =>
      fs.delete(new org.apache.hadoop.fs.Path(p), true))
    st.writeVersioned(base.repartitionByRange(8, col("o_orderkey")), outP)
    val schema = s.read.parquet(src).schema
    val q = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        if (!st.txnCommitted(outP, "stream_upsert_mor", id))
          st.mergeVersionedMor(outP, batch, "o_orderkey",
            Some("stream_upsert_mor" -> id)): Unit
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    st.readVersioned(outP)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("total"))
      .orderBy(col("o_orderstatus"))
  }

  /** Streaming ingest INTO A PARTITIONED versioned table — the
    * streaming-lakehouse shape: a `CREATE ... PARTITIONED BY
    * (days(ts))` metadata commit (v0), then each micro-batch lands as
    * one idempotent partitioned APPEND (a `T` transaction marker per
    * batch: a replayed batch finds its marker and skips, even across
    * interleaved maintenance commits). Every file
    * the stream writes is keyed into its UTC-day dir, so the table is
    * range-prunable and SPJ-joinable from the first commit — ingest
    * and layout maintenance are the same operation. At 100 TB this is
    * the landing zone: appends touch today's dir, queries prune to
    * the days they name, and `compact_where` folds yesterday once.
    */
  def streamSinkPartitioned(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val st = graft.sources.GraftStorage(s)
    val src = graft.Fixtures.ensure(dir, "stream_psink_src") { p =>
      T.events(s, dir).select(col("event_id"), col("ts"), col("user_id"))
        .repartition(4).write.mode("overwrite").parquet(p)
    }
    val outP = T.scratch(dir, "stream_sink_partitioned")
    val ckpt = outP + "_ckpt"
    val hconf = s.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(outP).getFileSystem(hconf)
    Seq(outP, ckpt).foreach(p =>
      fs.delete(new org.apache.hadoop.fs.Path(p), true))
    val schema = s.read.parquet(src).schema
    st.createVersionedPartitioned(outP, schema, Seq("days(ts)"))
    val q = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        // exactly-once via the txn marker (T lines), NOT version
        // arithmetic: maintenance commits (compact_where on this very
        // landing table is the advertised pairing) shift version
        // numbers, and a batchId+1==version check would skip a real
        // batch — silent data loss on exactly the recommended setup
        if (!st.txnCommitted(outP, "stream_sink_partitioned", id))
          st.writeVersionedPartitioned(batch, outP, Seq("days(ts)"),
            append = true, sortedBy = Seq.empty,
            txn = Some("stream_sink_partitioned" -> id)): Unit
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    st.readVersioned(outP)
      .groupBy(expr("CAST(date_trunc('DAY', ts) AS DATE)").as("day"))
      .agg(count(lit(1)).cast("long").as("cnt"),
        sum(col("event_id")).cast("long").as("id_sum"))
      .filter(col("day") >= lit("2024-01-25").cast("date"))
      .orderBy(col("day"))
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "join_asof_union" -> (joinAsofUnion(_, _)),
    "join_asof_tolerance" -> (joinAsofTolerance(_, _)),
    "join_asof_native" -> (joinAsofNative(_, _)),
    "stream_tumbling" -> (streamTumbling(_, _)),
    "stream_topk" -> (streamTopk(_, _)),
    "stream_static_join" -> (streamStaticJoin(_, _)),
    "stream_interval_join" -> (streamIntervalJoin(_, _)),
    "stream_sliding" -> (streamSliding(_, _)),
    "stream_session" -> (streamSession(_, _)),
    "stream_session_dynamic" -> (streamSessionDynamic(_, _)),
    "stream_decontam" -> (streamDecontam(_, _)),
    "stream_pack" -> (streamPack(_, _)),
    "stream_mv_refresh" -> (streamMvRefresh(_, _)),
    "stream_mv_incremental" -> (streamMvIncremental(_, _)),
    "stream_join_outer" -> (streamJoinOuter(_, _)),
    "stream_dedup" -> (streamDedup(_, _)),
    "stream_dedup_watermark" -> (streamDedupWatermark(_, _)),
    "stream_versioned_source" -> (streamVersionedSource(_, _)),
    "stream_cdf" -> (streamCdf(_, _)),
    "stream_ref_follow" -> (streamRefFollow(_, _)),
    "stream_cdc_replica" -> (streamCdcReplica(_, _)),
    "stream_versioned_sink" -> (streamVersionedSink(_, _)),
    "stream_upsert_mor" -> (streamUpsertMor(_, _)),
    "stream_sink_partitioned" -> (streamSinkPartitioned(_, _)))

  // DuckDB mirrors: ts is TIMESTAMP_NS in DuckDB — CAST to TIMESTAMP
  // applies the same micros truncation as graft.T.events.
  private val asofOracle =
    """SELECT user_id, event_id, last_click_id FROM (
      |  SELECT user_id, event_id, event_type,
      |    last_value(CASE WHEN event_type = 'click' THEN event_id END
      |               IGNORE NULLS) OVER (
      |      PARTITION BY user_id
      |      ORDER BY CAST(ts AS TIMESTAMP), event_type, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS last_click_id
      |  FROM events WHERE event_type IN ('click', 'purchase')) t
      |WHERE event_type = 'purchase'
      |ORDER BY user_id, event_id""".stripMargin

  override def oracleSql: Map[String, String] = Map(
    "stream_sink_partitioned" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
        |  CAST(COUNT(*) AS BIGINT) AS cnt,
        |  CAST(SUM(event_id) AS BIGINT) AS id_sum
        |FROM events
        |WHERE CAST(date_trunc('day', ts) AS DATE) >= DATE '2024-01-25'
        |GROUP BY 1 ORDER BY day""".stripMargin,
    // streaming MoR upsert = the sink_versioned_merge final state
    "stream_upsert_mor" ->
      s"""WITH base AS (
         |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
         |upd AS (
         |  SELECT o_orderkey, 'X' AS o_orderstatus,
         |    o_totalprice * 2 AS o_totalprice
         |  FROM base WHERE o_orderkey % 7 = 0
         |  UNION ALL
         |  SELECT o_orderkey + 10000000, 'N', 1.0
         |  FROM base WHERE o_orderkey % 97 = 0),
         |merged AS (
         |  SELECT * FROM upd
         |  UNION ALL
         |  SELECT * FROM base
         |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd))
         |SELECT o_orderstatus, COUNT(*) AS cnt,
         |  ${sqlDsum("o_totalprice")} AS total
         |FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "stream_versioned_sink" ->
      s"""SELECT o_orderstatus, COUNT(*) AS cnt,
         |  ${sqlDsum("o_totalprice")} AS total
         |FROM orders GROUP BY o_orderstatus
         |ORDER BY o_orderstatus""".stripMargin,
    "stream_cdc_replica" ->
      s"""WITH base AS (
         |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
         |v2 AS (
         |  SELECT o_orderstatus,
         |    CASE WHEN o_orderkey % 13 = 5 THEN o_totalprice * 2
         |         ELSE o_totalprice END AS o_totalprice
         |  FROM base WHERE o_orderkey % 13 <> 2),
         |fin AS (
         |  SELECT * FROM v2
         |  UNION ALL
         |  SELECT 'E', 3.0 FROM base WHERE o_orderkey % 89 = 3)
         |SELECT o_orderstatus, COUNT(*) AS cnt,
         |  ${sqlDsum("o_totalprice")} AS total
         |FROM fin GROUP BY o_orderstatus
         |ORDER BY o_orderstatus""".stripMargin,
    "stream_cdf" ->
      s"""WITH base AS (
         |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
         |cdf AS (
         |  SELECT 'insert' AS _change_type, o_orderstatus, o_totalprice
         |  FROM base
         |  UNION ALL
         |  SELECT 'delete', o_orderstatus, o_totalprice FROM base
         |  WHERE o_orderkey % 11 = 4
         |  UNION ALL
         |  SELECT 'delete', o_orderstatus, o_totalprice FROM base
         |  WHERE o_orderkey % 11 = 6
         |  UNION ALL
         |  SELECT 'insert', o_orderstatus, o_totalprice * 3 FROM base
         |  WHERE o_orderkey % 11 = 6)
         |SELECT _change_type, o_orderstatus, COUNT(*) AS cnt,
         |  ${sqlDsum("o_totalprice")} AS total
         |FROM cdf GROUP BY _change_type, o_orderstatus
         |ORDER BY _change_type, o_orderstatus""".stripMargin,
    "stream_versioned_source" ->
      s"""SELECT o_orderstatus, COUNT(*) AS cnt,
         |  ${sqlDsum("o_totalprice")} AS total
         |FROM orders GROUP BY o_orderstatus
         |ORDER BY o_orderstatus""".stripMargin,
    // the audit consumer (branch advanced onto the staged commit)
    // sees everything; the default consumer only the published prefix
    "stream_ref_follow" ->
      """WITH feeds AS (
        |  SELECT 'audit' AS consumer, n_nationkey FROM nation
        |  UNION ALL
        |  SELECT 'default' AS consumer, n_nationkey FROM nation
        |  WHERE n_regionkey < 3)
        |SELECT consumer, COUNT(*) AS cnt,
        |  CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
        |FROM feeds GROUP BY consumer ORDER BY consumer""".stripMargin,
    "stream_mv_refresh" ->
      s"""SELECT event_type, COUNT(*) AS cnt,
         |  ${sqlDsum("value", 6)} AS sum_value
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "stream_mv_incremental" ->
      s"""SELECT o_orderstatus, COUNT(*) AS cnt,
         |  ${sqlDsum("o_totalprice")} AS total
         |FROM orders GROUP BY o_orderstatus
         |ORDER BY o_orderstatus""".stripMargin,
    "stream_join_outer" ->
      """WITH c AS (
        |  SELECT user_id AS c_user, CAST(ts AS TIMESTAMP) AS c_ts,
        |    event_id AS c_id
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id AS p_user, CAST(ts AS TIMESTAMP) AS p_ts,
        |    event_id AS p_id
        |  FROM events WHERE event_type = 'purchase')
        |SELECT c_user, c_id,
        |  CAST(COUNT(p_id) AS BIGINT) AS n_purchases,
        |  MAX(p_id) AS max_purchase_id
        |FROM c LEFT JOIN p
        |  ON c_user = p_user AND p_ts >= c_ts
        |    AND p_ts <= c_ts + INTERVAL 1 HOUR
        |GROUP BY c_user, c_id ORDER BY c_user, c_id""".stripMargin,
    "join_asof_tolerance" ->
      """SELECT user_id, event_id,
        |  CASE WHEN last_click_ts >= ts - INTERVAL 1 HOUR
        |       THEN last_click_id END AS last_click_id
        |FROM (
        |  SELECT user_id, event_id, event_type, ts,
        |    last_value(CASE WHEN event_type = 'click' THEN event_id END
        |               IGNORE NULLS) OVER w AS last_click_id,
        |    last_value(CASE WHEN event_type = 'click' THEN ts END
        |               IGNORE NULLS) OVER w AS last_click_ts
        |  FROM (SELECT user_id, event_id, event_type,
        |          CAST(ts AS TIMESTAMP) AS ts FROM events
        |        WHERE event_type IN ('click', 'purchase'))
        |  WINDOW w AS (PARTITION BY user_id
        |    ORDER BY ts, event_type, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) t
        |WHERE event_type = 'purchase'
        |ORDER BY user_id, event_id""".stripMargin,
    "stream_decontam" ->
      """WITH s AS (
        |  SELECT doc_id, unnest([toks[i] || '_' || toks[i+1] || '_' || toks[i+2]
        |      FOR i IN generate_series(1, len(toks)-2)]) AS tok
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
        |t AS (SELECT DISTINCT doc_id, tok FROM s),
        |probe AS (SELECT DISTINCT tok FROM t WHERE doc_id < 5)
        |SELECT doc_id, COUNT(*) AS n_overlap
        |FROM t JOIN probe USING (tok)
        |WHERE doc_id >= 5
        |GROUP BY doc_id HAVING COUNT(*) >= 3
        |ORDER BY doc_id""".stripMargin,
    "stream_pack" ->
      """WITH d AS (
        |  SELECT doc_id, doc_id % 8 AS grp,
        |    len(string_split(text, ' ')) AS n
        |  FROM documents),
        |c AS (
        |  SELECT grp, doc_id, n,
        |    SUM(n) OVER (PARTITION BY grp ORDER BY doc_id) - n AS start
        |  FROM d)
        |SELECT grp, doc_id, CAST(floor(start / 512.0) AS BIGINT) AS pack
        |FROM c ORDER BY grp, doc_id""".stripMargin,
    "join_asof_native" -> asofOracle,
    "join_asof_union" ->
      """SELECT user_id, event_id, last_click_id FROM (
        |  SELECT user_id, event_id, event_type,
        |    last_value(CASE WHEN event_type = 'click' THEN event_id END
        |               IGNORE NULLS) OVER (
        |      PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP), event_type, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS last_click_id
        |  FROM events WHERE event_type IN ('click', 'purchase')) t
        |WHERE event_type = 'purchase'
        |ORDER BY user_id, event_id""".stripMargin,
    "stream_static_join" ->
      s"""SELECT c_mktsegment, event_type, COUNT(*) AS cnt,
         |  ${sqlDsum("value", 6)} AS sum_value
         |FROM events JOIN customer ON user_id = c_custkey
         |GROUP BY c_mktsegment, event_type
         |ORDER BY c_mktsegment, event_type""".stripMargin,
    "stream_interval_join" ->
      """SELECT p.user_id AS p_user, p.event_id AS p_id,
        |  COUNT(*) AS n_clicks, MAX(c.event_id) AS max_click_id
        |FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
        |      FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
        |      FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        |GROUP BY p.user_id, p.event_id
        |ORDER BY p_user, p_id""".stripMargin,
    "stream_topk" ->
      """SELECT event_type, rn, value, event_id FROM (
        |  SELECT event_type,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY value DESC, event_id DESC) AS INT) AS rn,
        |    value, event_id
        |  FROM events)
        |WHERE rn <= 3
        |ORDER BY event_type, rn""".stripMargin,
    "stream_tumbling" ->
      s"""SELECT CAST(600 * floor(epoch(CAST(ts AS TIMESTAMP)) / 600) AS BIGINT)
         |    AS w_start,
         |  event_type, COUNT(*) AS cnt, ${sqlDsum("value", 6)} AS sum_value
         |FROM events GROUP BY 1, event_type
         |ORDER BY w_start, event_type""".stripMargin,
    "stream_sliding" ->
      s"""SELECT w_start, COUNT(*) AS cnt, ${sqlDsum("value", 6)} AS sum_value
         |FROM (
         |  SELECT CAST(300 * floor(epoch(CAST(ts AS TIMESTAMP)) / 300) AS BIGINT)
         |    AS w_start, value FROM events
         |  UNION ALL
         |  SELECT CAST(300 * (floor(epoch(CAST(ts AS TIMESTAMP)) / 300) - 1) AS BIGINT)
         |    AS w_start, value FROM events
         |) u GROUP BY w_start ORDER BY w_start""".stripMargin,
    "stream_session" ->
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        |), d AS (
        |  SELECT user_id,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |         OR epoch(ts) - epoch(lag(ts) OVER
        |              (PARTITION BY user_id ORDER BY ts)) >= 1800
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM e)
        |SELECT user_id, CAST(SUM(is_new) AS BIGINT) AS n_sessions,
        |  COUNT(*) AS n_events
        |FROM d GROUP BY user_id ORDER BY user_id""".stripMargin,
    "stream_session_dynamic" ->
      """WITH e AS (
        |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events),
        |d AS (
        |  SELECT user_id, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch(ts) - epoch(lag(ts) OVER w) >=
        |            CASE WHEN event_type = 'purchase' THEN 3600 ELSE 600 END
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts))
        |SELECT event_type, CAST(SUM(is_new) AS BIGINT) AS n_sessions,
        |  COUNT(*) AS n_events
        |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin,
    "stream_dedup" ->
      """SELECT user_id, event_type, event_id FROM (
        |  SELECT user_id, event_type, event_id,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
        |  FROM events) t
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
    // greedy per-key chain: first event kept, duplicates suppressed
    // for DedupWindowMicros, first event past the window restarts it
    "stream_dedup_watermark" ->
      s"""WITH RECURSIVE seqd AS (
         |  SELECT user_id, event_type, event_id,
         |    epoch_us(CAST(ts AS TIMESTAMP)) AS tsu,
         |    row_number() OVER (PARTITION BY user_id, event_type
         |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS seq
         |  FROM events),
         |kept AS (
         |  SELECT user_id, event_type, event_id, tsu, seq
         |  FROM seqd WHERE seq = 1
         |  UNION ALL
         |  SELECT e.user_id, e.event_type, e.event_id, e.tsu, e.seq
         |  FROM kept k JOIN seqd e
         |    ON e.user_id = k.user_id AND e.event_type = k.event_type
         |   AND e.tsu > k.tsu + ${DedupWindowMicros}
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM seqd e2
         |    WHERE e2.user_id = k.user_id
         |      AND e2.event_type = k.event_type
         |      AND e2.tsu > k.tsu + ${DedupWindowMicros}
         |      AND e2.seq < e.seq))
         |SELECT user_id, event_type, event_id FROM kept
         |ORDER BY user_id, event_type, event_id""".stripMargin)
}
