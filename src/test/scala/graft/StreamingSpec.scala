package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** True Structured Streaming smoke: the SAME transform cores that the
  * batch oracle checks run over a readStream file source with a
  * watermark, through the memory sink — batch/stream result parity.
  */
class StreamingSpec extends AnyFunSuite {
  import SparkTestSession.{spark, SF}
  import spark.implicits._

  private lazy val eventsDir: String = {
    val out = T.scratch(SF, "stream_events_src")
    T.events(spark, SF).write.mode("overwrite").parquet(out)
    out
  }

  test("streaming tumbling agg matches batch result") {
    val schema = spark.read.parquet(eventsDir).schema
    val stream = spark.readStream.schema(schema).parquet(eventsDir)
      .withWatermark("ts", "1 hour")
    val q = streaming.StreamOps.tumblingCore(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("tumbling_out")
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("tumbling_out")
      .select($"w_start", $"event_type", $"cnt", $"sum_value")
      .collect().toSet
    val want = streaming.StreamOps.tumblingCore(T.events(spark, SF))
      .collect().toSet
    assert(got == want)
  }

  test("streaming grouped top-k (bounded-heap aggregate as state) " +
    "matches batch result") {
    val schema = spark.read.parquet(eventsDir).schema
    val stream = spark.readStream.schema(schema).parquet(eventsDir)
    val q = streaming.StreamOps.topkCore(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("topk_out")
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("topk_out")
      .select($"event_type", $"rn", $"value", $"event_id")
      .collect().toSet
    val want = streaming.StreamOps.topkCore(T.events(spark, SF))
      .collect().toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("streaming dropDuplicates matches batch distinct state") {
    val schema = spark.read.parquet(eventsDir).schema
    val stream = spark.readStream.schema(schema).parquet(eventsDir)
      .withWatermark("ts", "1 hour")
      .dropDuplicates("user_id", "event_type")
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out")
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("dedup_out").count()
    val want = T.events(spark, SF)
      .select($"user_id", $"event_type").distinct().count()
    assert(got == want)
  }

  test("dropDuplicatesWithinWatermark dedups while bounding state by event time") {
    val schema = spark.read.parquet(eventsDir).schema
    val stream = spark.readStream.schema(schema).parquet(eventsDir)
      .withWatermark("ts", "24 hours")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("dedup_wm_out")
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
    // fixture spans < 24h, so within-watermark dedup == global dedup
    val got = spark.table("dedup_wm_out")
      .select($"user_id", $"event_type").distinct().count()
    val want = T.events(spark, SF)
      .select($"user_id", $"event_type").distinct().count()
    assert(got == want)
    assert(spark.table("dedup_wm_out").count() == got,
      "no (user_id, event_type) may be emitted twice inside the watermark")
  }

  test("dropDuplicatesWithinWatermark re-admits keys past the window " +
      "and never emits a within-window duplicate") {
    val D = streaming.StreamOps.DedupWindowMicros
    // ordered replay: time-sorted files, one file per trigger, so
    // arrival order tracks event time and the watermark advances
    // the file source orders batches by file MTIME, so the 8 time
    // slices are written sequentially (parallel range-partition tasks
    // finish in arbitrary order and would replay the stream shuffled)
    val srcDir = T.scratch(SF, "stream_dedup_wm_src")
    val sliced = T.events(spark, SF).withColumn("bucket",
      ntile(8).over(org.apache.spark.sql.expressions.Window
        .orderBy($"ts", $"event_id")))
    for (i <- 1 to 8) {
      sliced.filter($"bucket" === i).drop("bucket")
        .sort($"ts", $"event_id").coalesce(1)
        .write.mode(if (i == 1) "overwrite" else "append").parquet(srcDir)
    }
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("dedup_wm_chain_out")
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
    val kept = spark.table("dedup_wm_chain_out")
      .select($"user_id", $"event_type", unix_micros($"ts").as("tsu"))
      .as[(Long, String, Long)].collect()
      .groupBy(r => (r._1, r._2)).view.mapValues(_.map(_._3).sorted).toMap
    // (1) every key's first event survives
    val firsts = T.events(spark, SF)
      .groupBy($"user_id", $"event_type")
      .agg(min(unix_micros($"ts")).as("t0"))
      .as[(Long, String, Long)].collect()
    firsts.foreach { case (u, t, t0) =>
      assert(kept((u, t)).head == t0, s"first event of ($u,$t) lost")
    }
    // (2) the dedup guarantee: no two same-key emissions within D
    kept.values.foreach { ts =>
      ts.sliding(2).filter(_.length == 2).foreach { w =>
        assert(w(1) - w(0) > D, s"duplicate within window: ${w(0)},${w(1)}")
      }
    }
    // (3) re-admission actually happened (keys span > 1 hour)
    assert(kept.values.exists(_.length >= 2),
      "no key was ever re-admitted — window semantics untested")
  }

  test("streaming LSH dedup: stateful candidate pairs match the batch bucket join") {
    // band rows written as 4 files, replayed one file per micro-batch:
    // bucket members arrive SPLIT across batches, so pair emission
    // exercises the cross-batch state path, not just the batch path.
    // transformWithState streams require the RocksDB provider.
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val bands = llm.Dedup.bandRows(
        llm.Dedup.minhashSigs(llm.Dedup.shingleRows(T.t(spark, SF, "documents"))))
      val src = T.scratch(SF, "stream_lsh_bands")
      bands.repartition(4).write.mode("overwrite").parquet(src)
      val schema = spark.read.parquet(src).schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
      val q = llm.Dedup.lshCandidatesCore(stream)
        .writeStream.outputMode("append")
        .format("memory").queryName("lsh_pairs_out")
        .trigger(Trigger.AvailableNow())
        .start()
      try q.processAllAvailable() finally q.stop()
      val got = spark.table("lsh_pairs_out")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = bands.as("a")
        .join(bands.as("b"), Seq("band", "bh"))
        .filter($"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id", $"b.doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want)
      assert(got.nonEmpty)
    } finally spark.conf.unset(providerKey)
  }

  test("TTL-bounded streaming LSH dedup: windowed pairs match batch, subset of unbounded") {
    import org.apache.spark.sql.streaming.TimeMode
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val bands = llm.Dedup.bandRows(
        llm.Dedup.minhashSigs(llm.Dedup.shingleRows(T.t(spark, SF, "documents"))))
      val src = T.scratch(SF, "stream_lsh_ttl_bands")
      bands.repartition(4).write.mode("overwrite").parquet(src)
      val schema = spark.read.parquet(src).schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
      // TimeMode.None in the replay: ProcessingTime (the production
      // TTL-GC config, paired with a periodic trigger) schedules
      // state-expiry wake-up batches indefinitely, so an AvailableNow
      // replay never quiesces — measured 6000+ empty micro-batches.
      // The window bound is semantic and holds in any mode; TTL only
      // changes when the store GCs provably-outside-window entries.
      val q = llm.Dedup.lshWindowCandidatesCore(
          stream, llm.Dedup.TtlWindow, TimeMode.None())
        .writeStream.outputMode("append")
        .format("memory").queryName("lsh_ttl_out")
        .trigger(Trigger.AvailableNow())
        .start()
      try q.processAllAvailable() finally q.stop()
      val got = spark.table("lsh_ttl_out")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // batch run of the same processor (TimeMode.None, empty state)
      val want = llm.Dedup.lshWindowCandidatesCore(
          bands, llm.Dedup.TtlWindow, TimeMode.None())
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want)
      assert(got.nonEmpty)
      // every emitted pair respects the ingest-order window, and the
      // windowed set is a strict subset of the unbounded candidates
      assert(got.forall { case (a, b) => b - a <= llm.Dedup.TtlWindow })
      val unbounded = bands.as("a")
        .join(bands.as("b"), Seq("band", "bh"))
        .filter($"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id", $"b.doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.subsetOf(unbounded) && got.size < unbounded.size)
    } finally spark.conf.unset(providerKey)
  }

  test("event-time timers fire session-close notifications at the watermark") {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val srcDir = T.scratch(SF, "timer_src")
      T.events(spark, SF).select($"user_id", $"ts")
        .coalesce(1).write.mode("overwrite").parquet(srcDir)
      val schema = spark.read.parquet(srcDir).schema
      val stream = spark.readStream.schema(schema).parquet(srcDir)
        .withWatermark("ts", "1 hour")
        .as[(Long, java.sql.Timestamp)]
      // per-user inactivity close: every arrival re-arms a timer at
      // last_event + 30 min; when the WATERMARK passes it, the expiry
      // callback emits (user, n_events) and clears the state — the
      // push-based session close that session_window's pull-based agg
      // can't express
      val proc = new StatefulProcessor[Long, (Long, java.sql.Timestamp), (Long, Long)] {
        @transient private var cnt: ValueState[Long] = _
        @transient private var lastTs: ValueState[Long] = _
        override def init(out: OutputMode, time: TimeMode): Unit = {
          cnt = getHandle.getValueState[Long]("cnt", Encoders.scalaLong, TTLConfig.NONE)
          lastTs = getHandle.getValueState[Long]("lastTs", Encoders.scalaLong, TTLConfig.NONE)
        }
        override def handleInputRows(key: Long,
            rows: Iterator[(Long, java.sql.Timestamp)],
            timers: TimerValues): Iterator[(Long, Long)] = {
          var n = if (cnt.exists()) cnt.get() else 0L
          var last = if (lastTs.exists()) lastTs.get() else Long.MinValue
          rows.foreach { r => n += 1; last = math.max(last, r._2.getTime) }
          cnt.update(n); lastTs.update(last)
          getHandle.listTimers().foreach(t =>
            getHandle.deleteTimer(t.asInstanceOf[Long]))
          getHandle.registerTimer(last + 30 * 60 * 1000L)
          Iterator.empty
        }
        override def handleExpiredTimer(key: Long, timers: TimerValues,
            expired: ExpiredTimerInfo): Iterator[(Long, Long)] = {
          val n = if (cnt.exists()) cnt.get() else 0L
          cnt.clear(); lastTs.clear()
          Iterator.single((key, n))
        }
      }
      val q = stream.groupByKey(_._1)
        .transformWithState(proc, TimeMode.EventTime(), OutputMode.Append())
        .toDF("user_id", "n_events")
        .writeStream.outputMode("append")
        .format("memory").queryName("timer_out")
        .trigger(Trigger.AvailableNow())
        .start()
      try q.processAllAvailable() finally q.stop()
      val got = spark.table("timer_out")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // deterministic expectation: all data arrives in ONE batch, the
      // closing no-data batch advances the watermark to max - 1h, so
      // exactly the users idle ≥ 30 min before that close
      val ev = T.events(spark, SF)
      val maxTs = ev.agg(max($"ts")).head().getTimestamp(0).getTime
      val want = ev.groupBy($"user_id")
        .agg(count(lit(1)).as("n"), max($"ts").as("mx"))
        .collect()
        .filter(_.getTimestamp(2).getTime + 30 * 60 * 1000L <=
          maxTs - 3600 * 1000L)
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want)
      assert(got.nonEmpty)
    } finally spark.conf.unset(providerKey)
  }

  test("watermark drops late rows on restart and reports the drop") {
    val srcDir = T.scratch(SF, "late_src")
    val outDir = T.scratch(SF, "late_out")
    val ckpt = T.scratch(SF, "late_ckpt")
    Seq(srcDir, outDir, ckpt).foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    val ev = T.events(spark, SF).select($"ts", $"event_type", $"value")
    val maxTs = ev.agg(max($"ts")).head().getTimestamp(0)
    val cutoff = new java.sql.Timestamp(maxTs.getTime - 3 * 3600 * 1000L)
    val lateCut = new java.sql.Timestamp(maxTs.getTime - 5 * 3600 * 1000L)
    ev.filter($"ts" >= lit(cutoff)).coalesce(1)
      .write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    def run(): Long = {
      val q = spark.readStream.schema(schema).parquet(srcDir)
        .withWatermark("ts", "1 hour")
        .groupBy(window($"ts", "10 minutes"), $"event_type")
        .agg(count(lit(1)).as("cnt"))
        .select($"window.start".as("w"), $"event_type", $"cnt")
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      try {
        q.processAllAvailable()
        q.recentProgress.flatMap(p => Option(p.stateOperators).toSeq.flatten)
          .map(_.numRowsDroppedByWatermark).sum
      } finally q.stop()
    }
    val dropped1 = run()
    assert(dropped1 == 0, "phase 1 rows are all on time")
    val count1 = spark.read.parquet(outDir).count()
    assert(count1 > 0, "watermark must have finalized some windows")
    // rows hours older than the persisted watermark arrive late —
    // the restarted query must DROP them (bounded state means never
    // reopening closed windows) and say so in its metrics
    ev.filter($"ts" < lit(lateCut)).coalesce(1)
      .write.mode("append").parquet(srcDir)
    val dropped2 = run()
    assert(dropped2 > 0, "late rows must be counted as dropped")
    assert(spark.read.parquet(outDir).count() == count1,
      "late rows must not reopen finalized windows")
  }

  test("checkpointed file-sink stream restarts exactly-once (no re-reads, no dupes)") {
    val srcDir = T.scratch(SF, "restart_src")
    val outDir = T.scratch(SF, "restart_out")
    val ckpt = T.scratch(SF, "restart_ckpt")
    Seq(srcDir, outDir, ckpt).foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    val ev = T.events(spark, SF)
      .select($"event_id", $"user_id", $"value")
    val firstHalf = ev.filter($"event_id" % 2 === 0)
    val secondHalf = ev.filter($"event_id" % 2 === 1)
    firstHalf.repartition(2).write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).parquet(srcDir)
        .withColumn("doubled", $"value" * 2)
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    runOnce()
    val afterFirst = spark.read.parquet(outDir).count()
    assert(afterFirst == firstHalf.count())
    // new files arrive; a RESTARTED query resumes from the checkpoint:
    // only the new files are processed, nothing is emitted twice
    secondHalf.repartition(2).write.mode("append").parquet(srcDir)
    runOnce()
    val out = spark.read.parquet(outDir)
    assert(out.count() == ev.count(), "exactly-once: no dupes, no gaps")
    assert(out.select($"event_id").distinct().count() == ev.count())
  }

  test("custom state via mapGroupsWithState matches batch per-user counts") {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val schema = spark.read.parquet(eventsDir).schema
    val stream = spark.readStream.schema(schema).parquet(eventsDir)
      .selectExpr("user_id", "value")
      .as[(Long, Double)]
    val counted = stream.groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          (user, n)
      }
    val q = counted.toDF("user_id", "n")
      .writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("state_out")
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
    // last update per user = final count
    val got = spark.table("state_out")
      .groupBy($"user_id").agg(max($"n").as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = T.events(spark, SF).groupBy($"user_id")
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
  }

  test("stream-static join matches the batch join") {
    val schema = spark.read.parquet(eventsDir).schema
    val stream = spark.readStream.schema(schema).parquet(eventsDir)
    val cust = T.t(spark, SF, "customer")
    val q = streaming.StreamOps.staticJoinCore(stream, cust)
      .writeStream.outputMode("complete")
      .format("memory").queryName("static_join_out")
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("static_join_out").collect().toSet
    val want = streaming.StreamOps.staticJoinCore(T.events(spark, SF), cust)
      .collect().toSet
    assert(got == want && got.nonEmpty)
  }

  test("stream-stream interval join matches the batch interval join") {
    val schema = spark.read.parquet(eventsDir).schema
    def src() = spark.readStream.schema(schema).parquet(eventsDir)
    val clicks = streaming.StreamOps.clicksOf(src())
      .withWatermark("c_ts", "2 hours")
    val purchases = streaming.StreamOps.purchasesOf(src())
      .withWatermark("p_ts", "2 hours")
    // stream-stream joins emit in append mode only: stream the joined
    // pairs (watermarks bound both sides' state), aggregate the sink
    val q = streaming.StreamOps.intervalJoinPairs(clicks, purchases)
      .writeStream.outputMode("append")
      .format("memory").queryName("interval_join_out")
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = streaming.StreamOps.intervalJoinAgg(
      spark.table("interval_join_out")).collect().toSet
    val ev = T.events(spark, SF)
    val want = streaming.StreamOps.intervalJoinCore(
      streaming.StreamOps.clicksOf(ev), streaming.StreamOps.purchasesOf(ev))
      .collect().toSet
    assert(got == want && got.nonEmpty)
  }

  test("stream-stream OUTER interval join emits null-padded rows once " +
      "the watermark closes the window") {
    val schema = spark.read.parquet(eventsDir).schema
    def src() = spark.readStream.schema(schema).parquet(eventsDir)
    val clicks = streaming.StreamOps.clicksOf(src())
      .withWatermark("c_ts", "2 hours")
    val purchases = streaming.StreamOps.purchasesOf(src())
      .withWatermark("p_ts", "2 hours")
    val q = streaming.StreamOps.intervalJoinOuterPairs(clicks, purchases)
      .writeStream.outputMode("append")
      .format("memory").queryName("outer_join_out")
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
    // outer rows for clicks near the stream's end are legitimately
    // still buffered (their windows aren't watermark-closed); parity
    // holds on clicks whose 1h window + 2h delay is fully past
    val ev = T.events(spark, SF)
    val maxTs = ev.agg(max($"ts")).head().getTimestamp(0).getTime
    // emission needs the 2h-delayed watermark past c_ts + 1h, plus
    // Spark's conservative interval-join state rounding — stay a full
    // hour clear of the boundary
    val cutoff = new java.sql.Timestamp(maxTs - 4 * 3600 * 1000L)
    val got = streaming.StreamOps.intervalJoinOuterAgg(
      spark.table("outer_join_out").filter($"c_ts" <= lit(cutoff)))
      .collect().toSet
    val want = streaming.StreamOps.intervalJoinOuterAgg(
      streaming.StreamOps.intervalJoinOuterPairs(
        streaming.StreamOps.clicksOf(ev),
        streaming.StreamOps.purchasesOf(ev))
        .filter($"c_ts" <= lit(cutoff)))
      .collect().toSet
    assert(got == want && got.nonEmpty)
    // the outer semantics actually fired: some click has NO purchase
    assert(got.exists(_.getLong(2) == 0L),
      "expected at least one null-padded (unmatched) click")
  }

  test("transformWithState running count matches batch per-user counts") {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val schema = spark.read.parquet(eventsDir).schema
      val stream = spark.readStream.schema(schema).parquet(eventsDir)
        .selectExpr("user_id", "value").as[(Long, Double)]
      val proc = new StatefulProcessor[Long, (Long, Double), (Long, Long)] {
        @transient private var count: ValueState[Long] = _
        override def init(out: OutputMode, time: TimeMode): Unit =
          count = getHandle.getValueState[Long](
            "count", Encoders.scalaLong, TTLConfig.NONE)
        override def handleInputRows(key: Long,
            rows: Iterator[(Long, Double)],
            timers: TimerValues): Iterator[(Long, Long)] = {
          val n = (if (count.exists()) count.get() else 0L) + rows.size
          count.update(n)
          Iterator.single((key, n))
        }
      }
      val counted = stream.groupByKey(_._1)
        .transformWithState(proc, TimeMode.None(), OutputMode.Update())
      val q = counted.toDF("user_id", "n")
        .writeStream.outputMode(OutputMode.Update())
        .format("memory").queryName("tws_out")
        .trigger(Trigger.AvailableNow())
        .start()
      try q.processAllAvailable() finally q.stop()
      val got = spark.table("tws_out")
        .groupBy($"user_id").agg(max($"n").as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = T.events(spark, SF).groupBy($"user_id")
        .agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want)
    } finally prior match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }
  }

  test("streaming decontamination matches the batch broadcast-probe join") {
    val docsDir = T.scratch(SF, "stream_docs_src")
    T.t(spark, SF, "documents").filter($"doc_id" >= 5)
      .write.mode("overwrite").parquet(docsDir)
    val probe = llm.Dedup.shingleRows(
      T.t(spark, SF, "documents").filter($"doc_id" < 5))
      .select($"tok").distinct().localCheckpoint()
    val schema = spark.read.parquet(docsDir).schema
    val stream = spark.readStream.schema(schema).parquet(docsDir)
    val q = streaming.StreamOps.decontamCore(stream, probe)
      .writeStream.outputMode("complete")
      .format("memory").queryName("decontam_out")
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("decontam_out")
      .filter($"n_overlap" >= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = streaming.StreamOps.streamDecontam(spark, SF)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
  }

  test("stateful streaming packing matches batch packing across micro-batches") {
    // four files, ascending doc_id ranges, ascending mtimes: the file
    // source replays them oldest-first one per trigger, so each
    // group's docs arrive in doc_id order across batches and the
    // running-offset state must reproduce the batch assignment
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val streamDir = T.scratch(SF, "stream_pack_src")
    val dirFile = new java.io.File(streamDir)
    if (dirFile.exists()) dirFile.listFiles().foreach(_.delete())
    dirFile.mkdirs()
    val docs = T.t(spark, SF, "documents")
    val maxId = docs.agg(max($"doc_id")).collect()(0).getLong(0)
    val quart = (maxId + 4) / 4 max 1L
    (0 until 4).foreach { i =>
      val tmp = T.scratch(SF, s"stream_pack_tmp_$i")
      docs.filter($"doc_id" >= i * quart && $"doc_id" < (i + 1) * quart)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = Paths.get(streamDir, f"batch_$i%02d.parquet")
      Files.copy(part.toPath, dst, StandardCopyOption.REPLACE_EXISTING)
      dst.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val schema = spark.read.parquet(streamDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir)
    // transformWithState streams require the RocksDB provider
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val q = streaming.StreamOps.packStreamCore(stream)
        .writeStream.outputMode("append")
        .format("memory").queryName("pack_out")
        .trigger(Trigger.AvailableNow())
        .start()
      try q.processAllAvailable() finally q.stop()
      val got = spark.table("pack_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = streaming.StreamOps.streamPack(spark, SF)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want)
    } finally spark.conf.unset(providerKey)
  }

  test("streaming session window counts match batch sessionization") {
    val schema = spark.read.parquet(eventsDir).schema
    val stream = spark.readStream.schema(schema).parquet(eventsDir)
      .withWatermark("ts", "2 hours")
    val q = streaming.StreamOps.sessionCore(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("session_out")
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("session_out")
      .groupBy($"user_id").agg(count(lit(1)).as("n_sessions"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = streaming.StreamOps.streamSession(spark, SF)
      .select($"user_id", $"n_sessions")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
  }

  test("incremental MV refresh: multi-batch upserts converge to the " +
      "batch aggregate") {
    val got = streaming.StreamOps.streamMvRefresh(spark, SF)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    val want = T.events(spark, SF)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("cnt"), T.dsum($"value", 6).as("sum_value"))
      .orderBy($"event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    assert(got == want)
    // the run must have been genuinely incremental: one offset commit
    // per micro-batch, and the 4-shard fixture with
    // maxFilesPerTrigger=1 yields at least 4 of them
    val ckpt = new java.io.File(
      T.scratch(SF, "mv_refresh_state") + "_ckpt/offsets")
    val batches = ckpt.listFiles().count(_.getName.forall(_.isDigit))
    assert(batches >= 4, s"expected >=4 micro-batches, got $batches")
  }

  test("streaming partitioned sink: every micro-batch appends keyed " +
    "day files; commits == batches + the CREATE") {
    val st = graft.sources.GraftStorage(spark)
    val got = graft.streaming.StreamOps
      .streamSinkPartitioned(spark, SF).collect()
    val outP = T.scratch(SF, "stream_sink_partitioned")
    // v0 = the PARTITIONED BY metadata commit, one append per batch
    // (4-file source, one file per trigger)
    val vs = st.listVersions(outP)
    assert(vs.head == 0L && vs.length >= 5, vs.mkString(","))
    assert(st.partitionSpec(outP, vs.last) == Seq("days(ts)"))
    // every streamed file is keyed into its UTC-day dir
    assert(st.readVersioned(outP).inputFiles
      .forall(_.contains("__gtd_ts=")),
      st.readVersioned(outP).inputFiles.take(3).mkString(", "))
    // and the table holds the source exactly once
    val want = T.events(spark, SF)
      .groupBy(expr("CAST(date_trunc('DAY', ts) AS DATE)").as("day"))
      .agg(count(lit(1)).cast("long").as("cnt"),
        sum($"event_id").cast("long").as("id_sum"))
      .filter($"day" >= lit("2024-01-25").cast("date"))
      .orderBy($"day").collect()
    assert(got.sameElements(want))
  }

  test("streaming sink txn idempotence survives interleaved " +
    "maintenance commits (version arithmetic would lose a batch)") {
    import org.apache.spark.sql.streaming.Trigger
    val st = graft.sources.GraftStorage(spark)
    val base = T.scratch(SF, "stream_txn_spec")
    val (src, outP, ckpt) = (base + "_src", base + "_out", base + "_ckpt")
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(src, outP, ckpt).foreach(p =>
      fs.delete(new org.apache.hadoop.fs.Path(p), true))
    val ev = T.events(spark, SF).select($"event_id", $"ts", $"user_id")
    val schema = ev.schema
    st.createVersionedPartitioned(outP, schema, Seq("days(ts)"))
    def drain(): Unit = {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          if (!st.txnCommitted(outP, "txn_spec", id))
            st.writeVersionedPartitioned(b, outP, Seq("days(ts)"),
              append = true, txn = Some("txn_spec" -> id)): Unit
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    ev.filter($"event_id" % 2 === 0).coalesce(1)
      .write.mode("append").parquet(src)
    drain()
    // a maintenance commit lands BETWEEN the stream's batches — the
    // exact interleaving a version-number invariant mistakes for
    // "my next batch already committed"
    st.compactVersioned(outP, 1)
    ev.filter($"event_id" % 2 === 1).coalesce(1)
      .write.mode("append").parquet(src)
    drain()
    // no batch lost, none duplicated; the marker survived the
    // compact, and marker REPLACEMENT keeps one line per appId (the
    // max batch id), not one per batch
    assert(st.txnBatchIds(outP, "txn_spec") == Set(1L))
    assert(st.txnCommitted(outP, "txn_spec", 0L) &&
      st.txnCommitted(outP, "txn_spec", 1L) &&
      !st.txnCommitted(outP, "txn_spec", 2L))
    assert(st.readVersioned(outP)
      .agg(count(lit(1)), sum($"event_id")).head() ==
      ev.agg(count(lit(1)), sum($"event_id")).head())
    // and a full checkpoint replay commits nothing new
    val vBefore = st.listVersions(outP).last
    fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
    drain()
    assert(st.listVersions(outP).last == vBefore,
      "replayed batches re-committed despite their txn markers")
    // TRUNCATE keeps the markers: a replayed batch must not
    // re-insert into the table the user just emptied
    st.truncateVersioned(outP)
    assert(st.readVersioned(outP).count() == 0)
    assert(st.txnCommitted(outP, "txn_spec", 1L),
      "TRUNCATE dropped the txn markers")
  }

  test("cdcApplyBatch: single-commit fast paths and the exact " +
    "rank path net-apply identically") {
    val st = sources.GraftStorage(spark)
    val dst = T.scratch(SF, "cdc_apply_spec")
    val fs = new org.apache.hadoop.fs.Path(dst)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dst), true)
    st.writeVersioned(Seq.empty[(Long, String)].toDF("k", "v"), dst)
    def apply(id: Long, rows: (Long, String, String, Long)*): Unit =
      streaming.StreamOps.cdcApplyBatch(st, dst, "k",
        rows.toDF("k", "v", "_change_type", "_commit_version"), id, "spec")
    def state(): Set[(Long, String)] =
      st.readVersioned(dst).as[(Long, String)].collect().toSet
    // pure-insert single commit: the bootstrap fast path (no ranking)
    apply(0, (1L, "a", "insert", 1L), (2L, "b", "insert", 1L),
      (3L, "c", "insert", 1L))
    assert(state() == Set(1L -> "a", 2L -> "b", 3L -> "c"))
    // pure-delete single commit: the DV fast path
    apply(1, (2L, "b", "delete", 2L))
    assert(state() == Set(1L -> "a", 3L -> "c"))
    // mixed single commit (an UPDATE's pre-image delete + post-image
    // insert of the SAME key): the exact rank path nets them — the
    // post-image wins, the pre-image must not delete the key
    apply(2, (3L, "c", "delete", 3L), (3L, "C", "insert", 3L),
      (4L, "d", "insert", 3L))
    assert(state() == Set(1L -> "a", 3L -> "C", 4L -> "d"))
    // multi-commit batch: later commit supersedes earlier per key
    // (k=5 inserted @v4 then deleted @v5 -> absent; k=1 updated @v5)
    apply(3, (5L, "e", "insert", 4L), (5L, "e", "delete", 5L),
      (1L, "a", "delete", 5L), (1L, "A", "insert", 5L))
    assert(state() == Set(1L -> "A", 3L -> "C", 4L -> "d"))
    // replay of a committed batch id is a no-op (txn marker)
    apply(3, (9L, "x", "insert", 6L))
    assert(state() == Set(1L -> "A", 3L -> "C", 4L -> "d"))
    // empty batch commits nothing
    apply(4)
    assert(state() == Set(1L -> "A", 3L -> "C", 4L -> "d"))
  }

  test("cdcApplyBatch: a single commit that repeats a key takes the exact " +
    "path and leaves one row per key") {
    val st = sources.GraftStorage(spark)
    val fs = new org.apache.hadoop.fs.Path(T.scratch(SF, "cdc_dup"))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // one insert-only commit whose key 2 appears twice
    val batch = Seq((1L, "a", "insert", 1L), (2L, "b", "insert", 1L),
      (2L, "b2", "insert", 1L), (3L, "c", "insert", 1L))
      .toDF("k", "v", "_change_type", "_commit_version")
    def applied(name: String, b: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame = {
      val dst = T.scratch(SF, name)
      fs.delete(new org.apache.hadoop.fs.Path(dst), true)
      st.writeVersioned(Seq.empty[(Long, String)].toDF("k", "v"), dst)
      streaming.StreamOps.cdcApplyBatch(st, dst, "k", b, 0L, "spec")
      st.readVersioned(dst)
    }
    val dup = applied("cdc_dup", batch)
    // the same batch spread over two commits never took a fast path
    val ranked = applied("cdc_dup_ranked",
      batch.withColumn("_commit_version",
        when($"v" === "b2", lit(2L)).otherwise($"_commit_version")))
    def keys(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select($"k").as[Long].collect().toSeq.sorted
    // an empty replica is the plain-append branch, where the fast
    // path would have kept both rows of key 2
    assert(keys(dup) == Seq(1L, 2L, 3L), "one row per key")
    assert(keys(dup) == keys(ranked))
    assert(dup.count() == ranked.count())
  }
}
