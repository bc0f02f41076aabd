package graft.operators

import graft.{QueryModule, T}
import graft.T.{dsum, sqlDsum}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Composite / nested-data queries: multi-operator pipelines in one
  * plan (the workloads users actually run on the distributed
  * collections), plus the nested-type round trip the reference's
  * cigar/tags/genotypes data model implies (SURVEY.md §1.2).
  */
object Composite extends QueryModule {

  /** TPC-H Q18 shape: having-filtered aggregate joined back to dims. */
  def q18LargeOrders(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val big = T.t(s, dir, "lineitem")
      .groupBy($"l_orderkey")
      .agg(dsum($"l_quantity").as("sum_qty"))
      .filter($"sum_qty" > 150)
    val o = T.t(s, dir, "orders")
    val c = T.t(s, dir, "customer")
    big.join(o, $"l_orderkey" === $"o_orderkey")
      .join(c, $"o_custkey" === $"c_custkey")
      .select($"c_name", $"o_orderkey", $"o_orderdate", $"sum_qty")
      .orderBy($"sum_qty".desc, $"o_orderkey")
      .limit(100)
  }

  /** Nested-type sink round trip (cigar/tags/genotypes analogue):
    * build struct + array + map columns per user, write parquet, read
    * back, and flatten — nested schemas must survive the sink
    * losslessly.
    */
  def sinkNested(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = T.scratch(dir, "sink_nested_events")
    T.events(s, dir)
      .groupBy($"user_id")
      .agg(
        struct(count(lit(1)).as("n"),
          dsum($"value", 6).as("total")).as("stats"),
        sort_array(collect_list($"event_id")).as("event_ids"),
        map_from_arrays(array(lit("first"), lit("last")),
          array(min($"event_id"), max($"event_id"))).as("bounds"))
      .write.mode("overwrite").parquet(out)
    s.read.parquet(out)
      .select(
        $"user_id",
        $"stats.n".as("n"),
        $"stats.total".as("total"),
        size($"event_ids").as("n_ids"),
        element_at($"event_ids", 1).as("first_id"),
        element_at($"bounds", "last").as("last_id"))
      .orderBy($"user_id")
  }

  /** Exact interpolated percentiles (rounded — interpolation is the
    * same (lo + frac*(hi-lo)) form on both engines, guarded anyway).
    */
  def aggPercentile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    T.t(s, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(
        round(expr("percentile(l_quantity, 0.5)"), 4).as("p50_qty"),
        round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90_price"))
      .orderBy($"l_returnflag")
  }

  /** Ordered funnel analysis — the clickstream staple: how far does
    * each user get through view → click-AFTER-view →
    * purchase-AFTER-click (event ORDER matters, so this is not three
    * independent EXISTS). Stated as a cascade of per-user min-ts
    * aggregates, each stage joining the previous stage's timestamp
    * and keeping only later events — three user-keyed partial-agged
    * shuffles, no per-user array materialization, no window over the
    * raw stream; every join key is user_id so at cluster scale the
    * cascade is three co-partitioned narrow stages.
    */
  def eventsFunnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = T.events(s, dir).select($"user_id", $"event_type", $"ts")
    val v = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts").as("t1"))
    val c = ev.filter($"event_type" === "click")
      .join(v, "user_id").filter($"ts" > $"t1")
      .groupBy($"user_id").agg(min($"ts").as("t2"))
    val p = ev.filter($"event_type" === "purchase")
      .join(c, "user_id").filter($"ts" > $"t2")
      .groupBy($"user_id").agg(min($"ts").as("t3"))
    ev.select($"user_id").distinct()
      .join(v.select($"user_id", lit(1).as("s1")), Seq("user_id"), "left")
      .join(c.select($"user_id", lit(1).as("s2")), Seq("user_id"), "left")
      .join(p.select($"user_id", lit(1).as("s3")), Seq("user_id"), "left")
      .select($"user_id",
        (coalesce($"s1", lit(0)) + coalesce($"s2", lit(0)) +
          coalesce($"s3", lit(0))).cast("int").as("stage"))
      .orderBy($"user_id")
  }

  /** Cohort retention — the activation/retention matrix: users
    * grouped by their FIRST active week (cohort), counted per later
    * active week. Weeks are integer day-offsets div 7 from the
    * corpus epoch (pure integer arithmetic on both engines). Two
    * user-keyed aggregates + one broadcast-size join back — the
    * distinct (user, week) set is the only wide shuffle, partial-
    * agged map-side.
    */
  def eventsRetention(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wk = expr(
      "datediff(cast(ts as date), date '2024-01-01') div 7").cast("long")
    val uw = T.events(s, dir)
      .select($"user_id", wk.as("week"))
      .distinct()
    val cohort = uw.groupBy($"user_id").agg(min($"week").as("cohort_week"))
    uw.join(cohort, "user_id")
      .groupBy($"cohort_week", $"week")
      .agg(countDistinct($"user_id").as("n_active"))
      .orderBy($"cohort_week", $"week")
  }

  /** Time-series RESAMPLE + linear interpolation: sparse observations
    * (high-value events) land in hour buckets; the dense per-type
    * hour grid between first and last observation is generated with
    * `sequence()` (no driver loop), observed buckets keep their exact
    * davg, and every gap bucket interpolates linearly between its
    * bracketing observations — prev/next located with
    * last/first-IGNORE-NULLS frames over ONE (type, bucket) window
    * shuffle. Endpoints are observed by construction, so the
    * interpolation is total. All arithmetic keeps one fixed operand
    * order (`pv + (nv-pv)*(h-ph)/(nh-ph)` over exact hour indexes) so
    * both engines produce bit-identical doubles — the drift contract
    * for interpolated values.
    */
  def eventsResample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val obs = T.events(s, dir).filter($"value" > 300.0)
      .groupBy($"event_type", date_trunc("hour", $"ts").as("bucket"))
      .agg(T.davg($"value", 6).as("v_obs"))
    val grid = obs.groupBy($"event_type")
      .agg(min($"bucket").as("lo"), max($"bucket").as("hi"))
      .select($"event_type",
        explode(sequence($"lo", $"hi", expr("interval 1 hour"))).as("bucket"))
    val back = Window.partitionBy($"event_type").orderBy($"bucket")
      .rowsBetween(Window.unboundedPreceding, 0)
    val fwd = Window.partitionBy($"event_type").orderBy($"bucket")
      .rowsBetween(0, Window.unboundedFollowing)
    grid.join(obs, Seq("event_type", "bucket"), "left")
      .withColumn("h", (unix_timestamp($"bucket") / 3600).cast("long"))
      .withColumn("pv", last($"v_obs", ignoreNulls = true).over(back))
      .withColumn("ph", last(when($"v_obs".isNotNull, $"h"),
        ignoreNulls = true).over(back))
      .withColumn("nv", first($"v_obs", ignoreNulls = true).over(fwd))
      .withColumn("nh", first(when($"v_obs".isNotNull, $"h"),
        ignoreNulls = true).over(fwd))
      .select($"event_type", $"bucket",
        when($"v_obs".isNotNull, $"v_obs")
          .otherwise($"pv" + ($"nv" - $"pv") * ($"h" - $"ph") / ($"nh" - $"ph"))
          .as("v"))
      .orderBy($"event_type", $"bucket")
  }

  /** RFM segmentation — the classic behavioral-cohort operator: per
    * user over purchase events, Recency (whole days from the user's
    * last purchase to the corpus max, integer epoch-second division —
    * drift-proof), Frequency (purchase count) and Monetary (exact
    * DECIMAL cents), each cut into quintiles by ntile(5) with a
    * user_id tiebreak so both engines draw identical boundaries, then
    * the (r, f, m) segment census. One user-keyed aggregate + three
    * global-ordered ntile windows over the small per-user rollup —
    * the windows run over |users| rows, not events, so the wide
    * shuffle is the aggregate's, which AQE sizes.
    *
    * SIZE-GATED ([[ScaleGate]]): the exact global windows run only
    * while the per-user rollup fits `spark.graft.ntile.exactMaxRows`
    * (one bounded probe job decides); a 10⁹-user rollup takes the
    * approx-percentile cut path instead — three sketch aggregates,
    * zero global sorts, the same census shape.
    */
  def eventsRfm(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val p = T.events(s, dir).filter($"event_type" === "purchase")
    val perUser = p.groupBy($"user_id").agg(
      max(unix_timestamp($"ts")).as("last_sec"),
      count(lit(1)).as("freq"),
      (sum($"value".cast(DecimalType(18, 2))) * 100).cast("long").as("cents"))
    val base = perUser
      .crossJoin(broadcast(p.agg(max(unix_timestamp($"ts")).as("max_sec"))))
      .withColumn("rec_days", expr("(max_sec - last_sec) div 86400"))
    val rfm = ScaleGate.gatedNtiles(s, base,
      Seq(("rec_days", false, "r"), ("freq", true, "f"),
        ("cents", true, "m")), "user_id", 5)
    rfm.groupBy($"r", $"f", $"m")
      .agg(count(lit(1)).as("n_users"))
      .orderBy($"r", $"f", $"m")
  }

  /** Per-series OLS trend — the volume-drift detector a pipeline runs
    * over its ingest counters: daily event counts per type, slope and
    * intercept from the closed-form least-squares fit. Every sum the
    * formula needs (n, Σx, Σy, Σxy, Σx²) is an exact BIGINT over the
    * tiny per-day rollup, so the only floating-point ops are the two
    * final divisions — identical IEEE arithmetic from identical
    * integers on both engines, no summation-order drift possible.
    * One scan + two cheap aggregations; the regression itself is
    * O(series), driver-free.
    */
  def eventsTrend(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = T.events(s, dir)
      .select($"event_type",
        datediff(to_date($"ts"), lit("1970-01-01").cast("date"))
          .cast("long").as("x"))
      .groupBy($"event_type", $"x").agg(count(lit(1)).as("y"))
    val sums = daily.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"))
    val slope = ($"n".cast("double") * $"sxy" - $"sx".cast("double") * $"sy") /
      ($"n".cast("double") * $"sxx" - $"sx".cast("double") * $"sx")
    sums.select($"event_type", $"n",
        round(slope, 6).as("slope_per_day"),
        round(($"sy".cast("double") - slope * $"sx") / $"n", 6)
          .as("intercept"))
      .orderBy($"event_type")
  }

  /** MARK-DUPLICATES — the reference domain's flagship dedup
    * (genomics MarkDuplicates: reads at the same position/orientation
    * collapse to the highest-quality one; the rest are FLAGGED, not
    * dropped, so downstream tools choose). Analogue here: events that
    * share (user_id, event_type, minute) are one observation; the
    * highest `value` wins, ties break to the smallest event_id.
    * One hash exchange on the full duplicate key, row_number inside
    * the partition, then a census per type: total, marked, and the
    * exact DECIMAL sum of surviving values. At 100 TB this is the
    * same plan — the duplicate key is high-cardinality (no hot
    * groups), and nothing leaves the executors but the census.
    */
  def dedupMark(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id", $"event_type", $"posmin")
      .orderBy($"value".desc, $"event_id")
    T.events(s, dir)
      .withColumn("posmin", floor(unix_timestamp($"ts") / 60L).cast("long"))
      .withColumn("rk", row_number().over(w))
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n_total"),
        count(when($"rk" > 1, 1)).as("n_marked"),
        dsum(when($"rk" === 1, $"value").otherwise(lit(0.0)), 6)
          .as("kept_value"))
      .orderBy($"event_type")
  }

  /** LAST-TOUCH ATTRIBUTION — the marketing-analytics workload that
    * is an as-of join in disguise: every purchase credits the same
    * user's most recent click within the hour, and revenue rolls up
    * by the credited click's hour. Expressed join-free with the
    * sorted-neighbor trick (one tagged pass per user: clicks sort
    * before purchases on timestamp ties, `last(click_ts,
    * ignoreNulls)` carries the candidate forward), so the plan is one
    * exchange on user_id + one in-partition sort — the same shape at
    * 100 TB, where the naive per-purchase range join explodes.
    * Revenue is exact integer cents; unattributed purchases land in
    * bucket −1.
    */
  def eventsAttribution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts_s", $"tag", $"event_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    T.events(s, dir)
      .filter($"event_type".isin("click", "purchase"))
      .select($"user_id", $"event_id",
        unix_timestamp($"ts").as("ts_s"),
        when($"event_type" === "click", 0).otherwise(1).as("tag"),
        when($"event_type" === "click", unix_timestamp($"ts"))
          .as("click_ts"),
        when($"event_type" === "purchase", $"value").as("pval"))
      .withColumn("last_click",
        last($"click_ts", ignoreNulls = true).over(w))
      .filter($"tag" === 1)
      .withColumn("attr_hour",
        when($"last_click".isNotNull &&
          $"ts_s" - $"last_click" <= 3600L,
          floor($"last_click" / 3600L).cast("long"))
          .otherwise(lit(-1L)))
      .groupBy($"attr_hour")
      .agg(count(lit(1)).as("n_purchases"),
        sum(($"pval".cast(DecimalType(18, 2)) * 100).cast("long"))
          .as("revenue_cents"))
      .orderBy($"attr_hour")
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_mark" -> (dedupMark(_, _)),
    "events_attribution" -> (eventsAttribution(_, _)),
    "events_trend" -> (eventsTrend(_, _)),
    "events_rfm" -> (eventsRfm(_, _)),
    "q18_large_orders" -> (q18LargeOrders(_, _)),
    "sink_nested" -> (sinkNested(_, _)),
    "events_funnel" -> (eventsFunnel(_, _)),
    "events_retention" -> (eventsRetention(_, _)),
    "agg_percentile" -> (aggPercentile(_, _)),
    "events_resample" -> (eventsResample(_, _)))

  override def oracleSql: Map[String, String] = Map(
    "events_attribution" ->
      """WITH pts AS (
        |  SELECT user_id, event_id,
        |    epoch_us(ts) // 1000000 AS ts_s,
        |    CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS tag,
        |    CASE WHEN event_type = 'click'
        |      THEN epoch_us(ts) // 1000000 END AS click_ts,
        |    CASE WHEN event_type = 'purchase' THEN value END AS pval
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |carried AS (
        |  SELECT *, LAST_VALUE(click_ts IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY ts_s, tag, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS last_click
        |  FROM pts),
        |attributed AS (
        |  SELECT CASE WHEN last_click IS NOT NULL
        |      AND ts_s - last_click <= 3600
        |    THEN last_click // 3600 ELSE -1 END AS attr_hour, pval
        |  FROM carried WHERE tag = 1)
        |SELECT attr_hour, COUNT(*) AS n_purchases,
        |  CAST(SUM(CAST(CAST(pval AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS revenue_cents
        |FROM attributed GROUP BY attr_hour ORDER BY attr_hour""".stripMargin,
    "dedup_mark" ->
      s"""WITH ranked AS (
         |  SELECT event_type, value,
         |    ROW_NUMBER() OVER (
         |      PARTITION BY user_id, event_type,
         |        epoch_us(ts) // 1000000 // 60
         |      ORDER BY value DESC, event_id) AS rk
         |  FROM events)
         |SELECT event_type, COUNT(*) AS n_total,
         |  COUNT(CASE WHEN rk > 1 THEN 1 END) AS n_marked,
         |  ${sqlDsum("CASE WHEN rk = 1 THEN value ELSE 0.0 END", 6)}
         |    AS kept_value
         |FROM ranked GROUP BY event_type ORDER BY event_type""".stripMargin,
    "events_trend" ->
      """WITH d AS (
        |  SELECT event_type,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |      AS BIGINT) AS x
        |  FROM events),
        |daily AS (
        |  SELECT event_type, x, CAST(COUNT(*) AS BIGINT) AS y
        |  FROM d GROUP BY 1, 2),
        |s AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx,
        |    SUM(y) AS sy, SUM(x*y) AS sxy, SUM(x*x) AS sxx
        |  FROM daily GROUP BY 1)
        |SELECT event_type, n,
        |  round((CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy)
        |      / (CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx), 6)
        |    AS slope_per_day,
        |  round((CAST(sy AS DOUBLE)
        |      - ((CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy)
        |         / (CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx)) * sx)
        |      / n, 6) AS intercept
        |FROM s ORDER BY event_type""".stripMargin,
    "events_rfm" ->
      """WITH p AS (
        |  -- epoch_us//1e6 truncates like Spark's unix_timestamp;
        |  -- CAST(epoch() AS BIGINT) would round half-up and drift on
        |  -- fractional-second purchases
        |  SELECT user_id, epoch_us(ts) // 1000000 AS sec, value
        |  FROM events WHERE event_type = 'purchase'),
        |u AS (
        |  SELECT user_id, MAX(sec) AS last_sec, COUNT(*) AS freq,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
        |  FROM p GROUP BY 1),
        |mx AS (SELECT MAX(sec) AS max_sec FROM p),
        |rfm AS (
        |  SELECT user_id,
        |    ntile(5) OVER (ORDER BY (max_sec - last_sec) // 86400, user_id) AS r,
        |    ntile(5) OVER (ORDER BY freq DESC, user_id) AS f,
        |    ntile(5) OVER (ORDER BY cents DESC, user_id) AS m
        |  FROM u CROSS JOIN mx)
        |SELECT r, f, m, COUNT(*) AS n_users
        |FROM rfm GROUP BY r, f, m ORDER BY r, f, m""".stripMargin,
    "events_resample" ->
      s"""WITH obs AS (
         |  SELECT event_type,
         |    CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
         |      AS bucket,
         |    ${T.sqlDavg("value", 6)} AS v_obs
         |  FROM events WHERE value > 300.0 GROUP BY 1, 2),
         |grid AS (
         |  SELECT event_type,
         |    unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
         |  FROM (SELECT event_type, MIN(bucket) AS lo, MAX(bucket) AS hi
         |        FROM obs GROUP BY 1)),
         |j AS (
         |  SELECT g.event_type, g.bucket, o.v_obs,
         |    CAST(epoch(g.bucket) AS BIGINT) // 3600 AS h
         |  FROM grid g LEFT JOIN obs o USING (event_type, bucket)),
         |w AS (
         |  SELECT *,
         |    last_value(v_obs IGNORE NULLS) OVER (
         |      PARTITION BY event_type ORDER BY bucket
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         |    last_value(CASE WHEN v_obs IS NOT NULL THEN h END IGNORE NULLS)
         |      OVER (PARTITION BY event_type ORDER BY bucket
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
         |    first_value(v_obs IGNORE NULLS) OVER (
         |      PARTITION BY event_type ORDER BY bucket
         |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         |    first_value(CASE WHEN v_obs IS NOT NULL THEN h END IGNORE NULLS)
         |      OVER (PARTITION BY event_type ORDER BY bucket
         |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
         |  FROM j)
         |SELECT event_type, bucket,
         |  CASE WHEN v_obs IS NOT NULL THEN v_obs
         |       ELSE pv + (nv - pv) * (h - ph) / (nh - ph) END AS v
         |FROM w ORDER BY event_type, bucket""".stripMargin,
    "q18_large_orders" ->
      s"""SELECT c_name, o_orderkey, o_orderdate, sum_qty FROM (
         |  SELECT l_orderkey, ${sqlDsum("l_quantity")} AS sum_qty
         |  FROM lineitem GROUP BY l_orderkey HAVING sum_qty > 150) b
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |ORDER BY sum_qty DESC, o_orderkey LIMIT 100""".stripMargin,
    "sink_nested" ->
      s"""SELECT user_id, COUNT(*) AS n, ${sqlDsum("value", 6)} AS total,
         |  CAST(COUNT(*) AS INT) AS n_ids,
         |  MIN(event_id) AS first_id, MAX(event_id) AS last_id
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "events_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events),
        |v AS (SELECT user_id, MIN(ts) AS t1 FROM e
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, MIN(e.ts) AS t2
        |      FROM e JOIN v USING (user_id)
        |      WHERE event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id),
        |p AS (SELECT e.user_id, MIN(e.ts) AS t3
        |      FROM e JOIN c USING (user_id)
        |      WHERE event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id)
        |SELECT u.user_id,
        |  CAST(CASE WHEN v.user_id IS NULL THEN 0 ELSE 1 END
        |     + CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END
        |     + CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END AS INT) AS stage
        |FROM (SELECT DISTINCT user_id FROM e) u
        |LEFT JOIN v USING (user_id)
        |LEFT JOIN c USING (user_id)
        |LEFT JOIN p USING (user_id)
        |ORDER BY user_id""".stripMargin,
    "events_retention" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id,
        |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7 AS week
        |  FROM events),
        |c AS (SELECT user_id, MIN(week) AS cohort_week
        |      FROM uw GROUP BY user_id)
        |SELECT cohort_week, week, COUNT(DISTINCT uw.user_id) AS n_active
        |FROM uw JOIN c USING (user_id)
        |GROUP BY cohort_week, week
        |ORDER BY cohort_week, week""".stripMargin,
    "agg_percentile" ->
      """SELECT l_returnflag,
        |  round(percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity), 4)
        |    AS p50_qty,
        |  round(percentile_cont(0.9) WITHIN GROUP (ORDER BY l_extendedprice), 4)
        |    AS p90_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
}
