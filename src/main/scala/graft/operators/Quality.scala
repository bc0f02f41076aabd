package graft.operators

import graft.{QueryModule, T}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-quality and profiling operators — the audit pass every
  * warehouse ingest runs before trusting a table: constraint checks
  * (null / unique-key / domain / range / referential) computed in one
  * scan, and numeric profiling (equi-width histograms) for skew and
  * drift monitoring. Both are single-pass map-side aggregations; the
  * referential check is the only join (an anti join whose build side
  * is the key column alone).
  */
object Quality extends QueryModule {

  /** Constraint audit over a deliberately dirtied orders table: four
    * single-table rules fold into ONE aggregate over one scan (no
    * per-rule passes), and the cross-table referential rule is an
    * anti-join count. Planted violations (null FK, duplicate PK, bad
    * domain value, non-positive amount) prove each rule fires; the
    * clean-data referential rule proves a zero reads as zero.
    */
  def dqCheck(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = T.t(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice")
    val bad = Seq(
      (9000001L, Option.empty[Long], "O", 10.0),
      (1L, Some(1L), "O", 100.0),
      (9000002L, Some(5L), "Z", 50.0),
      (9000003L, Some(5L), "O", -7.0))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    val d = o.unionByName(bad)
    val single = d.agg(
      count(when($"o_custkey".isNull, 1)).as("null_custkey"),
      (count(lit(1)) - count_distinct($"o_orderkey")).as("dup_orderkey"),
      count(when($"o_totalprice" <= 0.0, 1)).as("nonpositive_price"),
      count(when(!$"o_orderstatus".isin("O", "F", "P"), 1)).as("bad_status"))
    val orphans = T.t(s, dir, "lineitem").select($"l_orderkey")
      .join(T.t(s, dir, "orders").select($"o_orderkey"),
        $"l_orderkey" === $"o_orderkey", "left_anti")
      .agg(count(lit(1)).as("orphan_lineitem"))
    single.crossJoin(orphans)
  }

  /** Equi-width histogram profile of o_totalprice: 20 buckets over the
    * observed [min, max] (one metadata-size aggregate broadcast back),
    * then a single map-side bucket assignment + count. Bucket edges
    * and assignment use one fixed double expression shape so both
    * engines agree bit-for-bit at bucket boundaries.
    */
  def profileHistogram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = T.t(s, dir, "orders").select($"o_totalprice")
    val mm = o.agg(min($"o_totalprice").as("mn"), max($"o_totalprice").as("mx"))
    o.crossJoin(broadcast(mm))
      .withColumn("bucket",
        least(lit(19L), floor(($"o_totalprice" - $"mn") /
          (($"mx" - $"mn") / 20))).cast("long"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("cnt"),
        (first($"mn") + $"bucket" * (first($"mx") - first($"mn")) / 20)
          .as("lo_edge"))
      .select($"bucket", $"cnt", $"lo_edge")
      .orderBy($"bucket")
  }

  /** Outlier census per segment: customers beyond mean ± 2σ of their
    * segment's account balance. Mean and variance derive from exact
    * DECIMAL sums (Σx, Σx² — one map-side aggregate), NOT the
    * built-in stddev, whose partial-merge order varies run to run and
    * can flip a row sitting exactly on the boundary (drift contract).
    * The tiny per-segment stat row broadcasts back for the threshold
    * pass — two scans total, no window.
    */
  def profileOutliers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.DecimalType
    val c = T.t(s, dir, "customer").select($"c_mktsegment", $"c_acctbal")
    val stats = c.groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum($"c_acctbal".cast(DecimalType(18, 2))).cast("double").as("sx"),
        sum(($"c_acctbal" * $"c_acctbal").cast(DecimalType(28, 4)))
          .cast("double").as("sxx"))
      .select($"c_mktsegment", $"n", ($"sx" / $"n").as("mean"),
        sqrt(($"sxx" - $"sx" * $"sx" / $"n") / ($"n" - 1)).as("sd"))
    c.join(broadcast(stats), "c_mktsegment")
      .groupBy($"c_mktsegment")
      .agg(first($"n").as("n_rows"),
        count(when($"c_acctbal" > $"mean" + lit(2) * $"sd" ||
          $"c_acctbal" < $"mean" - lit(2) * $"sd", 1)).as("n_outliers"))
      .orderBy($"c_mktsegment")
  }

  /** JOIN-KEY skew census — the pre-flight check that decides salting
    * / AQE-skew config before a big join ships: for each candidate
    * key column, row count, distinct keys, the hottest key's count
    * and its corpus share in ppm. Two-level aggregation per column
    * (per-key counts map-side combined, then one global max/count
    * roll-up), one row out per column — cost O(distinct keys), never
    * O(rows²), and the integer-ppm share is drift-proof.
    */
  def dqSkew(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val l = T.t(s, dir, "lineitem")
    def census(keyCol: String): DataFrame =
      l.groupBy(col(keyCol).as("k")).agg(count(lit(1)).as("c"))
        .agg(sum($"c").as("n_rows"), count(lit(1)).as("n_keys"),
          max($"c").as("max_key_rows"))
        .select(lit(keyCol).as("key_col"), $"n_rows", $"n_keys",
          $"max_key_rows",
          expr("max_key_rows * 1000000L div n_rows").as("top_share_ppm"))
    census("l_orderkey")
      .unionByName(census("l_partkey"))
      .unionByName(census("l_suppkey"))
      .unionByName(census("l_returnflag"))
      .orderBy($"key_col")
  }

  /** Rolling-median ANOMALY flags over the hourly event series — the
    * volume monitor that pages when a source doubles or halves. Per
    * event_type: hourly counts, then each hour compared against the
    * MEDIAN of the trailing 24 observed hours (median, not mean — one
    * prior spike must not mask the next one). Spark bars
    * percentile-class aggregates from framed windows
    * (INVALID_WINDOW_SPEC_FOR_AGGREGATION_FUNC), so the trailing
    * median is computed as sorted collect_list + middle-two sum —
    * which also makes the whole query INTEGER arithmetic: med2 =
    * arr[12]+arr[13] is exactly 2·median, the band compares multiply
    * through (high: cnt > med2; low: 4·cnt < med2), and no double
    * ever appears.
    * Scale shape: one hash aggregate (map-side combined: the shuffle
    * carries (type,hour) cells, not events) + one window per type —
    * series length is hours, not rows, so a year of 100 TB telemetry
    * windows over 8760 points per type.
    */
  def dqAnomaly(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"event_type").orderBy($"h")
      .rowsBetween(-24, -1)
    val hourly = T.events(s, dir)
      .groupBy($"event_type",
        floor(unix_timestamp($"ts") / 3600L).cast("long").as("h"))
      .agg(count(lit(1)).as("cnt"))
    hourly
      .withColumn("arr", sort_array(collect_list($"cnt").over(w)))
      .withColumn("n_trail", size($"arr"))
      .withColumn("med2", element_at($"arr", 12) + element_at($"arr", 13))
      .filter($"n_trail" === 24 &&
        ($"cnt" > $"med2" || $"cnt" * 4 < $"med2"))
      .select($"event_type", $"h", $"cnt", $"med2",
        when($"cnt" > $"med2", lit("high")).otherwise(lit("low"))
          .as("direction"))
      .orderBy($"event_type", $"h")
  }

  /** SNAPSHOT-DRIFT audit between two versions of a versioned table —
    * the freshness/volume monitor a warehouse runs after every ingest:
    * per group, row count at v0 vs v1 plus the integer delta. Reads
    * resolve MANIFESTS only (time travel), so the audit
    * never rescans history it doesn't need; the diff itself is one
    * full-outer join of two small aggregates. Drifts ship as integer
    * deltas (drift-proof). The fixture commits v0 = full orders and
    * v1 = append of the key%10 slice, so expected deltas are known.
    */
  def dqDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = T.scratch(dir, "dq_drift_versions")
    val st = graft.sources.GraftStorage(s)
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    val base = T.t(s, dir, "orders")
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
    st.writeVersioned(base, out)
    st.writeVersioned(base.filter($"o_orderkey" % 10 === 0), out,
      append = true)
    def snap(v: Long): DataFrame =
      st.readVersioned(out, Some(v))
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as(s"cnt_v$v"))
    snap(0).join(snap(1), Seq("o_orderstatus"), "full_outer")
      .select($"o_orderstatus",
        coalesce($"cnt_v0", lit(0L)).as("cnt_v0"),
        coalesce($"cnt_v1", lit(0L)).as("cnt_v1"),
        (coalesce($"cnt_v1", lit(0L)) - coalesce($"cnt_v0", lit(0L)))
          .as("cnt_delta"))
      .orderBy($"o_orderstatus")
  }

  private val AuditCols: Map[String, Seq[String]] = Map(
    "lineitem" -> Seq("l_orderkey", "l_quantity", "l_extendedprice"),
    "orders" -> Seq("o_orderkey", "o_totalprice"),
    "documents" -> Seq("doc_id", "n_chars"))

  /** FOOTER-STATISTICS integrity audit — recompute nothing, read no
    * data page: per column chunk, the parquet footer already carries
    * (value count, null count, min, max), and every stats-based
    * optimization in this library (zone-map pruning, CBO filter
    * estimation, `agg_pushdown_stats`) TRUSTS those numbers. This is
    * the trust-but-verify pass: Spark aggregates the raw footer
    * fields at metadata rate, the DuckDB oracle recomputes the same
    * invariants from the DATA, and a hash match proves the metadata
    * tells the truth — the audit a warehouse runs before enabling
    * file skipping on a foreign dataset (reference analogue: disq
    * validates .sbi/.bai index self-consistency before trusting
    * index-driven split pruning).
    *
    * Scale shape: the driver only LISTS files (metadata-rate); every
    * footer parse runs in executors (`mapPartitions` over the file
    * inventory, one task per file) — at 100 TB / 1 GB files that is
    * 100k footer reads spread across the cluster, with no data-page
    * I/O at all. Columns under audit are the numeric ones whose
    * parquet statistics are exact by spec (string min/max may be
    * truncated by writers, and float -0.0 ambiguates MIN — both
    * excluded by design).
    */
  def dqStatsAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import scala.jdk.CollectionConverters._
    val hconf = s.sparkContext.hadoopConfiguration
    val files: Seq[(String, String)] =
      AuditCols.keys.toSeq.sorted.flatMap { t =>
        val p = new org.apache.hadoop.fs.Path(s"$dir/$t.parquet")
        val fs = p.getFileSystem(hconf)
        val it = fs.listFiles(p, true)
        val buf = scala.collection.mutable.ArrayBuffer[(String, String)]()
        while (it.hasNext) {
          val f = it.next()
          if (f.getPath.getName.endsWith(".parquet"))
            buf += ((t, f.getPath.toString))
        }
        buf.toSeq
      }
    val wanted = AuditCols
    def toD(v: Any): Double = v match {
      case l: java.lang.Long => l.toDouble
      case i: java.lang.Integer => i.toDouble
      case d: java.lang.Double => d
      case f: java.lang.Float => f.toDouble
      case other => throw new IllegalArgumentException(
        s"dq_stats_audit: non-numeric statistics value $other")
    }
    // snapshot the SESSION conf for the executor-side footer reads —
    // a bare Configuration() would drop spark.hadoop.* credentials
    val confMap = graft.sources.GraftStorage.confSnapshotStatic(hconf)
    val chunks = s.createDataset(files)
      .repartition(math.max(1, files.size))
      .mapPartitions { it =>
        val conf = graft.sources.GraftStorage.restoreConfStatic(confMap)
        it.flatMap { case (t, f) =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new org.apache.hadoop.fs.Path(f), conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in,
            org.apache.parquet.HadoopReadOptions.builder(conf).build())
          try {
            val want = wanted(t).toSet
            r.getFooter.getBlocks.asScala.flatMap { b =>
              b.getColumns.asScala
                .filter(c => want(c.getPath.toDotString))
                .map { c =>
                  val st = c.getStatistics
                  (t, c.getPath.toDotString, c.getValueCount,
                    st.getNumNulls, toD(st.genericGetMin),
                    toD(st.genericGetMax))
                }
            }.toSeq
          } finally r.close()
        }
      }
      .toDF("tbl", "col_name", "n_values", "n_nulls", "mn", "mx")
    chunks.groupBy($"tbl", $"col_name")
      .agg(sum($"n_values").as("n_values"), sum($"n_nulls").as("n_nulls"),
        min($"mn").as("stat_min"), max($"mx").as("stat_max"))
      .orderBy($"tbl", $"col_name")
  }

  /** Pearson correlation matrix over lineitem's numeric measures —
    * the profiling step that decides which columns are worth a
    * composite zone-map / sort key (correlated columns cluster
    * together for free). NOT the built-in `corr()`: its double
    * accumulation is partial-merge-order dependent, so the same data
    * can flip the last ulp run to run. Instead every input quantizes
    * to an exact integer (floor(x·scale + 0.5) — the embedQuantize
    * rounding spelling both engines share), all ten sums the three
    * correlations need ride one DECIMAL(38,0)-exact single-row
    * aggregate over ONE scan, and the only floating-point math is
    * the final closed-form division from identical integers —
    * drift-proof by construction. Correlation is scale-invariant, so
    * the quantization (centi-units / cents / basis points) does not
    * change r beyond the input data's own 2-decimal precision.
    */
  def profileCorr(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val q = floor($"l_quantity" * 100 + 0.5).cast("long")
    val p = floor($"l_extendedprice" * 100 + 0.5).cast("long")
    val d = floor($"l_discount" * 10000 + 0.5).cast("long")
    val sums = T.t(s, dir, "lineitem")
      .select(q.as("q"), p.as("p"), d.as("d"))
      .agg(count(lit(1)).as("n"),
        sum($"q".cast(dec)).as("sq"), sum($"p".cast(dec)).as("sp"),
        sum($"d".cast(dec)).as("sd"),
        sum(($"q" * $"q").cast(dec)).as("sqq"),
        sum($"p".cast(dec) * $"p").as("spp"),
        sum(($"d" * $"d").cast(dec)).as("sdd"),
        sum($"p".cast(dec) * $"q").as("sqp"),
        sum(($"q" * $"d").cast(dec)).as("sqd"),
        sum($"p".cast(dec) * $"d").as("spd"))
    def r(sxy: Column, sx: Column, sy: Column,
        sxx: Column, syy: Column): Column = {
      val n = $"n".cast("double")
      round((n * sxy.cast("double") - sx.cast("double") * sy.cast("double")) /
        sqrt((n * sxx.cast("double") - sx.cast("double") * sx.cast("double")) *
          (n * syy.cast("double") - sy.cast("double") * sy.cast("double"))), 6)
    }
    sums.select($"n",
        r($"spd", $"sp", $"sd", $"spp", $"sdd").as("price_discount"),
        r($"sqd", $"sq", $"sd", $"sqq", $"sdd").as("quantity_discount"),
        r($"sqp", $"sq", $"sp", $"sqq", $"spp").as("quantity_price"))
      .select($"n", expr(
        """stack(3,
          |  'price_discount', price_discount,
          |  'quantity_discount', quantity_discount,
          |  'quantity_price', quantity_price) AS (pair, r)""".stripMargin))
      .select($"pair", $"n", $"r")
      .orderBy($"pair")
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "profile_corr" -> (profileCorr(_, _)),
    "dq_stats_audit" -> (dqStatsAudit(_, _)),
    "dq_anomaly" -> (dqAnomaly(_, _)),
    "dq_check" -> (dqCheck(_, _)),
    "dq_drift" -> (dqDrift(_, _)),
    "dq_skew" -> (dqSkew(_, _)),
    "profile_outliers" -> (profileOutliers(_, _)),
    "profile_histogram" -> (profileHistogram(_, _)))

  private def skewCensusSql(c: String): String =
    s"""SELECT '$c' AS key_col, CAST(SUM(cc) AS BIGINT) AS n_rows,
       |  COUNT(*) AS n_keys, CAST(MAX(cc) AS BIGINT) AS max_key_rows,
       |  CAST(MAX(cc) AS BIGINT) * 1000000
       |    // CAST(SUM(cc) AS BIGINT) AS top_share_ppm
       |FROM (SELECT $c AS k, COUNT(*) AS cc FROM lineitem GROUP BY 1)""".stripMargin

  private def statsAuditSql(t: String, c: String): String =
    s"""SELECT '$t' AS tbl, '$c' AS col_name,
       |  COUNT(*) AS n_values,
       |  COUNT(*) - COUNT($c) AS n_nulls,
       |  CAST(MIN($c) AS DOUBLE) AS stat_min,
       |  CAST(MAX($c) AS DOUBLE) AS stat_max
       |FROM $t""".stripMargin

  private def corrSql(name: String, sxy: String, sx: String, sy: String,
      sxx: String, syy: String): String =
    s"""SELECT '$name' AS pair, n,
       |  round((CAST(n AS DOUBLE)*CAST($sxy AS DOUBLE)
       |      - CAST($sx AS DOUBLE)*CAST($sy AS DOUBLE))
       |    / sqrt((CAST(n AS DOUBLE)*CAST($sxx AS DOUBLE)
       |        - CAST($sx AS DOUBLE)*CAST($sx AS DOUBLE))
       |      * (CAST(n AS DOUBLE)*CAST($syy AS DOUBLE)
       |        - CAST($sy AS DOUBLE)*CAST($sy AS DOUBLE))), 6) AS r
       |FROM s""".stripMargin

  override def oracleSql: Map[String, String] = Map(
    "profile_corr" ->
      s"""WITH b AS (
         |  SELECT CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS q,
         |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS p,
         |    CAST(floor(l_discount * 10000 + 0.5) AS BIGINT) AS d
         |  FROM lineitem),
         |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |  SUM(CAST(q AS DECIMAL(38,0))) AS sq,
         |  SUM(CAST(p AS DECIMAL(38,0))) AS sp,
         |  SUM(CAST(d AS DECIMAL(38,0))) AS sd,
         |  SUM(CAST(q*q AS DECIMAL(38,0))) AS sqq,
         |  SUM(CAST(p AS DECIMAL(38,0))*p) AS spp,
         |  SUM(CAST(d*d AS DECIMAL(38,0))) AS sdd,
         |  SUM(CAST(p AS DECIMAL(38,0))*q) AS sqp,
         |  SUM(CAST(q*d AS DECIMAL(38,0))) AS sqd,
         |  SUM(CAST(p AS DECIMAL(38,0))*d) AS spd FROM b)
         |SELECT * FROM (
         |${corrSql("price_discount", "spd", "sp", "sd", "spp", "sdd")}
         |UNION ALL
         |${corrSql("quantity_discount", "sqd", "sq", "sd", "sqq", "sdd")}
         |UNION ALL
         |${corrSql("quantity_price", "sqp", "sq", "sp", "sqq", "spp")})
         |ORDER BY pair""".stripMargin,
    "dq_stats_audit" ->
      s"""SELECT * FROM (
         |${AuditCols.toSeq.sortBy(_._1).flatMap { case (t, cs) =>
              cs.map(statsAuditSql(t, _)) }.mkString("\nUNION ALL\n")})
         |ORDER BY tbl, col_name""".stripMargin,
    "dq_drift" ->
      """WITH v0 AS (
        |  SELECT o_orderstatus, COUNT(*) AS cnt_v0 FROM orders GROUP BY 1),
        |v1 AS (
        |  SELECT o_orderstatus, COUNT(*) AS cnt_v1 FROM (
        |    SELECT o_orderstatus FROM orders
        |    UNION ALL
        |    SELECT o_orderstatus FROM orders WHERE o_orderkey % 10 = 0)
        |  GROUP BY 1)
        |SELECT o_orderstatus,
        |  COALESCE(cnt_v0, 0) AS cnt_v0, COALESCE(cnt_v1, 0) AS cnt_v1,
        |  COALESCE(cnt_v1, 0) - COALESCE(cnt_v0, 0) AS cnt_delta
        |FROM v0 FULL OUTER JOIN v1 USING (o_orderstatus)
        |ORDER BY o_orderstatus""".stripMargin,
    "dq_skew" ->
      s"""SELECT * FROM (
         |${Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag")
            .map(skewCensusSql).mkString("\nUNION ALL\n")})
         |ORDER BY key_col""".stripMargin,
    "dq_anomaly" ->
      """WITH hourly AS (
        |  SELECT event_type, epoch_us(ts) // 1000000 // 3600 AS h,
        |    COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |lists AS (
        |  SELECT event_type, h, cnt,
        |    list_sort(list(cnt) OVER (PARTITION BY event_type ORDER BY h
        |      ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)) AS arr
        |  FROM hourly),
        |trail AS (
        |  SELECT event_type, h, cnt, len(arr) AS n_trail,
        |    arr[12] + arr[13] AS med2
        |  FROM lists)
        |SELECT event_type, h, cnt, med2,
        |  CASE WHEN cnt > med2 THEN 'high' ELSE 'low' END
        |    AS direction
        |FROM trail
        |WHERE n_trail = 24 AND (cnt > med2 OR cnt * 4 < med2)
        |ORDER BY event_type, h""".stripMargin,
    "dq_check" ->
      """WITH d AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |  FROM orders
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |    (9000001, CAST(NULL AS BIGINT), 'O', 10.0),
        |    (1, 1, 'O', 100.0),
        |    (9000002, 5, 'Z', 50.0),
        |    (9000003, 5, 'O', -7.0)))
        |SELECT
        |  COUNT(CASE WHEN o_custkey IS NULL THEN 1 END) AS null_custkey,
        |  COUNT(*) - COUNT(DISTINCT o_orderkey) AS dup_orderkey,
        |  COUNT(CASE WHEN o_totalprice <= 0.0 THEN 1 END)
        |    AS nonpositive_price,
        |  COUNT(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 END)
        |    AS bad_status,
        |  (SELECT COUNT(*) FROM lineitem l
        |   WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                     WHERE o.o_orderkey = l.l_orderkey))
        |    AS orphan_lineitem
        |FROM d""".stripMargin,
    "profile_outliers" ->
      """WITH stats AS (
        |  SELECT c_mktsegment, COUNT(*) AS n,
        |    CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(c_acctbal * c_acctbal AS DECIMAL(28,4)))
        |      AS DOUBLE) AS sxx
        |  FROM customer GROUP BY c_mktsegment),
        |st2 AS (
        |  SELECT c_mktsegment, n, sx / n AS mean,
        |    sqrt((sxx - sx * sx / n) / (n - 1)) AS sd
        |  FROM stats)
        |SELECT c.c_mktsegment, ANY_VALUE(s.n) AS n_rows,
        |  COUNT(CASE WHEN c.c_acctbal > s.mean + 2 * s.sd
        |              OR c.c_acctbal < s.mean - 2 * s.sd THEN 1 END)
        |    AS n_outliers
        |FROM customer c JOIN st2 s USING (c_mktsegment)
        |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin,
    "profile_histogram" ->
      """WITH mm AS (
        |  SELECT MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx
        |  FROM orders)
        |SELECT bucket, COUNT(*) AS cnt,
        |  ANY_VALUE(mn) + bucket * (ANY_VALUE(mx) - ANY_VALUE(mn)) / 20
        |    AS lo_edge
        |FROM (
        |  SELECT CAST(least(19, floor((o_totalprice - mn) / ((mx - mn) / 20)))
        |    AS BIGINT) AS bucket, mn, mx
        |  FROM orders CROSS JOIN mm)
        |GROUP BY bucket ORDER BY bucket""".stripMargin)
}
