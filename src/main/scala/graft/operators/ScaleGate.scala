package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

/** Size gates for operators whose EXACT form is a scale-killer.
  *
  * An exact global `ntile` is a window with no partitionBy — one
  * executor sorts the world. Correct and fast on the rollups the
  * oracle queries feed it (thousands-to-millions of rows), fatal at
  * 10⁹. Same design as the dedup-clustering gate
  * (`Dedup.LocalEdgesConf`): a conf-keyed row threshold decides per
  * input, the decision probe is a BOUNDED job (`limit(t+1).count()`
  * — stops counting at t+1, never scans the world), the exact form
  * survives below the gate (hash-oracled), and above it the same
  * report runs on `approx_percentile` cuts — one distributed pass,
  * no global sort, the documented 100 TB semantics
  * (llm_quality_cuts oracles the primitive with error-bound checks).
  * The one-partition gate ([[onePartitionMaxBytes]]) and the
  * narrow-scan widen ([[widen]]) probe nothing.
  */
object ScaleGate {

  /** Max input rows for which exact global-window ntile runs; above
    * this the approx-percentile cut path takes over. Default keeps
    * every oracle-scale input exact.
    */
  val ExactNtileMaxRows = "spark.graft.ntile.exactMaxRows"

  /** Decision probe: does `df` fit the exact-ntile gate? One bounded
    * job — `limit(t+1)` caps work at the threshold regardless of
    * input size.
    */
  def fitsExactNtile(s: SparkSession, df: DataFrame): Boolean = {
    val t = s.conf.get(ExactNtileMaxRows, "10000000").toLong
    df.limit((t + 1).min(Int.MaxValue).toInt).count() <= t
  }

  /** The one-partition gate ([[graft.plans.OnePartitionRule]]): the
    * largest input, in bytes, that AQE's `CoalesceShufflePartitions`
    * packs into ONE partition after a shuffle — so running it in one
    * task with no shuffle at all costs nothing the shuffle would not.
    * Coalescing aims at max(min(total / minPartitionNum, advisory),
    * minPartitionSize), so one partition holds everything up to
    * `coalescePartitions.minPartitionSize` (1 MiB) in the default
    * `parallelismFirst` mode, and up to `advisoryPartitionSizeInBytes`
    * when `parallelismFirst` is off and no `minPartitionNum` is set.
    * None when AQE or its partition coalescing is off: then shuffles
    * keep their partitions and the gate has no counterpart to match.
    */
  def onePartitionMaxBytes(conf: SQLConf): Option[Long] =
    if (!conf.adaptiveExecutionEnabled ||
        !conf.getConf(SQLConf.COALESCE_PARTITIONS_ENABLED)) None
    else {
      val minSize = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
      val byAdvisory =
        !conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST) &&
          conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM).isEmpty
      Some(if (byAdvisory)
        minSize max conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
      else minSize)
    }

  /** The narrow-scan widen: `df` hash-repartitioned on `key` to
    * `defaultParallelism` partitions when it has fewer, else `df`
    * itself (at 100 TB the scan is always wider and this never fires).
    * A fixture table is one parquet file, and the LLM pipelines over
    * it (the shingle explode, the embedding distance kernels) are map
    * stages with no exchange downstream — every localCheckpoint and
    * kernel would inherit the scan's one task (measured: pqDists
    * 1.34 s → 0.22 s at sf0.1 once widened). Keyed, not round-robin:
    * a localCheckpoint keeps the hash partitioning, so per-key
    * groupBy and window stages downstream read it exchange-free.
    */
  def widen(df: DataFrame, key: Column): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= cores) df else df.repartition(cores, key)
  }

  /** `ntile(n)` per `(valueCol, descending, out)` spec over a global
    * ordering of a plain non-null numeric column — exact (one global
    * window per spec; `tiebreak` makes boundaries deterministic) when
    * `df` fits [[fitsExactNtile]], else approx-percentile cuts with NO
    * global sort (ties land in one bucket, sizes wobble by the sketch
    * error), EVERY cut array in a SINGLE aggregate pass + one broadcast
    * cross join — at the 10⁹-row scale the gate exists for, per-column
    * agg jobs would rescan the input once per spec.
    */
  def gatedNtiles(s: SparkSession, df: DataFrame,
      specs: Seq[(String, Boolean, String)], tiebreak: String,
      n: Int): DataFrame = {
    if (fitsExactNtile(s, df)) {
      specs.foldLeft(df) { case (d, (valueCol, descending, out)) =>
        val order =
          if (descending) Seq(col(valueCol).desc, col(tiebreak))
          else Seq(col(valueCol), col(tiebreak))
        d.withColumn(out, ntile(n).over(Window.orderBy(order: _*)))
      }
    } else {
      val fracs = (1 until n).map(i => i.toDouble / n)
      val cuts = df.agg(
        expr(s"approx_percentile(${specs.head._1}, " +
          s"array(${fracs.mkString(",")}), 10000)").as(
          s"__cuts_${specs.head._3}"),
        specs.tail.map { case (c, _, out) =>
          expr(s"approx_percentile($c, array(${fracs.mkString(",")}), " +
            s"10000)").as(s"__cuts_$out")
        }: _*)
      val joined = df.crossJoin(broadcast(cuts))
      specs.foldLeft(joined) { case (d, (valueCol, descending, out)) =>
        val ascBucket =
          s"1 + size(filter(__cuts_$out, c -> $valueCol > c))"
        d.withColumn(out,
          if (descending) expr(s"${n + 1} - ($ascBucket)")
          else expr(ascBucket))
          .drop(s"__cuts_$out")
      }
    }
  }
}
