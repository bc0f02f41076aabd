package perfbench

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkEntry
import graft.sources.{GraftStorage, Sharded, SingleFile}

/** How a storage round trip is checked once its timed part is over:
  * `check()` recomputes the result and its plain-Spark expectation and
  * returns a mismatch, if any.
  */
final case class Digest(check: () => Option[String], resultRows: () => Long)

/** One operation of a workload. `run` is the timed part; `tr.span`
  * marks each call into a layer. `out` is a fresh directory the op may
  * write to; with `dump` a query writes its result there as parquet
  * for the oracle check in place of the noop sink.
  */
trait Op {
  def name: String
  def module: String
  def run(tr: Tracer, dir: String, out: String, rng: Random, dump: Boolean): Option[Digest]
}

object Ops {
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private lazy val queryFns = SparkEntry.queries
  private lazy val moduleOf: Map[String, String] =
    SparkEntry.modules.flatMap { m =>
      val owner = m.getClass.getName.stripSuffix("$").stripPrefix("graft.")
      m.queries.keys.map(_ -> owner)
    }.toMap

  /** A registered query through the noop sink, as graft.Bench times it:
    * `build` is the query function (eager jobs included), `exec` the
    * final action.
    */
  final case class Query(name: String) extends Op {
    val module: String = moduleOf.getOrElse(name, "unregistered")
    def run(tr: Tracer, dir: String, out: String, rng: Random, dump: Boolean): Option[Digest] = {
      val fn = queryFns.getOrElse(name,
        throw new NoSuchElementException(s"no registered query $name"))
      val df = tr.span(s"$module.build")(fn(tr.spark, dir))
      tr.span(s"$module.exec")(
        if (dump) df.write.mode("overwrite").parquet(out) else noop(df))
      None
    }
  }

  /** Row count and a checksum insensitive to row and column order. */
  def digest(df: DataFrame): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(df.columns.sorted.map(col): _*).cast(DecimalType(38, 0))),
        lit(0).cast(DecimalType(38, 0)))).head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  private def compare(what: String, got: DataFrame, want: DataFrame): Option[String] = {
    val (g, w) = (digest(got), digest(want))
    if (g == w) None
    else Some(s"$what: got ${g._1} rows / checksum ${g._2}, expected ${w._1} / ${w._2}")
  }

  /** A storage round trip on the reads table: `body` makes the timed
    * GraftStorage calls and returns (the result as the program
    * reads it back, the same result computed with plain Spark). Ops
    * with two variants alternate between them from one execution to
    * the next, starting from a seeded one, so every run of two or more
    * passes times both equally often.
    */
  final case class Storage(name: String,
      body: (Tracer, GraftStorage, DataFrame, String, Random, Boolean) =>
        (() => DataFrame, () => DataFrame)) extends Op {
    val module = "sources"
    private var variant: Option[Boolean] = None
    def run(tr: Tracer, dir: String, out: String, rng: Random, dump: Boolean): Option[Digest] = {
      val v = variant.fold(rng.nextBoolean())(!_)
      variant = Some(v)
      val spark = tr.spark
      val input = spark.read.parquet(s"$dir/reads.parquet")
      val (got, want) = body(tr, GraftStorage(spark), input, out, rng, v)
      Some(Digest(() => compare(name, got(), want()), () => got().count()))
    }
  }

  private def call[A](tr: Tracer, name: String)(body: => A): A =
    tr.span(s"sources.$name")(body)

  /** `write` (sharded or single-file), then `read`. */
  private def writeRead(tr: Tracer, st: GraftStorage, input: DataFrame,
      out: String, rng: Random, single: Boolean) = {
    call(tr, "write")(st.write(input, out, if (single) SingleFile else Sharded))
    call(tr, "read")(noop(st.read(out)))
    (() => st.read(out), () => input)
  }

  /** A seeded interval set over read positions. */
  private def intervals(rng: Random, n: Int): Seq[(Long, Long)] =
    Seq.fill(n) {
      val lo = 1L + rng.nextInt(980000)
      (lo, lo + 2000 + rng.nextInt(18000))
    }

  /** `writeIndexed` on pos, then `readPruned` with a seeded range
    * filter or `readTraversal` over three seeded intervals.
    */
  private def indexedRead(tr: Tracer, st: GraftStorage, input: DataFrame,
      out: String, rng: Random, pruned: Boolean) = {
    call(tr, "writeIndexed")(st.writeIndexed(input, out, "pos", "pos"))
    val ivs = intervals(rng, if (pruned) 1 else 3)
    val sel = ivs.map { case (lo, hi) => col("pos") >= lo && col("pos") <= hi }.reduce(_ || _)
    val read = () =>
      if (pruned) st.readPruned(out).filter(sel) else st.readTraversal(out, "pos", Some(ivs))
    call(tr, if (pruned) "readPruned" else "readTraversal")(noop(read()))
    (read, () => input.filter(sel))
  }

  private def bgzfLines(tr: Tracer, st: GraftStorage, input: DataFrame,
      out: String, rng: Random, unused: Boolean) = {
    val lines = input.select(concat_ws("\t",
      input.columns.map(c => coalesce(col(c).cast("string"), lit("*"))): _*)
      .as("value"))
    val file = s"$out/reads.bgz"
    call(tr, "writeSingleBgzf")(st.writeSingleBgzf(lines, file))
    call(tr, "readBgzfLines")(noop(st.readBgzfLines(file).toDF()))
    (() => st.readBgzfLines(file).toDF(), () => lines)
  }

  private def versioned(tr: Tracer, st: GraftStorage, input: DataFrame,
      out: String, rng: Random, unused: Boolean) = {
    val bucket = rng.nextInt(10)
    val updates = input.filter(pmod(xxhash64(col("name")), lit(10L)) === bucket)
      .withColumn("mapq", (col("mapq") + 1) % 61)
    val dropped = col("flag") === 1024
    call(tr, "writeVersioned")(st.writeVersioned(input, out))
    call(tr, "mergeVersionedMor")(st.mergeVersionedMor(out, updates, "name"))
    call(tr, "deleteVersionedMor")(st.deleteVersionedMor(out, dropped, "name"))
    call(tr, "compactVersioned")(st.compactVersioned(out))
    call(tr, "readVersioned")(noop(st.readVersioned(out)))
    (() => st.readVersioned(out),
      () => input.join(updates.select("name"), Seq("name"), "left_anti")
        .select(input.columns.map(col): _*)
        .unionByName(updates).filter(!dropped))
  }

  /** The GraftStorage calls the round trip times, in span-name form. */
  val storageCalls: Seq[String] = Seq("write", "read", "writeIndexed",
    "readPruned", "readTraversal", "writeSingleBgzf", "readBgzfLines",
    "writeVersioned", "mergeVersionedMor", "deleteVersionedMor",
    "compactVersioned", "readVersioned")
  val writeCalls: Set[String] = Set("write", "writeIndexed",
    "writeSingleBgzf", "writeVersioned", "mergeVersionedMor",
    "deleteVersionedMor", "compactVersioned")
  val prunedCalls: Set[String] = Set("readPruned", "readTraversal")

  /** Every workload's op list. The seed only orders it and makes the
    * inputs; the list itself is fixed so that runs with different seeds
    * measure the same work.
    */
  val workloads: Map[String, Seq[Op]] = Map(
    "scan_battery" -> Seq("q1_pricing", "q3_shipping", "q13_custdist",
      "win_rank", "interval_merge", "llm_pii_scrub", "llm_bpe_apply").map(Query),
    "disq_roundtrip" -> Seq(
      Storage("write_read", writeRead),
      Storage("indexed_read", indexedRead),
      Storage("bgzf_lines", bgzfLines),
      Storage("versioned_cycle", versioned)))
}
