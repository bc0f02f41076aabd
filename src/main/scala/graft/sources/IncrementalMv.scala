package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental materialized-view maintenance ACROSS two versioned
  * tables — the multi-table consistency primitive the round-7 review
  * asked for: `stream_mv_refresh` keeps its MV consistent through a
  * streaming checkpoint, but nothing tied a BATCH-maintained MV to
  * the exact source snapshot it reflects, so interleaved source
  * commits could neither be detected (staleness) nor replayed
  * idempotently.
  *
  * Contract (per refresh):
  *  - the source version is PINNED FIRST (`listVersions.last`) and
  *    every read addresses that snapshot — a source commit landing
  *    mid-refresh is never half-included; it is simply reflected by
  *    the next refresh;
  *  - the MV commit carries a transaction marker
  *    `T  __mv:<source path>  <source version>` — the SAME
  *    idempotence primitive the streaming sinks use
  *    ([[GraftStorage.txnCommitted]]), so a replayed refresh finds
  *    the marker and no-ops, and [[staleness]] answers "how many
  *    source commits is this MV behind?" from KBs of metadata;
  *  - the aggregate state is SELF-MAINTAINABLE (COUNT + SUM): a
  *    refresh reads only the source files ADDED since the reflected
  *    version, pre-aggregates the delta, and merges it with the MV —
  *    at 100 TB that is touching a day's commits, not rescanning the
  *    fact table. A history that removed files in the window (CoW
  *    delete/update, compaction is add+remove too) falls back to a
  *    full recompute of the pinned snapshot — correct for ANY
  *    history, incremental for the append-only one;
  *  - two RACING refreshes resolve through the manifest's optimistic
  *    publish: one wins, the loser fails LOUDLY with the standard
  *    concurrent-commit conflict (re-run to converge — the retry
  *    sees the winner's marker and no-ops if it covered the same
  *    source version);
  *  - OWNERSHIP: the MV table belongs to its maintainers. Foreign
  *    commits may add their own markers (carried through refreshes)
  *    but must not change MV ROWS — the incremental merge trusts the
  *    MV's content to equal the aggregate at the reflected version,
  *    exactly the assumption every incremental-view engine makes.
  *
  * Reference analogue: the downstream index kept in lockstep with
  * its data file by the splice-then-index lifecycle of the
  * single-file sink (BamSink.java:82-138) — here generalized to two
  * independently-committed tables linked by a recorded version.
  */
final class IncrementalMv private (spark: SparkSession) {
  private val st = GraftStorage(spark)

  /** Marker app-id under which `mvPath` records the source version
    * it reflects (path-normalized so `file:///x` and `/x` agree).
    */
  private def appId(sourcePath: String): String =
    "__mv:" + new Path(sourcePath).toUri.getPath

  /** Whether `version`'s manifest still resolves (vacuum retires old
    * manifests; a marker may outlive the version it names).
    */
  private def versionResolvable(path: String, version: Long): Boolean =
    try { st.manifestFiles(path, version); true }
    catch { case _: IllegalArgumentException => false }

  /** Source version the MV's latest snapshot reflects, if any. */
  def reflectedVersion(mvPath: String, sourcePath: String): Option[Long] =
    if (st.listVersions(mvPath).isEmpty) None
    else st.txnBatchIds(mvPath, appId(sourcePath)).maxOption

  /** How many source commits the MV is behind (0 = fresh); None when
    * the MV has never been refreshed from this source. Metadata-only.
    */
  def staleness(mvPath: String, sourcePath: String): Option[Long] =
    reflectedVersion(mvPath, sourcePath).map(r =>
      math.max(0L, st.latestVisibleVersion(sourcePath) - r))

  /** Refresh `mvPath` to reflect `sourcePath`'s LATEST version:
    * `SELECT keyCols, COUNT(*) AS cnt, SUM(c) AS sum_<c>... GROUP BY
    * keyCols`. Returns the MV version that reflects the pinned
    * source version (the current one when already fresh — the
    * idempotent-replay path).
    */
  def refresh(sourcePath: String, mvPath: String,
      keyCols: Seq[String], sumCols: Seq[String]): Long = {
    require(keyCols.nonEmpty, "an MV needs at least one key column")
    val srcVersions = st.listVersions(sourcePath)
    require(srcVersions.nonEmpty, s"no versions under $sourcePath")
    // pin FIRST; all reads address this. The latest PUBLISHED
    // version, not the log head: refreshing from an audit-pending
    // WAP stage would bake un-audited (possibly later discarded)
    // source rows into the MV.
    val srcV = st.latestVisibleVersion(sourcePath)
    val app = appId(sourcePath)
    val reflected = reflectedVersion(mvPath, sourcePath)
    if (reflected.exists(_ >= srcV))
      return st.listVersions(mvPath).last // already fresh / replay
    // pin the MV base too: carried markers and the merge input must
    // come from one snapshot, and requireBase makes a racing refresh
    // lose LOUDLY instead of silently erasing its commit
    val mvBase = st.listVersions(mvPath).lastOption
    val keys = keyCols.map(col)
    val aggs = count(lit(1)).as("cnt") +:
      sumCols.map(c => sum(col(c)).as(s"sum_$c"))
    def aggregate(df: DataFrame): DataFrame =
      df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
    // canonical MV schema: the one-shot aggregate's types. Re-merging
    // must cast back to it — SUM over decimal widens precision per
    // application and the schema would drift refresh-over-refresh.
    val canonical = aggregate(
      st.readVersioned(sourcePath, Some(srcV)).limit(0)).schema
    def canonicalize(df: DataFrame): DataFrame =
      df.select(canonical.fields.toSeq.map(f =>
        col(f.name).cast(f.dataType).as(f.name)): _*)
    val full: DataFrame =
      aggregate(st.readVersioned(sourcePath, Some(srcV)))
    val fresh: DataFrame = reflected match {
      case Some(from) if !versionResolvable(sourcePath, from) =>
        // a source vacuum retired the reflected version's manifest:
        // the delta window cannot be derived — recompute the pinned
        // snapshot instead of failing every future refresh
        full
      case Some(from) =>
        val before = st.manifestFiles(sourcePath, from).toSet
        val after = st.manifestFiles(sourcePath, srcV)
        // append-only check covers BOTH mutation surfaces: removed
        // data files (CoW delete/update, compaction) AND deletion-
        // vector drift (a merge-on-read delete adds a D line without
        // touching the file set — the delta path would silently keep
        // counting the DV-deleted rows)
        if (before.exists(f => !after.contains(f)) ||
            st.manifestDvs(sourcePath, from).toSet !=
              st.manifestDvs(sourcePath, srcV).toSet)
          full // not append-only in the window: recompute
        else {
          val delta = after.filterNot(before)
          if (delta.isEmpty) // metadata-only source commits
            st.readVersioned(mvPath, mvBase)
          else {
            // COUNT/SUM are self-maintainable: merge = union the MV
            // with the DELTA's partial aggregate and re-aggregate
            val deltaAgg = canonicalize(aggregate(
              spark.read.schema(
                st.readVersioned(sourcePath, Some(srcV)).schema)
                .parquet(delta: _*)))
            canonicalize(st.readVersioned(mvPath, mvBase)
              .unionByName(deltaAgg)
              .groupBy(keys: _*)
              .agg(sum(col("cnt")).as("cnt"),
                sumCols.map(c =>
                  sum(col(s"sum_$c")).as(s"sum_$c")): _*))
          }
        }
      case None => full
    }
    // other sources' markers survive (a multi-source MV records one
    // marker per source); THIS source's marker is replaced by `txn`
    val carried = mvBase.map(v => st.txnLines(mvPath, v)
      .filterNot(_.startsWith(s"T\t$app\t"))).getOrElse(Seq.empty)
    st.commitVersioned(canonicalize(fresh), mvPath, append = false,
      Seq.empty, Seq.empty, Seq.empty, txn = Some(app -> srcV),
      carryLines = carried, requireBase = mvBase, morKey = None)
  }
}

object IncrementalMv {
  def apply(spark: SparkSession): IncrementalMv =
    new IncrementalMv(spark)
}
