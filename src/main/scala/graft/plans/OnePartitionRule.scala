package graft.plans

import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.adaptive.{BroadcastQueryStageExec, LogicalQueryStage}
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.internal.SQLConf

import graft.operators.ScaleGate

/** A small plan runs as one stage.
  *
  * On a small input an exchange buys nothing: its map side is one task
  * and AQE coalesces its reduce side back into one partition. When
  * every leaf is one split and the scan units — the `Project`/`Filter`
  * chain over each leaf, Spark's column-pruned estimate of what the
  * scans feed the plan — together fit that partition
  * ([[ScaleGate.onePartitionMaxBytes]]), each scan unit gets a
  * `Repartition(1, shuffle = false)` above it, so the scan keeps its
  * pruning and pushed filters. `CoalesceExec(1)` reports
  * `SinglePartition`, which satisfies every distribution but broadcast:
  * `EnsureRequirements` plans no exchange. An unhinted equi-join whose
  * inputs pass the check `EnsureRequirements` makes before it keeps a
  * single-partition join (exactly `SinglePartition`, stats within
  * `spark.sql.maxSinglePartitionBytes`) is hinted `SHUFFLE_HASH`, so no
  * broadcast job is planned; a join over a join fails that check and
  * would be reshuffled, so it keeps Spark's choice, as do user hints
  * and joins with no equi-join keys (non-equi, null-aware anti).
  *
  * Injected twice (`GraftExtensions`): in the optimizer it decides from
  * plan statistics; when AQE re-optimizes, a finished query stage is a
  * leaf counted at its measured size, so a large plan still runs its
  * small tail as one stage.
  */
object OnePartitionRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    ScaleGate.onePartitionMaxBytes(conf) match {
      case Some(max) if !plan.isStreaming =>
        // left alone: a user's repartition but a coalesce to one, and a
        // plan that is one scan unit (a local relation collects jobless)
        if (leafOf(plan).isEmpty && !plan.exists(userRepartition) &&
            scanBytes(plan).exists(_ <= max))
          // in one task, every sort sorts in place whatever its estimate
          sortsInPlace(onePartition(plan,
            conf.getConf(SQLConf.MAX_SINGLE_PARTITION_BYTES)), Long.MaxValue)
        else sortsInPlace(plan, max)
      case _ => plan
    }

  /** The leaf under a `Project`/`Filter` chain, if `p` is one. */
  private def leafOf(p: LogicalPlan): Option[LeafNode] = p match {
    case Project(_, c) => leafOf(c)
    case Filter(_, c) => leafOf(c)
    case l: LeafNode => Some(l)
    case _ => None
  }

  /** The scan units' summed size, or None when a leaf is not one split. */
  private def scanBytes(p: LogicalPlan): Option[BigInt] = leafOf(p) match {
    case Some(l) => if (oneSplit(l)) Some(p.stats.sizeInBytes) else None
    case None => p.children.map(scanBytes)
      .foldLeft(Option(BigInt(0)))((a, b) => a.zip(b).map(ab => ab._1 + ab._2))
  }

  private def oneSplit(l: LeafNode): Boolean = l match {
    case _: LocalRelation => true
    case LogicalRelation(r: HadoopFsRelation, _, _, _, _)
        if r.partitionSchema.isEmpty && r.bucketSpec.isEmpty =>
      val dirs = r.location.listFiles(Nil, Nil)
      dirs.flatMap(_.files) match {
        case Seq(f) => f.getLen <= FilePartition.maxSplitBytes(r.sparkSession, dirs)
        case _ => false
      }
    // not a range-partitioned stage (a global sort's): one task reading
    // its partitions would not keep their order
    case q: LogicalQueryStage => q.isMaterialized && !q.logicalPlan.isInstanceOf[Sort]
    case _ => false
  }

  private def userRepartition(p: LogicalPlan): Boolean = p match {
    case Repartition(1, false, _) => false
    case _: RepartitionOperation | _: RebalancePartitions => true
    case q: LogicalQueryStage => q.logicalPlan.exists(userRepartition)
    case _ => false
  }

  private def onePartition(p: LogicalPlan, maxSingle: Long): LogicalPlan = p match {
    case r @ Repartition(1, false, c) if leafOf(c).isDefined => r
    // a broadcast stage is only ever read as a broadcast
    case q: LogicalQueryStage
        if q.physicalPlan.exists(_.isInstanceOf[BroadcastQueryStageExec]) => q
    case u if leafOf(u).isDefined => Repartition(1, shuffle = false, u)
    case j: Join =>
      val k = j.mapChildren(onePartition(_, maxSingle)).asInstanceOf[Join]
      if (k.hint == JoinHint.NONE && ExtractEquiJoinKeys.unapply(k).isDefined &&
          k.children.forall(c => single(c) && c.stats.sizeInBytes <= maxSingle))
        k.copy(hint = JoinHint(shuffleHash, shuffleHash))
      else k
    case other => other.mapChildren(onePartition(_, maxSingle))
  }

  private val shuffleHash = Some(HintInfo(strategy = Some(SHUFFLE_HASH)))

  /** A global sort over an input within `max` that does not plan as one
    * partition (not one split; an `Expand` or `Union` output) sorts
    * behind a coalesce to one; `TakeOrderedAndProject` serves a limit's. */
  private def sortsInPlace(p: LogicalPlan, max: Long): LogicalPlan = p match {
    case l @ LocalLimit(_, s: Sort) =>
      l.copy(child = s.mapChildren(sortsInPlace(_, max)))
    case l @ LocalLimit(_, pr @ Project(_, s: Sort)) =>
      l.copy(child = pr.copy(child = s.mapChildren(sortsInPlace(_, max))))
    case s: Sort if s.global && !single(s.child) &&
        s.child.stats.sizeInBytes <= max =>
      s.copy(child = Repartition(1, shuffle = false, sortsInPlace(s.child, max)))
    case other => other.mapChildren(sortsInPlace(_, max))
  }

  /** Whether `p` plans as exactly `SinglePartition`. */
  private def single(p: LogicalPlan): Boolean = p match {
    case r: RepartitionOperation => r.numPartitions == 1
    case _: Project | _: Filter | _: Aggregate | _: Sort | _: Window =>
      single(p.children.head)
    case _ => false
  }
}
