package graft.plans

import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.SORT

import graft.operators.ScaleGate

/** A small ORDER BY sorts in place.
  *
  * A global sort plans a range exchange: one `RangePartitioner`
  * sampling job that recomputes the sort's input, then the range
  * shuffle itself. When the input is no larger than the one partition
  * AQE's `CoalesceShufflePartitions` would pack it into anyway
  * ([[ScaleGate.smallSortMaxBytes]]), both buy nothing: the sort ends
  * up in one task either way. The rule rewrites
  * `Sort(order, global, child)` to `Sort(order, global,
  * Repartition(1, shuffle = false, child))`; `CoalesceExec(1)` reports
  * `SinglePartition`, so `EnsureRequirements` plans no exchange and
  * the sort runs in the task that produced its input.
  *
  * Injected twice (`GraftExtensions`): as an optimizer rule it decides
  * from plan statistics; as an AQE runtime rule it decides again once
  * the query stages below the sort have run, from their measured
  * sizes — a sort above an aggregate or a join, whose static estimate
  * is far above its real output, is caught there.
  *
  * Left alone: sorts under a limit (`TakeOrderedAndProject` serves
  * them), local sorts (`sortWithinPartitions`), explicit
  * `repartitionByRange` (not a sort), and every plan when AQE or its
  * partition coalescing is off — which covers streaming: a streaming
  * sort needs a stateful aggregation, and Spark runs stateful queries
  * with AQE off. The decision trusts Spark's size estimate, as its
  * broadcast-join threshold does.
  */
object SmallSortRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    ScaleGate.smallSortMaxBytes(conf) match {
      case Some(max) if plan.containsPattern(SORT) =>
        inPlace(plan, max)
      case _ => plan
    }

  private def inPlace(p: LogicalPlan, max: Long): LogicalPlan = p match {
    case l @ LocalLimit(_, s: Sort) =>
      l.copy(child = s.mapChildren(inPlace(_, max)))
    case l @ LocalLimit(_, pr @ Project(_, s: Sort)) =>
      l.copy(child = pr.copy(child = s.mapChildren(inPlace(_, max))))
    case s: Sort if s.global && !onePartition(s.child) &&
        s.child.stats.sizeInBytes <= max =>
      s.copy(child = Repartition(1, shuffle = false, inPlace(s.child, max)))
    case other => other.mapChildren(inPlace(_, max))
  }

  // already one partition: wrapping again would fight
  // CollapseRepartition to the optimizer's iteration cap
  private def onePartition(p: LogicalPlan): Boolean = p match {
    case r: RepartitionOperation => r.numPartitions == 1
    case _ => false
  }
}
