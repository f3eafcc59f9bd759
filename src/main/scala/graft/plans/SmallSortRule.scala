package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, LogicalPlan, Offset, Repartition, Sort, Tail}
import org.apache.spark.sql.catalyst.rules.Rule

/** Render-scale result ordering in one task. A global `Sort` plans a
  * range-partitioning Exchange, and the `RangePartitioner` behind it
  * launches a sampling job that runs the whole upstream stage once more
  * before the map stage runs it again: two extra passes to order a
  * dashboard panel's few thousand rows. When the sort's input is
  * estimated to fit in one task, this rule sorts it there instead: a
  * local `Sort` over `Repartition(1, shuffle = false)` (a coalesce, so
  * no Exchange and no sampling job at all).
  *
  * The size test is `stats.sizeInBytes <= spark.sql.autoBroadcastJoinThreshold`,
  * the bound Spark already trusts to decide that a plan fits on one
  * node; a threshold of -1 disables the rule with it. Left alone:
  *  - streaming plans;
  *  - anything under `Limit`/`Offset`/`Tail`: `TakeOrderedAndProject`
  *    already runs a limited sort as one top-k pass per task;
  *  - a sort whose input is estimated over the bound. At 100 TB the
  *    range sort therefore stays.
  *
  * Idempotent under the optimizer's fixpoint: the rewritten sort is
  * local and is not matched again. */
object SmallSortRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val bound = conf.autoBroadcastJoinThreshold
    if (bound < 0 || plan.isStreaming) plan else rewrite(plan, bound)
  }

  private def rewrite(plan: LogicalPlan, bound: Long): LogicalPlan = plan match {
    case _: GlobalLimit | _: LocalLimit | _: Offset | _: Tail => plan
    case s @ Sort(_, true, child, _) if child.stats.sizeInBytes <= bound =>
      s.copy(global = false, child = Repartition(1, shuffle = false, rewrite(child, bound)))
    case _ => plan.mapChildren(rewrite(_, bound))
  }
}
