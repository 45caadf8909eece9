package graft.plans

import org.apache.spark.sql.catalyst.expressions.InterpretedOrdering
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{LOCAL_RELATION, SORT}

/** Folds a Sort over a LocalRelation into a sorted LocalRelation, on the
  * driver — the Sort case Spark's own `ConvertToLocalRelation` lacks
  * (it folds Project, Filter and Limit). Unfolded, collecting a sort of a
  * few driver rows plans a range-partitioned sort: 3 Spark jobs (the
  * range-bound sampling, the shuffle, the result). The order is Spark's own
  * `InterpretedOrdering`, so NaN, -0.0, null placement and collations
  * follow Spark's rules; `sortWithinPartitions` folds to the same fully
  * sorted relation.
  *
  * The rule runs in the operator-optimization batch: after Spark's early
  * LocalRelation batch, before the late one that folds a Limit over the
  * result. Rules of the same batch can leave a Project or Filter between
  * the Sort and the relation (ColumnPruning narrows a frame sorted, then
  * selected; PushDownPredicates moves a filter through a projection), so
  * the Sort's child is folded by `ConvertToLocalRelation` itself first,
  * and the Sort folds only when that yields a LocalRelation.
  *
  * The guards are `ConvertToLocalRelation`'s: no streaming relation, no
  * nondeterministic or unevaluable sort key. Spark's
  * `spark.sql.optimizer.excludedRules` turns the rule off by its name,
  * `graft.plans.LocalSortFold`.
  */
object LocalSortFold extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformWithPruning(_.containsAllPatterns(SORT, LOCAL_RELATION)) {
      case s @ Sort(order, _, child, _)
          if order.forall(o => o.deterministic && !ConvertToLocalRelation.hasUnevaluableExpr(o.child)) =>
        ConvertToLocalRelation(child) match {
          case l: LocalRelation if !l.isStreaming =>
            l.copy(data = l.data.sorted(new InterpretedOrdering(order, l.output)))
          case _ => s
        }
    }
}
