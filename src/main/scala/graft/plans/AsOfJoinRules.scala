package graft.plans

import org.apache.spark.sql.catalyst.expressions.{And, AttributeSet, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rules that make [[AsOfJoinPlan]] a first-class citizen of
  * Catalyst: the built-in pushdown/pruning rules do not know the node,
  * so without these a `where` above an as-of join would scan and
  * shuffle full tables. Injected by `GraftExtensions` into the
  * operator-optimization batch, where Catalyst iterates them with its
  * own pushdown and pruning rules to a fixed point.
  */

/** Push deterministic left-only predicates below the as-of join.
  * Sound because the join is left-preserving and 1:1 — every output
  * row corresponds to exactly one left row, and left-column values are
  * unchanged — so filtering before or after is identical. Right-side
  * predicates canNOT be pushed (they reference matched-or-null
  * values). */
object PushFilterThroughAsOfJoin extends Rule[LogicalPlan]
    with PredicateHelper {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, j: AsOfJoinPlan) =>
      val leftOut = AttributeSet(j.left.output)
      val (push, keep) = splitConjunctivePredicates(cond)
        .partition(p => p.deterministic && p.references.subsetOf(leftOut))
      if (push.isEmpty) f
      else {
        val pushed = j.copy(left = Filter(push.reduce(And), j.left))
        keep.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
      }
  }
}

/** Prune as-of join child columns not needed by the parent projection
  * (keys and timestamps are always retained). Restores ReadSchema
  * pruning at the scans below the custom node. */
object PruneAsOfJoinChildren extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case p @ Project(_, j: AsOfJoinPlan) =>
      val required = p.references ++ AttributeSet(
        (j.leftKeys ++ j.rightKeys :+ j.leftTs :+ j.rightTs)
          .flatMap(_.references))
      def prune(child: LogicalPlan): LogicalPlan = {
        val keep = child.output.filter(required.contains)
        if (keep.length == child.output.length) child
        else Project(keep, child)
      }
      val nl = prune(j.left)
      val nr = prune(j.right)
      if ((nl eq j.left) && (nr eq j.right)) p
      else p.withNewChildren(Seq(j.copy(left = nl, right = nr)))
  }
}
