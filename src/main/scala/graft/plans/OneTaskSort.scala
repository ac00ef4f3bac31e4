package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter,
  GlobalLimit, LocalLimit, LogicalPlan, Project, Repartition, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage

/** AQE runtime rule: a global sort over a small grouped aggregate is
  * sorted in the task that merges the aggregate.
  *
  * Once a grouped aggregate's shuffle stage has run, AQE's logical plan
  * holds it as a [[LogicalQueryStage]] whose row count is the number of
  * rows its partial aggregates wrote, an upper bound on the number of
  * groups. When a global `Sort` reads such a stage through projections
  * and filters only, and that count is at most [[MaxRows]], the sort
  * becomes a local sort over `Repartition(1, shuffle = false)`: the
  * final merge, the projections and the sort run in one task of the
  * aggregate's last stage, with no range exchange and so no sampling
  * job. AQE adopts the rewrite because it plans one exchange fewer.
  *
  * It leaves the plan as it is
  *  - for a sort under a limit (top-k, planned as
  *    `TakeOrderedAndProject`);
  *  - through any other node (a join, union, generate, expand or window
  *    can make more rows than the aggregate wrote);
  *  - above the bound, and before the stage has run (no measured count);
  *  - with AQE off, where runtime rules never run.
  */
object OneTaskSort extends Rule[LogicalPlan] {

  /** Up to this many rows, a one-task merge and sort costs less than
    * the range partitioner's sampling job and the extra stage it
    * replaces, for narrow, wide and percentile/collect_list aggregates
    * alike (on 4 cores; at 100 000 rows a wide aggregate breaks even).
    * The stage's byte size does not tell the cases apart, so it is not
    * checked. */
  val MaxRows: BigInt = 50000

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val topK = plan.collect {
      case l: LocalLimit => l.child
      case l: GlobalLimit => l.child
    }.collect {
      case s: Sort => s
      case Project(_, s: Sort) => s
    }
    plan.transformDown {
      case s: Sort if s.global && overSmallAggregate(s.child) &&
          !topK.exists(_ eq s) =>
        s.copy(global = false, child = Repartition(1, shuffle = false, s.child))
    }
  }

  @scala.annotation.tailrec
  private def overSmallAggregate(p: LogicalPlan): Boolean = p match {
    case Project(_, child) => overSmallAggregate(child)
    case Filter(_, child) => overSmallAggregate(child)
    case s: LogicalQueryStage =>
      s.isMaterialized && (s.logicalPlan match {
        case a: Aggregate => a.groupingExpressions.nonEmpty
        case _ => false
      }) && s.stats.rowCount.exists(_ <= MaxRows)
    case _ => false
  }
}
