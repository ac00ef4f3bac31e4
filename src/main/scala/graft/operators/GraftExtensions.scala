package graft.operators

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions,
  SparkSessionExtensionsProvider}
import org.apache.spark.sql.graftshim.Shim

import graft.plans.{AsOfJoinStrategy, OneTaskSort, PrefixScanStrategy,
  PruneAsOfJoinChildren, PushFilterThroughAsOfJoin}

/** The graft planner strategies and optimizer rules: the as-of join
  * strategy and its two rules ([[AsOfJoin]]), the `PrefixScan` strategy
  * ([[Packing]]), and the AQE runtime rule [[graft.plans.OneTaskSort]],
  * which sorts a small grouped aggregate's result in the task that
  * merges it. Listed as a service in `META-INF/services`, so Spark's
  * session builder installs them in every session it builds with this
  * jar on the classpath ([[graft.GraftSession]]'s and any other), and
  * sessions from `newSession()` inherit them.
  */
class GraftExtensions extends SparkSessionExtensionsProvider {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    ext.injectPlannerStrategy(_ => PrefixScanStrategy)
    // operator-optimization batch: Catalyst iterates these with its own
    // pushdown/pruning rules to a fixed point
    ext.injectOptimizerRule(_ => PushFilterThroughAsOfJoin)
    ext.injectOptimizerRule(_ => PruneAsOfJoinChildren)
    // re-optimization after each stage: reads the measured row counts
    ext.injectRuntimeOptimizerRule(_ => OneTaskSort)
  }
}

object GraftExtensions {

  /** Fails, while `op`'s DataFrame is built, unless `spark` can plan the
    * graft operators; otherwise the query would fail only when it runs,
    * with Spark's "No plan for" error. */
  def requireInstalled(spark: SparkSession, op: String): Unit = {
    val strategies = Shim.plannerStrategies(spark)
    require(strategies.contains(AsOfJoinStrategy) &&
      strategies.contains(PrefixScanStrategy),
      s"$op: this session cannot plan the graft operators; Spark's " +
        "session builder installs GraftExtensions from the jar's " +
        "META-INF/services when the jar is on its class loader's path")
  }
}
