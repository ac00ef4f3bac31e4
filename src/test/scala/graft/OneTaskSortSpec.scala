package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan,
  TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim

import graft.plans.OneTaskSort

/** [[OneTaskSort]]: a global sort over a grouped aggregate whose partial
  * aggregates wrote at most `MaxRows` rows is merged and sorted in one
  * task, with no range exchange; every other sort keeps its plan. The
  * "without the rule" plans run with the rule listed in AQE's
  * excluded-rules setting. */
class OneTaskSortSpec extends SparkSpec {

  // the sf0.01 tables committed with the benchmark, inside the repository
  private val sf = "perfbench/data/sf0.01"

  private def withoutRule[A](body: => A): A = {
    val key = "spark.sql.adaptive.optimizer.excludedRules"
    spark.conf.set(key, OneTaskSort.ruleName)
    try body finally spark.conf.unset(key)
  }

  /** The final plan of `df` after collecting it, its rows, and the
    * Spark jobs the collect ran. */
  private def run(df: DataFrame): (SparkPlan, Seq[org.apache.spark.sql.Row],
      Int) = {
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    Shim.awaitListeners(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val rows = df.collect().toSeq
      Shim.awaitListeners(spark)
      (df.queryExecution.executedPlan, rows, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def rangeExchanges(p: SparkPlan): Seq[ShuffleExchangeExec] =
    planNodes(p).collect {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }

  private def coalesceOverAggregate(p: SparkPlan): Boolean =
    planNodes(p).exists {
      case c: CoalesceExec =>
        c.numPartitions == 1 &&
          planNodes(c.child).exists(_.isInstanceOf[HashAggregateExec])
      case _ => false
    }

  private def sortedBy(rows: Seq[org.apache.spark.sql.Row], i: Int) =
    rows.map(_.getLong(i)).sliding(2).forall {
      case Seq(a, b) => a <= b
      case _ => true
    }

  test("q16 is merged and sorted in one task: no range exchange, 2 jobs") {
    val (plan, rows, jobs) = run(RelationalGates.q16HighcardAgg(spark, sf))
    assert(rangeExchanges(plan).isEmpty, plan.treeString)
    assert(coalesceOverAggregate(plan), plan.treeString)
    assert(jobs === 2)
    assert(rows.size > 1 && sortedBy(rows, 0))

    val (before, rowsBefore, jobsBefore) =
      withoutRule(run(RelationalGates.q16HighcardAgg(spark, sf)))
    assert(rangeExchanges(before).nonEmpty)
    assert(jobsBefore === 4)
    assert(rows === rowsBefore)
  }

  test("above the bound the range sort stays, and sorts") {
    // a hashed key: every id its own group, so the partial aggregates
    // write one row per id; grouping spark.range by id needs no exchange
    val n = (OneTaskSort.MaxRows + 20000).toLong
    val df = spark.range(0, n, 1, 4)
      .groupBy(xxhash64(col("id")).as("k")).agg(count(lit(1)).as("c"))
      .orderBy("k")
    val (plan, rows, _) = run(df)
    assert(rangeExchanges(plan).nonEmpty, plan.treeString)
    assert(!coalesceOverAggregate(plan))
    assert(rows.size === n && sortedBy(rows, 0))
  }

  test("a top-k over a small aggregate stays TakeOrderedAndProject") {
    val df = RelationalGates.q16HighcardAgg(spark, sf).limit(10)
    val (plan, rows, _) = run(df)
    assert(planNodes(plan).exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      plan.treeString)
    assert(!coalesceOverAggregate(plan))
    assert(rows === RelationalGates.q16HighcardAgg(spark, sf).collect()
      .toSeq.take(10))
  }

  test("q61's sort over a cross join keeps its plan") {
    def shape(p: SparkPlan) = planNodes(p).map(_.nodeName)
    val (plan, rows, _) = run(FeatureGates.q61SigridHash(spark, sf))
    val (before, rowsBefore, _) =
      withoutRule(run(FeatureGates.q61SigridHash(spark, sf)))
    assert(shape(plan) === shape(before))
    assert(rows === rowsBefore)
  }

  test("with AQE off the sort stays a correct global sort") {
    val key = "spark.sql.adaptive.enabled"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    val (plan, rows, _) =
      try run(RelationalGates.q16HighcardAgg(spark, sf))
      finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(rangeExchanges(plan).nonEmpty)
    assert(rows.size > 1 && sortedBy(rows, 0))
  }
}
