package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession,
  SparkSessionExtensions, SparkSessionExtensionsProvider}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Cast, Expression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.LongType

import graft.plans.{AsOfJoinPlan, AsOfJoinStrategy, PrefixScanStrategy,
  PruneAsOfJoinChildren, PushFilterThroughAsOfJoin}

/** The graft planner strategies and optimizer rules. Listed as a
  * service in `META-INF/services`, so Spark's session builder installs
  * them in every session it builds with this jar on the classpath
  * ([[graft.GraftSession]]'s and any other), and sessions from
  * `newSession()` inherit them.
  */
class GraftExtensions extends SparkSessionExtensionsProvider {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    ext.injectPlannerStrategy(_ => PrefixScanStrategy)
    // operator-optimization batch: Catalyst iterates these with its own
    // pushdown/pruning rules to a fixed point
    ext.injectOptimizerRule(_ => PushFilterThroughAsOfJoin)
    ext.injectOptimizerRule(_ => PruneAsOfJoinChildren)
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

/** Backward as-of join (latest right row with rightTs ≤ leftTs per
  * key), left-outer. Two implementations with identical semantics:
  *
  *  - [[asof]]: the custom Catalyst operator (AsOfJoinPlan →
  *    AsOfJoinStrategy → AsOfJoinExec) — single co-partitioned merge
  *    pass, O(1) state per partition. The 100 TB path.
  *  - [[asofComposed]]: pure DataFrame composition (union + window
  *    last-value carry-forward) — same one-shuffle structure built
  *    only from built-ins; kept as the cross-check oracle for the
  *    custom exec and as the variant that needs no strategy
  *    registration.
  */
object AsOfJoin {

  /** As-of join via the custom Catalyst operator.
    *
    * @param leftOn/rightOn  equality key columns (same count/types)
    * @param leftTsCol/rightTsCol  long-valued event-time columns
    * @param tolerance  optional max staleness (in leftTs units): a match further than
    *   this behind the left ts yields null instead (pandas
    *   merge_asof(tolerance=...) semantics)
    *
    * Output = all left columns ++ all right columns (right nullable).
    * Right-side columns are re-aliased internally so self-joins (left
    * and right derived from the same scan) resolve unambiguously.
    */
  def asof(
      left: DataFrame,
      right: DataFrame,
      leftOn: Seq[String],
      rightOn: Seq[String],
      leftTsCol: String,
      rightTsCol: String,
      tolerance: Option[Long] = None): DataFrame = {
    tolerance.foreach(t => require(t >= 0,
      s"asof: tolerance must be non-negative, got $t"))
    require(leftOn.length == rightOn.length, "key arity mismatch")
    val spark = left.sparkSession
    GraftExtensions.requireInstalled(spark, "asof")
    // fresh exprIds on the right so self-joins cannot alias-collide
    val r = right.select(right.columns.map(c => right(c).as(c)): _*)
    val lPlan = Shim.analyzed(left)
    val rPlan = Shim.analyzed(r)
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"column $n not in ${p.output.map(_.name).mkString(", ")}"))
    val lk: Seq[Expression] = leftOn.map(attr(lPlan, _))
    val rk: Seq[Expression] = rightOn.zip(lk).map { case (n, l) =>
      val a = attr(rPlan, n)
      if (a.dataType == l.dataType) a else Cast(a, l.dataType)
    }
    def ts(p: LogicalPlan, n: String): Expression = {
      val a = attr(p, n)
      if (a.dataType == LongType) a else Cast(a, LongType)
    }
    Shim.ofRows(spark,
      AsOfJoinPlan(lPlan, rPlan, lk, rk, ts(lPlan, leftTsCol),
        ts(rPlan, rightTsCol), tolerance))
  }

  /** Same semantics from built-ins only: tag and union both sides,
    * sort-window per key over (ts, side), carry the last right row
    * forward, keep left rows. One shuffle + one window sort — the
    * classic composition; used to cross-check [[asof]].
    */
  def asofComposed(
      left: DataFrame,
      right: DataFrame,
      leftOn: Seq[String],
      rightOn: Seq[String],
      leftTsCol: String,
      rightTsCol: String,
      tolerance: Option[Long] = None): DataFrame = {
    val rCols = right.columns.toSeq
    val lCols = left.columns.toSeq
    // unified schema: keys, ts, side flag, left payload, right payload
    // as ONE nullable struct (row-atomic carry — carrying columns
    // independently would mix rows when right payload contains nulls)
    val lNorm = left
      .withColumn("__ts", col(leftTsCol).cast(LongType))
      .withColumn("__side", lit(1))
      .select(Seq(col("__ts"), col("__side")) ++
        leftOn.zipWithIndex.map { case (k, i) => col(k).as(s"__k$i") } ++
        lCols.map(c => col(c).as(s"__l_$c")) :+
        lit(null).cast(org.apache.spark.sql.types.StructType(
          right.schema.fields)).as("__r"): _*)
    val rNorm = right
      .withColumn("__ts", col(rightTsCol).cast(LongType))
      .withColumn("__side", lit(0))
      .select(Seq(col("__ts"), col("__side")) ++
        rightOn.zipWithIndex.map { case (k, i) => col(k).as(s"__k$i") } ++
        lCols.map(c => lit(null).cast(left.schema(c).dataType)
          .as(s"__l_$c")) :+
        struct(rCols.map(col): _*).as("__r"): _*)
    val keys = leftOn.indices.map(i => col(s"__k$i"))
    // SQL equality: a null join key (or null timestamp) never matches
    // — AsOfJoinExec's anyNull emit guards enforce this, but window
    // PARTITIONING groups null tuples together, so without these
    // guards two null-key rows would match each other and the two
    // implementations would diverge on any corpus with null keys
    val rowValid = (keys.map(_.isNotNull) :+ col("__ts").isNotNull)
      .reduce(_ && _)
    // right rows sort before left at equal ts (side 0 < 1) → ties are
    // matches, mirroring rightTs <= leftTs
    val w = Window.partitionBy(keys: _*).orderBy(col("__ts"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carriedRaw = rNorm.where(rowValid) // invalid right: no carry supply
      .unionByName(lNorm, allowMissingColumns = false)
      .withColumn("__c", last(col("__r"), ignoreNulls = true).over(w))
      .where(col("__side") === 1)
      // invalid left rows are still EMITTED (left-outer) but unmatched
      .withColumn("__c", when(rowValid, col("__c")).otherwise(
        lit(null).cast(org.apache.spark.sql.types.StructType(
          right.schema.fields))))
    // tolerance: null the carried match when it is too stale (the
    // carried struct holds the right ts — row-atomic, so the whole
    // match nulls together, mirroring AsOfJoinExec's emit-time guard)
    val carried = tolerance match {
      case Some(tol) => carriedRaw.withColumn("__c",
        when(col("__ts") - col("__c").getField(rightTsCol)
          .cast(LongType) <= tol, col("__c"))
          .otherwise(lit(null).cast(
            org.apache.spark.sql.types.StructType(right.schema.fields))))
      case None => carriedRaw
    }
    carried.select(
      lCols.map(c => col(s"__l_$c").as(c)) ++
        rCols.map(c => col("__c").getField(c).as(c)): _*)
  }
}
