package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, Cast, Expression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.LongType

import graft.plans.AsOfJoinPlan

/** Backward as-of join (latest right row with rightTs ≤ leftTs per
  * key), left-outer: the custom Catalyst operator AsOfJoinPlan →
  * AsOfJoinStrategy → AsOfJoinExec (`plans/AsOfJoin.scala`), one
  * co-partitioned merge pass with O(1) state per partition. The
  * strategy and its two optimizer rules come from [[GraftExtensions]].
  * AsOfJoinSpec and PropertySpec check it against a brute-force
  * reference fold.
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
}
