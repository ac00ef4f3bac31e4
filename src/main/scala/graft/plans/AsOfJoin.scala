package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, BinaryNode => LogicalBinaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** As-of join as a first-class Catalyst operator.
  *
  * The reference has no temporal joins (SURVEY §2.3: joins absent);
  * this is the Spark-native extension implemented at the preferred
  * depth for whole-operator semantics: custom `LogicalPlan` →
  * `SparkStrategy` → `SparkPlan`, registered via
  * `SparkSessionExtensions` (GraftExtensions).
  *
  * Semantics: for every left row, join the single right row with the
  * same key whose timestamp is the greatest one ≤ the left timestamp
  * (backward as-of, left-outer). Callers wanting deterministic output
  * must make the right side unique per (key, ts).
  *
  * Scale design: both children are hash-clustered on the key and
  * sorted by (key, ts) — Catalyst's EnsureRequirements inserts the
  * exchanges and sorts, so AQE, codegen'd children, and reuse all
  * apply. The merge itself is a single forward pass per partition with
  * O(1) state (one buffered right row + one candidate match): no
  * per-key buffering, no skew amplification beyond the shuffle itself,
  * works unchanged at 1000 executors on 100 TB.
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTs: Expression,
    rightTs: Expression,
    tolerance: Option[Long] = None)
  extends LogicalBinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override lazy val resolved: Boolean =
    childrenResolved && (leftKeys ++ rightKeys :+ leftTs :+ rightTs)
      .forall(_.resolved)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinPlan]] into [[AsOfJoinExec]]. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, tol) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, tol) :: Nil
    case _ => Nil
  }
}

/** Physical backward as-of join: co-partitioned merge, O(1) state.
  * `tolerance`: when set, a candidate match further than this many ts
  * units behind the left row yields null instead (pandas
  * merge_asof(tolerance=...) semantics) — the guard that stops a
  * year-old quote matching today's trade. Enforced at emit time, so
  * the merge pass and its O(1) state are unchanged. */
case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTs: Expression,
    rightTs: Expression,
    tolerance: Option[Long] = None)
  extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTs, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightTs, Ascending))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] =
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTs, Ascending)

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  protected override def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val keyTypes = leftKeys.map(_.dataType)
    val allOut = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(leftKeys, lOut)
      val rKeyProj = UnsafeProjection.create(rightKeys, rOut)
      val lTsBound = BindReferences.bindReference(leftTs, lOut)
      val rTsBound = BindReferences.bindReference(rightTs, rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      // bind against nullable right attrs: unmatched rows feed an
      // all-null row, so the projection MUST null-check those ordinals
      val resultProj = UnsafeProjection.create(allOut,
        lOut ++ rOut.map(_.withNullability(true)))
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(rOut.length)

      new Iterator[InternalRow] {
        // buffered right head (copied: sort iterators reuse row objects)
        private var rHead: InternalRow = _
        private var rHeadKey: UnsafeRow = _
        private var rHeadTs: Long = 0L
        // latest right row with ts <= current left ts, its key and ts
        private var matchRow: InternalRow = _
        private var matchKey: UnsafeRow = _
        private var matchTs: Long = 0L

        private def fetchRight(): Unit = {
          rHead = null
          while (rHead == null && rIter.hasNext) {
            val r = rIter.next()
            val k = rKeyProj(r)
            val ts = rTsBound.eval(r)
            if (!k.anyNull && ts != null) { // null key/ts never matches
              rHead = r.copy()
              rHeadKey = k.copy()
              rHeadTs = ts.asInstanceOf[Long]
            }
          }
        }
        fetchRight()

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val l = lIter.next()
          val lk = lKeyProj(l)
          val ltAny = if (lk.anyNull) null else lTsBound.eval(l)
          if (ltAny == null) { // null key or ts: no match by SQL equality
            joined(l, nullRight)
            return resultProj(joined)
          }
          val lt = ltAny.asInstanceOf[Long]
          // advance the right side to the last row at (key, ts<=lt)
          var cont = true
          while (cont && rHead != null) {
            val c = keyOrd.compare(rHeadKey, lk)
            if (c < 0) fetchRight()
            else if (c == 0 && rHeadTs <= lt) {
              matchRow = rHead // already private copies; move references
              matchKey = rHeadKey
              matchTs = rHeadTs
              fetchRight()
            } else cont = false
          }
          val ok = matchRow != null && keyOrd.compare(matchKey, lk) == 0 &&
            tolerance.forall(tol => lt - matchTs <= tol)
          joined(l, if (ok) matchRow else nullRight)
          resultProj(joined)
        }
      }
    }
  }
}
