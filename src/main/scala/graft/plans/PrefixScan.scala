package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet,
  GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution,
  OrderedDistribution, Partitioning}
import org.apache.spark.sql.execution.{InputAdapter, SortExec, SparkPlan,
  SparkStrategy, UnaryExecNode, WholeStageCodegenExec}

/** An exact scan over a global total order: every row gets a value
  * that depends on all the rows before it in `order`.
  *
  *  - `shift = None`: `out` is the exclusive running sum of `value`, a
  *    non-null LONG column (`Math.addExact`: an overflow fails the
  *    query, it never wraps).
  *  - `shift = Some(k)`: `out` is the `value` of the row k rows
  *    earlier, null for the first k rows (SQL `lag` with no default).
  *
  * Output = the child's columns followed by `out`. The order must be
  * total (the callers end it with a unique id) for the result to be
  * deterministic.
  */
case class PrefixScan(
    order: Seq[SortOrder],
    value: Attribute,
    shift: Option[Int],
    out: Attribute,
    child: LogicalPlan)
  extends UnaryNode {

  override def output: Seq[Attribute] = child.output :+ out

  override def producedAttributes: AttributeSet = AttributeSet(out)

  override protected def withNewChildInternal(newChild: LogicalPlan): PrefixScan =
    copy(child = newChild)
}

/** Plans [[PrefixScan]] into [[PrefixScanExec]]. */
object PrefixScanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PrefixScan(order, value, shift, out, child) =>
      PrefixScanExec(order, value, shift, out, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** Physical [[PrefixScan]] over a range-partitioned, locally sorted
  * child: range partitions are disjoint and ordered, so partition
  * index order IS the global order. `doExecute` reads the child's one
  * shuffle output twice:
  *
  *  1. a job yields each partition's total (sum) or last min(k, n)
  *     values (shift); the driver folds them in partition index order
  *     into each partition's base: the sum of everything before it, or
  *     the k values that precede its first row. A sum needs no order,
  *     so it reads the input of the child's sort and skips the sort;
  *  2. `mapPartitionsWithIndex` over the sorted child walks each
  *     partition from its base.
  *
  * Both passes read the same shuffle output, so the range bounds are
  * drawn once and both see the same partitions; a partition is known by
  * its RDD index, which a downstream `coalesce` keeps. The driver holds
  * one long per partition (sum) or partitions·k values (shift); callers
  * bound both. Nothing runs until the plan executes.
  */
case class PrefixScanExec(
    order: Seq[SortOrder],
    value: Attribute,
    shift: Option[Int],
    out: Attribute,
    child: SparkPlan)
  extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ out

  override def producedAttributes: AttributeSet = AttributeSet(out)

  override def requiredChildDistribution: Seq[Distribution] =
    OrderedDistribution(order) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = order :: Nil

  override def outputPartitioning: Partitioning = child.outputPartitioning

  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override protected def withNewChildInternal(newChild: SparkPlan): PrefixScanExec =
    copy(child = newChild)

  protected override def doExecute(): RDD[InternalRow] = {
    val rows = child.execute()
    val at = child.output.indexWhere(_.exprId == value.exprId)
    val outAttrs = output
    // pass 2: partition i walks its rows from its base; `step(i)` gives
    // each row's `out`
    def walk(step: Int => InternalRow => Any): RDD[InternalRow] =
      rows.mapPartitionsWithIndex({ (i, it) =>
        val extra = new GenericInternalRow(1)
        val joined = new JoinedRow
        val proj = UnsafeProjection.create(outAttrs, outAttrs)
        val next = step(i)
        it.map { r => extra.update(0, next(r)); proj(joined(r, extra)) }
      }, preservesPartitioning = true)

    shift match {
      case None =>
        // a sum needs no order: pass 1 reads the sort's input, the same
        // partitions of the same shuffle output, and skips the sort
        val unsorted = child match {
          case WholeStageCodegenExec(SortExec(_, false, InputAdapter(in), _)) =>
            in.execute()
          case SortExec(_, false, in, _) => in.execute()
          case _ => rows
        }
        val totals = sparkContext.runJob(unsorted, (it: Iterator[InternalRow]) => {
          var s = 0L
          it.foreach(r => s = Math.addExact(s, r.getLong(at)))
          s
        })
        val bases = totals.scanLeft(0L)(Math.addExact)
        walk { i =>
          var off = bases(i)
          r => { val start = off; off = Math.addExact(off, r.getLong(at)); start }
        }
      case Some(k) =>
        val dt = value.dataType
        // sort iterators reuse their row buffers: a value kept past its
        // row must be copied out of it
        val valueAt: InternalRow => Any = r =>
          if (r.isNullAt(at)) null else InternalRow.copyValue(r.get(at, dt))
        val tails = sparkContext.runJob(rows, (it: Iterator[InternalRow]) => {
          val ring = new Array[Any](k)
          var seen = 0L
          it.foreach { r => ring((seen % k).toInt) = valueAt(r); seen += 1 }
          val kept = math.min(seen, k.toLong).toInt
          Array.tabulate(kept)(j => ring(((seen - kept + j) % k).toInt))
        })
        // the k values before partition i = the length-k suffix of the
        // tails before it (each tail keeps min(k, n) values, so a
        // shorter suffix means fewer than k rows precede)
        val carries = tails.scanLeft(Vector.empty[Any])((acc, t) =>
          (acc ++ t).takeRight(k))
        walk { i =>
          val ring = new Array[Any](k)
          var seen = 0L
          carries(i).foreach { v => ring((seen % k).toInt) = v; seen += 1 }
          r => {
            val shifted = if (seen >= k) ring(((seen - k) % k).toInt) else null
            ring((seen % k).toInt) = valueAt(r); seen += 1
            shifted
          }
        }
    }
  }
}
