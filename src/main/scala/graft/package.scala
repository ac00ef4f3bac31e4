package object graft {
  import org.apache.spark.sql.{Column, DataFrame}
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
    QueryStageExec}
  import org.apache.spark.sql.functions.{col, sum}
  import org.apache.spark.sql.types.{DecimalType, DoubleType}

  /** `$"name"` column interpolator, usable without a SparkSession's
    * implicits in scope (queries here are session-agnostic). */
  implicit class ColumnInterpolator(private val sc: StringContext)
      extends AnyVal {
    def $(args: Any*): Column = col(sc.s(args: _*))
  }

  /** Exact distributed sum of a double column: cast to decimal before
    * aggregation so partial-agg order cannot change the result. The
    * oracle side writes the same sum as
    * `CAST(SUM(CAST(x AS DECIMAL(25,4))) AS DOUBLE)`. */
  def dsum(c: Column): Column =
    sum(c.cast(DecimalType(25, 4))).cast(DoubleType)

  /** Every node of a physical plan, this one first. Descends through
    * AQE's wrapper (its current plan) and through every finished query
    * stage, which AQE makes a leaf: a plain `collect` stops at stage
    * boundaries once the plan has run, and reads an executed plan as
    * having no exchanges or scans below its stages. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => q +: planNodes(q.plan)
    case _ => p +: p.children.flatMap(planNodes)
  }

  implicit class PartitionLayout(private val df: DataFrame) extends AnyVal {

    /** The rows and row order of `orderBy(keys: _*)`, sorted in one task
      * behind a one-partition shuffle instead of range-partitioned. A
      * global sort's range partitioner first runs a sampling job that
      * recomputes everything since the last shuffle; this runs none. The
      * shuffle (not `coalesce(1)`) keeps the upstream parallel.
      *
      * Use it only where the result is either
      *  (a) bounded by construction, whatever the data size; or
      *  (b) at most a few narrow rows per input row, produced by a
      *      per-row kernel that costs ≥ 100× a sort comparison (the
      *      perfbench `kernels.*.ns_per_row`: dhash64 ~18 µs,
      *      videoFrameHashes ~54 µs, repetitionSignals ~34 µs).
      * Under (b) the sampler's second pass over the kernel costs more
      * than the one-task sort at any scale, and a one-task sort that
      * outgrows memory spills rather than failing. A cheap aggregate
      * with one row per key meets neither: keep `orderBy` there. */
    def orderByInOnePartition(keys: Column*): DataFrame =
      df.repartition(1).sortWithinPartitions(keys: _*)

    /** The same rows dealt round-robin over one partition per core of
      * the session (`defaultParallelism`; AQE does not coalesce an
      * explicit partition count). A small input file is one row group
      * and so one scan task; without this, every per-row kernel fused
      * into that scan's stage runs on one core.
      *
      * Use it only on the narrowest projection of what the next step
      * needs (the shuffle writes every column it is given), and only
      * right before either
      *  (a) a per-row kernel or synth UDF of at least about 10 µs per
      *      row, where one round-robin pass is cheaper than the serial
      *      kernel time it spreads; or
      *  (b) a nested-loop join over a bounded input, whose streamed
      *      side then runs one task per core.
      * The spread is one more exchange and job per gate, a fixed cost
      * that only enough rows repay: on a 4-core host q289 reads about
      * 0.02 s slower spread over 500 documents and about 30% faster
      * over 5 000. */
    def spreadOverCores: DataFrame =
      df.repartition(df.sparkSession.sparkContext.defaultParallelism)
  }
}
