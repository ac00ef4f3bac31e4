package object graft {
  import org.apache.spark.sql.{Column, DataFrame}
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
    QueryStageExec}
  import org.apache.spark.sql.functions.col
  import org.apache.spark.sql.graftshim.Shim
  import org.apache.spark.sql.types.DoubleType

  import graft.functions.Functional

  /** `$"name"` column interpolator, usable without a SparkSession's
    * implicits in scope (queries here are session-agnostic). */
  implicit class ColumnInterpolator(private val sc: StringContext)
      extends AnyVal {
    def $(args: Any*): Column = col(sc.s(args: _*))
  }

  /** Exact distributed sum of a double column, equal bit for bit to the
    * oracle's `CAST(SUM(CAST(x AS DECIMAL(25,4))) AS DOUBLE)`.
    *
    * Each row becomes the unscaled long of its DECIMAL(25,4) cast
    * (`Functional.decimal4Unscaled`): `Double.toString(x)` rounded
    * HALF_UP to 4 places. Its fast path rounds y = |x|·10^4 as a double
    * and is exact because `Double.toString` round-trips (its decimal is
    * within ulp(x)/2 of x) and y is within ulp(y)/2 of 10^4·x: when y's
    * fraction is more than 10^4·ulp(x) + ulp(y) from one half, no
    * rounding midpoint lies between y and the scaled decimal; every
    * other x takes the exact `BigDecimal` path. The longs are summed
    * exactly, so partial-aggregation order cannot change the result, and
    * each group's total becomes a DECIMAL(38,4), with the value of the
    * oracle's decimal sum, and then a double. No row pays for a
    * `BigDecimal` cast or a BigInteger buffer update.
    *
    * Range: every |x| and every partial or final total must stay below
    * 2^63 ten-thousandths, about 9.2e14; at TPC-H prices that covers a
    * one-group `sum(l_extendedprice)` up to about sf1000. Beyond it the
    * query fails: a NaN, infinite or too-large x with an
    * `ArithmeticException` naming x, an overflowing total with Spark's
    * ARITHMETIC_OVERFLOW error, also where `spark.sql.ansi.enabled` is
    * false. The sum never wraps and never turns null; a group with no
    * non-null x gives null. */
  def dsum(c: Column): Column =
    Shim.unscaledSum(Functional.decimal4Unscaled(c), 4).cast(DoubleType)

  /** Exact percentile of `x` at p, with the value of Spark's
    * `percentile(x, p)` (continuous, linear interpolation between the
    * two closest rows: TorchArrow's `quantile(q, 'linear')`), counted in
    * a primitive double→count table (`graft.functions.DoubleCounts`)
    * instead of Spark's boxed map. A group with no non-null x gives null.
    *
    * x must be a double, float or integral column; an integral x is
    * exact up to 2^53, where doubles stop holding every integer. A
    * decimal x is rejected: use Spark's `percentile` there. As in
    * Spark, -0.0 and 0.0 are distinct keys that compare equal, and NaN
    * sorts above +Inf. Memory grows with the distinct values per group. */
  def exactPercentile(x: Column, p: Double): Column =
    Shim.exactPercentile(x, checkedPercentages(Seq(p)), array = false)

  /** `exactPercentile` at each of ps, from one table per group: an
    * ARRAY<DOUBLE NOT NULL> in the order of ps. */
  def exactPercentiles(x: Column, ps: Seq[Double]): Column =
    Shim.exactPercentile(x, checkedPercentages(ps), array = true)

  private def checkedPercentages(ps: Seq[Double]): Seq[Double] = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      s"percentages must lie in [0, 1], got ${ps.mkString(", ")}")
    ps
  }

  /** The message of `e`'s innermost cause: what a failed gate reports,
    * rather than the job-abort and task-failure wrappers around it. */
  def innermostMessage(e: Throwable): String = {
    var c = e
    while (c.getCause != null && (c.getCause ne c)) c = c.getCause
    Option(c.getMessage).getOrElse(c.getClass.getName)
  }

  /** `s` as an ASCII JSON string literal. Escapes backslash, quote,
    * every control character (< 0x20): a tab or CR left raw in an
    * oracle's SQL or an error message would make a strict JSON parser
    * reject the whole document. Escapes every non-ASCII character too:
    * a JVM whose stdout is not UTF-8 prints it as `?`. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' || c > '~' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

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

    /** The rows and row order of `orderBy(keys: _*)`, sorted in one
      * task behind a one-partition shuffle instead of range-partitioned.
      * A global sort's range partitioner first runs a sampling job that
      * recomputes everything since the last shuffle; this runs none.
      *
      * Use it only where the result is at most a few narrow rows per
      * input row, produced by a per-row kernel that costs ≥ 100× a sort
      * comparison (the perfbench `kernels.*.ns_per_row`: dhash64
      * ~18 µs, videoFrameHashes ~54 µs, repetitionSignals ~34 µs). The
      * one-partition shuffle keeps the kernel's stage parallel; the
      * sampler's second pass over the kernel would cost more than the
      * one-task sort at any scale, and a one-task sort that outgrows
      * memory spills rather than failing.
      *
      * A global `orderBy` over a grouped aggregate needs no helper: the
      * AQE rule [[graft.plans.OneTaskSort]] merges and sorts it in one
      * task when the aggregate's measured size is small, and keeps the
      * range sort when it is not. A cheap frame with one row per input
      * row meets neither: keep `orderBy` there. */
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
