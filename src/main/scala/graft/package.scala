package object graft {
  import org.apache.spark.sql.{Column, DataFrame}
  import org.apache.spark.sql.functions.col

  /** `$"name"` column interpolator, usable without a SparkSession's
    * implicits in scope (queries here are session-agnostic). */
  implicit class ColumnInterpolator(private val sc: StringContext)
      extends AnyVal {
    def $(args: Any*): Column = col(sc.s(args: _*))
  }

  implicit class OrderedResult(private val df: DataFrame) extends AnyVal {

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
  }
}
