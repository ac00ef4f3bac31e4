package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions.col

/** Bucketed parquet sink — the at-rest layout that turns the corpus's
  * dominant join/aggregation key into a physical property, so repeated
  * joins on that key run WITHOUT a shuffle.
  *
  * This is the 100 TB answer to "every join shuffles": shuffle ONCE at
  * write time (hash-partition into `nBuckets` by the key, sorted within
  * each bucket), then every subsequent join or aggregation on that key
  * co-locates by construction — Spark's scan reports the bucket
  * hash-partitioning as its outputPartitioning and EnsureRequirements
  * inserts no exchange. A fact table joined nightly against its
  * dimension on the same bucketed key amortizes the one write-time
  * shuffle across every downstream run.
  *
  * [[shuffleCount]] makes the property checkable: the q92 gate builds
  * the bucketed join and FAILS if any ShuffleExchange appears under it
  * — the plan shape is asserted, not assumed (same discipline as
  * PartitionPruningSpec for file pruning).
  *
  * Reference analog: torcharrow has no storage layout surface (it is
  * single-node, in-memory); bucketing is the Spark-native extension of
  * its dataframe model to corpus-scale persistent data.
  */
object Bucketed {

  /** Write `df` as an external bucketed parquet table: hash-partitioned
    * by `bucketCol` into `nBuckets`, sorted within buckets, ONE file
    * per bucket (the repartition aligns write tasks with buckets —
    * Spark's repartition hash and its bucket hash are the same
    * Murmur3, so task i holds exactly bucket i — which keeps the
    * per-bucket sort usable by downstream scans). Overwrites any
    * previous table of the same name. */
  def writeTable(
      spark: SparkSession,
      df: DataFrame,
      table: String,
      bucketCol: String,
      nBuckets: Int,
      baseDir: String = "/tmp/graft_bkt"): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    df.repartition(nBuckets, col(bucketCol))
      .write
      .format("parquet")
      .mode(SaveMode.Overwrite)
      .option("path", s"$baseDir/$table")
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(table)
  }

  private def nodes(df: DataFrame) =
    graft.planNodes(df.queryExecution.executedPlan)

  /** Number of shuffle exchanges in `df`'s physical plan. 0 over a
    * join = the join is co-located: no data movement beyond the scans
    * themselves. */
  def shuffleCount(df: DataFrame): Int =
    nodes(df).count(_.isInstanceOf[ShuffleExchangeLike])

  /** Raises unless `df`'s plan is a GENUINELY co-located shuffle join:
    * a SortMergeJoin/ShuffledHashJoin is present, and the plan contains
    * zero ShuffleExchange AND zero BroadcastExchange nodes. The
    * broadcast condition matters: on small inputs Spark would pick a
    * broadcast join, which has no shuffle either — but proves nothing
    * about the bucketed layout (force a merge join with `.hint("merge")`
    * before calling). Call on the JOIN frame, before any final
    * aggregation/sort (those legitimately shuffle their few output
    * rows). */
  def requireColocated(df: DataFrame, what: String): Unit = {
    val ns = nodes(df)
    val shuffles = ns.count(_.isInstanceOf[ShuffleExchangeLike])
    val broadcasts = ns.count(_.isInstanceOf[BroadcastExchangeLike])
    val shuffleJoins = ns.count(p => p.isInstanceOf[SortMergeJoinExec] ||
      p.isInstanceOf[ShuffledHashJoinExec])
    if (shuffles != 0 || broadcasts != 0 || shuffleJoins == 0)
      throw new IllegalStateException(
        s"$what: expected a co-located (zero-exchange) bucketed shuffle " +
          s"join, found shuffles=$shuffles broadcasts=$broadcasts " +
          s"shuffleJoins=$shuffleJoins:\n" +
          df.queryExecution.executedPlan.toString)
  }
}
