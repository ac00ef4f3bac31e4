package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-12 gates past q171: dynamic partition overwrite (q172), the
  * linear-regression aggregate battery (q173), and the stream-stream
  * left-semi join (q174). Naming/oracle/float conventions as in
  * [[Queries]].
  */
object Queries15 {

  // ---- q172: dynamic partition overwrite ---------------------------------

  /** Partition-level idempotent rewrite — INSERT OVERWRITE one
    * partition without touching its siblings
    * (`partitionOverwriteMode=dynamic`): the ops pattern behind every
    * "re-run yesterday's batch" on a 100 TB date-partitioned table,
    * where STATIC overwrite mode would first TRUNCATE THE WHOLE TABLE.
    * The gate seeds a type-partitioned events copy, dynamically
    * overwrites only the `click` partition (values doubled), and
    * asserts sibling partitions kept their exact file sets (paths
    * compared, stronger than row counts) while click's files were
    * replaced. Oracle recomputes the expected final table from the
    * original events. */
  def q172DynamicOverwrite(s: SparkSession, dir: String): DataFrame = {
    val path = "/tmp/graft_formats/dynover_events"
    val ev = Tables(s, dir, "events")
      .select($"event_id", $"event_type", $"value")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)
    def files(): Map[String, Set[String]] =
      s.read.parquet(path).inputFiles.toSet
        .groupBy(f => f.split("/").find(_.startsWith("event_type="))
          .getOrElse("?"))
    val before = files()
    ev.where($"event_type" === "click")
      .withColumn("value", $"value" * 2.0)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("event_type").parquet(path)
    val after = files()
    (before.keySet - "event_type=click").foreach { p =>
      require(before(p) == after(p),
        s"q172: sibling partition $p was rewritten by the dynamic " +
          "overwrite — static-mode truncation semantics leaked")
    }
    require(before("event_type=click")
        .intersect(after("event_type=click")).isEmpty,
      "q172: click partition kept its old files — overwrite was a no-op")
    s.read.parquet(path)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
      .withColumn("siblings_ok", lit(true))
      .orderBy($"event_type")
  }

  val q172Sql: String =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(CASE WHEN event_type = 'click' THEN "value" * 2.0
      |    ELSE "value" END AS DECIMAL(25,4))) AS DOUBLE) AS sum_value,
      |  true AS siblings_ok
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q173: linear-regression aggregate battery -------------------------

  /** Per-group ordinary-least-squares aggregates — slope, intercept,
    * R², and the co-moment primitives they derive from, all one-pass
    * partial/final aggregates on the scan (the q170 shape; no per-
    * group buffers, no second pass). The full regr_* family is what a
    * feature-engineering pipeline uses for per-segment trend columns
    * at 100 TB: one shuffle of (group, moments), never the rows. */
  def q173Regression(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
    li.groupBy($"l_returnflag")
      .agg(regr_count($"l_extendedprice", $"l_quantity").as("n"),
        round(regr_slope($"l_extendedprice", $"l_quantity"), 6)
          .as("slope"),
        round(regr_intercept($"l_extendedprice", $"l_quantity"), 4)
          .as("icept"),
        round(regr_r2($"l_extendedprice", $"l_quantity"), 6).as("r2"),
        round(regr_avgx($"l_extendedprice", $"l_quantity"), 6)
          .as("avgx"),
        round(regr_avgy($"l_extendedprice", $"l_quantity"), 4)
          .as("avgy"))
      .orderBy($"l_returnflag")
  }

  val q173Sql: String =
    """SELECT l_returnflag,
      |  regr_count(l_extendedprice, l_quantity) AS n,
      |  round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
      |  round(regr_intercept(l_extendedprice, l_quantity), 4) AS icept,
      |  round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
      |  round(regr_avgx(l_extendedprice, l_quantity), 6) AS avgx,
      |  round(regr_avgy(l_extendedprice, l_quantity), 4) AS avgy
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q174: stream-stream left-semi join --------------------------------

  /** Stream-stream LEFT SEMI interval join — "clicks that converted
    * within the hour", emitting each qualifying click ONCE however
    * many purchases matched (the dedup the inner join q105 can't give
    * without a second distinct pass). Both sides are unbounded
    * streams: watermarks + the time-range condition bound the join
    * state exactly as in q105/q110; semi rows emit as soon as the
    * first match arrives. Oracle = batch EXISTS. */
  def q174StreamSemiJoin(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventsStream.streamSemiJoin(s, dir)

  val q174Sql: String =
    """SELECT c.event_id AS c_id
      |FROM events c WHERE c.event_type = 'click' AND EXISTS (
      |  SELECT 1 FROM events p
      |  WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
      |    AND epoch_us(p.ts) >= epoch_us(c.ts)
      |    AND epoch_us(p.ts) <= epoch_us(c.ts) + 3600000000)
      |ORDER BY c_id""".stripMargin

  // ---- q175: exact weighted percentiles ----------------------------------

  /** Weighted percentiles, integer-exact: lower ("type 1") weighted
    * quantile — the smallest value whose cumulative weight reaches
    * p·W — with thresholds held in INTEGER form (4·cumw ≥ k·W), so no
    * float crosses an engine boundary. The token-weighted length
    * statistic of corpus curation ("the median byte sits in a document
    * of length X"), which plain percentiles get wrong by counting
    * documents instead of tokens. Shape: one cumulative-sum window per
    * group + a broadcast totals join; at 100 TB the same contract runs
    * on the q127 range-sorted layout or a weighted sketch — the
    * per-group sort here is the exactness price, paid once. */
  def q175WeightedPercentile(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
      .select($"l_returnflag", $"l_extendedprice",
        $"l_quantity".cast(LongType).as("w"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy($"l_returnflag").orderBy($"l_extendedprice")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    // ROWS cumulative sum: ties in l_extendedprice get distinct cumw
    // values, but "min value with cumw >= threshold" lands on the same
    // value whatever the intra-tie order — deterministic either way.
    // Round 21 (guide §2.3/§2.5): aggregate to ONE row per (flag,
    // price) BEFORE the window — |returnflag| = 3, so the window
    // funnels everything into 3 tasks; partial map-side aggregation
    // shrinks both the exchange and the funnel to the distinct-price
    // spectrum. The crossing point is unchanged: with tie groups
    // collapsed, the ROWS cumsum equals the RANGE cumsum at each
    // price, and "min price whose cumw crosses T" is exactly the
    // price of the first crossing row of the un-aggregated form (the
    // tie-invariance already documented above).
    val grp = li.groupBy($"l_returnflag", $"l_extendedprice")
      .agg(sum($"w").as("w"))
    val cum = grp.withColumn("cumw", sum($"w").over(win))
    val tot = li.groupBy($"l_returnflag").agg(sum($"w").as("wtot"))
    cum.join(broadcast(tot), "l_returnflag")
      .groupBy($"l_returnflag")
      .agg(max($"wtot").as("w_total"),
        min(when($"cumw" * 4 >= $"wtot", $"l_extendedprice")).as("wp25"),
        min(when($"cumw" * 2 >= $"wtot", $"l_extendedprice")).as("wp50"),
        min(when($"cumw" * 4 >= $"wtot" * 3, $"l_extendedprice"))
          .as("wp75"))
      .orderBy($"l_returnflag")
  }

  val q175Sql: String =
    """WITH li AS (
      |  SELECT l_returnflag, l_extendedprice,
      |    CAST(l_quantity AS BIGINT) AS w
      |  FROM lineitem),
      |cum AS (
      |  SELECT *, sum(w) OVER (PARTITION BY l_returnflag
      |    ORDER BY l_extendedprice
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw
      |  FROM li),
      |tot AS (
      |  SELECT l_returnflag, sum(w) AS wtot FROM li GROUP BY 1)
      |SELECT cum.l_returnflag,
      |  CAST(max(wtot) AS BIGINT) AS w_total,
      |  min(CASE WHEN cumw * 4 >= wtot THEN l_extendedprice END) AS wp25,
      |  min(CASE WHEN cumw * 2 >= wtot THEN l_extendedprice END) AS wp50,
      |  min(CASE WHEN cumw * 4 >= wtot * 3 THEN l_extendedprice END)
      |    AS wp75
      |FROM cum JOIN tot USING (l_returnflag)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q176: pushed-down ts-range scan -----------------------------------

  /** The ts-range hot path ([[Tables.eventsRange]]): the range
    * predicate is applied at the file's NATIVE timestamp granularity
    * before the ns-normalization projection, so it reaches the parquet
    * scan as PushedFilters (row-group min/max pruning) — closing the
    * one pushdown loss the plain normalized loader documents. The gate
    * asserts the ts filter string is ON the scan node, then aggregates
    * a one-day window. At 100 TB this is the difference between
    * reading a day and reading a year. */
  def q176TsRangeScan(s: SparkSession, dir: String): DataFrame = {
    val bounds = Tables(s, dir, "events")
      .agg(min(expr("ts div 1000")).as("lo")).head()
    val fromUs = bounds.getLong(0)
    val untilUs = fromUs + 86400000000L // one day
    val ranged = Tables.eventsRange(s, dir, fromUs, untilUs)
    val scans = ranged.queryExecution.executedPlan.collectLeaves()
      .map(_.toString()).mkString("\n")
    require(scans.contains("PushedFilters: [IsNotNull(ts)") &&
      (scans.contains("GreaterThanOrEqual(ts") ||
        scans.contains("GreaterThan(ts")),
      s"q176: ts range predicate did not reach the parquet scan:\n" +
        scans.take(800))
    ranged.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
      .withColumn("pushed_ok", lit(true))
      .orderBy($"event_type")
  }

  val q176Sql: String =
    """WITH b AS (SELECT min(epoch_us(ts)) AS lo FROM events)
      |SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST("value" AS DECIMAL(25,4))) AS DOUBLE) AS sum_value,
      |  true AS pushed_ok
      |FROM events, b
      |WHERE epoch_us(ts) >= lo AND epoch_us(ts) < lo + 86400000000
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q177: streaming late-data drop witness ----------------------------

  /** See [[graft.streaming.EventsStream.lateDataDrop]]: a replayed
    * late batch must be DROPPED by the watermarked aggregation (the
    * state-bounding contract), witnessed end-to-end with an observe
    * counter proving arrival. Oracle = batch aggregate over non-late
    * rows restricted to watermark-closed windows. */
  val q177Sql: String =
    """WITH m AS (SELECT max(epoch_us(ts)) AS mx FROM events),
      |ok AS (
      |  SELECT epoch_us(ts) AS tsu, event_type FROM events, m
      |  WHERE NOT (event_id % 97 = 0
      |             AND epoch_us(ts) < mx - 10800000000)),
      |w AS (
      |  SELECT (tsu // 3600000000) * 3600000000 AS win_us, event_type
      |  FROM ok, m
      |  WHERE (tsu // 3600000000 + 1) * 3600000000 <= mx - 3600000000)
      |SELECT win_us, event_type, count(*) AS n
      |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q172_dynamic_overwrite" -> (q172DynamicOverwrite _),
    "q173_regression" -> (q173Regression _),
    "q174_stream_semi_join" -> (q174StreamSemiJoin _),
    "q175_weighted_pctl" -> (q175WeightedPercentile _),
    "q176_ts_range_scan" -> (q176TsRangeScan _),
    "q177_late_data" ->
      ((s, dir) => graft.streaming.EventsStream.lateDataDrop(s, dir))
  )

  val oracles: Map[String, String] = Map(
    "q172_dynamic_overwrite" -> q172Sql,
    "q173_regression" -> q173Sql,
    "q174_stream_semi_join" -> q174Sql,
    "q175_weighted_pctl" -> q175Sql,
    "q176_ts_range_scan" -> q176Sql,
    "q177_late_data" -> q177Sql
  )
}
