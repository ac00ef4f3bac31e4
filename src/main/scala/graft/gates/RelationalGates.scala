package graft

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.frame.{TFrame, TGrouped}
import graft.frame.namespaces._
import graft.functions.Functional
import graft.operators.{AsOfJoin, GroupTopK, Packing, Salting, Sketches, Skew,
  TextAnalysis}
import graft.streaming.EventsStream

/** Relational gates over the star schema and the events log: filters,
  * joins, aggregates, windows, sorts, sketches, the TFrame surface and
  * Spark SQL's own surface (grouping sets, subqueries, collations,
  * pipe syntax).
  */
object RelationalGates extends GateFamily("relational") {

  lazy val gates: Seq[Gate] = Seq(
    Gate("q01_groupby_agg", q01GroupbyAgg, Some(q01Sql)),
    Gate("q02_filter_project", q02FilterProject, Some(q02Sql)),
    Gate("q03_join_agg", q03JoinAgg, Some(q03Sql)),
    Gate("q04_topk", q04TopK, Some(q04Sql)),
    Gate("q05_distinct", q05Distinct, Some(q05Sql)),
    Gate("q06_isin", q06Isin, Some(q06Sql)),
    Gate("q07_null_clean", q07NullClean, Some(q07Sql)),
    Gate("q08_sort", q08Sort, Some(q08Sql)),
    Gate("q09_cumsum", q09Cumsum, Some(q09Sql)),
    Gate("q10_describe", q10Describe, Some(q10Sql)),
    Gate("q11_window_rank", q11WindowRank, Some(q11Sql)),
    Gate("q12_concat", q12Concat, Some(q12Sql)),
    Gate("q13_events_window", q13EventsWindow, Some(q13Sql)),
    Gate("q14_agg_forms", q14AggForms, Some(q14Sql)),
    Gate("q15_sessionize", q15Sessionize, Some(q15Sql)),
    Gate("q16_highcard_agg", q16HighcardAgg, Some(q16Sql)),
    Gate("q19_approx_sketch", q19ApproxSketch, Some(q19Sql)),
    Gate("q20_median", q20Median, Some(q20Sql)),
    Gate("q21_tframe_pipeline", q21TframePipeline, Some(q21Sql)),
    Gate("q22_tframe_clean", q22TframeClean, Some(q22Sql)),
    Gate("q23_stateful_sessions", q23StatefulSessions, Some(q23Sql)),
    Gate("q24_asof_join", q24AsofJoin, Some(q24Sql)),
    Gate("q25_rollup", q25Rollup, Some(q25Sql)),
    Gate("q26_range_join", q26RangeJoin, Some(q26Sql)),
    Gate("q27_rolling", q27Rolling, Some(q27Sql)),
    Gate("q28_percentiles", q28Percentiles, Some(q28Sql)),
    Gate("q29_udf_map", q29UdfMap, Some(q29Sql)),
    Gate("q35_bool_agg", q35BoolAgg, Some(q35Sql)),
    Gate("q38_arith_semantics", q38ArithSemantics, Some(q38Sql)),
    Gate("q39_mode", q39Mode, Some(q39Sql)),
    Gate("q45_flatmap", q45Flatmap, Some(q45Sql)),
    Gate("q46_grouped_select", q46GroupedSelect, Some(q46Sql)),
    Gate("q48_set_ops", q48SetOps, Some(q48Sql)),
    Gate("q53_cumulatives", q53Cumulatives, Some(q53Sql)),
    Gate("q54_isin_forms", q54IsinForms, Some(q54Sql)),
    Gate("q55_reduce", q55Reduce, Some(q55Sql),
      eager = Some("driver fold over a 3-row aggregate (reduceCol)")),
    Gate("q67_map_ops", q67MapOps, Some(q67Sql)),
    Gate("q72_tframe_surface", q72TframeSurface, Some(q72Sql),
      eager = Some("is_unique / is_monotonic driver checks on nation")),
    Gate("q73_describe_forms", q73DescribeForms, Some(q73Sql),
      eager = Some("describe() pulls its summary rows to the driver")),
    Gate("q74_grouped_col_rand", q74GroupedColRand, Some(q74Sql)),
    Gate("q75_iter_groups", q75IterGroups, Some(q75Sql),
      eager = Some("driver iteration over at most 16 nation groups")),
    Gate("q99_salted_join", q99SaltedJoin, Some(q99Sql)),
    Gate("q104_frame_arith", q104FrameArith, Some(q104Sql)),
    Gate("q114_sketch_distinct", q114SketchDistinct, Some(q114Sql),
      eager = Some("driver pull of sketch error for its bound check")),
    Gate("q115_bloom_semijoin", q115BloomSemijoin, Some(q115Sql),
      eager = Some("driver-built Bloom filter, counts for its check")),
    Gate("q118_session_window", q118SessionWindow, Some(q118Sql)),
    Gate("q120_pivot_unpivot", q120PivotUnpivot, Some(q120Sql)),
    Gate("q121_cube", q121Cube, Some(q121Sql)),
    Gate("q122_quantile_sketch", q122QuantileSketch, Some(q122Sql)),
    Gate("q123_heavy_hitters", q123HeavyHitters, Some(q123Sql),
      eager = Some("caches counts, driver pull of the heavy keys")),
    Gate("q124_group_sample", q124GroupSample, Some(q124Sql)),
    Gate("q126_observe_metrics", q126ObserveMetrics, Some(q126Sql),
      eager = Some("runs once to read its Observation metrics")),
    Gate("q128_window_suite", q128WindowSuite, Some(q128Sql)),
    Gate("q132_star_join", q132StarJoin, Some(q132Sql)),
    Gate("q133_dynamic_pruning", q133DynamicPruning, Some(q133Sql),
      eager = Some("writes a partitioned copy, runs the pruned join")),
    Gate("q134_aqe_skew_join", q134AqeSkewJoin, Some(q134Sql),
      eager = Some("runs the skewed join to check AQE split it")),
    Gate("q137_join_hints", q137JoinHints, Some(q137Sql),
      eager = Some("runs each hinted join to check its strategy")),
    Gate("q139_sql_api", q139SqlApi, Some(q139Sql)),
    Gate("q141_resample_gapfill", q141ResampleGapfill, Some(q141Sql),
      eager = Some("driver pull of the bin range")),
    Gate("q142_cache_reuse", q142CacheReuse, Some(q142Sql),
      eager = Some("persists and materializes the cached projection")),
    Gate("q143_outer_join", q143OuterJoin, Some(q143Sql)),
    Gate("q144_explode_forms", q144ExplodeForms, Some(q144Sql)),
    Gate("q149_funnel", q149Funnel, Some(q149Sql)),
    Gate("q150_cohort", q150Cohort, Some(q150Sql)),
    Gate("q153_date_battery", q153DateBattery, Some(q153Sql)),
    Gate("q158_json_ops", q158JsonOps, Some(q158Sql)),
    Gate("q159_transitions", q159Transitions, Some(q159Sql)),
    Gate("q161_join_semantics", q161JoinSemantics, Some(q161Sql),
      eager = Some("semi/anti join counts for its check")),
    Gate("q162_agg_pushdown", q162AggPushdown, Some(q162Sql),
      eager = Some("driver pull of the pushed-down aggregate")),
    Gate("q163_scd2", q163Scd2, Some(q163Sql)),
    Gate("q167_sketch_cube", q167SketchCube, Some(q167Sql),
      eager = Some("driver pull of the sketch cells for its check")),
    Gate("q169_cube", q169Cube, Some(q169Sql)),
    Gate("q171_nearest_join", q171NearestJoin, Some(q171Sql)),
    Gate("q179_range_frame", q179RangeFrame, Some(q179Sql)),
    Gate("q180_cbo_stats", q180CboStats, Some(q180Sql),
      eager = Some("writes a staged table and reads its statistics")),
    Gate("q183_nested_structs", q183NestedStructs, Some(q183Sql)),
    Gate("q184_map_hof", q184MapHof, Some(q184Sql)),
    Gate("q191_merge_upsert", q191MergeUpsert, Some(q191Sql),
      eager = Some("driver pull of the maximum order key")),
    Gate("q192_cogroup", q192Cogroup, Some(q192Sql)),
    Gate("q193_array_battery", q193ArrayBattery, Some(q193Sql)),
    Gate("q195_asof_tolerance", q195AsofTolerance, Some(q195Sql),
      eager = Some("runs both as-of joins to count their differences")),
    Gate("q196_try_battery", q196TryBattery, Some(q196Sql)),
    Gate("q198_subquery_battery", q198SubqueryBattery, Some(q198Sql)),
    Gate("q199_tpch_q5", q199TpchQ5, Some(q199Sql)),
    Gate("q203_session_extract", q203SessionExtract, Some(q203Sql)),
    Gate("q205_grouping_sets", q205GroupingSets, Some(q205Sql)),
    Gate("q206_theta_join", q206ThetaJoin, Some(q206Sql)),
    Gate("q207_aqe_coalesce", q207AqeCoalesce, Some(q207Sql),
      eager = Some("runs the aggregate to check AQE coalesced it")),
    Gate("q208_global_ids", q208GlobalIds, Some(q208Sql),
      eager = Some("checkpointed ids, counts for its uniqueness check")),
    Gate("q212_hopping_window", q212HoppingWindow, Some(q212Sql)),
    Gate("q213_bitmap_distinct", q213BitmapDistinct, Some(q213Sql),
      eager = Some("driver pull of exact distinct counts for its check")),
    Gate("q218_window_group_limit", q218WindowGroupLimit, Some(q218Sql)),
    Gate("q219_offset_pagination", q219OffsetPagination, Some(q219Sql),
      eager = Some("driver pull of two 100-row pages for its check")),
    Gate("q222_group_by_all", q222GroupByAll, Some(q222Sql)),
    Gate("q224_scd2", q224Scd2, Some(q224Sql)),
    Gate("q226_dq_report", q226DqReport, Some(q226Sql)),
    Gate("q231_collation", q231Collation, Some(q231Sql)),
    Gate("q232_listagg", q232Listagg, Some(q232Sql)),
    Gate("q233_approx_top_k", q233ApproxTopK, Some(q233Sql)),
    Gate("q234_observe", q234Observe, Some(q234Sql),
      eager = Some("runs once to read its Observation metrics")),
    Gate("q235_time_type", q235TimeType, Some(q235Sql)),
    Gate("q236_aes_roundtrip", q236AesRoundtrip, Some(q236Sql)),
    Gate("q237_incremental_rollup", q237IncrementalRollup, Some(q237Sql),
      eager = Some("writes and re-reads staged rollup increments")),
    Gate("q239_bit_aggs", q239BitAggs, Some(q239Sql)),
    Gate("q242_timezones", q242Timezones, Some(q242Sql)),
    Gate("q243_encoding", q243Encoding, Some(q243Sql)),
    Gate("q245_warehouse_capstone", q245WarehouseCapstone, Some(q245Sql)),
    Gate("q246_pipe_syntax", q246PipeSyntax, Some(q246Sql)),
    Gate("q260_global_cumsum", q260GlobalCumsum, Some(q260Sql),
      eager = Some("driver pull of per-partition sums for offsets")),
    Gate("q268_global_rank", q268GlobalRank, Some(q268Sql),
      eager = Some("driver pull of per-partition counts for exact global order")),
    Gate("q269_money_cumsum", q269MoneyCumsum, Some(q269Sql),
      eager = Some("driver pull of per-partition counts for exact global order")),
    Gate("q272_rank_family", q272RankFamily, Some(q272Sql),
      eager = Some("driver pull of per-partition counts for exact global order")),
    Gate("q273_signed_balance", q273SignedBalance, Some(q273Sql),
      eager = Some("driver pull of per-partition counts for exact global order")),
    Gate("q274_ntile", q274Ntile, Some(q274Sql),
      eager = Some("driver pull of per-partition counts for exact global order")),
    Gate("q275_percent_rank", q275PercentRank, Some(q275Sql),
      eager = Some("driver pull of per-partition counts for exact global order")),
    Gate("q276_lag_lead", q276LagLead, Some(q276Sql),
      eager = Some("driver pull of per-partition counts for exact global order")),
    Gate("q277_rolling_sum", q277RollingSum, Some(q277Sql),
      eager = Some("driver pull of per-partition counts for exact global order"))
  )

  private val DSUM = "CAST(SUM(CAST(%s AS DECIMAL(25,4))) AS DOUBLE)"

  // ---- §2.4 grouped aggregation (flagship) ----------------------------

  def q01GroupbyAgg(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        dsum($"l_quantity").as("sum_qty"),
        dsum($"l_extendedprice").as("sum_base_price"),
        dsum($"l_extendedprice" * (lit(1.0) - $"l_discount"))
          .as("sum_disc_price"),
        round(avg($"l_quantity"), 4).as("avg_qty"),
        count(lit(1)).as("count_order"))
      // (a) at most 6 (returnflag, linestatus) pairs
      .orderByInOnePartition($"l_returnflag", $"l_linestatus")

  val q01Sql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |${DSUM.format("l_quantity")} AS sum_qty,
       |${DSUM.format("l_extendedprice")} AS sum_base_price,
       |${DSUM.format("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
       |ROUND(AVG(l_quantity), 4) AS avg_qty,
       |COUNT(*) AS count_order
       |FROM lineitem GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---- §2.2 projection + filter (where/select with computed column) ---

  def q02FilterProject(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .where($"l_quantity" < 24 && $"l_discount" > 0.02)
      .select($"l_orderkey", $"l_linenumber", $"l_quantity",
        ($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("disc_price"))
      .orderBy($"l_orderkey", $"l_linenumber")

  val q02Sql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity,
      |l_extendedprice * (1.0 - l_discount) AS disc_price
      |FROM lineitem WHERE l_quantity < 24 AND l_discount > 0.02
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---- §2.3 join (declared surface; broadcast the dimensions) ---------

  def q03JoinAgg(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables(s, dir, "orders")
    val customer = Tables(s, dir, "customer")
    val nation = Tables(s, dir, "nation")
    val region = Tables(s, dir, "region")
    orders
      .join(broadcast(customer), $"o_custkey" === $"c_custkey")
      .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", $"n_name")
      .agg(dsum($"o_totalprice").as("revenue"), count(lit(1)).as("n_orders"))
      // (a) at most 25 nations
      .orderByInOnePartition($"r_name", $"n_name")
  }

  val q03Sql: String =
    s"""SELECT r_name, n_name, ${DSUM.format("o_totalprice")} AS revenue,
       |COUNT(*) AS n_orders
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin

  // ---- §2.6 sort + limit (top-k) --------------------------------------

  def q04TopK(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
      .limit(10)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")

  val q04Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin

  // ---- §2.7 distinct --------------------------------------------------

  def q05Distinct(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .select($"l_returnflag", $"l_linestatus")
      .distinct()
      .orderBy($"l_returnflag", $"l_linestatus")

  val q05Sql: String =
    """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---- §2.7 isin ------------------------------------------------------

  def q06Isin(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "customer")
      .where($"c_mktsegment".isin("BUILDING", "MACHINERY"))
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_cust"), dsum($"c_acctbal").as("sum_bal"))
      .orderBy($"c_mktsegment")

  val q06Sql: String =
    s"""SELECT c_mktsegment, COUNT(*) AS n_cust,
       |${DSUM.format("c_acctbal")} AS sum_bal
       |FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
       |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ---- §2.8 null handling: fill_null / drop_null ----------------------

  def q07NullClean(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .select($"l_orderkey", $"l_linenumber",
        coalesce(nullif($"l_discount", lit(0.0)), lit(-1.0)).as("disc_filled"))
      .where(nullif($"l_tax", lit(0.0)).isNotNull)
      .orderBy($"l_orderkey", $"l_linenumber")

  val q07Sql: String =
    """SELECT l_orderkey, l_linenumber,
      |COALESCE(NULLIF(l_discount, 0.0), -1.0) AS disc_filled
      |FROM lineitem WHERE NULLIF(l_tax, 0.0) IS NOT NULL
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---- §2.6 multi-key sort w/ mixed direction -------------------------

  def q08Sort(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "part")
      .where($"p_size" <= 15)
      .select($"p_partkey", $"p_brand", $"p_size", $"p_retailprice")
      .orderBy($"p_brand".asc, $"p_retailprice".desc, $"p_partkey".asc)
      .limit(100)

  val q08Sql: String =
    """SELECT p_partkey, p_brand, p_size, p_retailprice FROM part
      |WHERE p_size <= 15
      |ORDER BY p_brand ASC, p_retailprice DESC, p_partkey ASC
      |LIMIT 100""".stripMargin

  // ---- §2.4 cumulative ops (window running sum) -----------------------

  def q09Cumsum(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate", $"o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(s, dir, "orders")
      .select($"o_custkey", $"o_orderkey",
        sum($"o_totalprice".cast(DecimalType(25, 4))).over(w)
          .cast(DoubleType).as("running_spend"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  val q09Sql: String =
    """SELECT o_custkey, o_orderkey,
      |CAST(SUM(CAST(o_totalprice AS DECIMAL(25,4))) OVER (
      |  PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |  AS running_spend
      |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin

  // ---- §2.4 describe (column-level reductions) ------------------------

  def q10Describe(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem").agg(
      count($"l_quantity").as("qty_count"),
      round(avg($"l_quantity"), 4).as("qty_mean"),
      round(stddev_samp($"l_quantity"), 2).as("qty_std"),
      min($"l_quantity").as("qty_min"),
      max($"l_quantity").as("qty_max"),
      round(avg($"l_extendedprice"), 4).as("price_mean"),
      round(stddev_samp($"l_extendedprice"), 2).as("price_std"))

  val q10Sql: String =
    """SELECT COUNT(l_quantity) AS qty_count,
      |ROUND(AVG(l_quantity), 4) AS qty_mean,
      |ROUND(STDDEV_SAMP(l_quantity), 2) AS qty_std,
      |MIN(l_quantity) AS qty_min, MAX(l_quantity) AS qty_max,
      |ROUND(AVG(l_extendedprice), 4) AS price_mean,
      |ROUND(STDDEV_SAMP(l_extendedprice), 2) AS price_std
      |FROM lineitem""".stripMargin

  // ---- §2.5-analog window ranking ------------------------------------

  def q11WindowRank(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
    Tables(s, dir, "orders")
      .select($"o_custkey", $"o_orderkey", $"o_totalprice",
        row_number().over(w).as("rn"))
      .where($"rn" <= 3)
      .orderBy($"o_custkey", $"rn")
  }

  val q11Sql: String =
    """SELECT * FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |  ROW_NUMBER() OVER (PARTITION BY o_custkey
      |    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      |  FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin

  // ---- §2.1 concat (union-all) ----------------------------------------

  def q12Concat(s: SparkSession, dir: String): DataFrame = {
    val a = Tables(s, dir, "lineitem").where($"l_returnflag" === "A")
      .select($"l_orderkey".as("k"))
    val b = Tables(s, dir, "orders").where($"o_orderstatus" === "F")
      .select($"o_orderkey".as("k"))
    a.unionAll(b).groupBy($"k").agg(count(lit(1)).as("n")).orderBy($"k")
  }

  val q12Sql: String =
    """SELECT k, COUNT(*) AS n FROM (
      |  SELECT l_orderkey AS k FROM lineitem WHERE l_returnflag = 'A'
      |  UNION ALL
      |  SELECT o_orderkey AS k FROM orders WHERE o_orderstatus = 'F')
      |GROUP BY k ORDER BY k""".stripMargin

  // ---- events: tumbling-window batch aggregation ----------------------

  /** events.ts is parquet TIMESTAMP(NANOS) which Spark surfaces as a
    * nanosecond long (spark.sql.legacy.parquet.nanosAsLong=true, set in
    * Verify/Bench/GraftSession); hour-bucketing is integer arithmetic. */
  def q13EventsWindow(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .groupBy((expr("ts div 3600000000000") * lit(3600L)).as("bucket_ts"),
        $"event_type")
      .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
      .orderBy($"bucket_ts", $"event_type")

  val q13Sql: String =
    s"""SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS bucket_ts,
       |event_type, COUNT(*) AS n, ${DSUM.format("value")} AS sum_value
       |FROM events GROUP BY 1, 2 ORDER BY bucket_ts, event_type""".stripMargin

  // ---- §2.4 agg forms: multiple ops per column + nunique --------------

  def q14AggForms(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(
        min($"l_quantity").as("qty_min"),
        max($"l_quantity").as("qty_max"),
        dsum($"l_quantity").as("qty_sum"),
        countDistinct($"l_partkey").as("partkey_nunique"),
        count(lit(1)).as("size"))
      .orderBy($"l_returnflag")

  val q14Sql: String =
    s"""SELECT l_returnflag, MIN(l_quantity) AS qty_min,
       |MAX(l_quantity) AS qty_max, ${DSUM.format("l_quantity")} AS qty_sum,
       |COUNT(DISTINCT l_partkey) AS partkey_nunique, COUNT(*) AS size
       |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---- sessionization (window lag over event time) --------------------

  def q15Sessionize(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables(s, dir, "events")
      .withColumn("new_session",
        when($"ts" - lag($"ts", 1).over(w) > 1800000000000L, 1).otherwise(0))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        (sum($"new_session") + 1).cast(LongType).as("n_sessions"))
      .orderBy($"user_id")
  }

  val q15Sql: String =
    """SELECT user_id, COUNT(*) AS n_events,
      |CAST(1 + SUM(new_session) AS BIGINT) AS n_sessions FROM (
      |  SELECT user_id, CASE WHEN epoch_ns(ts) - LAG(epoch_ns(ts)) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id) > 1800000000000
      |    THEN 1 ELSE 0 END AS new_session
      |  FROM events)
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---- high-cardinality aggregation (shuffle-heavy scale probe) -------

  def q16HighcardAgg(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .groupBy($"l_partkey")
      .agg(count(lit(1)).as("n"),
        dsum($"l_quantity").as("qty_sum"),
        max($"l_extendedprice").as("price_max"))
      .orderBy($"l_partkey")

  val q16Sql: String =
    """SELECT l_partkey, COUNT(*) AS n,
      |CAST(SUM(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) AS qty_sum,
      |MAX(l_extendedprice) AS price_max
      |FROM lineitem GROUP BY l_partkey ORDER BY l_partkey""".stripMargin

  /** maps namespace over JSON-parsed props (§2.12): from_json → map →
    * element_at, grouped. */
  def q67MapOps(s: SparkSession, dir: String): DataFrame = {
    val k = element_at(
      from_json($"props", MapType(StringType, LongType)), "k")
    Tables(s, dir, "events")
      .select((k.cast(LongType)).as("k"))
      .groupBy(expr("k div 10").as("kb"))
      .agg(count(lit(1)).as("n"), sum($"k").cast(LongType).as("sum_k"))
      .orderBy($"kb")
  }

  val q67Sql: String =
    """SELECT CAST(props->>'k' AS BIGINT) // 10 AS kb, COUNT(*) AS n,
      |CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k
      |FROM events GROUP BY 1 ORDER BY kb""".stripMargin

  /** q01 re-expressed through the TFrame API end-to-end: proves the
    * pandas-style surface (where → select computed → groupby → agg
    * dict form → rename → sort) against the same DuckDB oracle. */
  def q21TframePipeline(s: SparkSession, dir: String): DataFrame = {
    import graft.frame.TFrame
    val li = TFrame(Tables(s, dir, "lineitem"))
    li.where(li("l_quantity") < 24)
      .select("l_returnflag", "l_quantity")(
        "disc_price" -> (li("l_extendedprice") * (lit(1.0) - li("l_discount")))
          .cast(DecimalType(25, 4)))
      .groupby("l_returnflag")
      .agg(Map("l_quantity" -> Seq("sum", "mean"),
        "disc_price" -> Seq("sum")))
      .pipe(f => TFrame(f.df.select(
        f("l_returnflag"),
        f.df("`l_quantity.sum`").cast(DecimalType(25, 4)).cast(DoubleType)
          .as("qty_sum"),
        round(f.df("`l_quantity.mean`"), 4).as("qty_mean"),
        f.df("`disc_price.sum`").cast(DoubleType).as("disc_sum"))))
      .sort(Seq("l_returnflag"))
      .df
  }

  val q21Sql: String =
    """SELECT l_returnflag,
      |CAST(SUM(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) AS qty_sum,
      |ROUND(AVG(l_quantity), 4) AS qty_mean,
      |CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |  AS DECIMAL(25,4))) AS DOUBLE) AS disc_sum
      |FROM lineitem WHERE l_quantity < 24
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Cleaning pipeline through TFrame: dedup keep-first + fillNull +
    * sort, oracle-checked. */
  def q22TframeClean(s: SparkSession, dir: String): DataFrame = {
    import graft.frame.TFrame
    val o = TFrame(Tables(s, dir, "orders"))
    o.dropDuplicates(Seq("o_custkey"), order = Seq("o_orderkey"))
      .select("o_custkey", "o_orderkey")(
        "status_filled" -> coalesce(nullif(o("o_orderstatus"), lit("O")),
          lit("OPEN")))
      .sort(Seq("o_custkey"))
      .df
  }

  val q22Sql: String =
    """SELECT o_custkey, o_orderkey,
      |COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status_filled
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderkey) AS rn FROM orders)
      |WHERE rn = 1 ORDER BY o_custkey""".stripMargin

  /** Sessionization re-expressed through mapGroupsWithState (stateful-
    * operator path); same oracle as the window-lag q15. */
  def q23StatefulSessions(s: SparkSession, dir: String): DataFrame =
    EventsStream.sessionizeStateful(s, dir, gapMinutes = 30)
      .orderBy($"user_id")

  val q23Sql: String = q15Sql

  /** Grouped exact median (continuous interpolation in both engines). */
  def q20Median(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(median($"l_quantity").as("qty_median"),
        count(lit(1)).as("n"))
      .orderBy($"l_returnflag")

  val q20Sql: String =
    """SELECT l_returnflag, MEDIAN(l_quantity) AS qty_median, COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Approximate sketches: HLL distinct + approx quantiles. Sketch
    * values are engine-specific by construction, so (round-13 change,
    * ending this gate's `no_oracle` status) the VERIFY output carries
    * what DuckDB can restate — exact_parts and n — while the sketch
    * bound checks stay in-gate: sketch_ok raises unless every sketch
    * lands inside its published error bound (HLL rsd 0.05 → 15%
    * generous bound; percentile_approx accuracy 1000 → rank error
    * 0.001, checked against exact ±0.015-rank brackets). The exact
    * countDistinct + 4-point exact percentile cost ~7× the sketches
    * themselves, so the bench (graft.sketch.selfcheck=false, set only
    * by Bench) runs the sketch-only plan — the thing whose cost is
    * the point. */
  def q19ApproxSketch(s: SparkSession, dir: String): DataFrame = {
    val selfCheck =
      s.conf.get("graft.sketch.selfcheck", "true").toBoolean
    val sketches = Tables(s, dir, "lineitem").groupBy($"l_returnflag")
    if (!selfCheck)
      sketches.agg(
        approx_count_distinct($"l_partkey").as("approx_parts"),
        percentile_approx($"l_extendedprice", lit(0.5), lit(1000))
          .as("p50_price"),
        percentile_approx($"l_extendedprice", lit(0.99), lit(1000))
          .as("p99_price"))
        .select($"l_returnflag", $"approx_parts", $"p50_price",
          $"p99_price",
          // the caveat is IN the schema: in bench mode the bound-check
          // does not run, and the column name says so — a consumer
          // cannot mistake this for the verified sketch_ok the gate
          // (Verify, selfcheck=true) emits.
          lit(true).as("sketch_unchecked"))
        .orderBy($"l_returnflag")
    else sketches
      .agg(
        approx_count_distinct($"l_partkey").as("__approx_parts"),
        percentile_approx($"l_extendedprice", lit(0.5), lit(1000))
          .as("__p50"),
        percentile_approx($"l_extendedprice", lit(0.99), lit(1000))
          .as("__p99"),
        countDistinct($"l_partkey").as("exact_parts"),
        count(lit(1)).as("n"),
        percentile($"l_extendedprice",
          array(lit(0.485), lit(0.515), lit(0.975), lit(0.9999)))
          .as("__pb"))
      .select($"l_returnflag", $"exact_parts", $"n",
        when(
          abs($"__approx_parts" - $"exact_parts").cast(DoubleType) /
            $"exact_parts" <= 0.15 &&
          $"__p50".between(element_at($"__pb", 1), element_at($"__pb", 2)) &&
          $"__p99".between(element_at($"__pb", 3), element_at($"__pb", 4)),
          lit(true))
          .otherwise(raise_error(lit(
            "q19: sketch outside its error bound vs exact"))).as("sketch_ok"))
      .orderBy($"l_returnflag")
  }

  val q19Sql: String =
    """SELECT l_returnflag,
      |  count(DISTINCT l_partkey) AS exact_parts,
      |  count(*) AS n, true AS sketch_ok
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- custom Catalyst operator: backward as-of join ------------------

  /** For every click, the latest preceding purchase by the same user —
    * executed by AsOfJoinExec (plans/AsOfJoin.scala): one co-partitioned
    * merge pass after Catalyst-inserted exchange+sort. Timestamps are
    * µs-truncated on BOTH sides (DuckDB reads TIMESTAMP(NANOS) at µs);
    * the purchase side is pre-deduped to one row per (user, µs) so the
    * as-of match is deterministic in any engine. */
  def q24AsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val clicks = ev.where($"event_type" === "click")
      .select($"event_id", $"user_id", expr("ts div 1000").as("us"))
    // repartition by user BEFORE the (user, µs) dedup: clustering by a
    // subset of the group keys satisfies the aggregate's distribution,
    // and the as-of join then reuses the same exchange — one shuffle of
    // the purchase side instead of two
    val purchases = ev.where($"event_type" === "purchase")
      .repartition($"user_id")
      .groupBy($"user_id".as("p_user"), expr("ts div 1000").as("p_us"))
      .agg(max($"event_id").as("purchase_id"))
    AsOfJoin.asof(clicks, purchases, Seq("user_id"), Seq("p_user"),
        "us", "p_us")
      .select($"event_id", $"user_id", $"purchase_id",
        ($"us" - $"p_us").as("lag_us"))
      .orderBy($"event_id")
  }

  val q24Sql: String =
    """SELECT c.event_id, c.user_id, p.purchase_id, c.us - p.p_us AS lag_us
      |FROM (SELECT event_id, user_id, epoch_us(ts) AS us
      |      FROM events WHERE event_type = 'click') c
      |ASOF LEFT JOIN (SELECT user_id AS p_user, epoch_us(ts) AS p_us,
      |                MAX(event_id) AS purchase_id
      |                FROM events WHERE event_type = 'purchase'
      |                GROUP BY 1, 2) p
      |  ON c.user_id = p.p_user AND c.us >= p.p_us
      |ORDER BY c.event_id""".stripMargin

  // ---- rollup subtotals (free Catalyst capability, SURVEY §2.4 note) --

  /** Hierarchical subtotals via rollup; null grouping markers coalesced
    * to 'ALL' on both sides so ordering and hashing are engine-neutral. */
  def q25Rollup(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n"), dsum($"l_quantity").as("qty_sum"))
      .select(coalesce($"l_returnflag", lit("ALL")).as("returnflag"),
        coalesce($"l_linestatus", lit("ALL")).as("linestatus"),
        $"n", $"qty_sum")
      .orderBy($"returnflag", $"linestatus")

  val q25Sql: String =
    """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
      |COALESCE(l_linestatus, 'ALL') AS linestatus, COUNT(*) AS n,
      |CAST(SUM(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) AS qty_sum
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin

  // ---- range join via time-bucketing ----------------------------------

  /** For each error event, the count of same-user clicks in the
    * preceding 24 h — a range join executed the scalable way: clicks
    * are exploded to the (at most 2) day-buckets they can serve, the
    * join runs on (user, bucket) equality, and the exact range filter
    * prunes within buckets. No inequality-join cross product: shuffle
    * volume is O(|events| × 2), each bucket-group is tiny. The DuckDB
    * oracle states the same query as a plain inequality join. */
  def q26RangeJoin(s: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    val ev = Tables(s, dir, "events")
    val errors = ev.where($"event_type" === "error")
      .select($"event_id", $"user_id", expr("ts div 1000").as("e_us"))
      .withColumn("bucket", expr(s"e_us div $dayUs"))
    val clicks = ev.where($"event_type" === "click")
      .select($"user_id", expr("ts div 1000").as("c_us"))
      // a click can only match errors in its own or the next day-bucket
      .withColumn("bucket", explode(array(expr(s"c_us div $dayUs"),
        expr(s"c_us div $dayUs") + 1)))
    errors.join(clicks, Seq("user_id", "bucket"), "left")
      .withColumn("hit",
        $"c_us".isNotNull && $"c_us" >= $"e_us" - dayUs && $"c_us" < $"e_us")
      .groupBy($"event_id")
      .agg(sum(when($"hit", 1L).otherwise(0L)).cast(LongType).as("n_clicks"))
      .orderBy($"event_id")
  }

  val q26Sql: String =
    """SELECT e.event_id, COUNT(c.us) AS n_clicks
      |FROM (SELECT event_id, user_id, epoch_us(ts) AS us
      |      FROM events WHERE event_type = 'error') e
      |LEFT JOIN (SELECT user_id, epoch_us(ts) AS us
      |           FROM events WHERE event_type = 'click') c
      |ON e.user_id = c.user_id
      |AND c.us >= e.us - 86400000000 AND c.us < e.us
      |GROUP BY e.event_id ORDER BY e.event_id""".stripMargin

  // ---- rolling window (reference's commented-out `rolling` sketch,
  //      velox_rt/dataframe_cpu.py:2472-2482, realized on Spark) --------

  /** Rolling 3-order mean/min of order totals per customer. */
  def q27Rolling(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      .rowsBetween(-2, org.apache.spark.sql.expressions.Window.currentRow)
    Tables(s, dir, "orders")
      .select($"o_custkey", $"o_orderkey",
        round(avg($"o_totalprice").over(w), 4).as("roll_avg"),
        min($"o_totalprice").over(w).as("roll_min"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  val q27Sql: String =
    """SELECT o_custkey, o_orderkey,
      |ROUND(AVG(o_totalprice) OVER (PARTITION BY o_custkey
      |  ORDER BY o_orderdate, o_orderkey
      |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS roll_avg,
      |MIN(o_totalprice) OVER (PARTITION BY o_custkey
      |  ORDER BY o_orderdate, o_orderkey
      |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS roll_min
      |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin

  // ---- UDF surface at the gate (§2.13 map/filter over JVM closures) ---

  /** The reference's df.map(fn)/filter(pred) UDF path end-to-end:
    * filterRows drops low-quantity rows with a JVM predicate, mapRows
    * computes a charged price with a JVM function (mapPartitions
    * underneath — batch-amortized, no shuffle); the oracle states the
    * same logic in SQL. Proves the closure path produces the exact
    * values the declarative path would. The dict form of map
    * (Functional.mapDict, icolumn.py:420-518) rides the same gate:
    * line numbers 1/2 map through a literal dict, the rest fall to the
    * defaultdict default. */
  def q29UdfMap(s: SparkSession, dir: String): DataFrame = {
    import graft.frame.TFrame
    val li = TFrame(Tables(s, dir, "lineitem"))
    li.keep("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_tax")
      .filterRows(Seq("l_quantity"))(v => v.head.asInstanceOf[Double] >= 30.0)
      .mapRows(
        StructType(Seq(
          StructField("l_orderkey", LongType, nullable = false),
          StructField("l_linenumber", IntegerType, nullable = false),
          StructField("charged", DoubleType, nullable = false))),
        Seq("l_orderkey", "l_linenumber", "l_extendedprice", "l_tax")) {
        case Seq(ok, ln, price, tax) =>
          // Seq[Any] is load-bearing: a bare Seq(Long, Int, Double)
          // harmonizes all elements to Double (Scala numeric widening)
          Seq[Any](ok.asInstanceOf[Long], ln.asInstanceOf[Int],
            price.asInstanceOf[Double] * (1.0 + tax.asInstanceOf[Double]))
      }
      .withCol("line_band", Functional.mapDict($"l_linenumber",
        Map(1 -> "first", 2 -> "second"), default = Some("rest")))
      .sort(Seq("l_orderkey", "l_linenumber"))
      .df
  }

  val q29Sql: String =
    """SELECT l_orderkey, l_linenumber,
      |l_extendedprice * (1.0 + l_tax) AS charged,
      |CASE l_linenumber WHEN 1 THEN 'first' WHEN 2 THEN 'second'
      |  ELSE 'rest' END AS line_band
      |FROM lineitem WHERE l_quantity >= 30.0
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---- exact quantiles (§2.4 quantile/percentile surface) -------------

  /** Exact continuous-interpolation percentiles per group — the
    * reference's quantile(q, 'linear') (inumerical_column.py:357-413).
    * Both engines interpolate linearly; rounding absorbs expression-
    * form fp noise. */
  def q28Percentiles(s: SparkSession, dir: String): DataFrame = {
    // one percentile() aggregate computes all three order statistics in
    // a single per-group pass; scalar output columns (the driver's
    // compare cannot hash list columns)
    val q = percentile($"l_extendedprice",
      array(lit(0.25), lit(0.5), lit(0.75)))
    Tables(s, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(q.as("q"),
        round(percentile($"l_quantity", lit(0.9)), 4).as("qty_p90"))
      .select($"l_returnflag",
        round($"q".getItem(0), 4).as("p25"),
        round($"q".getItem(1), 4).as("p50"),
        round($"q".getItem(2), 4).as("p75"),
        $"qty_p90")
      // (a) at most 3 return flags
      .orderByInOnePartition($"l_returnflag")
  }

  val q28Sql: String =
    """SELECT l_returnflag,
      |round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
      |round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
      |round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
      |round(quantile_cont(l_quantity, 0.9), 4) AS qty_p90
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---- bool reductions all/any at the gate (§2.4) ---------------------

  /** Grouped all/any (null-skipping bool reductions) — the reference's
    * col.all/col.any lifted through groupby. */
  def q35BoolAgg(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(
        min(($"l_quantity" < 50).cast(BooleanType)).as("all_small"),
        max(($"l_discount" > 0.05).cast(BooleanType)).as("any_disc"),
        count(lit(1)).as("n"))
      .orderBy($"l_returnflag")

  val q35Sql: String =
    """SELECT l_returnflag, BOOL_AND(l_quantity < 50) AS all_small,
      |BOOL_OR(l_discount > 0.05) AS any_disc, COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---- §2.9 arithmetic semantics, fully oracled ------------------------

  /** The reference's arithmetic where it differs from Spark defaults:
    * truediv ÷0 → ±inf (numerical_column_cpu.py:387-401), floordiv
    * toward −∞ (numeric_functions.h:28-101), Python-sign floormod,
    * int**int stays int (numeric_functions.h:103-138), rint-half-even
    * round (numeric_functions.h:139-160 — DuckDB round_even verified
    * bit-identical on 200k samples), unary neg/abs/invert/ceil/floor,
    * natural log and sigmoid (round(4) absorbs last-ulp libm noise),
    * and if_else with null-condition → null (icolumn.py:100-119).
    * The one excluded case is 0.0/0.0 → NaN (reference semantics are
    * implemented and spec-tested; NaN is not portable through the
    * driver's hash compare). */
  def q38ArithSemantics(s: SparkSession, dir: String): DataFrame = {
    val a = $"l_quantity" - 25.0
    val b = ($"l_linenumber" - 3).cast(DoubleType)
    val p = $"l_partkey" - 100L
    Tables(s, dir, "lineitem")
      .where(!($"l_quantity" === 25.0 && $"l_linenumber" === 3))
      .select($"l_orderkey", $"l_linenumber",
        a.arith.truediv(b).as("td"),
        a.arith.floordiv(b).as("fd"),
        p.arith.floordivInt($"l_linenumber".cast(LongType)).as("fdi"),
        p.arith.floormod(lit(7L)).as("fm"),
        $"l_linenumber".arith.powInt(lit(3)).as("pw"),
        ($"l_extendedprice" / 7.0).arith.round(2).as("rr"),
        abs(a).as("av"),
        (-a).as("ng"),
        bitwise_not($"l_linenumber").as("bn"),
        ceil(a / 7.0).as("cl"),
        floor(a / 7.0).as("fl"),
        round($"l_quantity".arith.logNat, 4).as("lg"),
        round((a / 10.0).arith.sigmoid, 4).as("sg"),
        Functional.ifElse(
          when($"l_linenumber" === 1, lit(null).cast(BooleanType))
            .otherwise($"l_quantity" > 25.0),
          lit("hi"), lit("lo")).as("ie"))
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  val q38Sql: String =
    """SELECT l_orderkey, l_linenumber,
      |  CASE WHEN ln3 = 0 THEN (CASE WHEN q25 > 0 THEN CAST('inf' AS DOUBLE)
      |    ELSE CAST('-inf' AS DOUBLE) END) ELSE q25 / ln3 END AS td,
      |  CASE WHEN ln3 = 0 THEN (CASE WHEN q25 > 0 THEN CAST('inf' AS DOUBLE)
      |    ELSE CAST('-inf' AS DOUBLE) END) ELSE floor(q25 / ln3) END AS fd,
      |  CAST(floor(CAST(p100 AS DOUBLE) / CAST(l_linenumber AS DOUBLE))
      |    AS BIGINT) AS fdi,
      |  ((p100 % 7) + 7) % 7 AS fm,
      |  CAST(pow(l_linenumber, 3) AS BIGINT) AS pw,
      |  round_even(l_extendedprice / 7.0, 2) AS rr,
      |  abs(q25) AS av, -q25 AS ng,
      |  CAST(-l_linenumber - 1 AS INT) AS bn,
      |  CAST(ceil(q25 / 7.0) AS BIGINT) AS cl,
      |  CAST(floor(q25 / 7.0) AS BIGINT) AS fl,
      |  round(ln(l_quantity), 4) AS lg,
      |  round(1.0 / (1.0 + exp(-(q25 / 10.0))), 4) AS sg,
      |  CASE WHEN l_linenumber = 1 THEN NULL
      |    WHEN l_quantity > 25.0 THEN 'hi' ELSE 'lo' END AS ie
      |FROM (SELECT *, l_quantity - 25.0 AS q25,
      |        CAST(l_linenumber - 3 AS DOUBLE) AS ln3,
      |        l_partkey - 100 AS p100 FROM lineitem
      |      WHERE NOT (l_quantity = 25.0 AND l_linenumber = 3))
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---- §2.4 deterministic grouped mode ---------------------------------

  /** Grouped mode with a deterministic tie-break (smallest most-frequent
    * value — inumerical_column.py:417-429 semantics made total-order
    * safe): the two-level aggregate in TGrouped.modeDet shuffles counts,
    * never rows, and the same definition is restated in the oracle. */
  def q39Mode(s: SparkSession, dir: String): DataFrame =
    TFrame(Tables(s, dir, "lineitem").select($"l_returnflag", $"l_quantity"))
      .groupby("l_returnflag")
      .modeDet("l_quantity")
      .pipe(f => TFrame(f.df.select($"l_returnflag",
        f.df("`l_quantity.mode`").as("qty_mode"))))
      .sort(Seq("l_returnflag"))
      .df

  val q39Sql: String =
    """SELECT l_returnflag, qty_mode FROM (
      |  SELECT l_returnflag, l_quantity AS qty_mode,
      |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
      |      ORDER BY COUNT(*) DESC, l_quantity ASC) AS rn
      |  FROM lineitem GROUP BY l_returnflag, l_quantity)
      |WHERE rn = 1 ORDER BY l_returnflag""".stripMargin

  // ---- §2.13 flatmap at the gate ---------------------------------------

  /** flatmapRows (icolumn.py:646-675): each document explodes into one
    * row per leading token (up to 3); oracle restates via UNION ALL. */
  def q45Flatmap(s: SparkSession, dir: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("pos", IntegerType, nullable = false),
      StructField("tok", StringType, nullable = false)))
    TFrame(Tables(s, dir, "documents").select($"doc_id", $"text"))
      .flatmapRows(schema, Seq("doc_id", "text")) { case Seq(id, text) =>
        text.asInstanceOf[String].trim.split("\\s+").take(3).toSeq
          .zipWithIndex.map { case (tk, i) =>
            Seq[Any](id.asInstanceOf[Long], i + 1, tk)
          }
      }
      .sort(Seq("doc_id", "pos"))
      .df
  }

  val q45Sql: String =
    """WITH d AS (SELECT doc_id,
      |  string_split_regex(trim(text), '\s+') AS toks FROM documents)
      |SELECT doc_id, pos, tok FROM (
      |  SELECT doc_id, 1 AS pos, toks[1] AS tok FROM d WHERE len(toks) >= 1
      |  UNION ALL
      |  SELECT doc_id, 2, toks[2] FROM d WHERE len(toks) >= 2
      |  UNION ALL
      |  SELECT doc_id, 3, toks[3] FROM d WHERE len(toks) >= 3)
      |ORDER BY doc_id, pos""".stripMargin

  // ---- §2.4 grouped.select (computed aggregation exprs) ----------------

  def q46GroupedSelect(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
    TFrame(li)
      .groupby("l_returnflag")
      .select(
        "rev" -> dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")),
        "avg_disc" -> round(avg($"l_discount"), 6),
        "n" -> count(lit(1)))
      .sort(Seq("l_returnflag"))
      .df
  }

  val q46Sql: String =
    """SELECT l_returnflag,
      |CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |  AS DECIMAL(25,4))) AS DOUBLE) AS rev,
      |ROUND(AVG(l_discount), 6) AS avg_disc, COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---- §2.7 set ops: intersect / except --------------------------------

  def q48SetOps(s: SparkSession, dir: String): DataFrame = {
    val bld = TFrame(Tables(s, dir, "customer")
      .where($"c_mktsegment" === "BUILDING")
      .select($"c_custkey".as("k")))
    val ordered = TFrame(Tables(s, dir, "orders").select($"o_custkey".as("k")))
    bld.intersect(ordered).withCol("op", lit("with_orders"))
      .concat(bld.except(ordered).withCol("op", lit("no_orders")))
      .sort(Seq("op", "k"))
      .df
  }

  val q48Sql: String =
    """SELECT k, op FROM (
      |  SELECT k, 'with_orders' AS op FROM (
      |    SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
      |    INTERSECT SELECT o_custkey FROM orders)
      |  UNION ALL
      |  SELECT k, 'no_orders' FROM (
      |    SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
      |    EXCEPT SELECT o_custkey FROM orders))
      |ORDER BY op, k""".stripMargin

  // ---- §2.4 partitioned cumulative min/max/prod ------------------------

  /** cummin/cummax/cumprod through the TFrame API with an explicit
    * partition key (`by`) — the scale-safe form: one shuffle on the
    * key, no global window. cumprod uses Catalyst's exact Product
    * aggregate; values ≤ 7! per group keep doubles exact. */
  def q53Cumulatives(s: SparkSession, dir: String): DataFrame =
    // pre-aggregate to one row per (order, linenumber): the synthetic
    // lineitem has duplicate keys, and a running computation needs a
    // TOTAL order to be engine-deterministic
    TFrame(Tables(s, dir, "lineitem")
      .groupBy($"l_orderkey", $"l_linenumber")
      .agg(min($"l_quantity").as("l_quantity"))
      .select($"l_orderkey", $"l_linenumber", $"l_quantity",
        $"l_linenumber".cast(DoubleType).as("ln_d")))
      .cummin(Seq("l_quantity"), order = Seq("l_linenumber"),
        by = Seq("l_orderkey"))
      .cummax(Seq("l_quantity"), order = Seq("l_linenumber"),
        by = Seq("l_orderkey"))
      .cumprod(Seq("ln_d"), order = Seq("l_linenumber"),
        by = Seq("l_orderkey"))
      .pipe(f => TFrame(f.df.select($"l_orderkey", $"l_linenumber",
        f.df("`l_quantity.cummin`").as("cmin"),
        f.df("`l_quantity.cummax`").as("cmax"),
        f.df("`ln_d.cumprod`").as("cprod"))))
      .sort(Seq("l_orderkey", "l_linenumber"))
      .df

  val q53Sql: String =
    """SELECT l_orderkey, l_linenumber,
      |  MIN(l_quantity) OVER w AS cmin,
      |  MAX(l_quantity) OVER w AS cmax,
      |  product(CAST(l_linenumber AS DOUBLE)) OVER w AS cprod
      |FROM (SELECT l_orderkey, l_linenumber, MIN(l_quantity) AS l_quantity
      |      FROM lineitem GROUP BY 1, 2)
      |WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---- §2.7 isin dict / frame forms ------------------------------------

  /** DataFrame.isin dict and frame forms (dataframe_cpu.py:1496-1531):
    * per-column membership flags, aggregated to counts. The frame form
    * is the distributed-safe set-membership reading (broadcast semi
    * join per shared column). */
  def q54IsinForms(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
    val dictFlags = TFrame(o.select($"o_orderstatus", $"o_orderpriority"))
      .isinDict(Map(
        "o_orderstatus" -> Seq("F"),
        "o_orderpriority" -> Seq("1-URGENT", "2-HIGH")))
    val frameFlags = TFrame(o.select($"o_custkey".as("c_custkey")))
      .isinFrame(TFrame(Tables(s, dir, "customer")
        .where($"c_mktsegment" === "BUILDING").select($"c_custkey")))
    val d = dictFlags.df.agg(
      sum($"o_orderstatus".cast(LongType)).as("n_status"),
      sum($"o_orderpriority".cast(LongType)).as("n_prio"))
    val f = frameFlags.df.agg(
      sum($"c_custkey".cast(LongType)).as("n_cust"))
    d.crossJoin(f)
  }

  val q54Sql: String =
    """SELECT
      |CAST(COUNT(*) FILTER (WHERE o_orderstatus IN ('F')) AS BIGINT)
      |  AS n_status,
      |CAST(COUNT(*) FILTER (WHERE o_orderpriority IN ('1-URGENT','2-HIGH'))
      |  AS BIGINT) AS n_prio,
      |CAST(COUNT(*) FILTER (WHERE o_custkey IN (
      |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'))
      |  AS BIGINT) AS n_cust
      |FROM orders""".stripMargin

  // ---- §2.13 reduce (ordered sequential fold) --------------------------

  /** reduceCol — the reference's non-parallel fold (icolumn.py:729-770),
    * run over a 3-row aggregate: a numeric fold (sum) and an
    * order-sensitive fold (string concat in key order) prove the
    * sequential left-fold contract. */
  def q55Reduce(s: SparkSession, dir: String): DataFrame = {
    val counts = TFrame(Tables(s, dir, "lineitem")
      .groupBy($"l_returnflag").agg(count(lit(1)).as("n")))
    val total = counts.reduceCol[Long]("n", Seq("l_returnflag"))(0L)(
      (acc, v) => acc + v.asInstanceOf[Long])
    val flags = counts.reduceCol[String]("l_returnflag",
      Seq("l_returnflag"))("")((acc, v) =>
      if (acc.isEmpty) v.toString else acc + "|" + v)
    s.createDataFrame(
      java.util.Arrays.asList(Row(total, flags)),
      StructType(Seq(StructField("total", LongType, nullable = false),
        StructField("flags", StringType, nullable = false))))
  }

  val q55Sql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS total,
      |(SELECT string_agg(f, '|' ORDER BY f) FROM
      |  (SELECT DISTINCT l_returnflag AS f FROM lineitem)) AS flags
      |FROM lineitem""".stripMargin

  // ---- §2.1/2.2/2.6 TFrame surface sweep -------------------------------

  /** rename → reorder → append(literal row) → computed columns via the
    * generic name dispatch (functional.__getattr__ analog), a joined
    * frame CONSTRUCTED from Scala values (dtype inference path), and
    * the is_unique / is_monotonic scalar predicates as literal output
    * columns. nation is 25 rows at every SF — the driver actions behind
    * the scalar predicates are bounded, and the constructed tag frame
    * broadcasts. */
  def q72TframeSurface(s: SparkSession, dir: String): DataFrame = {
    val nat = TFrame(Tables(s, dir, "nation"))
      .rename(Map("n_name" -> "name"))
      .reorder(Seq("name", "n_nationkey", "n_regionkey"))
      .append(Seq(Row("NATION_99", 99, 4)))
    val tags = TFrame(s, Seq(
      "n_regionkey" -> Seq(0, 1, 2, 3, 4),
      "region_tag" -> Seq("T0", "T1", "T2", "T3", "T4")))
    val unique = nat.isUnique("name")
    // NATION_xx string order interleaves 19 before 2 → not monotonic
    val mono = nat.isMonotonicIncreasing("n_nationkey", Seq("name"))
    nat.df
      .join(broadcast(tags.df), "n_regionkey")
      .select($"name", $"n_nationkey", $"n_regionkey",
        Functional("lower", $"name").as("name_lower"),
        $"region_tag",
        lit(unique).as("name_unique"),
        lit(mono).as("key_mono"))
      .orderBy($"name")
  }

  val q72Sql: String =
    """WITH nat AS (
      |  SELECT n_name AS name, n_nationkey, n_regionkey FROM nation
      |  UNION ALL SELECT 'NATION_99', 99, 4
      |)
      |SELECT name, n_nationkey, n_regionkey, LOWER(name) AS name_lower,
      |  'T' || CAST(n_regionkey AS VARCHAR) AS region_tag,
      |  (SELECT COUNT(DISTINCT name) = COUNT(*) FROM nat) AS name_unique,
      |  (SELECT NOT EXISTS (SELECT 1 FROM (
      |     SELECT n_nationkey,
      |            LAG(n_nationkey) OVER (ORDER BY name) AS prev FROM nat)
      |     WHERE n_nationkey < prev)) AS key_mono
      |FROM nat ORDER BY name""".stripMargin

  // ---- §2.4 describe(include/exclude) at the gate -----------------------

  /** describe with dtype-family selection (dataframe_cpu.py:1786-1838):
    * include="numeric" minus exclude="int" leaves exactly the float
    * column s_acctbal. Only the deterministic metric rows are compared
    * (count/mean/min/max — the percentile rows are sketch-based by
    * design); mean is rounded per the float convention. */
  def q73DescribeForms(s: SparkSession, dir: String): DataFrame =
    TFrame(Tables(s, dir, "supplier"))
      .describe(include = Seq("numeric"), exclude = Seq("int"))
      .where(col("metric").isin("count", "mean", "min", "max"))
      .withCol("s_acctbal", round(col("s_acctbal"), 4))
      .sort(Seq("metric")).df

  val q73Sql: String =
    """SELECT * FROM (
      |  SELECT 'count' AS metric,
      |         ROUND(CAST(COUNT(s_acctbal) AS DOUBLE), 4) AS s_acctbal
      |  FROM supplier
      |  UNION ALL SELECT 'mean', ROUND(AVG(s_acctbal), 4) FROM supplier
      |  UNION ALL SELECT 'min', ROUND(MIN(s_acctbal), 4) FROM supplier
      |  UNION ALL SELECT 'max', ROUND(MAX(s_acctbal), 4) FROM supplier
      |) ORDER BY metric""".stripMargin

  // ---- §2.4 grouped[col] + functional.rand -------------------------------

  /** grouped[col] (per-group value lists, dataframe_cpu.py:2304-2321)
    * scalarized via sorted join for the hash compare, cross-joined with
    * a one-row functional.rand range proof: rand() values are fresh per
    * run (like the reference), so the oracle checks the [0,1) contract
    * and row count, not values. */
  def q74GroupedColRand(s: SparkSession, dir: String): DataFrame = {
    val byRegion =
      TGrouped(Tables(s, dir, "nation"), Seq("n_regionkey"))("n_name")
    val randProof = Tables(s, dir, "supplier")
      .select(Functional.randCol().as("r"))
      .agg(count(lit(1)).as("n_sup"),
        (min($"r") >= 0.0 && max($"r") < 1.0).as("rand_ok"))
    byRegion.df
      .select($"n_regionkey",
        array_join(sort_array($"n_name"), ",").as("names"))
      .crossJoin(randProof)
      .orderBy($"n_regionkey")
  }

  val q74Sql: String =
    """SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS names,
      |  (SELECT COUNT(*) FROM supplier) AS n_sup, TRUE AS rand_ok
      |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin

  // ---- §2.4 grouped iteration at the gate --------------------------------

  /** `for (key, subframe) <- grouped` (dataframe_cpu.py:2227-2245):
    * iterate region groups of nation (bounded: 5 keys), aggregate each
    * LAZY subframe independently, and reassemble the per-group results
    * into one frame. Driver-side by nature, like the reference's
    * grouped iteration; each subframe aggregate is its own pushed-down
    * Spark job. */
  def q75IterGroups(s: SparkSession, dir: String): DataFrame = {
    val groups = TFrame(Tables(s, dir, "nation"))
      .groupby("n_regionkey").iterGroups(maxGroups = 16)
    val rows = groups.map { case (kr, sub) =>
      val agg = sub.df.agg(count(lit(1)).as("n_nations"),
        min(col("n_name")).as("min_name")).head()
      Row(kr.getInt(0), agg.getLong(0), agg.getString(1))
    }
    val schema = StructType(Seq(
      StructField("n_regionkey", IntegerType),
      StructField("n_nations", LongType),
      StructField("min_name", StringType)))
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .orderBy($"n_regionkey")
  }

  val q75Sql: String =
    """SELECT n_regionkey, COUNT(*) AS n_nations, MIN(n_name) AS min_name
      |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin

  // ---- salted skew join ------------------------------------------------

  /** Salted join under manufactured skew (Salting.saltedJoin): a
    * synthetic hot key absorbs every lineitem row with
    * l_orderkey % 2 = 0 (~half the table — the boilerplate-bucket
    * shape), the rest spread over 100 keys; the 101-key dimension is
    * joined with 8 salts. Fully oracled: DuckDB runs the PLAIN join on
    * the same synthetic key — a green hash row proves salting changed
    * the distribution of work and nothing else. */
  def q99SaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val skewKey = when($"l_orderkey" % 2 === 0, 0L)
      .otherwise($"l_partkey" % 100 + 1)
    val big = Tables(s, dir, "lineitem")
      .select($"l_orderkey", $"l_linenumber", $"l_quantity",
        skewKey.as("k"))
    val small = s.range(0, 101)
      .select($"id".as("k"), ($"id" * 7 % 13).as("weight"))
    Salting.saltedJoin(big, small, "k",
      struct($"l_orderkey", $"l_linenumber"), nSalts = 8)
      .groupBy($"k")
      .agg(count(lit(1)).as("n"),
        dsum($"l_quantity").as("qty_sum"),
        max($"weight").as("weight"))
      .orderBy($"k")
  }

  val q99Sql: String =
    """WITH big AS (
      |  SELECT CASE WHEN l_orderkey % 2 = 0 THEN 0
      |    ELSE l_partkey % 100 + 1 END AS k, l_quantity
      |  FROM lineitem),
      |small AS (
      |  SELECT range AS k, range * 7 % 13 AS weight FROM range(0, 101))
      |SELECT k, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) AS qty_sum,
      |  MAX(weight) AS weight
      |FROM big JOIN small USING (k)
      |GROUP BY k ORDER BY k""".stripMargin

  // ---- frame-level broadcast arithmetic --------------------------------

  /** Frame-level operator lifting at the gate (frame/TFrameArith.scala —
    * the reference's DataFrame op surface, dataframe_cpu.py:624-1490):
    * a scalar chain `(df * 2).radd(1)` over a 4-column numeric
    * projection of lineitem, a POSITIONAL frame-frame `+` against the
    * original frame, then int-width-preserving floordiv and the
    * always-float truediv. Result dtypes follow the reference promotion
    * — l_linenumber stays int32 through the int ops, int/int truediv
    * lands float32 — which the oracle mirrors with explicit casts; the
    * double columns mirror the exact IEEE op order ((1 + 2x) + x).
    * Both zip sides sort on the unique (l_orderkey, l_linenumber) key,
    * making the positional alignment deterministic. */
  def q104FrameArith(s: SparkSession, dir: String): DataFrame = {
    // no pre-sort: the arithmetic is row-local, and the final orderBy
    // (kept for the oracle's deterministic row order) is the only sort
    // the plan needs — the earlier extra global sort was pure waste
    val base = Tables(s, dir, "lineitem")
      .select($"l_orderkey", $"l_linenumber", $"l_quantity",
        $"l_extendedprice")
    val a = graft.frame.TFrame(base)
    val out = ((a * 2L).radd(1L) + a).floordiv(7L) / 2L
    out.df.orderBy($"l_orderkey", $"l_linenumber")
  }

  val q104Sql: String =
    """SELECT
      |  CAST((((1 + 2*l_orderkey) + l_orderkey) // 7) / 2 AS REAL)
      |    AS l_orderkey,
      |  CAST((((1 + 2*l_linenumber) + l_linenumber) // 7) / 2 AS REAL)
      |    AS l_linenumber,
      |  FLOOR(((1 + 2*l_quantity) + l_quantity) / 7) / 2 AS l_quantity,
      |  FLOOR(((1 + 2*l_extendedprice) + l_extendedprice) / 7) / 2
      |    AS l_extendedprice
      |FROM lineitem ORDER BY 1, 2""".stripMargin

  // ---- sketch cardinality (HLL + Count-Min) ------------------------------

  /** Sketch-based counting vs exact (Sketches.approxDistinct /
    * cmsCounts): per-lang distinct 8-word shingles — ~5k per lang, past
    * the HLL++ sparse/dense switch at rsd 0.05, so real register
    * estimation is exercised, not the exact sparse mode. The oracled
    * output is the EXACT distinct count (the small-SF baseline); the
    * sketches are checked in-gate: the deterministic HLL estimate must
    * sit within 4 sigma (20%) of exact per lang, and every Count-Min
    * word-count estimate must obey true <= est <= true + eps*N (CMS
    * never undercounts; the grid is seeded, so the bound is a pinned
    * fact, not a flake). At 100 TB the HLL column IS the plan — one
    * scan, fixed-size registers, no shuffle of values — where the
    * exact count here shuffles every distinct shingle. */
  def q114SketchDistinct(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val grams = docs.select($"lang",
      explode(when(size(TextAnalysis.tokens($"text")) >= 8,
        Functional.wordShingles($"text", 8))
        .otherwise(typedLit(Seq.empty[String]))).as("gram"))
    val exact = grams.groupBy($"lang")
      .agg(count_distinct($"gram").as("nd_exact"))
    val worstRow = exact
      .join(Sketches.approxDistinct(grams, Seq("lang"), "gram", rsd = 0.05),
        "lang")
      .agg(max(abs($"nd_approx" - $"nd_exact").cast(DoubleType) /
        $"nd_exact".cast(DoubleType)).as("e"))
      .head()
    require(!worstRow.isNullAt(0),
      "q114: no lang has any >=8-token document — empty gram population")
    val worst = worstRow.getDouble(0)
    require(worst <= 0.20,
      f"q114: HLL relative error $worst%.4f above the 4-sigma bound " +
        "0.20 at rsd 0.05")
    // Count-Min: the exact word-count table is vocabulary-sized, so
    // collecting it as the truth side is bounded
    val words = docs.select(explode(TextAnalysis.tokens($"text")).as("w"))
    val eps = 0.001
    val cms = Sketches.cmsCounts(words, "w", eps, confidence = 0.99,
      seed = 42)
    val slack = math.ceil(eps * cms.totalCount()).toLong
    words.groupBy($"w").agg(count(lit(1)).as("c")).collect().foreach { r =>
      val (w, c) = (r.getString(0), r.getLong(1))
      val est = cms.estimateCount(w)
      require(est >= c && est <= c + slack,
        s"q114: CMS estimate $est for '$w' outside [$c, ${c + slack}]")
    }
    exact.withColumn("hll_ok", lit(true)).withColumn("cms_ok", lit(true))
      .orderBy($"lang")
  }

  val q114Sql: String =
    """WITH w AS (
      |  SELECT lang, string_split_regex(trim(text), '\s+') AS words
      |  FROM documents),
      |g AS (
      |  SELECT lang, array_to_string(words[(i):(i+7)], ' ') AS gram
      |  FROM w, UNNEST(range(1, len(words) - 8 + 2)) AS t(i))
      |SELECT lang, count(DISTINCT gram) AS nd_exact,
      |  true AS hll_ok, true AS cms_ok
      |FROM g GROUP BY lang ORDER BY lang""".stripMargin

  // ---- bloom semi-join prefilter ----------------------------------------

  /** Bloom-prefiltered semi-join (Sketches.bloomPrefilter — the
    * explicit form of Spark's runtime row-group filters): lineitem
    * rows are pre-filtered by a bounded binary sketch of the qualifying
    * part keys (codegen'd probe on the scan, no join, no shuffle), then
    * the exact semi-join removes the false positives. In-gate checks:
    * the prefilter must preserve EVERY true match (bloom false
    * negatives are impossible — a drop is a bug), and the measured
    * false-positive rate must stay under 3x the 0.01 target (the
    * sketch is deterministic, so this is pinned, not sampled). The
    * oracled output is the exact post-join aggregate. */
  def q115BloomSemijoin(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
    val keys = Tables(s, dir, "part").where($"p_size" < 10).select($"p_partkey")
    val pre = Sketches.bloomPrefilter(li, "l_partkey", keys, "p_partkey",
      expectedItems = keys.count(), fpp = 0.01)
    val exact = pre.join(broadcast(keys), $"l_partkey" === $"p_partkey",
      "left_semi")
    val directCount = li.join(broadcast(keys),
      $"l_partkey" === $"p_partkey", "left_semi").count()
    val exactCount = exact.count()
    require(exactCount == directCount,
      s"q115: bloom prefilter dropped true matches ($exactCount vs " +
        s"$directCount) — false negatives are impossible, this is a bug")
    val liCount = li.count()
    val fpRate = (pre.count() - exactCount).toDouble /
      math.max(1L, liCount - exactCount)
    require(fpRate <= 0.03,
      f"q115: bloom false-positive rate $fpRate%.4f above 3x the 0.01 " +
        "target")
    exact.groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"), dsum($"l_quantity").as("sum_qty"))
      .withColumn("no_false_negatives", lit(true))
      .withColumn("fp_ok", lit(true))
      .orderBy($"l_returnflag")
  }

  val q115Sql: String =
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE)
      |    AS sum_qty,
      |  true AS no_false_negatives, true AS fp_ok
      |FROM lineitem
      |WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size < 10)
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---- native session windows --------------------------------------------

  /** Session windows via Spark's native `session_window` (the built-in
    * gaps-and-islands operator — complementary to q23's
    * mapGroupsWithState sessionizer, which demonstrates CUSTOM state;
    * this is the declarative form Catalyst can optimize). 30-minute
    * gap; window end = last event + gap; an event at EXACTLY gap
    * distance MERGES into the session (Spark's merge condition is
    * sessionStart <= currentSessionEnd — adjacency counts), which the
    * oracle's strict `> gap` break condition mirrors; pinned against a
    * hand-built exact-gap fixture in Queries7Spec. Event-time ns are
    * truncated to µs identically on both sides. */
  def q118SessionWindow(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .groupBy($"user_id",
        session_window(timestamp_micros(expr("ts div 1000")),
          "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id", unix_micros($"sw.start").as("start_us"),
        unix_micros($"sw.end").as("end_us"), $"n_events")
      .orderBy($"user_id", $"start_us")

  val q118Sql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS us FROM events),
      |x AS (
      |  SELECT user_id, us,
      |    CASE WHEN lag(us) OVER w IS NULL
      |           OR us - lag(us) OVER w > 1800000000
      |         THEN 1 ELSE 0 END AS brk
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
      |y AS (
      |  SELECT user_id, us,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY us
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM x)
      |SELECT user_id, min(us) AS start_us,
      |  max(us) + 1800000000 AS end_us, count(*) AS n_events
      |FROM y GROUP BY user_id, sid ORDER BY user_id, start_us""".stripMargin

  // ---- pivot / unpivot round trip ---------------------------------------

  private val eventTypes = Seq("click", "error", "purchase", "signup",
    "view")

  /** Pivot events to one wide row per user (explicit value list — no
    * extra distinct-scan, deterministic column order), then unpivot
    * back to tall form. The oracled output is the round-tripped tall
    * frame, so BOTH reshapes must preserve every (user, type) sum
    * exactly; absent combinations surface as null cells in the wide
    * frame and are dropped on the way back (mirrored by the oracle's
    * HAVING). Pivot with a value list is one shuffle on user_id; the
    * unpivot is a row-local expand. */
  def q120PivotUnpivot(s: SparkSession, dir: String): DataFrame = {
    val wide = Tables(s, dir, "events")
      .groupBy($"user_id")
      .pivot("event_type", eventTypes)
      .agg(dsum($"value"))
    require(wide.columns.toSeq == ("user_id" +: eventTypes),
      s"q120: unexpected pivot columns ${wide.columns.toSeq}")
    wide.unpivot(Array(col("user_id")), eventTypes.map(col).toArray,
        "event_type", "sum_value")
      .where($"sum_value".isNotNull)
      .orderBy($"user_id", $"event_type")
  }

  val q120Sql: String =
    """SELECT user_id, event_type,
      |  CAST(SUM(CAST(value AS DECIMAL(25,4))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY user_id, event_type
      |HAVING SUM(CAST(value AS DECIMAL(25,4))) IS NOT NULL
      |ORDER BY user_id, event_type""".stripMargin

  // ---- cube subtotals -----------------------------------------------------

  /** Full cube over (returnflag, linestatus) with grouping_id — the
    * 2^n grouping-sets complement of q25's rollup. Both engines use
    * the same gid bit convention (leftmost cube column = most
    * significant bit), so the marker column is oracled as a value, not
    * just coalesced away. */
  def q121Cube(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .cube($"l_returnflag", $"l_linestatus")
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        dsum($"l_quantity").as("qty_sum"))
      .select(coalesce($"l_returnflag", lit("ALL")).as("returnflag"),
        coalesce($"l_linestatus", lit("ALL")).as("linestatus"),
        $"gid", $"n", $"qty_sum")
      .orderBy($"returnflag", $"linestatus")

  val q121Sql: String =
    """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
      |COALESCE(l_linestatus, 'ALL') AS linestatus,
      |GROUPING_ID(l_returnflag, l_linestatus) AS gid,
      |COUNT(*) AS n,
      |CAST(SUM(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) AS qty_sum
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin

  // ---- quantile sketch vs exact ------------------------------------------

  /** Approximate percentiles (Greenwald-Khanna via percentile_approx —
    * bounded-memory mergeable summaries, the quantile analog of q114's
    * HLL) checked in-gate against the exact order statistics: at
    * accuracy 1000 the sketch guarantees rank error <= n/1000, so each
    * approximate value must lie between the exact continuous quantiles
    * at p +/- 0.002 (rank band 0.001 plus one-element discreteness).
    * The oracled output is the EXACT per-group percentiles (q28's
    * convention); at 100 TB the sketch column IS the plan — fixed-size
    * mergeable partials, no per-group sort. */
  def q122QuantileSketch(s: SparkSession, dir: String): DataFrame = {
    val ps = Seq(0.25, 0.5, 0.75, 0.95)
    val eps = 0.002
    def arr(xs: Seq[Double]): Column = array(xs.map(lit): _*)
    // ONE exact-percentile aggregate for all 12 quantiles (point +
    // lo/hi rank bands): each percentile() call builds its own
    // per-group value buffer, so three calls tripled the dominant
    // cost. Round 22: the rank-band check moved from a driver
    // collect() over a persist()ed intermediate into the expression
    // layer (the q225 lazy-invariant pattern) — the gate is now ONE
    // aggregate pass, no driver data work (guide §5), and no cached
    // plan to leak into the session (the old never-unpersisted cache
    // made bench pass 2 re-serve pass 1's result: s1/s2 read
    // 2.4–3.7 s / 0.27–0.32 s in every pre-round-22 pair).
    val allPs = ps ++ ps.map(p => math.max(0.0, p - eps)) ++
      ps.map(p => math.min(1.0, p + eps))
    val k = ps.length
    val rows = Tables(s, dir, "lineitem")
      .groupBy($"l_linestatus")
      .agg(
        percentile($"l_extendedprice", arr(allPs)).as("exall"),
        percentile_approx($"l_extendedprice", arr(ps), lit(1000))
          .as("ap"))
      .select($"l_linestatus",
        slice($"exall", 1, k).as("ex"),
        $"ap",
        slice($"exall", k + 1, k).as("lo"),
        slice($"exall", 2 * k + 1, k).as("hi"))
    val inBands = ps.indices.map { i =>
      $"ap".getItem(i) >= $"lo".getItem(i) - lit(1e-9) &&
        $"ap".getItem(i) <= $"hi".getItem(i) + lit(1e-9)
    }
    // the first out-of-band percentile, with the values that broke it
    val bandFailure = coalesce(ps.indices.map { i =>
      when(!inBands(i), format_string(
        "q122: group %s percentile %s: approx %s outside rank band [%s, %s]",
        $"l_linestatus", lit(ps(i)), $"ap".getItem(i), $"lo".getItem(i),
        $"hi".getItem(i)))
    }: _*)
    rows.select($"l_linestatus",
        round($"ex".getItem(0), 4).as("p25"),
        round($"ex".getItem(1), 4).as("p50"),
        round($"ex".getItem(2), 4).as("p75"),
        round($"ex".getItem(3), 4).as("p95"),
        // fires only when sketch_ok is materialized: a projection that
        // prunes the column prunes the check with it
        when(inBands.reduce(_ && _), lit(true))
          .otherwise(raise_error(bandFailure)).as("sketch_ok"))
      .orderBy($"l_linestatus")
  }

  val q122Sql: String =
    """SELECT l_linestatus,
      |round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
      |round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
      |round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
      |round(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
      |true AS sketch_ok
      |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  // ---- exact heavy hitters, two-pass candidate pattern -------------------

  /** Exact frequent keys above a 5% frequency threshold WITHOUT a
    * full-domain groupBy (Sketches.heavyHitters): per-partition local
    * counts emit a guaranteed-superset candidate set (averaging
    * argument — any global heavy hitter clears the local threshold
    * somewhere), then an exact recount confined to candidates. The key
    * is deliberately skewed (q99's discipline): 3 hot keys carry ~60%
    * of lineitem, every other key is order-unique cold. Fully oracled:
    * DuckDB recomputes the same CASE key and the same >= theta*N
    * cut — a green row proves the candidate pass lost nothing. */
  def q123HeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val key = when(pmod($"l_orderkey", lit(100)) < 60,
        concat(lit("h"), pmod($"l_orderkey", lit(3)).cast(StringType)))
      .otherwise(concat(lit("c"), $"l_orderkey".cast(StringType)))
    Sketches.heavyHitters(
        Tables(s, dir, "lineitem").select(key.as("k")), "k", theta = 0.05)
      .orderBy($"k")
  }

  val q123Sql: String =
    """WITH k AS (
      |  SELECT CASE WHEN l_orderkey % 100 < 60
      |    THEN 'h' || CAST(l_orderkey % 3 AS VARCHAR)
      |    ELSE 'c' || CAST(l_orderkey AS VARCHAR) END AS k
      |  FROM lineitem)
      |SELECT k, COUNT(*) AS n FROM k GROUP BY k
      |HAVING COUNT(*) >= 0.05 * (SELECT COUNT(*) FROM k)
      |ORDER BY k""".stripMargin

  // ---- deterministic per-group sampling ----------------------------------

  /** Deterministic k-per-group sample (GroupTopK.sampleKPerGroup): the
    * 20 documents per lang whose splitmix64 hash is smallest — a
    * reproducible uniform stratum sample selected by a partial-merging
    * k-heap aggregate, NOT a row_number window: each task folds its
    * partition to <=k rows per group map-side, so shuffle volume is
    * k x |groups| regardless of corpus size (the window form shuffles
    * every row into |groups| partitions). The gate asserts the no-
    * window plan property, and the oracle replays the full 64-bit hash
    * (q90's HUGEINT CTEs) plus the (h, id) rank order bit-for-bit. */
  def q124GroupSample(s: SparkSession, dir: String): DataFrame = {
    val out = GroupTopK.sampleKPerGroup(
        Tables(s, dir, "documents").select($"lang", $"doc_id"),
        Seq("lang"), "doc_id", k = 20, seed = 29L)
      .select($"lang", $"id".as("doc_id"), $"key".as("h"),
        $"rank".as("rnk"))
    val windows = planNodes(out.queryExecution.executedPlan).count(
      _.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec])
    require(windows == 0,
      s"q124: expected a bounded partial-merge aggregate, found " +
        s"$windows WindowExec nodes")
    out.orderBy($"lang", $"rnk")
  }

  val q124Sql: String =
    s"""WITH ${LmPrepGates.hashCtes("sh", 29L, "documents", "doc_id")},
       |j AS (
       |  SELECT d.lang, s.k AS doc_id, s.h
       |  FROM shh s JOIN documents d ON d.doc_id = s.k),
       |r AS (
       |  SELECT lang, doc_id, h,
       |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id)
       |      AS rnk
       |  FROM j)
       |SELECT lang, doc_id, h, rnk FROM r WHERE rnk <= 20
       |ORDER BY lang, rnk""".stripMargin

  // ---- single-pass observed metrics --------------------------------------

  /** Pipeline accounting via `Dataset.observe` (the Observation API):
    * row count and an exact DECIMAL total accumulate ON the scan of
    * the aggregate query itself — the production pattern for emitting
    * data-quality counters without a second pass over 100 TB. In-gate:
    * the observed metrics must equal the totals recomputed from the
    * oracled per-group output (conservation — the observation saw
    * every row the aggregate consumed). */
  def q126ObserveMetrics(s: SparkSession, dir: String): DataFrame = {
    val obs = org.apache.spark.sql.Observation(s"q126_${System.nanoTime()}")
    val out = Tables(s, dir, "lineitem")
      .observe(obs, count(lit(1)).as("cnt"),
        sum($"l_quantity".cast(DecimalType(25, 4))).as("qty"))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"), dsum($"l_quantity").as("sum_qty"))
      .withColumn("observed_ok", lit(true))
      .orderBy($"l_returnflag")
    val rows = out.collect()
    val m = obs.get
    val obsCnt = m("cnt").asInstanceOf[Long]
    val obsQty = m("qty").asInstanceOf[java.math.BigDecimal]
    val aggCnt = rows.map(_.getLong(1)).sum
    val aggQty = rows.map(r => BigDecimal(r.getDouble(2))).sum
    require(obsCnt == aggCnt,
      s"q126: observed row count $obsCnt != aggregate total $aggCnt")
    require((BigDecimal(obsQty) - aggQty).abs < BigDecimal("0.0001"),
      s"q126: observed qty $obsQty != aggregate total $aggQty")
    out
  }

  val q126Sql: String =
    """SELECT l_returnflag, COUNT(*) AS n,
      |CAST(SUM(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) AS sum_qty,
      |true AS observed_ok
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---- q128: analytic window-function suite -----------------------------

  /** The window functions q11 (rank) and q27 (rolling) do NOT cover, in
    * one partitioned pass: row_number / lag / lead / ntile /
    * percent_rank / cume_dist / first_value / last_value / nth_value /
    * framed sum. Ordering inside each supplier partition is the
    * globally-unique (l_orderkey, l_linenumber), so every function is
    * deterministic; percent_rank and cume_dist are exact rational
    * divisions of identical integer operands on both engines, and the
    * framed moving sum goes through DECIMAL. One shuffle on l_suppkey;
    * all ten functions share the single sort. */
  def q128WindowSuite(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"l_suppkey")
      .orderBy($"l_orderkey", $"l_linenumber")
    val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTail = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val wM3 = w.rowsBetween(-2, 0)
    Tables(s, dir, "lineitem")
      .where($"l_suppkey" < 10)
      .select($"l_suppkey", $"l_orderkey", $"l_linenumber",
        row_number().over(w).as("rn"),
        lag($"l_quantity", 1).over(w).as("lag_qty"),
        lead($"l_quantity", 1).over(w).as("lead_qty"),
        ntile(4).over(w).as("nt"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"),
        first($"l_quantity").over(wCum).as("first_q"),
        last($"l_quantity").over(wTail).as("last_q"),
        nth_value($"l_quantity", 2).over(wCum).as("nth2"),
        sum($"l_quantity".cast(DecimalType(25, 4))).over(wM3)
          .cast(DoubleType).as("mavg3"))
      .orderBy($"l_suppkey", $"l_orderkey", $"l_linenumber")
  }

  val q128Sql: String =
    """SELECT l_suppkey, l_orderkey, l_linenumber,
      |  row_number() OVER w AS rn,
      |  lag(l_quantity, 1) OVER w AS lag_qty,
      |  lead(l_quantity, 1) OVER w AS lead_qty,
      |  ntile(4) OVER w AS nt,
      |  percent_rank() OVER w AS pr,
      |  cume_dist() OVER w AS cd,
      |  first_value(l_quantity) OVER (PARTITION BY l_suppkey
      |    ORDER BY l_orderkey, l_linenumber
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_q,
      |  last_value(l_quantity) OVER (PARTITION BY l_suppkey
      |    ORDER BY l_orderkey, l_linenumber
      |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS last_q,
      |  nth_value(l_quantity, 2) OVER (PARTITION BY l_suppkey
      |    ORDER BY l_orderkey, l_linenumber
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nth2,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(25,4))) OVER (
      |    PARTITION BY l_suppkey ORDER BY l_orderkey, l_linenumber
      |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS mavg3
      |FROM lineitem WHERE l_suppkey < 10
      |WINDOW w AS (PARTITION BY l_suppkey
      |  ORDER BY l_orderkey, l_linenumber)
      |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin

  // ---- q132: star-schema join (TPC-H Q3 shape) --------------------------

  /** The classic shipping-priority query (TPC-H Q3) on the star schema:
    * filtered customer segment × date-bounded orders × shipped-after
    * lineitems, revenue per order, top 20. The Spark-first plan: the
    * segment-filtered customer dim is explicitly `broadcast()` (no
    * shuffle of either fact input for that join), the orders join
    * shuffles on the natural key, and both date filters push into the
    * parquet scans. Revenue per row is the identical IEEE product on
    * both engines; the per-order sum goes through DECIMAL; top-20
    * selection is deterministic via the (revenue DESC, orderkey)
    * tie-break. */
  def q132StarJoin(s: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1998-06-01").cast(TimestampNTZType)
    val cust = Tables(s, dir, "customer")
      .where($"c_mktsegment" === "BUILDING")
      .select($"c_custkey")
    val ord = Tables(s, dir, "orders")
      .where($"o_orderdate" < cutoff)
      .select($"o_orderkey", $"o_custkey", $"o_orderdate",
        $"o_orderpriority")
    val li = Tables(s, dir, "lineitem")
      .where($"l_shipdate" > cutoff)
      .select($"l_orderkey", $"l_extendedprice", $"l_discount")
    val result = li
      .join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .groupBy($"l_orderkey", $"o_orderdate", $"o_orderpriority")
      .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount"))
        .as("revenue"))
      .orderBy($"revenue".desc, $"l_orderkey")
      .limit(20)
      .select($"l_orderkey", $"revenue", $"o_orderdate",
        $"o_orderpriority")
    val plan = result.queryExecution.executedPlan.toString()
    require(plan.contains("BroadcastHashJoin"),
      s"q132: customer dim not broadcast:\n${plan.take(600)}")
    result
  }

  val q132Sql: String =
    """SELECT l_orderkey,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |    AS DECIMAL(25,4))) AS DOUBLE) AS revenue,
      |  o_orderdate, o_orderpriority
      |FROM customer, orders, lineitem
      |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
      |  AND l_orderkey = o_orderkey
      |  AND o_orderdate < TIMESTAMP '1998-06-01'
      |  AND l_shipdate > TIMESTAMP '1998-06-01'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey LIMIT 20""".stripMargin

  // ---- q133: dynamic partition pruning --------------------------------

  /** Runtime partition pruning — the scan of a hive-partitioned fact
    * table is pruned by the RESULT of a dim-side filter the optimizer
    * cannot see statically (the filter is on `cat`, the fact is
    * partitioned by `flag`): Catalyst inserts a dynamicpruning
    * subquery that reuses the dim broadcast to skip fact partitions at
    * run time. q119 witnesses STATIC pruning (literal predicate); this
    * is the join-driven form every star-schema query at 100 TB leans
    * on. In-gate: the executed scan must carry a
    * dynamicpruningexpression PartitionFilter AND its numFiles metric
    * must show a strict subset of the relation's files was read.
    * `useStats=false` on the isolated session because local toy stats
    * make the benefit heuristic decline the insertion a cluster's
    * stats would accept. */
  def q133DynamicPruning(parent: SparkSession, dir: String): DataFrame = {
    val s = parent.newSession()
    s.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats",
      "false")
    val factPath = "/tmp/graft_formats/dpp_lineitem"
    val dimPath = "/tmp/graft_formats/dpp_dim"
    Tables(s, dir, "lineitem")
      .select($"l_orderkey", $"l_linenumber", $"l_quantity",
        $"l_returnflag")
      .write.mode("overwrite").partitionBy("l_returnflag")
      .parquet(factPath)
    import scala.jdk.CollectionConverters._
    s.createDataFrame(
      Seq(Row("R", "returned"), Row("A", "acknowledged"),
        Row("N", "none")).asJava,
      StructType(Seq(StructField("flag", StringType),
        StructField("cat", StringType))))
      .write.mode("overwrite").parquet(dimPath)
    val fact = s.read.parquet(factPath)
    val dim = s.read.parquet(dimPath).where($"cat" === "returned")
    val joined = fact.join(dim, fact("l_returnflag") === dim("flag"))
      .groupBy($"l_linenumber")
      .agg(count(lit(1)).as("n"), dsum($"l_quantity").as("sum_qty"))
      .orderBy($"l_linenumber")
    val qe = joined.queryExecution
    qe.toRdd.count()
    val factScan = planNodes(qe.executedPlan).collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.toString().contains("dynamicpruningexpression") => f
    }.getOrElse(
      sys.error("q133: no scan carries a dynamicpruning partition " +
        s"filter:\n${qe.executedPlan.toString().take(800)}"))
    val filesRead = factScan.metrics("numFiles").value
    val totalFiles = s.read.parquet(factPath).inputFiles.length
    require(filesRead > 0 && filesRead < totalFiles,
      s"q133: dynamic pruning read $filesRead of $totalFiles files — " +
        "no runtime skip happened")
    joined
  }

  val q133Sql: String =
    """SELECT l_linenumber, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE)
      |    AS sum_qty
      |FROM lineitem WHERE l_returnflag = 'R'
      |GROUP BY l_linenumber ORDER BY l_linenumber""".stripMargin

  // ---- q134: AQE skew-join handling -----------------------------------

  /** Runtime skew mitigation WITHOUT manual salting (the q99
    * alternative): half the fact rows share one synthetic hot key, the
    * dim is too big to broadcast (both broadcast thresholds off), and
    * AQE's OptimizeSkewedJoin must split the skewed shuffle partition
    * at mapper boundaries — the executed plan is REQUIRED to carry an
    * `AQEShuffleRead … skew=true`. Skew thresholds derive from the
    * actual data size so the witness holds at every SF without
    * creating thousands of split tasks at sf1.0; the upstream
    * repartition(16) guarantees multiple mapper chunks to split at
    * (a single-file input gives AQE nothing to cut). Values are
    * oracled: the synthetic key and weight are exact integer
    * expressions DuckDB replays, the revenue product is the identical
    * IEEE double, and the sum goes through DECIMAL. */
  def q134AqeSkewJoin(parent: SparkSession, dir: String): DataFrame = {
    val s = parent.newSession()
    val li0 = Tables(s, dir, "lineitem")
    val rows = li0.count()
    val hotBytes = rows / 2 * 16
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    s.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      math.max(4096L, hotBytes / 4).toString)
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
      math.max(2048L, hotBytes / 8).toString)
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "1.0")
    val fact = li0.repartition(16)
      .withColumn("k", when($"l_orderkey" % 2 === 0, 7L)
        .otherwise($"l_orderkey" % 1000L))
    val dim = s.range(0, 1000)
      .select($"id".as("k"), ($"id" * 2).as("w"))
    val result = fact.join(dim, "k")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        dsum($"l_quantity" * $"w").as("weighted_qty"))
      .orderBy($"l_returnflag")
    val qe = result.queryExecution
    qe.toRdd.count()
    val plan = qe.executedPlan.toString()
    require(plan.contains("skew=true"),
      s"q134: AQE did not mark the hot partition skewed:\n" +
        plan.take(800))
    result
  }

  val q134Sql: String =
    """SELECT l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity * (k * 2) AS DECIMAL(25,4)))
      |    AS DOUBLE) AS weighted_qty
      |FROM lineitem JOIN range(0, 1000) AS t(k)
      |  ON (CASE WHEN l_orderkey % 2 = 0 THEN 7
      |      ELSE l_orderkey % 1000 END) = k
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---- q137: join-strategy control ------------------------------------

  /** Explicit join-strategy selection — the knob a 100 TB plan turns
    * when the optimizer's size estimates are wrong: the SAME join runs
    * under `broadcast`, `shuffle_hash`, and `merge` hints, the
    * executed plan is REQUIRED to honor each (BroadcastHashJoin /
    * ShuffledHashJoin / SortMergeJoin), and all three must produce
    * IDENTICAL values — which the DECIMAL sum convention makes exact
    * regardless of partial-agg order, so the check is bit-for-bit, not
    * approximate. One strategy's result is oracled; the others equal
    * it in-gate. */
  def q137JoinHints(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem").select($"l_suppkey", $"l_quantity")
    val sup = Tables(s, dir, "supplier")
      .select($"s_suppkey", $"s_nationkey")
    def run(hint: String, shape: String): DataFrame = {
      val j = li.join(sup.hint(hint), $"l_suppkey" === $"s_suppkey")
        .groupBy($"s_nationkey")
        .agg(count(lit(1)).as("n"), dsum($"l_quantity").as("qty_sum"))
        .orderBy($"s_nationkey")
      val plan = j.queryExecution.executedPlan.toString()
      require(plan.contains(shape),
        s"q137: hint '$hint' did not yield $shape:\n${plan.take(500)}")
      j
    }
    val bc = run("broadcast", "BroadcastHashJoin")
    val sh = run("shuffle_hash", "ShuffledHashJoin")
    val sm = run("merge", "SortMergeJoin")
    val (b, h, m) =
      (bc.collect().toSeq, sh.collect().toSeq, sm.collect().toSeq)
    require(b == h && h == m,
      s"q137: join strategies disagree — broadcast=$b shuffle_hash=$h " +
        s"merge=$m")
    sm
  }

  val q137Sql: String =
    """SELECT s_nationkey, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE)
      |    AS qty_sum
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin

  // ---- q139: SQL-text API surface --------------------------------------

  /** The `spark.sql(...)` user path: tables registered as temp views
    * and queried with SQL TEXT (not the DataFrame DSL) — a join, a
    * window, and an aggregate in one statement, planned by the same
    * Catalyst pipeline as every DSL gate. Proves the library's surface
    * is reachable from the SQL front end a BI tool or notebook user
    * would hit; the oracle is the same statement's DuckDB reading. */
  def q139SqlApi(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "orders").createOrReplaceTempView("orders_v")
    Tables(s, dir, "customer").createOrReplaceTempView("customer_v")
    s.sql("""
      SELECT c_mktsegment,
        COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(25,4))) AS DOUBLE)
          AS price_sum,
        MAX(rk) AS max_rank
      FROM (
        SELECT o.o_totalprice, c.c_mktsegment,
          RANK() OVER (PARTITION BY c.c_mktsegment
            ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rk
        FROM orders_v o JOIN customer_v c ON o.o_custkey = c.c_custkey)
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment""")
  }

  val q139Sql: String =
    """SELECT c_mktsegment, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(25,4))) AS DOUBLE)
      |    AS price_sum,
      |  MAX(rk) AS max_rank
      |FROM (
      |  SELECT o.o_totalprice, c.c_mktsegment,
      |    RANK() OVER (PARTITION BY c.c_mktsegment
      |      ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rk
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey) t
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  // ---- q141: time-series resample with gap fill ------------------------

  /** Downsample the event stream to fixed 15-minute bins INCLUDING the
    * empty ones — the resample-then-gap-fill shape every monitoring /
    * feature-engineering pipeline needs (a missing bin is a zero, not
    * an absent row). Bin ids are exact integer division of the long-ns
    * ts; the dense bin axis comes from `spark.range(lo, hi+1)` (a
    * generated relation, not a scan) left-joined to the aggregate.
    * In-gate: the output must be exactly the dense axis — one row per
    * bin in [lo, hi]. Scale shape: the aggregate is the usual partial/
    * final pair; the axis relation is bins-sized, not rows-sized, and
    * broadcasts. */
  def q141ResampleGapfill(s: SparkSession, dir: String): DataFrame = {
    val binNs = 900L * 1000000000L // 15 min
    val agg = Tables(s, dir, "events")
      .select(expr(s"ts div $binNs").as("bin"), $"value")
      .groupBy($"bin")
      .agg(count(lit(1)).as("n0"), dsum($"value").as("s0"))
    val mrow = agg.agg(min($"bin"), max($"bin")).head()
    val (lo, hi) = (mrow.getLong(0), mrow.getLong(1))
    require(hi > lo, s"q141: degenerate bin axis [$lo,$hi]")
    val out = s.range(lo, hi + 1).select($"id".as("bin"))
      .join(agg, Seq("bin"), "left")
      .select($"bin", coalesce($"n0", lit(0L)).as("n"),
        coalesce($"s0", lit(0.0)).as("sum_value"))
      .orderBy($"bin")
    out
  }

  val q141Sql: String =
    """WITH b AS (
      |  SELECT (epoch_us(ts) * 1000) // 900000000000 AS bin, value
      |  FROM events),
      |a AS (
      |  SELECT bin, COUNT(*) AS n0,
      |    CAST(SUM(CAST(value AS DECIMAL(25,4))) AS DOUBLE) AS s0
      |  FROM b GROUP BY bin),
      |r AS (
      |  SELECT UNNEST(generate_series(
      |    (SELECT min(bin) FROM a), (SELECT max(bin) FROM a))) AS bin)
      |SELECT r.bin, COALESCE(a.n0, 0) AS n,
      |  COALESCE(a.s0, 0.0) AS sum_value
      |FROM r LEFT JOIN a USING (bin) ORDER BY bin""".stripMargin

  // ---- q142: cache reuse ------------------------------------------------

  /** Explicit dataset caching — the hot-dim / iterative-read pattern: a
    * filtered projection is persisted, materialized once, and TWO
    * downstream aggregates consume it; the second one's executed plan
    * is REQUIRED to read `InMemoryTableScan` (the cache, not the
    * parquet). At 100 TB you cache the filtered 100 GB working set,
    * never the raw table — the gate caches the filter+projection
    * result for exactly that reason. Unpersisted before returning so
    * repeated bench loops don't accumulate executors-full of old
    * cache entries. */
  def q142CacheReuse(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir, "lineitem")
      .where($"l_quantity" > 10)
      .select($"l_returnflag", $"l_quantity", $"l_extendedprice")
      .persist()
    try {
      val qty = base.groupBy($"l_returnflag")
        .agg(dsum($"l_quantity").as("qty_sum"))
      qty.count() // materialize the cache
      val price = base.groupBy($"l_returnflag")
        .agg(dsum($"l_extendedprice").as("price_sum"))
      val plan = price.queryExecution.executedPlan.toString()
      require(plan.contains("InMemoryTableScan"),
        s"q142: second read did not hit the cache:\n${plan.take(500)}")
      qty.join(price, "l_returnflag")
        .select($"l_returnflag", $"qty_sum", $"price_sum")
        .orderBy($"l_returnflag")
        // force the join NOW while the cache is live; the returned
        // frame is re-evaluated later (post-unpersist), where it
        // recomputes from parquet with identical values
        .localCheckpoint()
    } finally base.unpersist()
  }

  val q142Sql: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE)
      |    AS qty_sum,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,4))) AS DOUBLE)
      |    AS price_sum
      |FROM lineitem WHERE l_quantity > 10
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---- q143: outer-join matrix ------------------------------------------

  /** The outer-join truth table in one result: two deliberately
    * part-overlapping populations (orders of every 3rd customer vs
    * customers outside one residue class) FULL-OUTER joined, with
    * null-side indicators and null-tolerant aggregates — the join-type
    * semantics (left-only, right-only, matched) every engine must
    * agree on exactly. Complements the inner/semi/anti forms gates
    * q03/q115/q135 exercise. */
  def q143OuterJoin(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
      .where($"o_custkey" % 3 === 0)
      .groupBy($"o_custkey".as("k"))
      .agg(count(lit(1)).as("n_orders"))
    val c = Tables(s, dir, "customer")
      .where($"c_custkey" % 3 =!= 1)
      .select($"c_custkey".as("k"), $"c_nationkey")
    o.join(c, Seq("k"), "full_outer")
      .select($"k",
        $"n_orders".isNotNull.as("has_orders"),
        $"c_nationkey".isNotNull.as("has_customer"),
        coalesce($"n_orders", lit(0L)).as("n_orders"),
        coalesce($"c_nationkey".cast(LongType), lit(-1L))
          .as("nationkey"))
      .orderBy($"k")
  }

  val q143Sql: String =
    """WITH o AS (
      |  SELECT o_custkey AS k, COUNT(*) AS n_orders FROM orders
      |  WHERE o_custkey % 3 = 0 GROUP BY o_custkey),
      |c AS (
      |  SELECT c_custkey AS k, c_nationkey FROM customer
      |  WHERE c_custkey % 3 <> 1)
      |SELECT COALESCE(o.k, c.k) AS k,
      |  o.n_orders IS NOT NULL AS has_orders,
      |  c.c_nationkey IS NOT NULL AS has_customer,
      |  COALESCE(o.n_orders, 0) AS n_orders,
      |  CAST(COALESCE(c.c_nationkey, -1) AS BIGINT) AS nationkey
      |FROM o FULL OUTER JOIN c ON o.k = c.k
      |ORDER BY k""".stripMargin

  // ---- q144: explode forms (posexplode_outer) ---------------------------

  /** Generator semantics at the edge: `posexplode_outer` over an array
    * that is EMPTY for many rows must emit one (null pos, null value)
    * row per empty input instead of dropping the document — the
    * difference between explode and explode_outer is exactly the rows
    * a naive pipeline silently loses. The array here is each doc's
    * long words (> 7 letters), empty for short-worded docs; the oracle
    * replays the outer semantics with list_extract over a 1-based
    * index axis (empty list → index 0 probe → NULL row). */
  def q144ExplodeForms(s: SparkSession, dir: String): DataFrame = {
    val words = filter(
      split(lower($"text"), "[^a-z]+"), w => length(w) > 7)
    Tables(s, dir, "documents")
      .where($"doc_id" < 100)
      .select($"doc_id", words.as("arr"))
      .select($"doc_id", posexplode_outer($"arr"))
      .select($"doc_id", $"pos".cast(LongType).as("pos"),
        $"col".as("w"))
      .orderBy($"doc_id", $"pos")
  }

  val q144Sql: String =
    """WITH d AS (
      |  SELECT doc_id, list_filter(
      |    regexp_split_to_array(lower(text), '[^a-z]+'),
      |    w -> length(w) > 7) AS arr
      |  FROM documents WHERE doc_id < 100),
      |x AS (
      |  SELECT doc_id, arr,
      |    UNNEST(range(greatest(len(arr), 1))) AS i
      |  FROM d)
      |SELECT doc_id,
      |  CASE WHEN len(arr) = 0 THEN NULL ELSE i END AS pos,
      |  list_extract(arr, CAST(i + 1 AS INT)) AS w
      |FROM x ORDER BY doc_id, pos""".stripMargin

  // ---- q149: conversion funnel ------------------------------------------

  /** Three-stage ordered conversion funnel (view → click within 24 h →
    * purchase within 24 h) per user — the canonical events-analytics
    * query. Each stage is a filter-pushdown scan (event_type reaches
    * the parquet scan) + one min aggregate, joined to the previous
    * stage on user_id; stage tables are user-sized, so at 100 TB each
    * join is a shuffle on user_id over already-aggregated rows (AQE
    * broadcasts them when the funnel top fits). Timestamps are exact
    * integer microseconds (ts div 1000) end to end. */
  def q149Funnel(s: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    val e = Tables(s, dir, "events")
      .select($"user_id", $"event_type", expr("ts div 1000").as("us"))
    val v = e.where($"event_type" === "view")
      .groupBy($"user_id").agg(min($"us").as("t_view"))
    val c = e.where($"event_type" === "click").join(v, "user_id")
      .where($"us" > $"t_view" && $"us" <= $"t_view" + lit(dayUs))
      .groupBy($"user_id").agg(min($"us").as("t_click"))
    val p = e.where($"event_type" === "purchase").join(c, "user_id")
      .where($"us" > $"t_click" && $"us" <= $"t_click" + lit(dayUs))
      .groupBy($"user_id").agg(min($"us").as("t_purchase"))
    v.join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .orderBy($"user_id")
  }

  val q149Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |v AS (SELECT user_id, min(us) AS t_view FROM e
      |      WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, min(us) AS t_click
      |      FROM e JOIN v USING (user_id)
      |      WHERE event_type = 'click' AND us > v.t_view
      |        AND us <= v.t_view + 86400000000 GROUP BY 1),
      |p AS (SELECT e.user_id, min(us) AS t_purchase
      |      FROM e JOIN c USING (user_id)
      |      WHERE event_type = 'purchase' AND us > c.t_click
      |        AND us <= c.t_click + 86400000000 GROUP BY 1)
      |SELECT v.user_id, v.t_view, c.t_click, p.t_purchase
      |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
      |ORDER BY user_id""".stripMargin

  // ---- q150: cohort retention -------------------------------------------

  /** Weekly cohort retention over purchase events: users grouped by
    * their first purchase week, counted as retained in each later week
    * they purchased again. Two shuffles total (first-week aggregate,
    * cohort×offset distinct-count) over an event_type-pruned scan; all
    * arithmetic is integer floor division of epoch microseconds, exact
    * in both engines. The distinct count is Spark's exact two-phase
    * countDistinct — at 100 TB the (cohort, offset, user) expand is the
    * standard pre-aggregate and nothing materializes driver-side. */
  def q150Cohort(s: SparkSession, dir: String): DataFrame = {
    val pe = Tables(s, dir, "events").where($"event_type" === "purchase")
      .select($"user_id",
        expr("ts div 1000 div 1000000 div 86400 div 7").as("wk"))
    val first = pe.groupBy($"user_id").agg(min($"wk").as("cohort"))
    pe.join(first, "user_id")
      .groupBy($"cohort", ($"wk" - $"cohort").as("offset_wk"))
      .agg(countDistinct($"user_id").as("n_users"))
      .orderBy($"cohort", $"offset_wk")
  }

  val q150Sql: String =
    """WITH pe AS (
      |  SELECT user_id, epoch_us(ts) // 1000000 // 86400 // 7 AS wk
      |  FROM events WHERE event_type = 'purchase'),
      |f AS (SELECT user_id, min(wk) AS cohort FROM pe GROUP BY 1)
      |SELECT cohort, wk - cohort AS offset_wk,
      |  count(DISTINCT pe.user_id) AS n_users
      |FROM pe JOIN f USING (user_id)
      |GROUP BY 1, 2
      |ORDER BY cohort, offset_wk""".stripMargin

  // ---- q153: date/time function battery ---------------------------------

  /** The date-dimension battery over order timestamps: extract fields
    * (year/quarter/month/day, ISO weekday, day-of-year), truncations
    * (week/month starts), calendar arithmetic (last_day, add_months
    * with month-end clamping, day diffs from an epoch). All pure
    * row-local integer/date expressions — codegen'd, no shuffle; both
    * engines implement the same proleptic Gregorian calendar so every
    * value is exact. Spark's weekday() is 0=Monday; +1 = ISO dow. */
  def q153DateBattery(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders").where($"o_orderkey" < 3000)
      .select($"o_orderkey", $"o_orderdate".cast(DateType).as("d"))
      .select($"o_orderkey",
        year($"d").as("yr"), quarter($"d").as("qtr"),
        month($"d").as("mon"), dayofmonth($"d").as("dom"),
        (weekday($"d") + 1).as("isodow"),
        dayofyear($"d").as("doy"),
        date_trunc("week", $"d").cast(DateType).as("wk_start"),
        last_day($"d").as("last_dom"),
        add_months($"d", 2).as("plus2mo"),
        datediff($"d", lit(java.sql.Date.valueOf("1995-01-01")))
          .as("days_since"))
      .orderBy($"o_orderkey")

  val q153Sql: String =
    """SELECT o_orderkey,
      |  CAST(year(o_orderdate) AS INT) AS yr,
      |  CAST(quarter(o_orderdate) AS INT) AS qtr,
      |  CAST(month(o_orderdate) AS INT) AS mon,
      |  CAST(day(o_orderdate) AS INT) AS dom,
      |  CAST(isodow(o_orderdate) AS INT) AS isodow,
      |  CAST(dayofyear(o_orderdate) AS INT) AS doy,
      |  CAST(date_trunc('week', o_orderdate) AS DATE) AS wk_start,
      |  last_day(CAST(o_orderdate AS DATE)) AS last_dom,
      |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE)
      |    AS plus2mo,
      |  CAST(datediff('day', DATE '1995-01-01',
      |    CAST(o_orderdate AS DATE)) AS INT) AS days_since
      |FROM orders WHERE o_orderkey < 3000
      |ORDER BY o_orderkey""".stripMargin

  // ---- q158: JSON column processing -------------------------------------

  /** The JSON surface over the events `props` column: path extraction
    * (`get_json_object`), schema-full parsing (`from_json`), and
    * construct-then-reparse round-tripping (`to_json(struct(...))` →
    * `from_json`). All row-local codegen'd expressions on the scan —
    * the semi-structured column never shuffles as JSON; only the
    * extracted integers reach the aggregate. `n_rt` counts rows whose
    * round-tripped event_type re-parses identically — the oracle pins
    * it equal to n, so a formatting/parsing asymmetry would go red. */
  def q158JsonOps(s: SparkSession, dir: String): DataFrame = {
    val k = get_json_object($"props", "$.k").cast(LongType)
    val rtSchema = StructType(Seq(
      StructField("et", StringType), StructField("k", LongType)))
    val rt = from_json(
      to_json(struct($"event_type".as("et"), k.as("k"))), rtSchema)
    Tables(s, dir, "events")
      // <=> not ===: a row whose props lacks $.k round-trips k as
      // NULL on both sides — that is a PRESERVED value, and the
      // null-unsafe === would silently drop it from n_rt
      .select($"event_type", k.as("k"),
        (rt.getField("et") <=> $"event_type" &&
          rt.getField("k") <=> k).as("rt_ok"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"k").as("sum_k"),
        min($"k").as("min_k"), max($"k").as("max_k"),
        sum(when($"rt_ok", 1L).otherwise(0L)).as("n_rt"))
      .orderBy($"event_type")
  }

  val q158Sql: String =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
      |  min(CAST(props->>'$.k' AS BIGINT)) AS min_k,
      |  max(CAST(props->>'$.k' AS BIGINT)) AS max_k,
      |  count(*) AS n_rt
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q159: session transition matrix ----------------------------------

  /** Markov transition counts between consecutive event types per user
    * — the path-analysis primitive behind "what do users do after X".
    * One window over (user_id, ts, event_id) — the globally-unique
    * order key makes lag() deterministic; the matrix is ≤ |types|²
    * rows. At 100 TB this is one shuffle on user_id (the window) and a
    * tiny aggregate; the sessionized variant composes with q118's
    * session_window as the partition key. */
  def q159Transitions(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id")
      .orderBy(expr("ts div 1000"), $"event_id")
    Tables(s, dir, "events")
      .select($"user_id", $"event_type", $"ts", $"event_id")
      .select($"event_type".as("next"),
        lag($"event_type", 1).over(w).as("prev"))
      .where($"prev".isNotNull)
      .groupBy($"prev", $"next")
      .agg(count(lit(1)).as("n"))
      .orderBy($"prev", $"next")
  }

  val q159Sql: String =
    """WITH l AS (
      |  SELECT lag(event_type) OVER (
      |      PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      |    AS prev, event_type AS next
      |  FROM events)
      |SELECT prev, next, count(*) AS n FROM l
      |WHERE prev IS NOT NULL GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- q161: semi/anti join + NOT IN null semantics ---------------------

  /** The filtering-join battery with the trap every SQL user hits:
    * LEFT SEMI (customers WITH a qualifying order), LEFT ANTI
    * (customers without), and `NOT IN` against a subquery CONTAINING A
    * NULL — which per three-valued logic can never be satisfied, so
    * the count MUST be zero in both engines (Spark compiles it to a
    * null-aware anti join). semi_n + anti_n = |customers| is implied
    * by the oracle equality. The NOT IN legs go through spark.sql —
    * the null-aware-anti-join path the DataFrame API does not expose. */
  def q161JoinSemantics(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables(s, dir, "customer").select($"c_custkey")
    val sub = Tables(s, dir, "orders").where($"o_orderkey" < 2000)
      .select($"o_custkey")
    val semiN = cust.join(sub, $"c_custkey" === $"o_custkey", "left_semi")
      .count()
    val antiN = cust.join(sub, $"c_custkey" === $"o_custkey", "left_anti")
      .count()
    cust.createOrReplaceTempView("q161_cust")
    sub.createOrReplaceTempView("q161_sub")
    val notinNull = s.sql(
      """SELECT count(*) FROM q161_cust WHERE c_custkey NOT IN
        |(SELECT o_custkey FROM q161_sub
        | UNION ALL SELECT CAST(NULL AS BIGINT))""".stripMargin)
      .head().getLong(0)
    val notinPlain = s.sql(
      """SELECT count(*) FROM q161_cust
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM q161_sub)"""
        .stripMargin).head().getLong(0)
    require(notinNull == 0L,
      s"q161: NOT IN over a null-bearing subquery must be empty, " +
        s"got $notinNull")
    require(notinPlain == antiN,
      s"q161: NOT IN ($notinPlain) must equal LEFT ANTI ($antiN) " +
        "on a null-free subquery")
    import s.implicits._
    Seq((semiN, antiN, notinNull)).toDF("semi_n", "anti_n", "notin_null_n")
  }

  val q161Sql: String =
    """WITH ck AS (SELECT c_custkey FROM customer),
      |sub AS (SELECT o_custkey FROM orders WHERE o_orderkey < 2000)
      |SELECT
      |  (SELECT count(*) FROM ck
      |   WHERE c_custkey IN (SELECT o_custkey FROM sub)) AS semi_n,
      |  (SELECT count(*) FROM ck
      |   WHERE c_custkey NOT IN (SELECT o_custkey FROM sub)) AS anti_n,
      |  (SELECT count(*) FROM ck
      |   WHERE c_custkey NOT IN (SELECT o_custkey FROM sub
      |     UNION ALL SELECT NULL)) AS notin_null_n""".stripMargin

  // ---- q162: parquet aggregate pushdown ----------------------------------

  /** MIN/MAX/COUNT answered from parquet FOOTER metadata, never the
    * data pages: a DSv2 scan with `spark.sql.parquet.aggregatePushdown`
    * on plans `PushedAggregation: [MIN(..), ..]` and reads one row-group
    * stats struct per file — the 100 TB version of "how many rows, what
    * key range" costs a metadata listing, not a table scan. The gate
    * asserts the pushed plan (a non-empty PushedAggregation on the
    * scan) AND that the metadata answer is bit-identical to the default
    * V1 computed aggregate. Pushdown legitimately requires no filter
    * and no non-partition grouping; int columns only here (float
    * min/max stats are NaN-unsafe, so Spark refuses them by design). */
  def q162AggPushdown(s: SparkSession, dir: String): DataFrame = {
    val v2 = s.newSession()
    v2.conf.set("spark.sql.sources.useV1SourceList", "")
    v2.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    val aggCols = Seq(
      min(col("l_orderkey")).as("min_ok"), max(col("l_orderkey")).as("max_ok"),
      max(col("l_partkey")).as("max_pk"), count(lit(1)).as("n"))
    val pushed = v2.read.parquet(s"$dir/lineitem.parquet")
      .agg(aggCols.head, aggCols.tail: _*)
    val plan = pushed.queryExecution.executedPlan.toString
    require(plan.contains("PushedAggregation: [MIN("),
      s"q162: expected PushedAggregation on the v2 scan, got:\n$plan")
    val m = pushed.head()
    val c = Tables(s, dir, "lineitem")
      .agg(aggCols.head, aggCols.tail: _*).head()
    require(m == c,
      s"q162: metadata aggregate $m != computed aggregate $c")
    import s.implicits._
    Seq((m.getLong(0), m.getLong(1), m.getLong(2), m.getLong(3)))
      .toDF("min_ok", "max_ok", "max_pk", "n")
  }

  val q162Sql: String =
    """SELECT min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok,
      |  max(l_partkey) AS max_pk, count(*) AS n FROM lineitem""".stripMargin

  // ---- q163: SCD type-2 dimension history --------------------------------

  /** Slowly-changing-dimension type-2 build — the warehouse pattern for
    * "what did this customer look like when": two snapshot versions
    * (v2 perturbs acctbal for custkey%10=0 and segment for %17=0)
    * union, change-detect against the per-key previous version
    * (null-safe lag compare), then effective-date with lead() —
    * open rows are current. Both windows shuffle once on c_custkey
    * (the second window reuses the partitioning, only re-sorts); at
    * 100 TB this is the standard one-shuffle MERGE-free history
    * rebuild, and incremental maintenance joins only the new snapshot
    * against current rows. */
  def q163Scd2(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables(s, dir, "customer")
    val v1 = cust.select($"c_custkey", $"c_acctbal", $"c_mktsegment",
      lit(1).as("version"))
    val v2 = cust.select($"c_custkey",
      when(pmod($"c_custkey", lit(10)) === 0, $"c_acctbal" + 100.0)
        .otherwise($"c_acctbal").as("c_acctbal"),
      when(pmod($"c_custkey", lit(17)) === 0, lit("MIGRATED"))
        .otherwise($"c_mktsegment").as("c_mktsegment"),
      lit(2).as("version"))
    val w = Window.partitionBy($"c_custkey").orderBy($"version")
    val changed = v1.unionByName(v2)
      .withColumn("pb", lag($"c_acctbal", 1).over(w))
      .withColumn("pm", lag($"c_mktsegment", 1).over(w))
      .withColumn("pv", lag($"version", 1).over(w))
      .where($"pv".isNull || !($"pb" <=> $"c_acctbal") ||
        !($"pm" <=> $"c_mktsegment"))
    val hist = changed
      .withColumn("valid_to", lead($"version", 1).over(w))
      .withColumn("is_current", $"valid_to".isNull)
    hist.groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("history_rows"),
        count(when($"is_current", 1)).as("current_rows"),
        count(when($"version" === 2, 1)).as("v2_rows"),
        dsum(when($"is_current", $"c_acctbal")).as("cur_bal"))
      .orderBy($"c_mktsegment")
  }

  val q163Sql: String =
    """WITH v1 AS (
      |  SELECT c_custkey, c_acctbal, c_mktsegment, 1 AS version
      |  FROM customer),
      |v2 AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 100.0
      |         ELSE c_acctbal END AS c_acctbal,
      |    CASE WHEN c_custkey % 17 = 0 THEN 'MIGRATED'
      |         ELSE c_mktsegment END AS c_mktsegment,
      |    2 AS version FROM customer),
      |snap AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2),
      |chg AS (
      |  SELECT *, lag(c_acctbal) OVER w AS pb,
      |    lag(c_mktsegment) OVER w AS pm, lag(version) OVER w AS pv
      |  FROM snap WINDOW w AS (PARTITION BY c_custkey ORDER BY version)),
      |kept AS (
      |  SELECT * FROM chg
      |  WHERE pv IS NULL OR pb IS DISTINCT FROM c_acctbal
      |     OR pm IS DISTINCT FROM c_mktsegment),
      |hist AS (
      |  SELECT *, lead(version) OVER
      |    (PARTITION BY c_custkey ORDER BY version) AS valid_to
      |  FROM kept)
      |SELECT c_mktsegment, count(*) AS history_rows,
      |  count(CASE WHEN valid_to IS NULL THEN 1 END) AS current_rows,
      |  count(CASE WHEN version = 2 THEN 1 END) AS v2_rows,
      |  CAST(sum(CAST(CASE WHEN valid_to IS NULL THEN c_acctbal END
      |    AS DECIMAL(25,4))) AS DOUBLE) AS cur_bal
      |FROM hist GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q167: mergeable HLL sketch cube -----------------------------------

  /** The re-aggregatable distinct-count cube: per-(event_type, day)
    * HLL sketches (hll_sketch_agg, lgK 12) roll up to per-type by
    * UNION (register max) — the pre-aggregated table answers any
    * coarser distinct-user rollup without rescanning the events, THE
    * pattern for 100 TB daily-partitioned distinct metrics. In-gate
    * checks: the unioned estimate must track the direct whole-group
    * sketch estimate within 1% (dense-regime register-max union is
    * lossless; at coupon-mode cardinalities union's forced HLL-mode
    * conversion costs a few counts), and sit within 5% (≈3σ at lgK 12)
    * of exact. The oracled output is the exact side; q114 covers
    * one-shot HLL accuracy — this gate is about MERGEABILITY. */
  def q167SketchCube(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .withColumn("day", to_date(timestamp_micros(expr("ts div 1000"))))
    val cells = ev.groupBy($"event_type", $"day")
      .agg(hll_sketch_agg($"user_id", lit(12)).as("sk"))
    val viaUnion = cells.groupBy($"event_type")
      .agg(hll_sketch_estimate(hll_union_agg($"sk", lit(false)))
        .as("est_union"))
    val direct = ev.groupBy($"event_type")
      .agg(hll_sketch_estimate(hll_sketch_agg($"user_id", lit(12)))
        .as("est_direct"),
        count_distinct($"user_id").as("nd_exact"))
    val joined = direct.join(viaUnion, "event_type")
    joined.collect().foreach { r =>
      val (et, estD, exact, estU) = (r.getString(0), r.getLong(1),
        r.getLong(2), r.getLong(3))
      // not exact equality: at coupon-mode cardinalities the DIRECT
      // sketch still counts exactly while union() forces HLL-mode
      // conversion (observed 1488 vs 1494 at sf0.1) — in the dense
      // register regime the two converge; 1% bounds both regimes
      require(math.abs(estU - estD).toDouble / math.max(estD, 1L) <= 0.01,
        s"q167: $et unioned estimate $estU off direct estimate $estD " +
          "by >1% — register-merge union lost information")
      require(math.abs(estU - exact).toDouble / exact <= 0.05,
        s"q167: $et estimate $estU off exact $exact by >5% at lgK 12")
    }
    joined.select($"event_type", $"nd_exact",
      lit(true).as("union_ok"), lit(true).as("within_3sigma"))
      .orderBy($"event_type")
  }

  val q167Sql: String =
    """SELECT event_type, count(DISTINCT user_id) AS nd_exact,
      |  true AS union_ok, true AS within_3sigma
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q169: CUBE + grouping_id ------------------------------------------

  /** Full CUBE over (status, priority) with the standard bit-encoded
    * grouping_id — all four grouping sets in ONE pass (partial
    * aggregation expands the sets map-side; no four-scan union).
    * Complements q25's rollup: cube adds the cross-set, grouping_id
    * disambiguates a NULL group key from a subtotal marker — the thing
    * COALESCE-based rollup displays can't. ≤ (|status|+1)·(|prio|+1)
    * result rows at any SF. */
  def q169Cube(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "orders")
      .cube($"o_orderstatus", $"o_orderpriority")
      .agg(grouping_id($"o_orderstatus", $"o_orderpriority")
          .cast(LongType).as("gid"),
        count(lit(1)).as("n"), dsum($"o_totalprice").as("total"))
      .select($"o_orderstatus", $"o_orderpriority", $"gid", $"n", $"total")
      .orderBy($"gid", $"o_orderstatus", $"o_orderpriority")
  }

  val q169Sql: String =
    """SELECT o_orderstatus, o_orderpriority,
      |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
      |  count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(25,4))) AS DOUBLE)
      |    AS total
      |FROM orders
      |GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY gid, o_orderstatus, o_orderpriority""".stripMargin

  // ---- q171: bidirectional nearest-event temporal join -------------------

  /** For every click, the NEAREST purchase by the same user in either
    * time direction (as-of join q24 looks only backward) — composed
    * from built-ins: one user_id shuffle, the purchase timestamps ride
    * the same two ROWS-frame windows q164's interpolation uses (prev
    * via last/ignoreNulls ascending, next via first/ignoreNulls
    * descending), then an integer-µs argmin with ties to the EARLIER
    * purchase. No self-join, no explode, no per-probe window over the
    * full table. Output is a single exact-integer summary row —
    * deterministic at any SF. */
  def q171NearestJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .where($"event_type".isin("click", "purchase"))
      .select($"user_id", expr("ts div 1000").as("tsu"), $"event_id",
        $"event_type")
    val pTs = when($"event_type" === "purchase", $"tsu")
    val wAsc = Window.partitionBy($"user_id").orderBy($"tsu", $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wDesc = Window.partitionBy($"user_id").orderBy($"tsu", $"event_id")
      .rowsBetween(1, Window.unboundedFollowing)
    val clicks = ev
      .withColumn("prev_p", last(pTs, ignoreNulls = true).over(wAsc))
      .withColumn("next_p", first(pTs, ignoreNulls = true).over(wDesc))
      .where($"event_type" === "click")
      .withColumn("d_prev", $"tsu" - $"prev_p")
      .withColumn("d_next", $"next_p" - $"tsu")
      .withColumn("nearest",
        when($"prev_p".isNull, $"next_p")
          .when($"next_p".isNull, $"prev_p")
          .when($"d_prev" <= $"d_next", $"prev_p") // tie → earlier
          .otherwise($"next_p"))
    clicks.agg(
      count(lit(1)).as("n_clicks"),
      count($"nearest").as("n_matched"),
      count(when($"nearest" === $"prev_p", 1)).as("n_prev"),
      count(when($"nearest" === $"next_p" && !($"prev_p" <=> $"next_p"), 1))
        .as("n_next"),
      sum(abs($"nearest" - $"tsu")).as("sum_delta_us"))
  }

  val q171Sql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) AS tsu, event_id, event_type
      |  FROM events WHERE event_type IN ('click', 'purchase')),
      |a AS (
      |  SELECT *,
      |    last_value(CASE WHEN event_type = 'purchase' THEN tsu END
      |      IGNORE NULLS) OVER wa AS prev_p,
      |    first_value(CASE WHEN event_type = 'purchase' THEN tsu END
      |      IGNORE NULLS) OVER wd AS next_p
      |  FROM ev WINDOW
      |    wa AS (PARTITION BY user_id ORDER BY tsu, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |    wd AS (PARTITION BY user_id ORDER BY tsu, event_id
      |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)),
      |c AS (
      |  SELECT *, tsu - prev_p AS d_prev, next_p - tsu AS d_next,
      |    CASE WHEN prev_p IS NULL THEN next_p
      |         WHEN next_p IS NULL THEN prev_p
      |         WHEN tsu - prev_p <= next_p - tsu THEN prev_p
      |         ELSE next_p END AS nearest
      |  FROM a WHERE event_type = 'click')
      |SELECT count(*) AS n_clicks,
      |  count(nearest) AS n_matched,
      |  count(CASE WHEN nearest = prev_p THEN 1 END) AS n_prev,
      |  count(CASE WHEN nearest = next_p
      |    AND prev_p IS DISTINCT FROM next_p THEN 1 END) AS n_next,
      |  CAST(sum(abs(nearest - tsu)) AS BIGINT) AS sum_delta_us
      |FROM c""".stripMargin

  // ---- q179: time-RANGE window frame -------------------------------------

  /** Per-event trailing-hour activity — a RANGE frame over event TIME,
    * not row position: each event sees every same-user event whose ts
    * lies in [ts−1h, ts], however many rows that is (the rate/velocity
    * feature behind abuse detection and session weighting; the q128
    * battery's ROWS frames can't express it). Value-based frames are
    * tie-safe by construction — peers at the exact boundary are in or
    * out by VALUE, so engine-internal row order can't change the
    * result. Sum is DECIMAL-mediated (exact, order-free); one user_id
    * shuffle carries the whole query. */
  def q179RangeFrame(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts")
      .rangeBetween(-3600000000000L, 0) // 1 hour in ns
    Tables(s, dir, "events")
      .select($"event_id", $"user_id", $"ts", $"value")
      .select($"event_id",
        count(lit(1)).over(w).as("n_1h"),
        sum($"value".cast(DecimalType(25, 4))).over(w)
          .cast(DoubleType).as("sum_1h"))
      .orderBy($"event_id")
  }

  val q179Sql: String =
    """SELECT event_id,
      |  count(*) OVER w AS n_1h,
      |  CAST(sum(CAST("value" AS DECIMAL(25,4))) OVER w AS DOUBLE)
      |    AS sum_1h
      |FROM (SELECT event_id, user_id, epoch_us(ts) * 1000 AS tsn,
      |        "value" FROM events)
      |WINDOW w AS (PARTITION BY user_id ORDER BY tsn
      |  RANGE BETWEEN 3600000000000 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  // ---- q180: stats-driven join planning (CBO) ----------------------------

  /** Cost-based join planning from TABLE STATISTICS — the compile-time
    * complement of q134's runtime AQE: without stats the planner sees
    * the dim's raw size and picks SortMergeJoin; after `ANALYZE TABLE
    * … FOR ALL COLUMNS`, column min/max let the CBO estimate the
    * ~1%-selective filter's output and flip the SAME query to
    * BroadcastHashJoin (both shapes REQUIRED in the executed plans,
    * AQE off so the witness is the compile-time estimate, not a
    * runtime rescue). At 100 TB this is why warehouses run ANALYZE:
    * a filtered dim that LOOKS table-sized shuffles the fact side for
    * nothing. The broadcast threshold derives from the dim's actual
    * file bytes, so the witness holds at every SF. Results from both
    * plans are asserted bit-identical; the oracle replays the
    * aggregate. */
  def q180CboStats(s: SparkSession, dir: String): DataFrame = {
    val stamp = java.lang.Long.toHexString(System.nanoTime())
    val loc = s"/tmp/graft_cbo/orders_$stamp"
    val tbl = s"graft_cbo_orders_$stamp"
    Tables(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_orderpriority")
      .write.mode("overwrite").parquet(loc)
    def dirBytes(p: String): Long =
      Option(new java.io.File(p).listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("part-")).map(_.length()).sum
    // quarter of the dim's ACTUAL bytes: SF-proportional, so the
    // no-stats estimate (= file size) always exceeds it and the
    // ~1%-selective stats estimate always undercuts it, at any SF
    val threshold = math.max(dirBytes(loc) / 4, 1024)
    val kMax = Tables(s, dir, "orders").agg(max($"o_custkey")).head().getLong(0)
    val kCut = kMax / 100 + 1 // ~1% of the key range
    def session(cbo: Boolean): SparkSession = {
      val ss = s.newSession()
      ss.conf.set("spark.sql.adaptive.enabled", "false")
      ss.conf.set("spark.sql.cbo.enabled", cbo.toString)
      ss.conf.set("spark.sql.autoBroadcastJoinThreshold",
        threshold.toString)
      ss
    }
    def query(ss: SparkSession): DataFrame =
      ss.table(tbl).where($"o_custkey" <= kCut)
        .join(Tables(ss, dir, "lineitem")
          .select($"l_orderkey", $"l_extendedprice"),
          $"o_orderkey" === $"l_orderkey")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n"), dsum($"l_extendedprice").as("rev"))
        .orderBy($"o_orderpriority")
    val sA = session(cbo = false)
    try {
      sA.sql(s"CREATE TABLE $tbl (o_orderkey BIGINT, o_custkey BIGINT, " +
        s"o_orderpriority STRING) USING parquet LOCATION '$loc'")
      val dfA = query(sA)
      val planA = dfA.queryExecution.executedPlan.toString()
      require(planA.contains("SortMergeJoin"),
        s"q180: pre-stats plan must sort-merge (dim estimate = file " +
          s"size > threshold=$threshold):\n${planA.take(600)}")
      val rowsA = dfA.collect().toSeq
      sA.sql(s"ANALYZE TABLE $tbl COMPUTE STATISTICS FOR ALL COLUMNS")
      val sB = session(cbo = true)
      val dfB = query(sB)
      val planB = dfB.queryExecution.executedPlan.toString()
      require(planB.contains("BroadcastHashJoin"),
        s"q180: post-ANALYZE CBO plan must broadcast the ~1% filtered " +
          s"dim (threshold=$threshold):\n${planB.take(600)}")
      val rowsB = dfB.collect().toSeq
      require(rowsA == rowsB,
        "q180: stats changed the RESULT, not just the plan")
      // materialize before the finally-block cleanup: the returned
      // frame must not reference the dropped table's files (Verify
      // writes it AFTER this function returns)
      import scala.jdk.CollectionConverters._
      s.createDataFrame(rowsB.asJava, dfB.schema)
        .withColumn("plan_flipped", lit(true))
        .orderBy($"o_orderpriority")
    } finally {
      sA.sql(s"DROP TABLE IF EXISTS $tbl")
      Fs.rmTree(new java.io.File(loc))
    }
  }

  val q180Sql: String =
    """WITH k AS (SELECT max(o_custkey) // 100 + 1 AS kcut FROM orders)
      |SELECT o_orderpriority, count(*) AS n,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(25,4))) AS DOUBLE)
      |    AS rev,
      |  true AS plan_flipped
      |FROM orders, k
      |JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE o_custkey <= kcut
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q183: array-of-struct higher-order processing ---------------------

  /** Nested order documents processed WITHOUT re-shuffling: each
    * order's line items collected into a sorted array of structs (one
    * l_orderkey shuffle — the document build), then every derived
    * column is a row-local higher-order function over that array:
    * element_at + getField (first line's price), filter+size (heavy
    * lines), transform+array_max (max quantity), exists (big-ticket
    * flag), and an `aggregate` fold carrying an exact scaled-long sum
    * (the dsum convention inside a lambda — DECIMAL(25,4)·10⁴ per
    * element, integer adds, one final divide). This is the
    * struct-array analog of the primitive-list HOFs (q63): the
    * denormalized-document shape feature pipelines use so per-entity
    * logic never becomes a second aggregation. Oracle replays every
    * scalar relationally (ordered-aggregate first / FILTER /
    * bool_or); the testdata has DUPLICATE (orderkey, linenumber)
    * pairs, so "first line" is pinned by the FULL lexicographic
    * struct order (linenumber, quantity, price) on both sides —
    * a linenumber-only tie-break would be nondeterministic. */
  def q183NestedStructs(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
    li.groupBy($"l_orderkey")
      .agg(sort_array(collect_list(struct(
        $"l_linenumber", $"l_quantity", $"l_extendedprice"))).as("items"))
      .select($"l_orderkey",
        size($"items").as("n_items"),
        element_at($"items", 1).getField("l_extendedprice")
          .as("first_price"),
        size(filter($"items", x => x.getField("l_quantity") >= 25))
          .as("n_heavy"),
        array_max(transform($"items", x => x.getField("l_quantity")))
          .as("max_qty"),
        exists($"items", x => x.getField("l_extendedprice") > 50000)
          .as("has_big"),
        (aggregate($"items", lit(0L), (acc, x) =>
          acc + Functional.decimal4Unscaled(x.getField("l_extendedprice")))
          / 10000.0).as("price_total"))
      .orderBy($"l_orderkey")
  }

  val q183Sql: String =
    """SELECT l_orderkey,
      |  count(*) AS n_items,
      |  first(l_extendedprice ORDER BY l_linenumber, l_quantity,
      |    l_extendedprice) AS first_price,
      |  count(*) FILTER (WHERE l_quantity >= 25) AS n_heavy,
      |  max(l_quantity) AS max_qty,
      |  bool_or(l_extendedprice > 50000) AS has_big,
      |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(25,4)) * 10000
      |    AS BIGINT)) AS BIGINT) / 10000.0 AS price_total
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q184: map-column higher-order functions ---------------------------

  /** MAP columns processed row-locally with the full HOF surface —
    * transform_keys / transform_values / map_filter / map_zip_with /
    * map_entries + aggregate folds — the map analog of q183's
    * struct-array HOFs (and of the reference's map namespace, q67).
    * Per order, two maps (linenumber → scaled quantity, linenumber →
    * line count) are built once (ONE l_orderkey shuffle; duplicate
    * linenumbers pre-summed so keys are unique — map keys must be);
    * every derived column is then an integer-exact fold, so the oracle
    * replays them relationally with no float anywhere. */
  def q184MapHof(s: SparkSession, dir: String): DataFrame = {
    val perLine = Tables(s, dir, "lineitem")
      .groupBy($"l_orderkey", $"l_linenumber")
      .agg(sum(Functional.decimal4Unscaled($"l_quantity")).as("sq"),
        count(lit(1)).as("cnt"))
    perLine.groupBy($"l_orderkey")
      .agg(
        map_from_entries(sort_array(collect_list(
          struct($"l_linenumber", $"sq")))).as("mq"),
        map_from_entries(sort_array(collect_list(
          struct($"l_linenumber", $"cnt")))).as("mc"))
      .select($"l_orderkey",
        size($"mq").as("n_keys"),
        size(map_filter($"mq", (k, _) => k <= 3)).as("small_keys"),
        aggregate(map_keys(transform_keys($"mq", (k, _) => k + 100)),
          lit(0L), (a, x) => a + x).as("keyshift_sum"),
        aggregate(transform(map_entries($"mq"),
          e => e.getField("key") * e.getField("value")),
          lit(0L), (a, x) => a + x).as("qty_weighted"),
        aggregate(map_values(transform_values($"mq", (_, v) => v * 2)),
          lit(0L), (a, x) => a + x).as("doubled_scaled"),
        aggregate(map_values(map_zip_with($"mq", $"mc",
          (_, v1, v2) => v1 * v2)), lit(0L), (a, x) => a + x)
          .as("zip_dot"))
      .orderBy($"l_orderkey")
  }

  val q184Sql: String =
    """WITH pl AS (
      |  SELECT l_orderkey, l_linenumber,
      |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(25,4)) * 10000
      |      AS BIGINT)) AS BIGINT) AS sq,
      |    count(*) AS cnt
      |  FROM lineitem GROUP BY 1, 2)
      |SELECT l_orderkey,
      |  count(*) AS n_keys,
      |  count(*) FILTER (WHERE l_linenumber <= 3) AS small_keys,
      |  CAST(sum(l_linenumber + 100) AS BIGINT) AS keyshift_sum,
      |  CAST(sum(l_linenumber * sq) AS BIGINT) AS qty_weighted,
      |  CAST(sum(2 * sq) AS BIGINT) AS doubled_scaled,
      |  CAST(sum(sq * cnt) AS BIGINT) AS zip_dot
      |FROM pl GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q191: MERGE-style upsert ------------------------------------------

  /** The warehouse MERGE (upsert) expressed Spark-native: base ⟗
    * changes on the key, matched rows take the change's values,
    * unmatched-left keep base, unmatched-right INSERT. One full-outer
    * shuffle on the key — at 100 TB both sides are bucketed on the
    * merge key (q92's layout) so the join is exchange-free, and the
    * rewrite targets only changed partitions (q172). Updates are
    * DECIMAL-mediated so updated totals replay exactly. */
  def q191MergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    val maxKey = base.agg(max($"o_orderkey")).head().getLong(0)
    // changes: update every 13th order (price +10% exactly, via
    // DECIMAL), insert fresh keys above the current max
    val updates = base.where($"o_orderkey" % 13 === 0)
      .select($"o_orderkey", $"o_custkey",
        ($"o_totalprice".cast(DecimalType(25, 4)) * lit(1.1)
          .cast(DecimalType(5, 4))).cast(DoubleType).as("o_totalprice"))
    val inserts = base.where($"o_orderkey" % 1000 === 1)
      .select(($"o_orderkey" + maxKey).as("o_orderkey"), $"o_custkey",
        $"o_totalprice")
    val changes = updates.unionByName(inserts)
    val merged = base.as("b").join(changes.as("c"),
        $"b.o_orderkey" === $"c.o_orderkey", "full_outer")
      .select(
        coalesce($"c.o_orderkey", $"b.o_orderkey").as("o_orderkey"),
        coalesce($"c.o_custkey", $"b.o_custkey").as("o_custkey"),
        coalesce($"c.o_totalprice", $"b.o_totalprice")
          .as("o_totalprice"),
        when($"b.o_orderkey".isNull, lit("insert"))
          .when($"c.o_orderkey".isNull, lit("keep"))
          .otherwise(lit("update")).as("action"))
    merged.groupBy($"action")
      .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("total"))
      .orderBy($"action")
  }

  val q191Sql: String =
    """WITH mx AS (SELECT max(o_orderkey) AS mk FROM orders),
      |upd AS (
      |  SELECT o_orderkey,
      |    CAST(CAST(o_totalprice AS DECIMAL(25,4)) *
      |      CAST(1.1 AS DECIMAL(5,4)) AS DOUBLE) AS p
      |  FROM orders WHERE o_orderkey % 13 = 0),
      |ins AS (
      |  SELECT o_orderkey + mk AS o_orderkey, o_totalprice AS p
      |  FROM orders, mx WHERE o_orderkey % 1000 = 1),
      |final AS (
      |  SELECT CASE WHEN u.o_orderkey IS NOT NULL THEN 'update'
      |              ELSE 'keep' END AS action,
      |    coalesce(u.p, b.o_totalprice) AS p
      |  FROM orders b LEFT JOIN upd u USING (o_orderkey)
      |  UNION ALL SELECT 'insert', p FROM ins)
      |SELECT action, count(*) AS n,
      |  CAST(sum(CAST(p AS DECIMAL(25,4))) AS DOUBLE) AS total
      |FROM final GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q192: typed cogroup -----------------------------------------------

  /** `KeyValueGroupedDataset.cogroup` — both sides grouped on one key,
    * a single function sees each key's TWO iterators (the typed analog
    * of a full-outer join + two aggregations, but with arbitrary
    * per-key logic and no intermediate row explosion). Here: customers
    * cogrouped with their orders — order count, exact scaled spend,
    * and a flag for customers with no orders (the anti-join case
    * cogroup gets for free). Scale: one shuffle per side on the key,
    * state per key is O(1) accumulators. Oracle: outer-join replay. */
  def q192Cogroup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cust = Tables(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment")).as[(Long, String)]
    val ords = Tables(s, dir, "orders")
      .select(col("o_custkey"),
        Functional.decimal4Unscaled(col("o_totalprice"))).as[(Long, Long)]
    cust.groupByKey(_._1).cogroup(ords.groupByKey(_._1)) {
      (key, cs, os) =>
        val segs = cs.map(_._2).toArray
        if (segs.isEmpty) Iterator.empty // orders w/o customer: none
        else {
          var n = 0L
          var spend = 0L
          os.foreach { o => n += 1; spend += o._2 }
          Iterator.single((key, segs.head, n, spend, n == 0))
        }
    }.toDF("c_custkey", "seg", "n_orders", "spend_scaled", "no_orders")
      .orderBy(col("c_custkey"))
  }

  val q192Sql: String =
    """SELECT c_custkey, c_mktsegment AS seg,
      |  count(o_orderkey) AS n_orders,
      |  CAST(coalesce(sum(CAST(CAST(o_totalprice AS DECIMAL(25,4)) *
      |    10000 AS BIGINT)), 0) AS BIGINT) AS spend_scaled,
      |  count(o_orderkey) = 0 AS no_orders
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY 1, 2 ORDER BY 1""".stripMargin

  // ---- q193: array set-algebra battery -----------------------------------

  /** The array set-algebra surface over data-derived arrays:
    * array_union / array_intersect / array_except / array_distinct /
    * arrays_overlap / array_position / flatten / array_remove — per
    * order, the heavy-line set A (qty ≥ 25) against the big-ticket
    * set B (price > 30k), everything reduced to integer scalars the
    * oracle replays as relational set cardinalities (set semantics are
    * exactly what FILTER-ed COUNT DISTINCTs express). Arrays stay
    * row-local; ONE l_orderkey shuffle builds them. */
  def q193ArrayBattery(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
    li.groupBy($"l_orderkey")
      .agg(
        sort_array(array_distinct(collect_list(
          when($"l_quantity" >= 25, $"l_linenumber")))).as("a"),
        sort_array(array_distinct(collect_list(
          when($"l_extendedprice" > 30000, $"l_linenumber")))).as("b"))
      // collect_list(when(...)) drops nulls already; arrays are
      // distinct sorted linenumber sets
      .select($"l_orderkey",
        size(array_union($"a", $"b")).as("n_union"),
        size(array_intersect($"a", $"b")).as("n_both"),
        size(array_except($"a", $"b")).as("n_only_a"),
        arrays_overlap($"a", $"b").as("overlap"),
        // get() is 0-based and null-safe on empty arrays (ANSI
        // element_at would raise on index 1 of an empty b)
        coalesce(array_position($"a", get($"b", lit(0))), lit(0L))
          .as("pos_first_b"),
        size(array_remove(flatten(array($"a", $"b")), 1))
          .as("n_flat_no1"))
      .orderBy($"l_orderkey")
  }

  val q193Sql: String =
    """WITH f AS (
      |  SELECT l_orderkey, l_linenumber,
      |    bool_or(l_quantity >= 25) AS ia,
      |    bool_or(l_extendedprice > 30000) AS ib
      |  FROM lineitem GROUP BY 1, 2),
      |fb AS (SELECT l_orderkey, min(l_linenumber) FILTER (WHERE ib)
      |         AS first_b FROM f GROUP BY 1)
      |SELECT f.l_orderkey,
      |  count(*) FILTER (WHERE ia OR ib) AS n_union,
      |  count(*) FILTER (WHERE ia AND ib) AS n_both,
      |  count(*) FILTER (WHERE ia AND NOT ib) AS n_only_a,
      |  coalesce(bool_or(ia AND ib), false) AS overlap,
      |  CAST(CASE WHEN bool_or(ia AND l_linenumber = first_b)
      |    THEN count(*) FILTER (WHERE ia AND l_linenumber <= first_b)
      |    ELSE 0 END AS BIGINT) AS pos_first_b,
      |  CAST(count(*) FILTER (WHERE ia AND l_linenumber <> 1) +
      |    count(*) FILTER (WHERE ib AND l_linenumber <> 1) AS BIGINT)
      |    AS n_flat_no1
      |FROM f JOIN fb USING (l_orderkey)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q195: as-of join with tolerance -----------------------------------

  /** q24's backward as-of join under a STALENESS BOUND (pandas
    * merge_asof(tolerance=...)): a purchase more than 2 h before the
    * click no longer counts as its antecedent — the guard that stops a
    * year-old quote pricing today's trade. Enforced at emit time
    * inside AsOfJoinExec (plans/AsOfJoin.scala), so the co-partitioned
    * merge and its O(1) state are unchanged; the composed built-ins
    * variant applies the same bound to its carried struct and is
    * asserted row-identical in-gate (the two independent
    * implementations cross-check each other before the DuckDB oracle
    * sees either). */
  def q195AsofTolerance(s: SparkSession, dir: String): DataFrame = {
    val tolUs = 7200000000L // 2 h in µs
    val ev = Tables(s, dir, "events")
    val clicks = ev.where($"event_type" === "click")
      .select($"event_id", $"user_id", expr("ts div 1000").as("us"))
    val purchases = ev.where($"event_type" === "purchase")
      .repartition($"user_id")
      .groupBy($"user_id".as("p_user"), expr("ts div 1000").as("p_us"))
      .agg(max($"event_id").as("purchase_id"))
    def shape(df: DataFrame): DataFrame =
      df.select($"event_id", $"user_id", $"purchase_id",
        ($"us" - $"p_us").as("lag_us")).orderBy($"event_id")
    val exec = shape(AsOfJoin.asof(clicks, purchases,
      Seq("user_id"), Seq("p_user"), "us", "p_us", Some(tolUs)))
    val composed = shape(AsOfJoin.asofComposed(clicks, purchases,
      Seq("user_id"), Seq("p_user"), "us", "p_us", Some(tolUs)))
    val diff = exec.exceptAll(composed).count() +
      composed.exceptAll(exec).count()
    require(diff == 0,
      s"q195: custom exec and composed variant disagree on $diff rows " +
        "under tolerance")
    exec
  }

  val q195Sql: String =
    """WITH j AS (
      |  SELECT c.event_id, c.user_id, p.purchase_id,
      |    c.us - p.p_us AS lag_us
      |  FROM (SELECT event_id, user_id, epoch_us(ts) AS us
      |        FROM events WHERE event_type = 'click') c
      |  ASOF LEFT JOIN (SELECT user_id AS p_user, epoch_us(ts) AS p_us,
      |                  MAX(event_id) AS purchase_id
      |                  FROM events WHERE event_type = 'purchase'
      |                  GROUP BY 1, 2) p
      |    ON c.user_id = p.p_user AND c.us >= p.p_us)
      |SELECT event_id, user_id,
      |  CASE WHEN lag_us <= 7200000000 THEN purchase_id END
      |    AS purchase_id,
      |  CASE WHEN lag_us <= 7200000000 THEN lag_us END AS lag_us
      |FROM j ORDER BY event_id""".stripMargin

  // ---- q196: try_* error-safe arithmetic ---------------------------------

  /** ANSI mode's other half: under `spark.sql.ansi.enabled` (this
    * engine's default) arithmetic faults RAISE — the `try_*` family is
    * the per-expression opt-out that turns them into NULLs a pipeline
    * can count and quarantine instead of dying 80 TB in. The battery:
    * integer ÷0 (try_divide), long overflow (try_add on
    * Long.MaxValue), unparseable casts (try_cast), and out-of-range
    * array access (try_element_at). Every NULL count and the
    * surviving-value sum is oracled — DuckDB states the EXPECTED
    * semantics directly (its own arithmetic never raises), which is
    * precisely the contract the try_ forms must reproduce.
    *
    * Fault RATE matters at scale: each try_* fault costs a caught
    * exception inside codegen (~µs) — an all-rows-fault shape ran
    * this gate at 19 s where the ~1% rate here is in band. The
    * production corollary: when the fault predicate is cheap to
    * express, filter-and-count first and keep try_ for the genuinely
    * unpredictable residue. */
  def q196TryBattery(s: SparkSession, dir: String): DataFrame = {
    val faulty = $"l_orderkey" % 97 === 0
    val li = Tables(s, dir, "lineitem")
      .select($"l_returnflag", $"l_orderkey", $"l_quantity",
        $"l_extendedprice")
    li.select($"l_returnflag",
        try_divide($"l_extendedprice",
          when(faulty, lit(0.0)).otherwise($"l_quantity")).as("d"),
        try_add(when(faulty, lit(Long.MaxValue)).otherwise(lit(0L)),
          $"l_orderkey").as("ov"),
        expr("try_cast(CASE WHEN l_orderkey % 97 = 0 " +
          "THEN concat('x', l_orderkey) " +
          "ELSE cast(l_orderkey AS STRING) END AS BIGINT)").as("c"),
        // out-of-bounds access (index 5 on a 1-element array) → null;
        // plain element_at under ANSI raises INVALID_ARRAY_INDEX
        try_element_at(array($"l_quantity"),
          when(faulty, lit(5)).otherwise(lit(1))).as("e"))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(when($"d".isNull, 1L).otherwise(0L)).as("n_div0"),
        sum(when($"ov".isNull, 1L).otherwise(0L)).as("n_overflow"),
        sum(when($"c".isNull, 1L).otherwise(0L)).as("n_badcast"),
        sum($"c").as("key_sum"),
        sum(when($"e".isNull, 1L).otherwise(0L)).as("n_oob"),
        // floor(x*1e4+0.5) instead of round(x,4): the same IEEE ops
        // in both engines — library round() tie-breaks diverge on
        // exact .xxxx5 doubles (price/2^k quotients produce them)
        (sum(floor($"d" * 10000 + 0.5).cast(LongType)) / 10000.0)
          .as("div_sum"))
      .orderBy($"l_returnflag")
  }

  val q196Sql: String =
    """SELECT l_returnflag, count(*) AS n,
      |  count(*) FILTER (WHERE l_orderkey % 97 = 0) AS n_div0,
      |  count(*) FILTER (WHERE l_orderkey % 97 = 0 AND l_orderkey > 0)
      |    AS n_overflow,
      |  count(*) FILTER (WHERE l_orderkey % 97 = 0) AS n_badcast,
      |  CAST(sum(l_orderkey) FILTER (WHERE NOT l_orderkey % 97 = 0)
      |    AS BIGINT) AS key_sum,
      |  count(*) FILTER (WHERE l_orderkey % 97 = 0) AS n_oob,
      |  CAST(sum(CAST(floor(l_extendedprice / l_quantity * 10000
      |    + 0.5) AS BIGINT)) FILTER (WHERE NOT l_orderkey % 97 = 0)
      |    AS BIGINT) / 10000.0 AS div_sum
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q198: correlated-subquery battery ---------------------------------

  /** Catalyst's subquery rewrites, exercised through the SQL front
    * end: a correlated SCALAR subquery (→ aggregate + left outer
    * join), correlated EXISTS (→ left semi), IN with a derived table
    * (→ semi join), and a LATERAL correlated derived table — the
    * forms every BI tool emits, each decorrelated by the optimizer
    * into the join shapes the rest of this repo gates directly. DuckDB
    * runs the IDENTICAL statement (both dialects decorrelate), so the
    * oracle certifies semantics end-to-end including empty-group
    * NULLs (scalar subquery over no rows) and count-bug avoidance
    * (COUNT over no rows must be 0, not NULL — the classic
    * decorrelation trap). */
  def q198SubqueryBattery(s: SparkSession, dir: String): DataFrame = {
    Seq("region", "nation", "customer", "orders").foreach { n =>
      Tables(s, dir, n).createOrReplaceTempView(n)
    }
    s.sql(q198Sql)
  }

  val q198Sql: String =
    """SELECT c.c_custkey,
      |  (SELECT count(*) FROM orders o
      |   WHERE o.o_custkey = c.c_custkey) AS n_orders,
      |  (SELECT CAST(max(o_totalprice) AS DOUBLE) FROM orders o
      |   WHERE o.o_custkey = c.c_custkey
      |     AND o.o_orderpriority = '1-URGENT') AS max_urgent,
      |  EXISTS (SELECT 1 FROM orders o
      |          WHERE o.o_custkey = c.c_custkey
      |            AND o.o_orderpriority = '5-LOW') AS has_low,
      |  lt.top_status
      |FROM customer c,
      |  LATERAL (SELECT min(o_orderstatus) AS top_status FROM orders o
      |           WHERE o.o_custkey = c.c_custkey) lt
      |WHERE c.c_custkey IN
      |  (SELECT o_custkey FROM orders WHERE o_orderkey % 10 = 0)
      |ORDER BY c.c_custkey""".stripMargin

  // ---- q199: TPC-H Q5 shape (six-table star join) ------------------------

  /** The TPC-H Q5 shape — the heaviest classic optimizer workout in
    * the suite: lineitem ⨝ orders ⨝ customer ⨝ supplier ⨝ nation ⨝
    * region with the cross-dimension condition c_nationkey =
    * s_nationkey, a region filter, and a one-year date window.
    * Spark-first plan: the three dimension chains (region→nation,
    * customer, supplier) are broadcast (asserted — THREE
    * BroadcastHashJoins required in the executed plan, and no
    * dimension may shuffle the fact side), the date filter pushes into
    * the orders scan, and revenue is per-row IEEE price·(1−discount)
    * re-aggregated through DECIMAL. At 100 TB this is exactly the
    * plan one wants: one shuffle (orders⨝lineitem), everything else
    * map-side. */
  def q199TpchQ5(s: SparkSession, dir: String): DataFrame = {
    val region = Tables(s, dir, "region").where($"r_name" === "ASIA")
    val nation = Tables(s, dir, "nation")
      .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
      .select($"n_nationkey", $"n_name")
    val cust = Tables(s, dir, "customer")
      .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"c_nationkey", $"n_name")
    // range literals, not year(): a function over the column would
    // defeat parquet predicate pushdown on the orders scan
    def ntz(y: Int) = lit(java.time.LocalDateTime.of(y, 1, 1, 0, 0))
    val ord = Tables(s, dir, "orders")
      .where($"o_orderdate" >= ntz(1996) && $"o_orderdate" < ntz(1997))
      .select($"o_orderkey", $"o_custkey")
    val supp = Tables(s, dir, "supplier")
      .select($"s_suppkey", $"s_nationkey")
    val joined = Tables(s, dir, "lineitem")
      .select($"l_orderkey", $"l_suppkey", $"l_extendedprice",
        $"l_discount")
      .join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .join(broadcast(supp), $"l_suppkey" === $"s_suppkey" &&
        $"c_nationkey" === $"s_nationkey")
    val out = joined.groupBy($"n_name")
      .agg(count(lit(1)).as("n"),
        dsum($"l_extendedprice" * (lit(1.0) - $"l_discount"))
          .as("revenue"))
      .orderBy($"revenue".desc, $"n_name")
    val plan = out.queryExecution.executedPlan.toString()
    val nBroadcast = "BroadcastHashJoin".r.findAllIn(plan).length
    require(nBroadcast >= 3,
      s"q199: expected >= 3 broadcast joins (dims must never shuffle " +
        s"the fact), got $nBroadcast:\n${plan.take(600)}")
    out
  }

  val q199Sql: String =
    """SELECT n_name, count(*) AS n,
      |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
      |    AS DECIMAL(25,4))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |              AND c_nationkey = s_nationkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1997-01-01'
      |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin

  // ---- q203: flatMapGroupsWithState session extraction -------------------

  /** `flatMapGroupsWithState` — the multi-row-output arbitrary-state
    * operator (mapGroupsWithState q23 emits one row per key; the flat
    * form emits one row PER SESSION, the shape downstream attribution
    * actually joins against). Batch mode: one invocation per key with
    * the full iterator; under readStream the same function runs
    * incrementally with a gap timeout. Emits (user, session start,
    * events-in-session); the oracle recomputes sessions as lag-break
    * islands. Equal-ts events share a session whatever their
    * engine-internal order, so the extraction is deterministic. */
  def q203SessionExtract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val gapNs = 30L * 60 * 1000000000L
    val ds = Tables(s, dir, "events")
      .select(col("user_id"), col("ts")).as[(Long, Long)]
    ds.groupByKey(_._1)
      .flatMapGroupsWithState[Long, (Long, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (user, events, _) =>
          val ts = events.map(_._2).toArray
          java.util.Arrays.sort(ts)
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Long, Long)]
          var start = 0
          var i = 1
          while (i <= ts.length) {
            if (i == ts.length || ts(i) - ts(i - 1) > gapNs) {
              out += ((user, ts(start), (i - start).toLong))
              start = i
            }
            i += 1
          }
          out.iterator
      }
      .toDF("user_id", "start_ns", "n_events")
      .orderBy("user_id", "start_ns")
  }

  val q203Sql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_ns(ts) AS tsn,
      |    CASE WHEN epoch_ns(ts) - LAG(epoch_ns(ts)) OVER w
      |      > 1800000000000 THEN 1 ELSE 0 END AS brk
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT user_id, tsn,
      |    SUM(brk) OVER (PARTITION BY user_id ORDER BY tsn, brk
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM e)
      |SELECT user_id, min(tsn) AS start_ns, count(*) AS n_events
      |FROM s GROUP BY user_id, sid
      |ORDER BY user_id, start_ns""".stripMargin

  // ---- q205: explicit GROUPING SETS --------------------------------------

  /** Explicit GROUPING SETS — the general form behind cube (q121/q169,
    * all 2^n sets) and rollup (q25, the prefix chain): exactly the
    * requested sets, nothing else, in ONE pass with grouping_id
    * disambiguating subtotal markers from real NULL keys. Here:
    * (flag, status), (flag), and grand total — skipping the
    * (status)-only set a cube would compute and a rollup could not
    * skip. Same bit convention as DuckDB (leftmost column = MSB). */
  def q205GroupingSets(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "lineitem").createOrReplaceTempView("q205_li")
    s.sql(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT)
        |    AS gid,
        |  count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE)
        |    AS qty
        |FROM q205_li
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |  (l_returnflag), ())
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin)
  }

  val q205Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
      |  count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) AS qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
      |  (l_returnflag), ())
      |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin

  // ---- q206: broadcast theta join ----------------------------------------

  /** A genuinely NON-EQUI join — classification against a band table
    * with no equality key at all (qty ∈ [lo, hi)): the shape where
    * hash/merge joins cannot apply and the ONLY scalable plan is
    * broadcasting the small side and streaming the fact once
    * (BroadcastNestedLoopJoin — REQUIRED in-plan, with the fact side
    * never shuffled). The 100 TB rule this gate pins: theta joins are
    * fine iff one side is broadcast-sized; two large sides would need
    * the q26 binning trick instead. */
  def q206ThetaJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bands = Seq(("tiny", 0.0, 10.0), ("small", 10.0, 25.0),
      ("mid", 25.0, 40.0), ("large", 40.0, 1e9))
      .toDF("band", "lo", "hi")
    val joined = Tables(s, dir, "lineitem")
      .select(col("l_quantity"), col("l_extendedprice"))
      .join(broadcast(bands),
        col("l_quantity") >= col("lo") && col("l_quantity") < col("hi"))
    val plan = joined.queryExecution.executedPlan.toString()
    require(plan.contains("BroadcastNestedLoopJoin"),
      s"q206: non-equi join must be a broadcast nested loop:\n" +
        plan.take(500))
    require(!plan.contains("CartesianProduct"),
      "q206: plan degenerated to a cartesian product")
    joined.groupBy(col("band"))
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("rev"))
      .orderBy(col("band"))
  }

  val q206Sql: String =
    """WITH bands(band, lo, hi) AS (VALUES
      |  ('tiny', 0.0, 10.0), ('small', 10.0, 25.0),
      |  ('mid', 25.0, 40.0), ('large', 40.0, 1e9))
      |SELECT band, count(*) AS n,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(25,4))) AS DOUBLE)
      |    AS rev
      |FROM lineitem JOIN bands
      |  ON l_quantity >= lo AND l_quantity < hi
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q207: AQE shuffle-partition coalescing ----------------------------

  /** AQE's small-partition mitigation — the complement of its skew
    * SPLIT (q134): a shuffle planned at 64 partitions over data that
    * only fills a few must COALESCE at runtime (AQEShuffleRead
    * reading fewer, larger partitions), or a 1000-executor cluster
    * burns a task launch per near-empty partition on every small
    * dimension aggregate. Witnessed from the executed plan's
    * AQEShuffleRead (coalesced) node + its partition-count metric
    * strictly below the static 64. Oracle: the aggregate itself. */
  def q207AqeCoalesce(parent: SparkSession, dir: String): DataFrame = {
    val spark = parent.newSession()
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
      "true")
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    // one shuffle over a dimension-sized input: 64 static partitions
    // would each hold a few KB
    val agg = Tables(spark, dir, "customer")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n"),
        dsum($"c_acctbal").as("bal"))
    agg.collect() // materialize so AQE finalizes the plan
    val plan = agg.queryExecution.executedPlan.toString()
    require(plan.contains("AQEShuffleRead coalesced"),
      s"q207: no coalesced AQEShuffleRead in the executed plan:\n" +
        plan.take(600))
    val nOut = agg.rdd.getNumPartitions
    require(nOut < 64,
      s"q207: runtime partition count $nOut not below the static 64")
    agg.withColumn("coalesced_ok", lit(true))
      .orderBy($"c_mktsegment")
  }

  val q207Sql: String =
    """SELECT c_mktsegment, count(*) AS n,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(25,4))) AS DOUBLE) AS bal,
      |  true AS coalesced_ok
      |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q208: two-pass global row ids -------------------------------------

  /** Contiguous global row numbering WITHOUT the single-partition
    * window: `row_number() OVER (ORDER BY …)` funnels the entire
    * dataset through ONE task (the classic scale cliff); the
    * distributed answer is two passes — range-partition by the order
    * key, count per partition, prefix-sum the counts on the driver
    * (#partitions values), then assign partition-local offsets
    * (zipWithIndex's contract, built here explicitly so the plan is
    * inspectable). Emitted ids are asserted to be exactly
    * 0..n-1 (dense) in-gate; the oracle replays row_number over the
    * same unique key order. */
  def q208GlobalIds(s: SparkSession, dir: String): DataFrame = {
    // localCheckpoint PINS the range partitions: the counting pass and
    // the id pass must see the SAME boundaries (two independent
    // executions of repartitionByRange re-sample and may split
    // differently, silently corrupting the offsets)
    val src = Tables(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey")
      .repartitionByRange(8, $"o_orderkey")
      .sortWithinPartitions($"o_orderkey")
      .localCheckpoint()
    val counts = src.rdd
      .mapPartitionsWithIndex((i, it) => Iterator.single(i -> it.size))
      .collect().sortBy(_._1).map(_._2)
    val offsets = counts.scanLeft(0L)(_ + _) // #partitions driver values
    val bc = s.sparkContext.broadcast(offsets)
    val withIds = src
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var id = bc.value(pid)
        it.map { r => val out = (r.getLong(0), r.getLong(1), id)
          id += 1; out }
      }(org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong))
      .toDF("o_orderkey", "o_custkey", "row_id")
    val n = withIds.count()
    val check = withIds.agg(min($"row_id"), max($"row_id"),
      countDistinct($"row_id")).head()
    require(check.getLong(0) == 0L && check.getLong(1) == n - 1 &&
      check.getLong(2) == n,
      s"q208: ids not dense 0..${n - 1}: $check")
    withIds.orderBy($"row_id")
  }

  val q208Sql: String =
    """SELECT o_orderkey, o_custkey,
      |  CAST(row_number() OVER (ORDER BY o_orderkey) - 1 AS BIGINT)
      |    AS row_id
      |FROM orders ORDER BY row_id""".stripMargin

  // ---- q212: hopping (sliding) windows -----------------------------------

  /** Hopping windows — `window(time, "1 hour", "15 minutes")`: each
    * event lands in exactly FOUR overlapping hour windows (the
    * smoothed rate-over-time every dashboard wants; q80's tumbling
    * windows are the slide==width special case). Same operator runs
    * under readStream with a watermark; batch mode here makes the
    * oracle exact: DuckDB replays the window membership analytically
    * (the 4 hour-starts covering ts are (ts div 15min − k)·15min for
    * k=0..3). Conservation is implicit in the oracle: every event
    * counted exactly 4 times across windows. */
  def q212HoppingWindow(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .select(timestamp_micros(expr("ts div 1000")).as("event_time"),
        $"event_type", $"value")
      .groupBy(window($"event_time", "1 hour", "15 minutes"),
        $"event_type")
      .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
      .select(unix_micros($"window.start").as("win_us"),
        $"event_type", $"n", $"sum_value")
      .orderBy($"win_us", $"event_type")

  val q212Sql: String =
    """WITH e AS (
      |  SELECT epoch_us(ts) AS tsu, event_type, "value" FROM events),
      |w AS (
      |  SELECT ((tsu // 900000000) - k) * 900000000 AS win_us,
      |    event_type, "value"
      |  FROM e CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k))
      |SELECT win_us, event_type, count(*) AS n,
      |  CAST(sum(CAST("value" AS DECIMAL(25,4))) AS DOUBLE)
      |    AS sum_value
      |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- q213: bitmap-aggregate exact distinct -----------------------------

  /** EXACT distinct counting through bitmap aggregates
    * (bitmap_bucket_number / bitmap_bit_position /
    * bitmap_construct_agg / bitmap_count / bitmap_or_agg): each
    * bucket's presence bits pack into a fixed 4 KB binary, buckets
    * re-aggregate by OR — so the per-group distinct count is exact,
    * MERGEABLE (the property approx HLL q114/q167 trades exactness
    * for), and costs O(domain/8) bytes instead of a distinct shuffle
    * of the values. The two-level witness: per-(flag,status) bitmaps
    * OR-merged up to per-flag must equal the direct per-flag count —
    * asserted in-gate; the oracle replays both levels with COUNT
    * DISTINCT. The right tool for dense integer domains (user ids,
    * entity keys); sparse 64-bit domains stay with HLL. */
  def q213BitmapDistinct(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "lineitem").createOrReplaceTempView("q213_li")
    val out = s.sql(
      """WITH cell AS (
        |  SELECT l_returnflag, l_linestatus,
        |    bitmap_bucket_number(l_suppkey) AS bkt,
        |    bitmap_construct_agg(bitmap_bit_position(l_suppkey)) AS bm
        |  FROM q213_li GROUP BY 1, 2, 3),
        |per_cell AS (
        |  SELECT l_returnflag, l_linestatus,
        |    CAST(sum(bitmap_count(bm)) AS BIGINT) AS n_supp
        |  FROM cell GROUP BY 1, 2),
        |rollup_bm AS (
        |  SELECT l_returnflag, bkt, bitmap_or_agg(bm) AS bm
        |  FROM cell GROUP BY 1, 2),
        |per_flag AS (
        |  SELECT l_returnflag,
        |    CAST(sum(bitmap_count(bm)) AS BIGINT) AS n_supp_flag
        |  FROM rollup_bm GROUP BY 1)
        |SELECT c.l_returnflag, c.l_linestatus, c.n_supp,
        |  f.n_supp_flag
        |FROM per_cell c JOIN per_flag f USING (l_returnflag)
        |ORDER BY 1, 2""".stripMargin)
    // mergeability witness: the OR-rollup must equal a direct exact
    // count (bitmaps are exact, not sketches)
    val direct = Tables(s, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(countDistinct($"l_suppkey").as("d")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    out.select($"l_returnflag", $"n_supp_flag").distinct().collect()
      .foreach { r =>
        require(direct(r.getString(0)) == r.getLong(1),
          s"q213: OR-merged bitmap count ${r.getLong(1)} != direct " +
            s"distinct ${direct(r.getString(0))} for ${r.getString(0)}")
      }
    out
  }

  val q213Sql: String =
    """SELECT l.l_returnflag, l.l_linestatus,
      |  count(DISTINCT l.l_suppkey) AS n_supp,
      |  f.n_supp_flag
      |FROM lineitem l JOIN (
      |  SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp_flag
      |  FROM lineitem GROUP BY 1) f USING (l_returnflag)
      |GROUP BY 1, 2, f.n_supp_flag ORDER BY 1, 2""".stripMargin

  // ---- q218: WindowGroupLimit optimization witness -----------------------

  /** `rank() <= k` over a window is a full per-partition SORT unless
    * the optimizer notices the downstream filter and pushes a
    * GROUP LIMIT into the shuffle (WindowGroupLimit, Spark 3.5+): each
    * map task keeps only k rows per key before the exchange, so the
    * sort that reaches the reducer is k·|groups| rows, not the table.
    * The node is REQUIRED in the executed plan. (GroupTopK's
    * aggregator, q124, is the fully window-free form; this gate pins
    * that the DECLARATIVE spelling is also safe to ship.) Oracle:
    * DuckDB replays the ranked top-3 per flag. */
  def q218WindowGroupLimit(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"l_returnflag")
      .orderBy($"l_extendedprice".desc, $"l_orderkey", $"l_linenumber",
        $"l_quantity")
    val out = Tables(s, dir, "lineitem")
      .select($"l_returnflag", $"l_orderkey", $"l_extendedprice",
        $"l_linenumber", $"l_quantity")
      .withColumn("rk", row_number().over(w))
      .where($"rk" <= 3)
      .select($"l_returnflag", $"rk", $"l_orderkey", $"l_extendedprice")
    val plan = out.queryExecution.executedPlan.toString()
    require(plan.contains("WindowGroupLimit"),
      s"q218: rank<=k filter was not pushed as a WindowGroupLimit:\n" +
        plan.take(600))
    out.orderBy($"l_returnflag", $"rk")
  }

  val q218Sql: String =
    """SELECT l_returnflag, rk, l_orderkey, l_extendedprice FROM (
      |  SELECT l_returnflag, l_orderkey, l_extendedprice,
      |    row_number() OVER (PARTITION BY l_returnflag
      |      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber,
      |        l_quantity) AS rk
      |  FROM lineitem)
      |WHERE rk <= 3 ORDER BY l_returnflag, rk""".stripMargin

  // ---- q219: OFFSET pagination -------------------------------------------

  /** LIMIT/OFFSET pagination through spark.sql — correct ONLY over a
    * deterministic total order (the gate orders by the unique key;
    * pages over an unordered or tie-bearing sort are the classic
    * repeated/skipped-row bug). Pages 2 and 3 (100 rows each) are
    * fetched independently and asserted disjoint AND contiguous
    * in-gate; the oracle replays both pages. */
  def q219OffsetPagination(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "orders").createOrReplaceTempView("q219_ord")
    def page(off: Int): DataFrame = s.sql(
      s"""SELECT o_orderkey, o_custkey, o_orderpriority
         |FROM q219_ord ORDER BY o_orderkey LIMIT 100 OFFSET $off"""
        .stripMargin)
    val p2 = page(100)
    val p3 = page(200)
    val k2 = p2.select($"o_orderkey").collect().map(_.getLong(0))
    val k3 = p3.select($"o_orderkey").collect().map(_.getLong(0))
    require(k2.length == 100 && k3.length == 100 &&
      k2.toSet.intersect(k3.toSet).isEmpty && k2.max < k3.min,
      "q219: pages overlap or are non-contiguous — OFFSET over the " +
        "unique-key order must tile exactly")
    p2.withColumn("page", lit(2L))
      .unionByName(p3.withColumn("page", lit(3L)))
      .orderBy($"o_orderkey")
  }

  val q219Sql: String =
    """SELECT o_orderkey, o_custkey, o_orderpriority, page FROM (
      |  SELECT o_orderkey, o_custkey, o_orderpriority, 2 AS page
      |  FROM orders ORDER BY o_orderkey LIMIT 100 OFFSET 100)
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_orderpriority, page FROM (
      |  SELECT o_orderkey, o_custkey, o_orderpriority, 3 AS page
      |  FROM orders ORDER BY o_orderkey LIMIT 100 OFFSET 200)
      |ORDER BY o_orderkey""".stripMargin

  // ---- q222: GROUP BY ALL ------------------------------------------------

  /** `GROUP BY ALL` / `ORDER BY ALL` — the analyst shorthand both
    * engines resolve to every non-aggregate select item; parity
    * matters because a resolution difference silently regroups a
    * query migrated between engines. Identical statement both
    * sides. */
  def q222GroupByAll(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "lineitem").createOrReplaceTempView("q222_li")
    s.sql(
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE)
        |    AS qty
        |FROM q222_li GROUP BY ALL ORDER BY ALL""".stripMargin)
  }

  val q222Sql: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) AS qty
      |FROM lineitem GROUP BY ALL ORDER BY ALL""".stripMargin

  // ---- q224: SCD2 (slowly-changing dimension, type 2) ---------------------

  /** Build SCD2 history from an update log: orders as versioned status
    * updates per customer — one row per status CHANGE carrying
    * [valid_from, valid_to) and an is_current flag. The warehouse
    * primitive behind every dimension table that must answer "what was
    * this entity's state at time T".
    *
    * Shape: ONE shuffle on the entity key; the lag (change detection),
    * the filter, and the lead (validity close) all share the same
    * (key, eff, ver) partitioning+ordering, so Catalyst plans a single
    * Exchange+Sort with stacked Window nodes — the filter between them
    * preserves order. At 100 TB this is exactly the nightly dim-build:
    * update-log-sized shuffle, no self-join, no driver state.
    * (ver = o_orderkey breaks same-timestamp ties, making both the
    * change detection and the validity intervals engine-portable.) */
  def q224Scd2(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"custkey").orderBy($"eff", $"ver")
    val upd = Tables(s, dir, "orders")
      .select($"o_custkey".as("custkey"),
        $"o_orderdate".cast(TimestampType).as("eff"),
        $"o_orderkey".as("ver"),
        $"o_orderstatus".as("status"))
    val changed = upd
      .withColumn("__prev", lag($"status", 1).over(w))
      .where($"__prev".isNull || $"__prev" =!= $"status")
    changed
      .withColumn("__next_eff", lead($"eff", 1).over(w))
      .select($"custkey",
        unix_micros($"eff").as("valid_from"),
        unix_micros($"__next_eff").as("valid_to"), // null while current
        $"status",
        $"__next_eff".isNull.as("is_current"),
        $"ver".as("from_ver"))
      .orderBy($"custkey", $"valid_from", $"from_ver")
  }

  val q224Sql: String =
    """WITH upd AS (
      |  SELECT o_custkey AS custkey, o_orderdate AS eff,
      |    o_orderkey AS ver, o_orderstatus AS status
      |  FROM orders),
      |ch AS (
      |  SELECT *, lag(status) OVER
      |    (PARTITION BY custkey ORDER BY eff, ver) AS prev
      |  FROM upd),
      |scd AS (
      |  SELECT custkey, eff, ver, status FROM ch
      |  WHERE prev IS NULL OR prev <> status)
      |SELECT custkey, epoch_us(eff) AS valid_from,
      |  epoch_us(lead(eff) OVER
      |    (PARTITION BY custkey ORDER BY eff, ver)) AS valid_to,
      |  status,
      |  (lead(eff) OVER (PARTITION BY custkey ORDER BY eff, ver)
      |    IS NULL) AS is_current,
      |  ver AS from_ver
      |FROM scd ORDER BY custkey, valid_from, from_ver""".stripMargin

  // ---- q226: data-quality constraint report -------------------------------

  /** The Deequ-style one-shot DQ report: named constraints over the
    * star schema — primary-key uniqueness, referential integrity
    * (left-anti count), domain membership, range bounds, and
    * completeness — each emitted as (constraint, violations, checked).
    * Production shape: every check is a map-side-partial aggregate or
    * one semi-join; the report is constraints-sized, never row-sized,
    * and a scheduler alerts on violations > 0 instead of eyeballing
    * dashboards. */
  def q226DqReport(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables(s, dir, "orders")
    val li = Tables(s, dir, "lineitem")
    val ev = Tables(s, dir, "events")
    def row(name: String, violations: Column, checked: Column,
        df: DataFrame): DataFrame =
      df.agg(violations.cast(LongType).as("violations"),
        checked.cast(LongType).as("checked"))
        .select(lit(name).as("check_name"), $"violations", $"checked",
          ($"violations" === 0L).as("passed"))
    val pkUnique = row("orders_pk_unique",
      count(lit(1)) - countDistinct($"o_orderkey"), count(lit(1)), orders)
    // violations come from the anti-join; checked is the number of
    // rows the constraint COVERS (all of lineitem) — reporting the
    // anti-join count for both would make checked==violations always
    val fk = li.select($"l_orderkey")
      .join(orders.select($"o_orderkey"),
        $"l_orderkey" === $"o_orderkey", "left_anti")
      .agg(count(lit(1)).cast(LongType).as("violations"))
      .crossJoin(li.agg(count(lit(1)).cast(LongType).as("checked")))
      .select(lit("lineitem_fk_orders").as("check_name"),
        $"violations", $"checked", ($"violations" === 0L).as("passed"))
    val qtyRange = row("lineitem_qty_in_1_50",
      sum(when($"l_quantity".between(1, 50), 0L).otherwise(1L)),
      count(lit(1)), li)
    val domain = row("orders_status_domain",
      sum(when($"o_orderstatus".isin("F", "O", "P"), 0L).otherwise(1L)),
      count(lit(1)), orders)
    val complete = row("events_props_complete",
      sum(when($"props".isNull, 1L).otherwise(0L)), count(lit(1)), ev)
    pkUnique.unionByName(fk).unionByName(qtyRange)
      .unionByName(domain).unionByName(complete)
      .orderBy($"check_name")
  }

  val q226Sql: String =
    """SELECT * FROM (
      |  SELECT 'orders_pk_unique' AS check_name,
      |    CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
      |      AS violations,
      |    count(*) AS checked,
      |    (count(*) - count(DISTINCT o_orderkey)) = 0 AS passed
      |  FROM orders
      |  UNION ALL
      |  SELECT 'lineitem_fk_orders',
      |    CAST(count(*) AS BIGINT),
      |    (SELECT count(*) FROM lineitem),
      |    count(*) = 0
      |  FROM lineitem l WHERE NOT EXISTS
      |    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
      |  UNION ALL
      |  SELECT 'lineitem_qty_in_1_50',
      |    CAST(sum(CASE WHEN l_quantity BETWEEN 1 AND 50
      |      THEN 0 ELSE 1 END) AS BIGINT),
      |    count(*),
      |    sum(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 0 ELSE 1 END) = 0
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'orders_status_domain',
      |    CAST(sum(CASE WHEN o_orderstatus IN ('F','O','P')
      |      THEN 0 ELSE 1 END) AS BIGINT),
      |    count(*),
      |    sum(CASE WHEN o_orderstatus IN ('F','O','P')
      |      THEN 0 ELSE 1 END) = 0
      |  FROM orders
      |  UNION ALL
      |  SELECT 'events_props_complete',
      |    CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |    count(*),
      |    sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) = 0
      |  FROM events)
      |ORDER BY check_name""".stripMargin

  // ---- q231: collation-aware grouping -------------------------------------

  /** Case-insensitive grouping via a COLLATED column type
    * (UTF8_LCASE), not an eager lower() rewrite: the collation rides
    * the column through the plan, so every comparison — the group-by
    * shuffle hash AND the equality — is collation-aware while the
    * ORIGINAL bytes stay available (min(seg_raw) picks the
    * deterministic binary-min representative). Mixed-case forms are
    * synthesized 3 ways from c_custkey so every group genuinely mixes
    * case. The oracle restates the semantics with DuckDB's lower()
    * grouping — identical groups, counts, and representatives.
    * Plan note: collated keys compile to SortAggregate (not
    * HashAggregate) with collation-aware hashpartitioning — partial
    * aggregation is still map-side, so ONE row per group per task
    * crosses the single exchange; the sort-vs-hash difference only
    * matters within a task. */
  def q231Collation(s: SparkSession, dir: String): DataFrame = {
    val m = Tables(s, dir, "customer").select(
      when($"c_custkey" % 3 === 0, upper($"c_mktsegment"))
        .when($"c_custkey" % 3 === 1, lower($"c_mktsegment"))
        .otherwise(concat(upper(substring($"c_mktsegment", 1, 1)),
          lower(expr("substring(c_mktsegment, 2)"))))
        .as("seg_mixed"))
    m.select(collate($"seg_mixed", "UTF8_LCASE").as("seg_ci"),
        $"seg_mixed".as("seg_raw"))
      .groupBy($"seg_ci")
      .agg(min($"seg_raw").as("segment"), count(lit(1)).as("n"))
      .select($"segment", $"n")
      .orderBy($"segment")
  }

  val q231Sql: String =
    """WITH m AS (SELECT CASE
      |    WHEN c_custkey % 3 = 0 THEN upper(c_mktsegment)
      |    WHEN c_custkey % 3 = 1 THEN lower(c_mktsegment)
      |    ELSE concat(upper(substring(c_mktsegment, 1, 1)),
      |                lower(substring(c_mktsegment, 2)))
      |  END AS seg_mixed FROM customer)
      |SELECT min(seg_mixed) AS segment, count(*) AS n
      |FROM m GROUP BY lower(seg_mixed) ORDER BY 1""".stripMargin

  // ---- q232: listagg WITHIN GROUP -----------------------------------------

  /** Ordered string aggregation (SQL:2016 listagg) — the
    * report-formatting aggregate both engines now ship natively; the
    * WITHIN GROUP order makes the concatenation deterministic, which
    * is the whole point (an unordered collect_list + concat_ws varies
    * run to run under shuffle). Groups are region-sized (5 rows), so
    * the agg state is trivially bounded. */
  def q232Listagg(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "nation").createOrReplaceTempView("q232_n")
    Tables(s, dir, "region").createOrReplaceTempView("q232_r")
    s.sql(
      """SELECT r_name,
        |  listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)
        |    AS nations,
        |  count(*) AS n
        |FROM q232_n JOIN q232_r ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin)
  }

  val q232Sql: String =
    """SELECT r_name,
      |  string_agg(n_name, ',' ORDER BY n_name) AS nations,
      |  count(*) AS n
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin

  // ---- q233: approx_top_k -------------------------------------------------

  /** Sketch-based heavy hitters via the native approx_top_k aggregate —
    * single-pass, fixed-size mergeable state (the built-in complement
    * of q123's hand-rolled SpaceSaving): with maxItemsTracked (100)
    * above the domain cardinality (5 priorities) the sketch is EXACT,
    * which is what lets a DuckDB count(*) oracle hash-match it; at
    * real cardinalities the same call degrades gracefully to
    * approximate counts under the same fixed memory. Output re-sorted
    * by item so the sketch's internal count ordering never leaks into
    * the hash. */
  def q233ApproxTopK(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "orders").createOrReplaceTempView("q233_o")
    s.sql(
      """SELECT t.item AS priority, CAST(t.count AS BIGINT) AS n
        |FROM (SELECT approx_top_k(o_orderpriority, 10, 100) AS tk
        |      FROM q233_o)
        |LATERAL VIEW explode(tk) AS t
        |ORDER BY priority""".stripMargin)
  }

  val q233Sql: String =
    """SELECT o_orderpriority AS priority, count(*) AS n
      |FROM orders GROUP BY 1 ORDER BY priority""".stripMargin

  // ---- q234: observed metrics (Dataset.observe) ---------------------------

  /** Pipeline observability without a second scan (q126's observe
    * witness, upgraded: there the metrics back an in-gate require and
    * the output only carries `observed_ok`; HERE the observed VALUES
    * are output columns the DuckDB oracle hashes — the driver itself
    * falsifies the metric arithmetic): `observe` attaches
    * accumulator-backed metrics (row count, quantity total, discount
    * counter) to the SAME pass that computes the grouped aggregate —
    * at 100 TB the alternative is re-scanning the table for every
    * data-quality counter. The grouped result is group-sized, so the
    * in-gate action that fires the observation is bounded; the
    * conservation law (observed rows == Σ group counts) is REQUIRED
    * in-gate, and the oracle restates both the groups and the global
    * metrics relationally — a metric that drifted from its scan would
    * hash-mismatch. */
  def q234Observe(s: SparkSession, dir: String): DataFrame = {
    val obs = new Observation(s"q234_${System.nanoTime()}")
    val grouped = Tables(s, dir, "lineitem")
      .observe(obs,
        count(lit(1)).as("obs_rows"),
        sum($"l_quantity".cast(DecimalType(25, 4))).as("obs_qty"),
        count(when($"l_discount" > lit(0.05), 1)).as("obs_disc"))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        dsum($"l_quantity").as("qty"))
    val rows = grouped.collect() // group-sized (|returnflag| = 3)
    val m = obs.get
    val obsRows = m("obs_rows").asInstanceOf[Long]
    val obsDisc = m("obs_disc").asInstanceOf[Long]
    val obsQty = m("obs_qty").asInstanceOf[java.math.BigDecimal]
      .doubleValue()
    require(obsRows == rows.map(_.getAs[Long]("n")).sum,
      s"observe conservation: obs_rows=$obsRows != sum of group counts")
    val outSchema = StructType(Seq(
      StructField("l_returnflag", StringType),
      StructField("n", LongType),
      StructField("qty", DoubleType)))
    s.createDataFrame(
        java.util.Arrays.asList(rows.map(r => org.apache.spark.sql.Row(
          r.getString(0), r.getAs[Long]("n"), r.getAs[Double]("qty")))
          : _*),
        outSchema)
      .withColumn("obs_rows", lit(obsRows))
      .withColumn("obs_disc", lit(obsDisc))
      .withColumn("obs_qty", lit(obsQty))
      .orderBy($"l_returnflag")
  }

  val q234Sql: String =
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) AS qty,
      |  (SELECT count(*) FROM lineitem) AS obs_rows,
      |  (SELECT count(*) FROM lineitem
      |   WHERE l_discount > CAST(0.05 AS DOUBLE)) AS obs_disc,
      |  (SELECT CAST(sum(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE)
      |   FROM lineitem) AS obs_qty
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q235: TIME type ----------------------------------------------------

  /** The SQL TIME type (Spark 4.1, behind spark.sql.timeType.enabled):
    * time-of-day as a first-class comparable/truncatable type instead
    * of a string convention — the hourly-traffic shape every events
    * pipeline computes. ts (long ns, UTC contract) → TIME via the
    * formatted string, time_trunc('HOUR') grouping, TIME min/max
    * ordering — all cast back to strings on output so the driver can
    * hash them. Oracle restates with DuckDB's native TIME/strftime. */
  def q235TimeType(parent: SparkSession, dir: String): DataFrame = {
    // child session so the flag cannot leak into sibling gates (the
    // queries Map is unordered — a shared-session conf would make
    // other gates' environment depend on iteration order)
    val s = parent.newSession()
    s.conf.set("spark.sql.timeType.enabled", "true")
    Tables(s, dir, "events").createOrReplaceTempView("q235_e")
    s.sql(
      """SELECT CAST(time_trunc('HOUR', t) AS STRING) AS hr,
        |  count(*) AS n,
        |  CAST(min(t) AS STRING) AS min_t,
        |  CAST(max(t) AS STRING) AS max_t
        |FROM (SELECT to_time(date_format(
        |        timestamp_micros(ts DIV 1000), 'HH:mm:ss')) AS t
        |      FROM q235_e)
        |GROUP BY time_trunc('HOUR', t) ORDER BY hr""".stripMargin)
  }

  val q235Sql: String =
    """SELECT strftime(date_trunc('hour', ts), '%H:%M:%S') AS hr,
      |  count(*) AS n,
      |  min(strftime(ts, '%H:%M:%S')) AS min_t,
      |  max(strftime(ts, '%H:%M:%S')) AS max_t
      |FROM events GROUP BY 1 ORDER BY hr""".stripMargin

  // ---- q236: AES column-encryption round-trip -----------------------------

  /** Column-level encryption at rest (the cryptographic face of q86's
    * pattern scrub and q215's mask): aes_encrypt → aes_decrypt under a
    * 128-bit key must be the identity — GCM's random IV rides inside
    * the ciphertext, so the ENCRYPTED bytes are non-deterministic but
    * the decrypted values are exact, which is why the gate surfaces
    * only the decrypted side. Both calls are row-local codegen
    * expressions (scan-side, no shuffle until the aggregate). n_rt
    * counts null-safe matches Spark-side; the oracle states the
    * identity relationally (DuckDB has no AES — a dropped or corrupted
    * row moves n/n_rt/first_name). */
  def q236AesRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val key = "0123456789abcdef" // fixture key: gate tests the identity
    Tables(s, dir, "customer")
      .selectExpr("c_nationkey", "c_name",
        s"CAST(aes_decrypt(aes_encrypt(CAST(c_name AS BINARY), '$key'), '$key') AS STRING) AS dec")
      .groupBy($"c_nationkey")
      .agg(count(lit(1)).as("n"),
        sum(when($"dec" <=> $"c_name", 1L).otherwise(0L)).as("n_rt"),
        min($"dec").as("first_name"))
      .orderBy($"c_nationkey")
  }

  val q236Sql: String =
    """SELECT c_nationkey, count(*) AS n,
      |  CAST(count(*) AS BIGINT) AS n_rt,
      |  min(c_name) AS first_name
      |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q237: incremental rollup maintenance -------------------------------

  /** Merge-refresh an aggregate from a delta WITHOUT rescanning the
    * base — the pay-once pattern behind every nightly rollup at 100 TB:
    * the base partition (90% of lineitem) is aggregated ONCE into a
    * groups-sized mergeable state (n / DECIMAL qty / min / max — sums
    * of sums, mins of mins), written to parquet and read back (state
    * must survive storage), and the refresh touches ONLY the delta
    * (10%) plus that state. avg is derived from (qty, n) at output —
    * the classic non-mergeable-aggregate fix. The oracle aggregates
    * the FULL table directly: any merge defect (double count, lost
    * group, decimal drift) hash-mismatches. Refresh cost is
    * O(delta + |groups|), independent of base size. */
  def q237IncrementalRollup(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
    val keys = Seq($"l_returnflag", $"l_linestatus")
    def partial(df: DataFrame): DataFrame =
      df.groupBy(keys: _*)
        .agg(count(lit(1)).as("n"),
          sum($"l_quantity".cast(DecimalType(25, 4))).as("qty_state"),
          min($"l_quantity").as("min_q"),
          max($"l_quantity").as("max_q"))
    val stage = Fs.scratchDir("rollup")
    try {
      // ingest-time: aggregate the base once, persist the tiny state
      partial(li.where($"l_orderkey" % 10 =!= 0))
        .coalesce(1).write.mode("overwrite").parquet(s"$stage/state")
      // refresh-time: delta scan + state merge only
      val state = s.read.parquet(s"$stage/state")
      val delta = partial(li.where($"l_orderkey" % 10 === 0))
      val merged = state.unionByName(delta)
        .groupBy(keys: _*)
        .agg(sum($"n").cast(LongType).as("n"),
          sum($"qty_state").as("qty_merged"),
          min($"min_q").as("min_q"),
          max($"max_q").as("max_q"))
        .select($"l_returnflag", $"l_linestatus", $"n",
          $"qty_merged".cast(DoubleType).as("qty"),
          $"min_q", $"max_q",
          round($"qty_merged".cast(DoubleType) / $"n", 4).as("avg_q"))
      // materialize (groups-sized) before the finally deletes the state;
      // the post-collect orderBy is the load-bearing output sort
      import scala.jdk.CollectionConverters._
      s.createDataFrame(merged.collect().toSeq.asJava, merged.schema)
        .orderBy($"l_returnflag", $"l_linestatus")
    } finally {
      Fs.rmTree(new java.io.File(stage))
    }
  }

  val q237Sql: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) AS qty,
      |  min(l_quantity) AS min_q, max(l_quantity) AS max_q,
      |  round(CAST(sum(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE)
      |        / count(*), 4) AS avg_q
      |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- q239: bitwise aggregates -------------------------------------------

  /** bit_and / bit_or / bit_xor aggregates — exact, fixed-size,
    * mergeable (the algebraic cousins of q213's bitmap distinct):
    * bit_or accumulates a presence mask, bit_xor a parity check, both
    * map-side combinable so the shuffle carries ONE long per group.
    * Parity matters because flag-mask rollups silently corrupt if an
    * engine treats the aggregate as nullable-skipping differently. */
  def q239BitAggs(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "events").createOrReplaceTempView("q239_e")
    s.sql(
      """SELECT event_type, count(*) AS n,
        |  bit_and(user_id) AS mask_and,
        |  bit_or(user_id) AS mask_or,
        |  bit_xor(user_id) AS parity
        |FROM q239_e GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  val q239Sql: String =
    """SELECT event_type, count(*) AS n,
      |  bit_and(user_id) AS mask_and,
      |  bit_or(user_id) AS mask_or,
      |  bit_xor(user_id) AS parity
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q242: timezone conversion ------------------------------------------

  /** Timezone-aware processing under the UTC session contract: the
    * instant column converts to WALL TIME per business zone with
    * from_utc_timestamp (IANA rules, DST included) — the
    * local-business-hours rollup every global events pipeline runs.
    * Conversion is a row-local expression (scan-side); the tiny
    * (zone x hour) aggregate is the only shuffle. Each zone is a
    * LITERAL (computed as three columns in one scan, then stacked):
    * a column-valued zone forces the per-row ZoneId-lookup slow path
    * (~3x here) because codegen cannot specialize the rules — the
    * same lesson as non-foldable format strings. The oracle replays
    * with DuckDB's two-step timezone() (naive->UTC instant->zone wall),
    * which is session-timezone-independent — both engines consult the
    * same IANA database, so a hash mismatch means a real rule/offset
    * divergence. */
  def q242Timezones(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "events").createOrReplaceTempView("q242_e")
    s.sql(
      """SELECT tz, lhour, count(*) AS n
        |FROM (
        |  SELECT stack(3,
        |    'America/New_York',
        |    hour(from_utc_timestamp(t, 'America/New_York')),
        |    'Asia/Tokyo', hour(from_utc_timestamp(t, 'Asia/Tokyo')),
        |    'Europe/Paris', hour(from_utc_timestamp(t, 'Europe/Paris'))
        |  ) AS (tz, lhour)
        |  FROM (SELECT timestamp_micros(ts DIV 1000) AS t FROM q242_e))
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
  }

  val q242Sql: String =
    """SELECT tz, CAST(hour(timezone(tz, timezone('UTC', ts))) AS INTEGER)
      |    AS lhour,
      |  count(*) AS n
      |FROM events
      |CROSS JOIN (SELECT unnest(['America/New_York', 'Asia/Tokyo',
      |  'Europe/Paris']) AS tz) z
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- q243: binary-encoding battery --------------------------------------

  /** Digest/encoding parity battery — sha2-256 hex digests, base64
    * round-trip, integer hex, printf formatting — the row-local
    * encodings an interchange layer leans on (content-addressed ids,
    * wire formats, stable file names). All codegen scan-side
    * expressions; a single-character divergence (case, padding,
    * truncation) moves the min() representatives or n_rt. hex is
    * lower()ed on both sides so the claim is about the DIGITS, not a
    * case convention. */
  def q243Encoding(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "customer").createOrReplaceTempView("q243_c")
    s.sql(
      """SELECT c_nationkey, count(*) AS n,
        |  sum(CASE WHEN CAST(unbase64(base64(CAST(c_name AS BINARY)))
        |        AS STRING) <=> c_name THEN 1 ELSE 0 END) AS n_rt,
        |  min(sha2(c_name, 256)) AS first_digest,
        |  min(lower(hex(c_custkey))) AS first_hex,
        |  min(format_string('%05d:%s', c_custkey, c_mktsegment))
        |    AS first_fmt
        |FROM q243_c GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  val q243Sql: String =
    """SELECT c_nationkey, count(*) AS n,
      |  CAST(sum(CASE WHEN from_base64(base64(c_name::BLOB))::VARCHAR
      |        = c_name THEN 1 ELSE 0 END) AS BIGINT) AS n_rt,
      |  min(sha256(c_name)) AS first_digest,
      |  min(lower(hex(c_custkey))) AS first_hex,
      |  min(printf('%05d:%s', c_custkey, c_mktsegment)) AS first_fmt
      |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q245: warehouse capstone -------------------------------------------

  /** The round's warehouse operators CHAINED, so interface drift is
    * what the oracle catches (the q220 capstone pattern, warehouse
    * face): orders update-log -> SCD2 change detection (q224's
    * lag/filter/lead shape) -> CURRENT state per customer -> dimension
    * enrichment (LEFT JOIN, misses bucketed — q221's accounting) ->
    * uniqueness DQ invariant (q226's shape, REQUIRED in-gate) ->
    * (status, segment) rollup. One window shuffle + one broadcastable
    * dim join + one groups-sized aggregate; the DuckDB oracle replays
    * the ENTIRE chain in one statement. */
  def q245WarehouseCapstone(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"custkey").orderBy($"eff", $"ver")
    val upd = Tables(s, dir, "orders")
      .select($"o_custkey".as("custkey"),
        $"o_orderdate".cast(TimestampType).as("eff"),
        $"o_orderkey".as("ver"), $"o_orderstatus".as("status"),
        $"o_totalprice".as("price"))
    val scd = upd
      .withColumn("__prev", lag($"status", 1).over(w))
      .where($"__prev".isNull || $"__prev" =!= $"status")
      .withColumn("__next_eff", lead($"eff", 1).over(w))
    val current = scd.where($"__next_eff".isNull)
      .select($"custkey", $"status")
    val dim = Tables(s, dir, "customer")
      .where($"c_custkey" % 2 === 0) // deliberately incomplete dim
      .select($"c_custkey", $"c_mktsegment")
    val enriched = current.join(broadcast(dim),
        $"custkey" === $"c_custkey", "left_outer")
      .select($"custkey", $"status",
        coalesce($"c_mktsegment", lit("__miss")).as("segment"))
    // DQ invariant: SCD2 current state is one row per customer
    val dq = enriched.agg(
        (count(lit(1)) - countDistinct($"custkey")).as("__dups"))
      .select(when($"__dups" === 0L, lit(true))
        .otherwise(raise_error(concat(lit("q245: current-state dups "),
          $"__dups".cast(StringType)))).as("dq_ok"))
    enriched.groupBy($"status", $"segment")
      .agg(count(lit(1)).as("n_customers"))
      .crossJoin(broadcast(dq))
      .orderBy($"status", $"segment")
  }

  val q245Sql: String =
    """WITH upd AS (
      |  SELECT o_custkey AS custkey, o_orderdate AS eff,
      |    o_orderkey AS ver, o_orderstatus AS status
      |  FROM orders),
      |ch AS (
      |  SELECT *, lag(status) OVER
      |    (PARTITION BY custkey ORDER BY eff, ver) AS prev
      |  FROM upd),
      |scd AS (
      |  SELECT custkey, eff, ver, status,
      |    lead(eff) OVER (PARTITION BY custkey ORDER BY eff, ver)
      |      AS next_eff
      |  FROM ch WHERE prev IS NULL OR prev <> status),
      |cur AS (SELECT custkey, status FROM scd WHERE next_eff IS NULL),
      |enr AS (
      |  SELECT custkey, status,
      |    coalesce(c_mktsegment, '__miss') AS segment
      |  FROM cur LEFT JOIN (
      |    SELECT c_custkey, c_mktsegment FROM customer
      |    WHERE c_custkey % 2 = 0) d
      |  ON custkey = d.c_custkey)
      |SELECT status, segment, count(*) AS n_customers, true AS dq_ok
      |FROM enr GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- q246: SQL pipe syntax ----------------------------------------------

  /** Spark 4's SQL pipe syntax (`FROM t |> WHERE |> EXTEND |>
    * AGGREGATE |> ORDER BY`) — operator-order-as-written resolution of
    * the same logical plan the nested standard form builds. Parity
    * matters for migration the same way GROUP BY ALL (q222) does: a
    * resolution difference between the pipelined and nested forms
    * would silently change results when a query is mechanically
    * rewritten. The oracle is the STANDARD-SQL restatement in DuckDB,
    * so a green row certifies the pipe chain resolves to exactly the
    * classic semantics. */
  def q246PipeSyntax(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "lineitem").createOrReplaceTempView("q246_li")
    s.sql(
      """FROM q246_li
        ||> WHERE l_quantity < 30
        ||> EXTEND CAST(l_extendedprice * (1 - l_discount)
        |     AS DECIMAL(25,4)) AS disc_price
        ||> AGGREGATE count(*) AS n,
        |     CAST(sum(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE)
        |       AS qty,
        |     CAST(sum(disc_price) AS DOUBLE) AS revenue
        |     GROUP BY l_returnflag, l_linestatus
        ||> ORDER BY l_returnflag, l_linestatus""".stripMargin)
  }

  val q246Sql: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) AS qty,
      |  CAST(sum(CAST(l_extendedprice * (1 - l_discount)
      |    AS DECIMAL(25,4))) AS DOUBLE) AS revenue
      |FROM lineitem WHERE l_quantity < 30
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- q260: global running sum on the fact table, hashed -------------------

  /** The two-phase global prefix sum ([[Packing.contiguousOffsets]])
    * proven on the BIG table: every lineitem row (key = l_orderkey*8 +
    * l_linenumber — linenumber <= 7, so the packing is collision-free)
    * gets its exact global running-quantity offset in
    * splitmix64-shuffled order. This is the operation TFrame.cumsum
    * documents as driver-scale-only in its global (`by = Nil`) window
    * form — here it runs as 32 range partitions + a 32-row driver
    * collect, no one-partition funnel, 600k rows at sf0.1 / 6M at
    * sf1.0. Quantities are integer-valued (TPC-H 1..50), so the cast
    * to BIGINT and the prefix sums are exact on both engines. DuckDB
    * replays the shuffle key and the prefix sum as a single window
    * over the same total order. */
  def q260GlobalCumsum(s: SparkSession, dir: String): DataFrame = {
    // the synthetic lineitem does NOT keep (orderkey, linenumber)
    // unique (TPC-H-ish, not TPC-H) — aggregate to unique keys first:
    // contiguousOffsets needs a total order, and duplicate (key, id)
    // rows with different quantities would make the offset assignment
    // between them engine-arbitrary.
    // Integrality is ASSERTED, not assumed: Spark's double->long cast
    // truncates while DuckDB's CAST rounds — the engines agree only
    // because TPC-H quantities are exactly integer-valued (1..50), so
    // a future fractional quantity must fail loudly here instead of
    // silently diverging the oracle. The raise_error rides the same
    // projection — no extra pass.
    val li = Tables(s, dir, "lineitem")
      .select(($"l_orderkey" * 8 + $"l_linenumber").cast(LongType)
        .as("lk"),
        when($"l_quantity" =!= floor($"l_quantity"), raise_error(lit(
          "q260: non-integer l_quantity — Spark truncates and DuckDB " +
            "rounds on the long cast, the prefix sums would diverge")))
          .otherwise($"l_quantity").cast(LongType).as("q"))
      .groupBy($"lk")
      .agg(sum($"q").as("qty"))
    val off = Packing.contiguousOffsets(li, "lk", "qty",
      seed = 21L, parts = 32)
    off.select($"lk", $"qty", $"global_start",
      ($"global_start" + $"qty").as("running_qty"))
  }

  val q260Sql: String =
    s"""WITH d AS (
       |  SELECT l_orderkey * 8 + l_linenumber AS lk,
       |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
       |  FROM lineitem GROUP BY 1),
       |${LmPrepGates.hashCtes("gk", 21L, "d", "lk")},
       |j AS (
       |  SELECT d.lk, d.qty, gkh.h
       |  FROM d JOIN gkh ON d.lk = gkh.k),
       |o AS (
       |  SELECT lk, qty,
       |    CAST(coalesce(sum(qty) OVER (ORDER BY h, lk
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS gs
       |  FROM j)
       |SELECT lk, qty, gs AS global_start, gs + qty AS running_qty
       |FROM o""".stripMargin

  // ---- q268: global rank + deciles on the fact table, hashed ----------------

  /** [[Packing.rankInOrder]] proven on the BIG table (the q260 role
    * for the rank half of the two-phase machinery): every unique
    * lineitem key (the q260 aggregation — the synthetic table
    * duplicates (orderkey, linenumber)) gets its exact 0-based global
    * rank in (total quantity, key) order plus an exact integer decile
    * — 600k keys at sf0.1 / 4.57M at sf1.0 through 32 range
    * partitions and a 32-row driver collect, where the declarative
    * spelling `row_number() OVER (ORDER BY ...)` would funnel every
    * row through ONE task. The decile is (rank*10) div n against a
    * broadcast 1-row count — the exact-quantile bucketing of mixture
    * capping / eval-split assignment at corpus scale. Quantities are
    * integrality-asserted as in q260. DuckDB replays rank and decile
    * over the same total order. */
  def q268GlobalRank(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
      .select(($"l_orderkey" * 8 + $"l_linenumber").cast(LongType)
        .as("lk"),
        when($"l_quantity" =!= floor($"l_quantity"), raise_error(lit(
          "q268: non-integer l_quantity — Spark truncates and DuckDB " +
            "rounds on the long cast, the ranks would diverge")))
          .otherwise($"l_quantity").cast(LongType).as("q"))
      .groupBy($"lk")
      .agg(sum($"q").as("qty"))
    val ranked = Packing.rankInOrder(li, "lk", Seq("qty"), parts = 32)
    val n = li.agg(count(lit(1)).as("__n"))
    ranked.crossJoin(broadcast(n))
      .select($"lk", $"qty", $"rank",
        expr("CAST((rank * 10) DIV __n AS BIGINT)").as("decile"))
  }

  val q268Sql: String =
    """WITH d AS (
      |  SELECT l_orderkey * 8 + l_linenumber AS lk,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      |  FROM lineitem GROUP BY 1),
      |r AS (
      |  SELECT lk, qty,
      |    row_number() OVER (ORDER BY qty, lk) - 1 AS rank,
      |    count(*) OVER () AS n
      |  FROM d)
      |SELECT lk, qty, CAST(rank AS BIGINT) AS rank,
      |  CAST((rank * 10) // n AS BIGINT) AS decile
      |FROM r""".stripMargin

  /** Unique-key money frame shared by q269/q272: the synthetic
    * lineitem duplicates (orderkey, linenumber), so aggregate to the
    * q268 composite key first. Prices go double → DECIMAL(18,2)
    * BEFORE the sum (both engines round the ~2-decimal double to the
    * nearest cent identically — no half-way case exists within one
    * double ulp of a cent), and the per-key sum is decimal-exact. */
  private def moneyKeys(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .select(($"l_orderkey" * 8 + $"l_linenumber").cast(LongType).as("lk"),
        $"l_extendedprice".cast(DecimalType(18, 2)).as("p"))
      .groupBy($"lk")
      .agg(sum($"p").cast(DecimalType(18, 2)).as("price"))

  // ---- q269: DECIMAL-exact global running sum (money), hashed ---------------

  /** The fixed-point completion of the q260 global-cumsum machinery:
    * an exact running revenue over every unique lineitem key in key
    * order, computed by [[TFrame.cumsumExactDecimal]] — the value is
    * scaled to cents (exact: DECIMAL(18,2) always fits a LONG), run
    * through the two-phase range-partitioned prefix sum, and scaled
    * back — so the money column (the realistic 100 TB case: the
    * reference cumsum surface includes floats,
    * inumerical_column.py:229-312, and l_extendedprice is the column
    * a warehouse actually accumulates) gets an EXACT global cumsum
    * with no one-partition window. Long addition on cents is exactly
    * associative, so the float objection to two-phase double cumsum
    * does not apply. Output doubles follow the repo convention
    * (exact DECIMAL → CAST AS DOUBLE, the identical conversion on
    * both engines); run_cents is the fully-exact integer witness.
    * DuckDB replays the running sum as a decimal window sum over the
    * same total order. Plan pinned window-free in TFrameSpec. */
  def q269MoneyCumsum(s: SparkSession, dir: String): DataFrame = {
    val run = TFrame(moneyKeys(s, dir))
      .cumsumExactDecimal("price", order = Seq.empty, idCol = "lk",
        parts = 32)
    run.df.select($"lk",
      $"price".cast(DoubleType).as("price"),
      (col("`price.cumsum`") * lit(100)).cast(LongType).as("run_cents"),
      col("`price.cumsum`").cast(DoubleType).as("run_price"))
  }

  val q269Sql: String =
    """WITH d AS (
      |  SELECT l_orderkey * 8 + l_linenumber AS lk,
      |    CAST(l_extendedprice AS DECIMAL(18,2)) AS p
      |  FROM lineitem),
      |g AS (
      |  SELECT lk, CAST(sum(p) AS DECIMAL(18,2)) AS price
      |  FROM d GROUP BY lk),
      |r AS (
      |  SELECT lk, price, sum(price) OVER (ORDER BY lk) AS run
      |  FROM g)
      |SELECT lk, CAST(price AS DOUBLE) AS price,
      |  CAST(run * 100 AS BIGINT) AS run_cents,
      |  CAST(run AS DOUBLE) AS run_price
      |FROM r""".stripMargin

  // ---- q272: TFrame rank family (rankExact + denseRankExact), hashed --------

  /** The funnel-free rank primitives on the USER surface (the
    * round-17 verdict's ask: the reference-style fluent API is the
    * declared product surface, and rankInOrder was reachable only
    * through the operators package): [[TFrame.rankExact]] (exact
    * 0-based global rank in (qty, lk) order — two-phase prefix count,
    * q266/q268 machinery) and [[TFrame.denseRankExact]] (equal keys
    * share a gapless rank — distinct keys ranked by the same
    * two-phase count via each group's min-id representative, joined
    * back) chained on the q269 money-key frame with quantities.
    * DuckDB replays both as row_number()-1 / dense_rank()-1 over the
    * same total order — a green hash proves the pair of wrappers
    * equals the declarative global-sort spelling exactly, while the
    * executed plan (pinned window-free in TFrameSpec) never funnels
    * the corpus through one task. */
  def q272RankFamily(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
      .select(($"l_orderkey" * 8 + $"l_linenumber").cast(LongType)
        .as("lk"),
        when($"l_quantity" =!= floor($"l_quantity"), raise_error(lit(
          "q272: non-integer l_quantity — Spark truncates and DuckDB " +
            "rounds on the long cast, the ranks would diverge")))
          .otherwise($"l_quantity").cast(LongType).as("q"))
      .groupBy($"lk")
      .agg(sum($"q").as("qty"))
    val ranked = TFrame(li)
      .rankExact(Seq("qty"), "lk", parts = 32, outCol = "rk")
      .denseRankExact(Seq("qty"), "lk", parts = 32, outCol = "drank")
    ranked.df.select($"lk", $"qty", $"rk", $"drank")
  }

  val q272Sql: String =
    """WITH d AS (
      |  SELECT l_orderkey * 8 + l_linenumber AS lk,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      |  FROM lineitem GROUP BY 1)
      |SELECT lk, qty,
      |  CAST(row_number() OVER (ORDER BY qty, lk) - 1 AS BIGINT) AS rk,
      |  CAST(dense_rank() OVER (ORDER BY qty) - 1 AS BIGINT) AS drank
      |FROM d""".stripMargin

  // ---- q273: signed running balance (negative-weight cumsum), hashed --------

  /** End-to-end witness for the round-18 relaxed prefix-sum contract
    * (negatives are exact — long addition is sign-agnostic): a
    * running NET-revenue balance where returned lineitems
    * (l_returnflag = 'R') post as refunds — the sign-mixed delta
    * column the >= 0 guard used to reject for no algorithmic reason
    * (the reference cumsum supports negatives,
    * numerical_column_cpu.py accumulate via operator.add). Cents are
    * exact longs via the q269 DECIMAL(18,2) mediation; the running
    * sum is [[TFrame.cumsumExact]]'s two-phase prefix sum in key
    * order — no window at any corpus size. DuckDB replays the signed
    * window sum over the same total order. */
  def q273SignedBalance(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
      .select(($"l_orderkey" * 8 + $"l_linenumber").cast(LongType)
        .as("lk"),
        (when($"l_returnflag" === "R", -1L).otherwise(1L) *
          ($"l_extendedprice".cast(DecimalType(18, 2)) * lit(100))
            .cast(LongType)).as("sc"))
      .groupBy($"lk")
      .agg(sum($"sc").cast(LongType).as("delta"))
    TFrame(li)
      .cumsumExact("delta", order = Seq.empty, idCol = "lk", parts = 32)
      .df.select($"lk", $"delta",
        col("`delta.cumsum`").as("run_cents"))
  }

  val q273Sql: String =
    """WITH d AS (
      |  SELECT l_orderkey * 8 + l_linenumber AS lk,
      |    (CASE WHEN l_returnflag = 'R' THEN -1 ELSE 1 END) *
      |      CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS sc
      |  FROM lineitem),
      |g AS (SELECT lk, CAST(sum(sc) AS BIGINT) AS delta FROM d GROUP BY lk)
      |SELECT lk, delta,
      |  CAST(sum(delta) OVER (ORDER BY lk) AS BIGINT) AS run_cents
      |FROM g""".stripMargin

  // ---- q274: exact NTILE without the window funnel, hashed ------------------

  /** [[TFrame.ntileExact]] proven against the SQL function it
    * replaces: every unique lineitem key's ntile(7) bucket in (qty,
    * lk) order — 7 deliberately not dividing the row count, so the
    * ANSI remainder rule (first n mod k buckets take the extra row;
    * NOT the (rank*k) div n equal-width cut, which places boundary
    * rows differently) is what the hash certifies. The executed plan
    * is the two-phase rank + a broadcast 1-row count + integer
    * arithmetic — `ntile(k) OVER (ORDER BY ...)` is THE textbook
    * one-task global funnel, and this gate pins its replacement
    * window-free (TFrameSpec). DuckDB replays the native ntile(7). */
  def q274Ntile(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
      .select(($"l_orderkey" * 8 + $"l_linenumber").cast(LongType)
        .as("lk"),
        when($"l_quantity" =!= floor($"l_quantity"), raise_error(lit(
          "q274: non-integer l_quantity — Spark truncates and DuckDB " +
            "rounds on the long cast, the order would diverge")))
          .otherwise($"l_quantity").cast(LongType).as("q"))
      .groupBy($"lk")
      .agg(sum($"q").as("qty"))
    TFrame(li)
      .ntileExact(7, Seq("qty"), "lk", parts = 32, outCol = "bucket")
      .df.select($"lk", $"qty", $"bucket")
  }

  val q274Sql: String =
    """WITH d AS (
      |  SELECT l_orderkey * 8 + l_linenumber AS lk,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      |  FROM lineitem GROUP BY 1)
      |SELECT lk, qty,
      |  CAST(ntile(7) OVER (ORDER BY qty, lk) AS BIGINT) AS bucket
      |FROM d""".stripMargin

  /** Unique-key quantity frame shared by q275/q276/q277 — the q272
    * composite key with an integrality raise (Spark truncates and
    * DuckDB rounds on the long cast, so a fractional quantity would
    * silently diverge the order). Quantities repeat heavily across
    * keys, so peer groups are real, not degenerate. */
  private def qtyKeys(s: SparkSession, dir: String, gate: String): DataFrame =
    Tables(s, dir, "lineitem")
      .select(($"l_orderkey" * 8 + $"l_linenumber").cast(LongType).as("lk"),
        when($"l_quantity" =!= floor($"l_quantity"), raise_error(lit(
          s"$gate: non-integer l_quantity — Spark truncates and DuckDB " +
            "rounds on the long cast, the order would diverge")))
          .otherwise($"l_quantity").cast(LongType).as("q"))
      .groupBy($"lk")
      .agg(sum($"q").as("qty"))

  // ---- q275: peer-aware percent_rank / cume_dist, hashed --------------------

  /** [[TFrame.peerRanksExact]] (percent_rank + cume_dist from ONE
    * shared prefix-count pass) proven
    * against the SQL window functions they replace: both are one IEEE
    * double division of exact integers — (rank−1)/(n−1) with
    * peer-aware rank, and (rows at-or-before)/n — where the integer
    * inputs come from the two-phase prefix count over the DISTINCT
    * order keys (vocabulary-sized exchanges + one join back; the
    * corpus never funnels through a window task). The qty column has
    * heavy ties, so a green hash certifies the PEER semantics (equal
    * keys share percent_rank and cume_dist), not just the ordering. */
  def q275PercentRank(s: SparkSession, dir: String): DataFrame = {
    val ranked = TFrame(qtyKeys(s, dir, "q275"))
      .peerRanksExact(Seq("qty"), "lk", parts = 32,
        prCol = "pr", cdCol = "cd")
    ranked.df.select($"lk", $"qty", $"pr", $"cd")
  }

  val q275Sql: String =
    """WITH d AS (
      |  SELECT l_orderkey * 8 + l_linenumber AS lk,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      |  FROM lineitem GROUP BY 1)
      |SELECT lk, qty,
      |  percent_rank() OVER (ORDER BY qty) AS pr,
      |  cume_dist() OVER (ORDER BY qty) AS cd
      |FROM d""".stripMargin

  // ---- q276: global LAG/LEAD without the window funnel, hashed ---------------

  /** [[TFrame.lagExact]](3) and [[TFrame.leadExact]](2) over the full
    * unique-key frame in key order — `lag/lead OVER (ORDER BY ...)`
    * plan the same one-task global sort as row_number, yet each row
    * needs a value at most k rows away; the replacement is ONE range
    * exchange plus a bounded parts·k driver carry
    * ([[graft.operators.Packing.shiftInOrder]]), with lead computed
    * as lag over the REVERSED total order. Nulls at both edges (the
    * first 3 / last 2 rows) ride the hash, certifying SQL edge
    * semantics as well as the carry threading across partitions. */
  def q276LagLead(s: SparkSession, dir: String): DataFrame = {
    val shifted = TFrame(qtyKeys(s, dir, "q276"))
      .lagExact("qty", 3, order = Seq.empty, idCol = "lk", parts = 32,
        outCol = "lag3")
      .leadExact("qty", 2, order = Seq.empty, idCol = "lk", parts = 32,
        outCol = "lead2")
    shifted.df.select($"lk", $"qty", $"lag3", $"lead2")
  }

  val q276Sql: String =
    """WITH d AS (
      |  SELECT l_orderkey * 8 + l_linenumber AS lk,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      |  FROM lineitem GROUP BY 1)
      |SELECT lk, qty,
      |  lag(qty, 3) OVER (ORDER BY lk) AS lag3,
      |  lead(qty, 2) OVER (ORDER BY lk) AS lead2
      |FROM d""".stripMargin

  // ---- q277: exact global rolling sum (ROWS frame), hashed -------------------

  /** [[TFrame.rollingSumExact]] proven against the ROWS-frame window
    * it replaces: a 7-row moving net-revenue balance (6 preceding +
    * current) over the SIGNED q273 cents deltas — returned lineitems
    * post as refunds, so the moving sum crosses zero and certifies
    * the sign-agnostic difference form moving(i) = run(i) − run(i−7).
    * Both passes are the exact two-phase primitives (cumsum, then lag
    * of the running sum); long arithmetic makes the difference form
    * lossless. DuckDB replays the native windowed frame. */
  def q277RollingSum(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
      .select(($"l_orderkey" * 8 + $"l_linenumber").cast(LongType)
        .as("lk"),
        (when($"l_returnflag" === "R", -1L).otherwise(1L) *
          ($"l_extendedprice".cast(DecimalType(18, 2)) * lit(100))
            .cast(LongType)).as("sc"))
      .groupBy($"lk")
      .agg(sum($"sc").cast(LongType).as("delta"))
    TFrame(li)
      .rollingSumExact("delta", w = 6, order = Seq.empty, idCol = "lk",
        parts = 32, outCol = "roll_cents")
      .df.select($"lk", $"delta", $"roll_cents")
  }

  val q277Sql: String =
    """WITH d AS (
      |  SELECT l_orderkey * 8 + l_linenumber AS lk,
      |    (CASE WHEN l_returnflag = 'R' THEN -1 ELSE 1 END) *
      |      CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS sc
      |  FROM lineitem),
      |g AS (SELECT lk, CAST(sum(sc) AS BIGINT) AS delta FROM d GROUP BY lk)
      |SELECT lk, delta,
      |  CAST(sum(delta) OVER (ORDER BY lk
      |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS roll_cents
      |FROM g""".stripMargin
}
