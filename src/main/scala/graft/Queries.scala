package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Relational query suite over the driver's star schema, one entry per
  * operator family from SURVEY.md §2. Each query has a DuckDB oracle
  * (SparkEntry.oracleSql) and is written for scale: filters/projections
  * push to the parquet scan, small dimensions are broadcast, aggregates
  * are partial+final hash aggregates, and every output is
  * deterministically ordered.
  *
  * Float-safety convention for the oracle compare: per-row arithmetic is
  * written with the identical IEEE expression on both sides (bit-exact);
  * order-dependent SUMs go through an exact DECIMAL(25,4) cast; AVG/STDDEV
  * are rounded to a tolerance far above fp noise.
  */
object Queries {

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
}
