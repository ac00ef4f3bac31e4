package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-12 session gates past q216: recursive CTEs (q217), the
  * WindowGroupLimit optimization witness (q218), and OFFSET
  * pagination (q219). Naming/oracle/float conventions as in
  * [[Queries]].
  */
object Queries27 {

  // ---- q217: recursive CTE -----------------------------------------------

  /** `WITH RECURSIVE` (new in Spark 4.x) — two classic shapes in one
    * statement, both replayed verbatim by DuckDB: (a) a month SPINE
    * from the data's own min/max order dates — the gap-free calendar
    * axis q141 built with spark.range, now in pure SQL, LEFT-joined
    * so any zero-order month surfaces as a 0 row, not an absent row;
    * (b) a HIERARCHY walk — every customer key ≤ 1023 walks the
    * implicit binary-heap parent chain (k → k div 2) to the root,
    * yielding depth = ⌊log₂ k⌋ and the ancestor-sum, integer-exact.
    *
    * Recursion DEPTH is a count of SEQUENTIAL distributed jobs — the
    * scale lesson this gate carries: a month-at-a-time spine is ~80
    * barriers of per-job overhead (measured 13.8 s at sf0.1 for KB of
    * data), so the spine here seeds all 12 month-of-year rows and
    * recurses BY YEAR — identical output, ~7 rounds, in band. Shape
    * recursions wide-and-shallow; depth, not data, is what costs. */
  def q217RecursiveCte(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "orders").createOrReplaceTempView("q217_ord")
    Tables(s, dir, "customer").createOrReplaceTempView("q217_cust")
    s.sql(
      """WITH RECURSIVE bounds AS (
        |  SELECT date_trunc('MONTH', min(o_orderdate)) AS lo,
        |    date_trunc('MONTH', max(o_orderdate)) AS hi FROM q217_ord),
        |months(m) AS (
        |  SELECT lo + make_interval(0, k) FROM bounds
        |  LATERAL VIEW explode(sequence(0, 11)) AS k
        |  WHERE lo + make_interval(0, k) <= hi
        |  UNION ALL
        |  SELECT m + INTERVAL 1 YEAR FROM months
        |  WHERE m + INTERVAL 1 YEAR <=
        |    (SELECT hi FROM bounds)),
        |per_month AS (
        |  SELECT date_trunc('MONTH', o_orderdate) AS m, count(*) AS n
        |  FROM q217_ord GROUP BY 1),
        |walk(node, anc, d) AS (
        |  SELECT c_custkey, c_custkey, 0 FROM q217_cust
        |  WHERE c_custkey BETWEEN 1 AND 1023
        |  UNION ALL
        |  SELECT node, anc DIV 2, d + 1 FROM walk WHERE anc > 1),
        |hier AS (
        |  SELECT CAST(max(d) AS BIGINT) AS depth,
        |    CAST(sum(anc) AS BIGINT) AS anc_sum, node
        |  FROM walk GROUP BY node)
        |SELECT CAST(unix_micros(CAST(m AS TIMESTAMP)) AS BIGINT)
        |  AS month_us,
        |  coalesce(n, 0) AS n_orders,
        |  (SELECT count(*) FROM hier) AS n_walked,
        |  (SELECT sum(depth) FROM hier) AS depth_sum,
        |  (SELECT sum(anc_sum) FROM hier) AS anc_total
        |FROM months LEFT JOIN per_month USING (m)
        |ORDER BY month_us""".stripMargin)
  }

  val q217Sql: String =
    """WITH RECURSIVE bounds AS (
      |  SELECT date_trunc('MONTH', min(o_orderdate)) AS lo,
      |    date_trunc('MONTH', max(o_orderdate)) AS hi FROM orders),
      |months(m) AS (
      |  SELECT lo + k * INTERVAL 1 MONTH FROM bounds
      |  CROSS JOIN (SELECT unnest(range(12)) AS k)
      |  WHERE lo + k * INTERVAL 1 MONTH <= hi
      |  UNION ALL
      |  SELECT m + INTERVAL 1 YEAR FROM months
      |  WHERE m + INTERVAL 1 YEAR <= (SELECT hi FROM bounds)),
      |per_month AS (
      |  SELECT date_trunc('MONTH', o_orderdate) AS m, count(*) AS n
      |  FROM orders GROUP BY 1),
      |walk(node, anc, d) AS (
      |  SELECT c_custkey, c_custkey, 0 FROM customer
      |  WHERE c_custkey BETWEEN 1 AND 1023
      |  UNION ALL
      |  SELECT node, anc // 2, d + 1 FROM walk WHERE anc > 1),
      |hier AS (
      |  SELECT CAST(max(d) AS BIGINT) AS depth,
      |    CAST(sum(anc) AS BIGINT) AS anc_sum, node
      |  FROM walk GROUP BY node)
      |SELECT CAST(epoch_us(m) AS BIGINT) AS month_us,
      |  coalesce(n, 0) AS n_orders,
      |  (SELECT count(*) FROM hier) AS n_walked,
      |  CAST((SELECT sum(depth) FROM hier) AS BIGINT) AS depth_sum,
      |  CAST((SELECT sum(anc_sum) FROM hier) AS BIGINT) AS anc_total
      |FROM months LEFT JOIN per_month USING (m)
      |ORDER BY month_us""".stripMargin

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

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q217_recursive_cte" -> (q217RecursiveCte _),
    "q218_window_group_limit" -> (q218WindowGroupLimit _),
    "q219_offset_pagination" -> (q219OffsetPagination _)
  )

  val oracles: Map[String, String] = Map(
    "q217_recursive_cte" -> q217Sql,
    "q218_window_group_limit" -> q218Sql,
    "q219_offset_pagination" -> q219Sql
  )
}
