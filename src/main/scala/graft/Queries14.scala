package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-12 gates past q168: CUBE + grouping_id (q169), the
  * correlation/covariance battery (q170), and the bidirectional
  * nearest-event temporal join (q171). Naming/oracle/float conventions
  * as in [[Queries]].
  */
object Queries14 {

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

  // ---- q170: correlation / covariance battery ----------------------------

  /** Pearson correlation + sample/population covariance per group —
    * the bivariate statistics describe() doesn't cover. All three are
    * one-pass co-moment aggregates with map-side partials (Welford
    * merge), so the plan is a plain partial/final pair on the scan —
    * no per-group buffers, unlike exact percentiles. corr is rounded
    * at 6 dp (O(1) magnitude), covariances at 2 dp (merge-order float
    * noise lives ~1e-10 relative, far inside both roundings). */
  def q170CorrBattery(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
    li.groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        round(corr($"l_quantity", $"l_extendedprice"), 6).as("corr_qp"),
        round(covar_samp($"l_quantity", $"l_extendedprice"), 2)
          .as("cov_qp"),
        round(covar_pop($"l_quantity", $"l_extendedprice"), 2)
          .as("covp_qp"),
        round(corr($"l_quantity", $"l_discount"), 6).as("corr_qd"))
      .orderBy($"l_returnflag")
  }

  val q170Sql: String =
    """SELECT l_returnflag, count(*) AS n,
      |  round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
      |  round(covar_samp(l_quantity, l_extendedprice), 2) AS cov_qp,
      |  round(covar_pop(l_quantity, l_extendedprice), 2) AS covp_qp,
      |  round(corr(l_quantity, l_discount), 6) AS corr_qd
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

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

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q169_cube" -> (q169Cube _),
    "q170_corr_battery" -> (q170CorrBattery _),
    "q171_nearest_join" -> (q171NearestJoin _)
  )

  val oracles: Map[String, String] = Map(
    "q169_cube" -> q169Sql,
    "q170_corr_battery" -> q170Sql,
    "q171_nearest_join" -> q171Sql
  )
}
