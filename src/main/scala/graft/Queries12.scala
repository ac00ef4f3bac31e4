package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-12 gates past q157: JSON column processing (q158), session
  * transition matrices (q159), equi-depth feature binning (q160), and
  * the semi/anti-join + NOT-IN-null semantics battery (q161). Naming/
  * oracle/float conventions as in [[Queries]].
  */
object Queries12 {

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

  // ---- q160: equi-depth binning -----------------------------------------

  /** Quartile (equi-depth) binning WITHOUT a global sort: exact
    * p25/p50/p75 borders (the q28 4-dp percentile contract) collected
    * once, then the bucket is a codegen'd comparison chain on the scan
    * — the scalable alternative to `ntile(4)`, whose window would
    * shuffle and sort every row into one partition. Complements q157
    * (equi-width) and q60 (fixed borders). Per-bucket stats go through
    * DECIMAL. */
  def q160EquiDepth(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
    // ONE percentile() call for all three borders — each call builds
    // its own full-column value buffer, so three calls tripled the
    // dominant cost (the q122 lesson)
    val b = li.agg(
      percentile($"l_extendedprice", array(lit(0.25), lit(0.5), lit(0.75)))
        .as("ps")).head().getSeq[Double](0)
    // driver-side replica of Spark round(_, 4): HALF_UP over the
    // shortest decimal repr (BigDecimal.valueOf semantics) — the
    // contract the DuckDB oracle's round() matched all along
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val (p25, p50, p75) = (r4(b(0)), r4(b(1)), r4(b(2)))
    li.groupBy(
        when($"l_extendedprice" <= p25, 0)
          .when($"l_extendedprice" <= p50, 1)
          .when($"l_extendedprice" <= p75, 2)
          .otherwise(3).as("bucket"))
      .agg(count(lit(1)).as("n"),
        min($"l_extendedprice").as("lo"),
        max($"l_extendedprice").as("hi"),
        dsum($"l_extendedprice").as("total"))
      .orderBy($"bucket")
  }

  val q160Sql: String =
    """WITH p AS (
      |  SELECT round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
      |    round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
      |    round(quantile_cont(l_extendedprice, 0.75), 4) AS p75
      |  FROM lineitem)
      |SELECT CASE WHEN l_extendedprice <= p25 THEN 0
      |            WHEN l_extendedprice <= p50 THEN 1
      |            WHEN l_extendedprice <= p75 THEN 2
      |            ELSE 3 END AS bucket,
      |  count(*) AS n, min(l_extendedprice) AS lo,
      |  max(l_extendedprice) AS hi,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(25,4))) AS DOUBLE)
      |    AS total
      |FROM lineitem, p GROUP BY 1 ORDER BY 1""".stripMargin

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

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q158_json_ops" -> (q158JsonOps _),
    "q159_transitions" -> (q159Transitions _),
    "q160_equidepth" -> (q160EquiDepth _),
    "q161_join_semantics" -> (q161JoinSemantics _)
  )

  val oracles: Map[String, String] = Map(
    "q158_json_ops" -> q158Sql,
    "q159_transitions" -> q159Sql,
    "q160_equidepth" -> q160Sql,
    "q161_join_semantics" -> q161Sql
  )
}
