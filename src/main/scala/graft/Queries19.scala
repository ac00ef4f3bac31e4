package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{AsOfJoin, Sampling}

/** Round-12 session gates past q194: as-of join with a staleness
  * tolerance (q195), the try_* error-safe arithmetic battery (q196),
  * and the leakage-free fit/transform pattern (q197). Naming/oracle/
  * float conventions as in [[Queries]].
  */
object Queries19 {

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

  // ---- q197: leakage-free fit/transform ----------------------------------

  /** The fitted-transformer contract of every feature pipeline: scaler
    * statistics are FIT ON THE TRAIN SPLIT ONLY, then applied to all
    * splits — fitting on the full table leaks test-set statistics into
    * training (the classic offline-eval inflation). The split is at
    * ORDER granularity via the deterministic splitmix64 label (q83's
    * convention, seed 11), so one order's lines never straddle splits;
    * stats follow the q156 6-dp convention; the per-row z is the same
    * IEEE divide in both engines and re-aggregates through 4-dp
    * DECIMAL. The oracle replays hash, split, train-only stats, and
    * transform — any leak (stats over the full table) shifts every
    * test-split value and reddens the row. */
  def q197FitTransform(s: SparkSession, dir: String): DataFrame = {
    val weights = Seq("train" -> 0.8, "test" -> 0.2)
    val li = Tables(s, dir, "lineitem")
      .select($"l_orderkey", $"l_returnflag", $"l_extendedprice",
        Sampling.splitLabel($"l_orderkey", weights, 11L).as("split"))
    val stats = li.where($"split" === "train")
      .groupBy($"l_returnflag")
      .agg(round(avg($"l_extendedprice"), 6).as("mu"),
        round(stddev_pop($"l_extendedprice"), 6).as("sigma"))
    li.join(broadcast(stats), "l_returnflag")
      .select($"split", $"l_returnflag",
        (($"l_extendedprice" - $"mu") / $"sigma").as("z"))
      .groupBy($"split", $"l_returnflag")
      .agg(count(lit(1)).as("n"), dsum(round($"z", 4)).as("z_sum"))
      .orderBy($"split", $"l_returnflag")
  }

  // threshold: floor(0.8*8192)=6553 (Sampling.threshold floor
  // semantics, as in q83)
  val q197Sql: String =
    s"""WITH ${Queries5.bucketCtes("sp", 11L, "lineitem", "l_orderkey")},
       |lab AS (
       |  SELECT DISTINCT k,
       |    CASE WHEN bucket < 6553 THEN 'train' ELSE 'test' END AS split
       |  FROM spb),
       |li AS (
       |  SELECT l.l_orderkey, l.l_returnflag, l.l_extendedprice,
       |    lab.split
       |  FROM lineitem l JOIN lab ON l.l_orderkey = lab.k),
       |st AS (
       |  SELECT l_returnflag, round(avg(l_extendedprice), 6) AS mu,
       |    round(stddev_pop(l_extendedprice), 6) AS sigma
       |  FROM li WHERE split = 'train' GROUP BY 1)
       |SELECT split, li.l_returnflag, count(*) AS n,
       |  CAST(sum(CAST(round((l_extendedprice - mu) / sigma, 4)
       |    AS DECIMAL(25,4))) AS DOUBLE) AS z_sum
       |FROM li JOIN st ON li.l_returnflag = st.l_returnflag
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q195_asof_tolerance" -> (q195AsofTolerance _),
    "q196_try_battery" -> (q196TryBattery _),
    "q197_fit_transform" -> (q197FitTransform _)
  )

  val oracles: Map[String, String] = Map(
    "q195_asof_tolerance" -> q195Sql,
    "q196_try_battery" -> q196Sql,
    "q197_fit_transform" -> q197Sql
  )
}
