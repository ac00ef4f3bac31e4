package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Bucketed

/** Round-12 session gates past q203: shuffle-free aggregation on the
  * bucketed layout (q204), explicit GROUPING SETS (q205), and the
  * broadcast theta join (q206). Naming/oracle/float conventions as in
  * [[Queries]].
  */
object Queries22 {

  // ---- q204: shuffle-free aggregation on the bucketed layout -------------

  /** The OTHER dividend of bucketing (q92 proved the exchange-free
    * JOIN): a groupBy on the bucket key aggregates with ZERO shuffle —
    * the bucketed scan's hash partitioning already satisfies the
    * aggregate's required distribution, so the partial/final pair
    * fuses into one per-bucket pass. Asserted: the un-sorted aggregate
    * plan must contain no ShuffleExchange (Bucketed.shuffleCount == 0;
    * the display orderBy adds its own legitimate range exchange and is
    * applied after the assertion). At 100 TB this turns the nightly
    * per-entity rollup from corpus-wide shuffle into a map-only job.
    * Oracle recomputes the aggregate from the raw table — also
    * certifying the bucketed write round-trips every row. */
  def q204BucketedAgg(s: SparkSession, dir: String): DataFrame = {
    val sf = dir.replaceAll(".*sf", "").replace(".", "_")
    val table = s"graft_q204_li_$sf"
    if (!s.catalog.tableExists(table))
      Bucketed.writeTable(s, Tables(s, dir, "lineitem")
        .select($"l_orderkey", $"l_quantity", $"l_extendedprice"),
        table, "l_orderkey", 8)
    val agg = s.table(table)
      .groupBy($"l_orderkey")
      .agg(count(lit(1)).as("n"), dsum($"l_quantity").as("qty"),
        dsum($"l_extendedprice").as("price"))
    val shuffles = Bucketed.shuffleCount(agg)
    require(shuffles == 0,
      s"q204: aggregation on the bucket key shuffled ($shuffles " +
        "exchanges) — the bucketed layout was not exploited:\n" +
        agg.queryExecution.executedPlan)
    agg.orderBy($"l_orderkey")
  }

  val q204Sql: String =
    """SELECT l_orderkey, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) AS qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(25,4))) AS DOUBLE)
      |    AS price
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

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

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q204_bucketed_agg" -> (q204BucketedAgg _),
    "q205_grouping_sets" -> (q205GroupingSets _),
    "q206_theta_join" -> (q206ThetaJoin _)
  )

  val oracles: Map[String, String] = Map(
    "q204_bucketed_agg" -> q204Sql,
    "q205_grouping_sets" -> q205Sql,
    "q206_theta_join" -> q206Sql
  )
}
