package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{GroupTopK, Sketches}

/** Round-11 continuation queries past q119: reshaping (pivot/unpivot,
  * cube), quantile sketches, exact heavy hitters via the two-pass
  * candidate pattern, and deterministic per-group sampling with the
  * bounded partial-merge aggregator. Naming/oracle/float conventions
  * as in [[Queries]].
  */
object Queries8 {

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
    s"""WITH ${Queries5.hashCtes("sh", 29L, "documents", "doc_id")},
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

  // ---- streaming session windows -----------------------------------------

  /** Per-user session windows computed by a real STREAMING query with
    * watermarked state (EventsStream.sessionWindows) — the stateful
    * complement of q118's batch form, sharing its oracle: the
    * single-file micro-batch must produce exactly the batch result,
    * proving the streaming state merge implements the same session
    * semantics (merge at <= gap distance, end = last + gap). */
  def q125StreamSessions(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventsStream.sessionWindows(s, dir)

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

  // ---- range-sorted at-rest layout ---------------------------------------

  /** Range-partitioned, sorted at-rest layout — the zone-map story
    * that completes the q92 (bucketed) / q119 (hive-partitioned)
    * trilogy: `repartitionByRange` + `sortWithinPartitions` writes
    * files whose key ranges are PAIRWISE DISJOINT, so any engine
    * reading parquet min/max footers (or any format with zone maps)
    * skips every file outside a range predicate. The gate asserts the
    * disjointness from the data itself (per-file min/max via
    * input_file_name) and that the range predicate reaches the scan as
    * a pushed filter; the oracle recomputes the filtered aggregate
    * from the unsorted original. */
  def q127SortedLayout(s: SparkSession, dir: String): DataFrame = {
    val path = "/tmp/graft_formats/range_lineitem"
    Tables(s, dir, "lineitem")
      .select($"l_orderkey", $"l_linenumber", $"l_quantity")
      .repartitionByRange(8, $"l_orderkey")
      .sortWithinPartitions($"l_orderkey", $"l_linenumber")
      .write.mode("overwrite").parquet(path)
    val back = s.read.parquet(path)
    val ranges = back.groupBy(input_file_name().as("f"))
      .agg(min($"l_orderkey").as("lo"), max($"l_orderkey").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    require(ranges.length > 1, s"q127: expected multiple files")
    ranges.sliding(2).foreach {
      case Array((lo1, hi1), (lo2, _)) =>
        require(hi1 <= lo2,
          s"q127: file ranges overlap — [$lo1,$hi1] vs [$lo2,...]: " +
            "range layout broken")
      case _ =>
    }
    val filtered = back
      .where($"l_orderkey" >= 1000L && $"l_orderkey" <= 2000L)
    val planStr = filtered.queryExecution.executedPlan.toString()
    require(planStr.contains("PushedFilters") &&
      planStr.contains("GreaterThanOrEqual(l_orderkey,1000)"),
      s"q127: range predicate not pushed to the scan:\n${planStr.take(600)}")
    filtered.groupBy($"l_linenumber")
      .agg(count(lit(1)).as("n"), dsum($"l_quantity").as("sum_qty"))
      .withColumn("layout_ok", lit(true))
      .orderBy($"l_linenumber")
  }

  val q127Sql: String =
    """SELECT l_linenumber, COUNT(*) AS n,
      |CAST(SUM(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) AS sum_qty,
      |true AS layout_ok
      |FROM lineitem WHERE l_orderkey BETWEEN 1000 AND 2000
      |GROUP BY l_linenumber ORDER BY l_linenumber""".stripMargin

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q120_pivot_unpivot" -> (q120PivotUnpivot _),
    "q121_cube" -> (q121Cube _),
    "q122_quantile_sketch" -> (q122QuantileSketch _),
    "q123_heavy_hitters" -> (q123HeavyHitters _),
    "q124_group_sample" -> (q124GroupSample _),
    "q125_stream_sessions" -> (q125StreamSessions _),
    "q126_observe_metrics" -> (q126ObserveMetrics _),
    "q127_sorted_layout" -> (q127SortedLayout _)
  )

  val oracles: Map[String, String] = Map(
    "q120_pivot_unpivot" -> q120Sql,
    "q121_cube" -> q121Sql,
    "q122_quantile_sketch" -> q122Sql,
    "q123_heavy_hitters" -> q123Sql,
    "q124_group_sample" -> q124Sql,
    "q125_stream_sessions" -> Queries7.q118Sql,
    "q126_observe_metrics" -> q126Sql,
    "q127_sorted_layout" -> q127Sql
  )
}
