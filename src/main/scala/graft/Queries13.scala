package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-12 gates past q161: parquet aggregate pushdown (q162), SCD
  * type-2 dimension history (q163), linear time-series interpolation
  * (q164), MAD robust outliers (q165), leave-one-out target encoding
  * (q166), and the mergeable HLL sketch cube (q167). Naming/oracle/
  * float conventions as in [[Queries]].
  */
object Queries13 {

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

  // ---- q164: linear time-series interpolation ----------------------------

  /** Linear interpolation of missing observations between their
    * nearest known neighbors per user — the gap-repair step before any
    * resampled model input (complements q141's aggregate gap-fill and
    * q155's LOCF backfill). Missingness is synthesized (event_id%5=0
    * → null); anchors carry (ts, value) forward/backward via
    * last/first(ignoreNulls) over ROWS frames — two sorts on ONE
    * user_id shuffle, no self-join, no explode. Edge rows with no
    * anchor on one side stay null and are counted, not silently
    * filled. The anchor timestamps ride along through the same window
    * (not a join), so the fraction (ts−t0)/(t1−t0) is exact long
    * arithmetic until the final double divide. */
  def q164Interpolate(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val x = when(pmod($"event_id", lit(5)) =!= 0, $"value")
    // work in MICROsecond ticks on both sides: ts is long ns here but
    // DuckDB surfaces the same parquet as µs timestamps, and µs deltas
    // stay exactly double-representable where multi-month ns deltas
    // would not — the fraction must be bit-identical to the oracle's
    val wAsc = Window.partitionBy($"user_id").orderBy($"tsu", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wDesc = Window.partitionBy($"user_id").orderBy($"tsu", $"event_id")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val anchored = ev.select($"user_id", expr("ts div 1000").as("tsu"),
        $"event_id", $"event_type", x.as("x"))
      .withColumn("pt", last(when($"x".isNotNull, $"tsu"), ignoreNulls = true)
        .over(wAsc))
      .withColumn("px", last($"x", ignoreNulls = true).over(wAsc))
      .withColumn("nt", first(when($"x".isNotNull, $"tsu"), ignoreNulls = true)
        .over(wDesc))
      .withColumn("nx", first($"x", ignoreNulls = true).over(wDesc))
    val filled = anchored.withColumn("fx",
      when($"x".isNotNull, $"x")
        .when($"pt".isNotNull && $"nt".isNotNull,
          when($"nt" === $"pt", $"px").otherwise(
            $"px" + ($"nx" - $"px") *
              (($"tsu" - $"pt").cast(DoubleType) /
                ($"nt" - $"pt").cast(DoubleType)))))
    filled.groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        count(when($"x".isNull, 1)).as("n_missing"),
        count(when($"x".isNull && $"fx".isNotNull, 1)).as("n_interp"),
        count(when($"fx".isNull, 1)).as("n_edge"),
        dsum($"fx").as("s_filled"))
      .orderBy($"event_type")
  }

  val q164Sql: String =
    """WITH base AS (
      |  SELECT user_id, epoch_us(ts) AS tsu, event_id, event_type,
      |    CASE WHEN event_id % 5 <> 0 THEN "value" END AS x
      |  FROM events),
      |a AS (
      |  SELECT *,
      |    last_value(CASE WHEN x IS NOT NULL THEN tsu END IGNORE NULLS)
      |      OVER wa AS pt,
      |    last_value(x IGNORE NULLS) OVER wa AS px,
      |    first_value(CASE WHEN x IS NOT NULL THEN tsu END IGNORE NULLS)
      |      OVER wd AS nt,
      |    first_value(x IGNORE NULLS) OVER wd AS nx
      |  FROM base WINDOW
      |    wa AS (PARTITION BY user_id ORDER BY tsu, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |    wd AS (PARTITION BY user_id ORDER BY tsu, event_id
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
      |f AS (
      |  SELECT *, CASE
      |    WHEN x IS NOT NULL THEN x
      |    WHEN pt IS NOT NULL AND nt IS NOT NULL THEN
      |      CASE WHEN nt = pt THEN px
      |           ELSE px + (nx - px) *
      |             (CAST(tsu - pt AS DOUBLE) /
      |              CAST(nt - pt AS DOUBLE)) END
      |    END AS fx
      |  FROM a)
      |SELECT event_type, count(*) AS n,
      |  count(CASE WHEN x IS NULL THEN 1 END) AS n_missing,
      |  count(CASE WHEN x IS NULL AND fx IS NOT NULL THEN 1 END)
      |    AS n_interp,
      |  count(CASE WHEN fx IS NULL THEN 1 END) AS n_edge,
      |  CAST(sum(CAST(fx AS DECIMAL(25,4))) AS DOUBLE) AS s_filled
      |FROM f GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q165: MAD robust outliers -----------------------------------------

  /** Median-absolute-deviation outlier flags per event type — the
    * robust alternative to z-scores (q156) that a single corrupt batch
    * can't drag: med and MAD are exact interpolated medians (the q28
    * percentile contract), the threshold is the normal-consistent
    * 3·1.4826·MAD. Group stats are group-count-sized → both join
    * backs broadcast; the value rows shuffle only for the two
    * per-group percentile aggs. */
  def q165MadOutliers(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events").where($"value".isNotNull)
    val med = ev.groupBy($"event_type")
      .agg(percentile($"value", lit(0.5)).as("med"))
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("adev", abs($"value" - $"med"))
    val mad = dev.groupBy($"event_type")
      .agg(percentile($"adev", lit(0.5)).as("mad"))
    dev.join(broadcast(mad), "event_type")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        round(min($"med"), 6).as("med"),
        round(min($"mad"), 6).as("mad"),
        count(when($"adev" > $"mad" * 4.4478, 1)).as("n_out"))
      .orderBy($"event_type")
  }

  val q165Sql: String =
    """WITH ev AS (
      |  SELECT event_type, "value" AS v FROM events
      |  WHERE "value" IS NOT NULL),
      |med AS (
      |  SELECT event_type, quantile_cont(v, 0.5) AS med
      |  FROM ev GROUP BY 1),
      |dev AS (
      |  SELECT ev.event_type, v, med, abs(v - med) AS adev
      |  FROM ev JOIN med USING (event_type)),
      |mad AS (
      |  SELECT event_type, quantile_cont(adev, 0.5) AS mad
      |  FROM dev GROUP BY 1)
      |SELECT dev.event_type, count(*) AS n,
      |  round(min(med), 6) AS med, round(min(mad), 6) AS mad,
      |  count(CASE WHEN adev > mad * 4.4478 THEN 1 END) AS n_out
      |FROM dev JOIN mad USING (event_type)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q166: leave-one-out target encoding -------------------------------

  /** Leave-one-out target encoding of a categorical feature — each
    * row's category is replaced by the mean target over the OTHER rows
    * of its category, (S − y)/(n − 1), the leakage-free encoding for
    * model features. S is an exact DECIMAL group sum; S − y is exact
    * (prices have 2 dp), converted to double only for the final
    * divide. Shape: one map-side-partial groupBy over the fact table,
    * then a BROADCAST join back (category stats are category-count-
    * sized) — NOT a window over a 5-value partition key, which would
    * shuffle the whole table into 5 partitions. */
  def q166TargetEncode(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
    val stats = o.groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_p"),
        sum($"o_totalprice".cast(DecimalType(25, 4))).as("s_p"))
    // n_above (strict compare of identically-computed doubles) instead
    // of a decimal SUM of the encodings: Spark casts double→decimal via
    // the shortest decimal repr, DuckDB via the binary value, so a
    // 4-dp-midpoint encoding rounds differently per engine and a
    // 30k-row sum drifts by a few 1e-4 — a comparison can't
    val out = o.join(broadcast(stats), "o_orderpriority")
      .withColumn("loo",
        when($"n_p" > 1,
          ($"s_p" - $"o_totalprice".cast(DecimalType(25, 4)))
            .cast(DoubleType) / ($"n_p" - 1).cast(DoubleType)))
      .withColumn("mu", $"s_p".cast(DoubleType) / $"n_p".cast(DoubleType))
    out.groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"),
        round(min($"loo"), 4).as("lo"),
        round(max($"loo"), 4).as("hi"),
        count(when($"loo" > $"mu", 1)).as("n_above"))
      .orderBy($"o_orderpriority")
  }

  val q166Sql: String =
    """WITH stats AS (
      |  SELECT o_orderpriority, count(*) AS n_p,
      |    sum(CAST(o_totalprice AS DECIMAL(25,4))) AS s_p
      |  FROM orders GROUP BY 1),
      |enc AS (
      |  SELECT o.o_orderpriority,
      |    CASE WHEN n_p > 1 THEN
      |      CAST(s_p - CAST(o_totalprice AS DECIMAL(25,4)) AS DOUBLE)
      |        / CAST(n_p - 1 AS DOUBLE) END AS loo,
      |    CAST(s_p AS DOUBLE) / CAST(n_p AS DOUBLE) AS mu
      |  FROM orders o JOIN stats USING (o_orderpriority))
      |SELECT o_orderpriority, count(*) AS n,
      |  round(min(loo), 4) AS lo, round(max(loo), 4) AS hi,
      |  count(CASE WHEN loo > mu THEN 1 END) AS n_above
      |FROM enc GROUP BY 1 ORDER BY 1""".stripMargin

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

  // ---- q168: transformWithState running aggregate ------------------------

  /** See [[graft.streaming.EventsStream.transformWithStateAgg]] — the
    * arbitrary-state v2 streaming operator (typed ValueState slots on
    * RocksDB). The oracle replays the same per-user aggregate + bucket
    * rollup in batch SQL. */
  val q168Sql: String =
    """WITH per_user AS (
      |  SELECT user_id, count(*) AS n,
      |    sum(CAST("value" AS DECIMAL(25,4))) AS s
      |  FROM events WHERE "value" IS NOT NULL GROUP BY 1)
      |SELECT user_id % 10 AS bucket, count(*) AS n_users,
      |  CAST(sum(n) AS BIGINT) AS n_events,
      |  CAST(sum(s) AS DOUBLE) AS sum_value
      |FROM per_user GROUP BY 1 ORDER BY 1""".stripMargin

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q162_agg_pushdown" -> (q162AggPushdown _),
    "q163_scd2" -> (q163Scd2 _),
    "q164_interpolate" -> (q164Interpolate _),
    "q165_mad_outliers" -> (q165MadOutliers _),
    "q166_target_encode" -> (q166TargetEncode _),
    "q167_sketch_cube" -> (q167SketchCube _),
    "q168_transform_state" ->
      (graft.streaming.EventsStream.transformWithStateAgg _)
  )

  val oracles: Map[String, String] = Map(
    "q162_agg_pushdown" -> q162Sql,
    "q163_scd2" -> q163Sql,
    "q164_interpolate" -> q164Sql,
    "q165_mad_outliers" -> q165Sql,
    "q166_target_encode" -> q166Sql,
    "q167_sketch_cube" -> q167Sql,
    "q168_transform_state" -> q168Sql
  )
}
