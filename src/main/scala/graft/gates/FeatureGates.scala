package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.frame.namespaces._
import graft.functions.Functional
import graft.operators.{Sampling, TextAnalysis}

/** Feature-engineering gates: scaling, bucketizing and hashing of
  * features, per-group statistics, target encoding, fitted
  * transformers and the regression and correlation batteries.
  */
object FeatureGates extends GateFamily("features") {

  lazy val gates: Seq[Gate] = Seq(
    Gate("q17_minmax_scale", q17MinmaxScale, Some(q17Sql)),
    Gate("q18_zscore", q18Zscore, Some(q18Sql)),
    Gate("q37_compute_scores", q37ComputeScores, Some(q37Sql)),
    Gate("q60_bucketize", q60Bucketize, Some(q60Sql)),
    Gate("q61_sigrid_hash", q61SigridHash, Some(q61Sql)),
    Gate("q62_firstx", q62Firstx, Some(q62Sql)),
    Gate("q63_clamp_list", q63ClampList, Some(q63Sql)),
    Gate("q154_winsorize", q154Winsorize, Some(q154Sql)),
    Gate("q156_group_zscore", q156GroupZscore, Some(q156Sql)),
    Gate("q157_histogram", q157Histogram, Some(q157Sql),
      eager = Some("driver pull of the value range")),
    Gate("q160_equidepth", q160EquiDepth, Some(q160Sql),
      eager = Some("driver pull of the quartile boundaries")),
    Gate("q164_interpolate", q164Interpolate, Some(q164Sql)),
    Gate("q165_mad_outliers", q165MadOutliers, Some(q165Sql)),
    Gate("q166_target_encode", q166TargetEncode, Some(q166Sql)),
    Gate("q170_corr_battery", q170CorrBattery, Some(q170Sql)),
    Gate("q173_regression", q173Regression, Some(q173Sql)),
    Gate("q175_weighted_pctl", q175WeightedPercentile, Some(q175Sql)),
    Gate("q197_fit_transform", q197FitTransform, Some(q197Sql)),
    Gate("q210_hashing_trick", q210HashingTrick, Some(q210Sql)),
    Gate("q211_feature_cross", q211FeatureCross, Some(q211Sql)),
    Gate("q240_moments", q240Moments, Some(q240Sql))
  )

  // ---- scale_to_0_1 (two-pass min-max, functional.py:568-579) ---------

  def q17MinmaxScale(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
    val mm = li.agg(min($"l_extendedprice").as("__mn"),
      max($"l_extendedprice").as("__mx"))
    li.crossJoin(broadcast(mm))
      .select($"l_orderkey", $"l_linenumber",
        (($"l_extendedprice" - $"__mn") / ($"__mx" - $"__mn")).as("scaled"))
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  val q17Sql: String =
    """SELECT l_orderkey, l_linenumber,
      |(l_extendedprice - (SELECT MIN(l_extendedprice) FROM lineitem)) /
      |((SELECT MAX(l_extendedprice) FROM lineitem) -
      | (SELECT MIN(l_extendedprice) FROM lineitem)) AS scaled
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---- scale_to_z_score (functional.py:582-596; biased std) -----------
  // mean/std rounded to 6 digits on BOTH sides before the per-row IEEE
  // arithmetic, so aggregate fp noise cannot leak into row values.

  def q18Zscore(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
    val st = li.agg(round(avg($"l_quantity"), 6).as("__m"),
      round(stddev_pop($"l_quantity"), 6).as("__s"))
    li.crossJoin(broadcast(st))
      .select($"l_orderkey", $"l_linenumber",
        (($"l_quantity" - $"__m") / $"__s").as("z"))
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  val q18Sql: String =
    """SELECT l_orderkey, l_linenumber,
      |(l_quantity - (SELECT ROUND(AVG(l_quantity),6) FROM lineitem)) /
      |(SELECT ROUND(STDDEV_POP(l_quantity),6) FROM lineitem) AS z
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---- domain kernels -------------------------------------------------

  def q60Bucketize(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .select(Functional.bucketize($"l_quantity", Seq(10, 20, 30, 40))
        .as("bucket"))
      .groupBy($"bucket").agg(count(lit(1)).as("n"))
      .orderBy($"bucket")

  val q60Sql: String =
    """SELECT CASE WHEN l_quantity <= 10 THEN 0 WHEN l_quantity <= 20 THEN 1
      |WHEN l_quantity <= 30 THEN 2 WHEN l_quantity <= 40 THEN 3
      |ELSE 4 END AS bucket, COUNT(*) AS n
      |FROM lineitem GROUP BY 1 ORDER BY bucket""".stripMargin

  /** sigrid_hash, DRIVER-HASHABLE (round 12 recorded this gate
    * `no_oracle`): the output IS the reference's pinned fixture
    * (test_sigrid_hash.py:48-56 — range(16), salt 0, max 100),
    * computed through the real distributed kernel over spark.range,
    * one row per input, so the driver's DuckDB compare falsifies
    * bit-exactness directly against a VALUES literal. The lineitem
    * distribution scan stays in the gate as invariants the oracle CAN
    * restate: n_rows (= count(*)) crosses engines, and dist_ok raises
    * in-query unless every hashed bucket lands in [0, 1000). */
  def q61SigridHash(s: SparkSession, dir: String): DataFrame = {
    val fixture = s.range(16).toDF("i")
      .select($"i", Functional.sigridHash($"i", 0L, 100L).as("h"))
    val dist = Tables(s, dir, "lineitem")
      .select(Functional.sigridHash($"l_partkey", 0L, 1000L).as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min($"bucket").as("__mn"), max($"bucket").as("__mx"))
      .select($"n_rows",
        when($"__mn" >= 0L && $"__mx" < 1000L, lit(true))
          .otherwise(raise_error(lit(
            "q61: sigrid_hash bucket escaped [0, max)"))).as("dist_ok"))
    fixture.crossJoin(broadcast(dist))
      .select($"i", $"h", $"n_rows", $"dist_ok")
      .orderBy($"i")
  }

  val q61Sql: String =
    """SELECT CAST(i AS BIGINT) AS i, CAST(h AS BIGINT) AS h,
      |  (SELECT count(*) FROM lineitem) AS n_rows, true AS dist_ok
      |FROM (VALUES (0,6),(1,60),(2,54),(3,54),(4,9),(5,4),(6,91),
      |  (7,11),(8,67),(9,79),(10,2),(11,25),(12,92),(13,98),(14,83),
      |  (15,66)) AS t(i, h)
      |ORDER BY i""".stripMargin

  /** firstx over per-order sorted quantity arrays (array ops path). */
  def q62Firstx(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .groupBy($"l_orderkey")
      .agg(sort_array(collect_list($"l_quantity")).as("arr"))
      .select($"l_orderkey",
        aggregate(Functional.firstx($"arr", 2), lit(0.0d),
          (acc, x) => acc + x).as("first2_sum"))
      .orderBy($"l_orderkey")

  val q62Sql: String =
    """SELECT l_orderkey, SUM(l_quantity) AS first2_sum FROM (
      |  SELECT l_orderkey, l_quantity, ROW_NUMBER() OVER (
      |    PARTITION BY l_orderkey ORDER BY l_quantity) AS rn
      |  FROM lineitem) WHERE rn <= 2
      |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin

  /** clamp_list over per-order arrays (transform HOF path). */
  def q63ClampList(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .groupBy($"l_orderkey")
      .agg(collect_list($"l_quantity").as("arr"))
      .select($"l_orderkey",
        aggregate(Functional.clampList($"arr", lit(5.0), lit(40.0)),
          lit(0.0d), (acc, x) => acc + x).as("clamped_sum"))
      .orderBy($"l_orderkey")

  val q63Sql: String =
    """SELECT l_orderkey,
      |SUM(LEAST(GREATEST(l_quantity, 5.0), 40.0)) AS clamped_sum
      |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin

  // ---- §2.14 compute_score family, fully oracled -----------------------

  /** Every compute_score kernel (reference functional.py:366-564,
    * rec/compute_score.h) over per-order multisets of ids/scores vs a
    * literal match multiset. Float32 safety: ids counts and score sums
    * are small integers / multiples of 0.25, so every f32 accumulation
    * in the kernels is EXACT and order-independent; the oracle restates
    * each kernel from row-level counts and reproduces the final f32
    * rounding with CAST(... AS REAL) at each non-exact step (division,
    * sqrt), making the compare bit-exact with no tolerance. */
  def q37ComputeScores(s: SparkSession, dir: String): DataFrame = {
    // match multiset: ids [1,2,2,5], scores [0.5, 1.0, 2.0, 0.25]
    //   count map {1:1, 2:2, 5:1}; score-sum map {1:0.5, 2:3.0, 5:0.25}
    //   min map {1:0.5, 2:1.0, 5:0.25}; max map {1:0.5, 2:2.0, 5:0.25}
    val matchIds = array(Seq(1L, 2L, 2L, 5L).map(lit): _*)
    val matchScores = array(Seq(0.5f, 1.0f, 2.0f, 0.25f).map(lit): _*)
    Tables(s, dir, "lineitem")
      .where($"l_orderkey" < 2000)
      .select($"l_orderkey",
        ($"l_partkey" % 8).cast(LongType).as("id"),
        $"l_linenumber".cast(FloatType).as("score"))
      .groupBy($"l_orderkey")
      // the two collect_lists consume rows in the same order, so
      // ids(i)/scores(i) stay pairwise aligned
      .agg(collect_list($"id").as("ids"),
        collect_list($"score").as("scores"))
      .select($"l_orderkey",
        Functional.hasIdOverlap($"ids", matchIds).cast(DoubleType)
          .as("has_ov"),
        Functional.idOverlapCount($"ids", matchIds).cast(DoubleType)
          .as("ov_cnt"),
        Functional.getMaxCount($"ids", matchIds).cast(DoubleType)
          .as("max_cnt"),
        Functional.getJaccardSimilarity($"ids", matchIds).cast(DoubleType)
          .as("jac"),
        Functional.getCosineSimilarity($"ids", $"scores", matchIds,
          matchScores).cast(DoubleType).as("cos"),
        Functional.getScoreSum($"ids", $"scores", matchIds, matchScores)
          .cast(DoubleType).as("s_sum"),
        Functional.getScoreMin($"ids", matchIds, matchScores)
          .cast(DoubleType).as("s_min"),
        Functional.getScoreMax($"ids", matchIds, matchScores)
          .cast(DoubleType).as("s_max"))
      .orderBy($"l_orderkey")
  }

  val q37Sql: String =
    """WITH g AS (
      |  SELECT l_orderkey,
      |    CAST(COUNT(*) AS DOUBLE) AS n,
      |    COUNT(*) FILTER (WHERE l_partkey % 8 = 1) AS c1,
      |    COUNT(*) FILTER (WHERE l_partkey % 8 = 2) AS c2,
      |    COUNT(*) FILTER (WHERE l_partkey % 8 = 5) AS c5,
      |    CAST(COALESCE(SUM(l_linenumber) FILTER (WHERE l_partkey % 8 = 0), 0) AS DOUBLE) AS s0,
      |    CAST(COALESCE(SUM(l_linenumber) FILTER (WHERE l_partkey % 8 = 1), 0) AS DOUBLE) AS s1,
      |    CAST(COALESCE(SUM(l_linenumber) FILTER (WHERE l_partkey % 8 = 2), 0) AS DOUBLE) AS s2,
      |    CAST(COALESCE(SUM(l_linenumber) FILTER (WHERE l_partkey % 8 = 3), 0) AS DOUBLE) AS s3,
      |    CAST(COALESCE(SUM(l_linenumber) FILTER (WHERE l_partkey % 8 = 4), 0) AS DOUBLE) AS s4,
      |    CAST(COALESCE(SUM(l_linenumber) FILTER (WHERE l_partkey % 8 = 5), 0) AS DOUBLE) AS s5,
      |    CAST(COALESCE(SUM(l_linenumber) FILTER (WHERE l_partkey % 8 = 6), 0) AS DOUBLE) AS s6,
      |    CAST(COALESCE(SUM(l_linenumber) FILTER (WHERE l_partkey % 8 = 7), 0) AS DOUBLE) AS s7
      |  FROM lineitem WHERE l_orderkey < 2000 GROUP BY l_orderkey)
      |SELECT l_orderkey,
      |  CASE WHEN c1 + c2 + c5 > 0 THEN 1.0 ELSE 0.0 END AS has_ov,
      |  CAST(LEAST(c1,1) + LEAST(c2,2) + LEAST(c5,1) AS DOUBLE) AS ov_cnt,
      |  CAST(CASE WHEN c1 > 0 THEN GREATEST(c1,1) ELSE 0 END
      |     + CASE WHEN c2 > 0 THEN GREATEST(c2,2) ELSE 0 END
      |     + CASE WHEN c5 > 0 THEN GREATEST(c5,1) ELSE 0 END AS DOUBLE) AS max_cnt,
      |  CAST(CAST(CAST(LEAST(c1,1)+LEAST(c2,2)+LEAST(c5,1) AS REAL)
      |    / CAST(n + 4 - (LEAST(c1,1)+LEAST(c2,2)+LEAST(c5,1)) AS REAL) AS REAL) AS DOUBLE) AS jac,
      |  CAST(CAST(CAST(CAST(s1*0.5 + s2*3.0 + s5*0.25 AS REAL)
      |    / CAST(sqrt(s0*s0+s1*s1+s2*s2+s3*s3+s4*s4+s5*s5+s6*s6+s7*s7) AS REAL) AS REAL)
      |    / CAST(sqrt(9.3125) AS REAL) AS REAL) AS DOUBLE) AS cos,
      |  CAST(CAST(CASE WHEN c1 > 0 THEN 0.5 ELSE 0 END
      |     + CASE WHEN c2 > 0 THEN 3.0 ELSE 0 END
      |     + CASE WHEN c5 > 0 THEN 0.25 ELSE 0 END AS REAL) AS DOUBLE) AS s_sum,
      |  CAST(CASE WHEN c1 + c2 + c5 > 0 THEN LEAST(
      |      CASE WHEN c1 > 0 THEN 0.5 ELSE 1e30 END,
      |      CASE WHEN c2 > 0 THEN 1.0 ELSE 1e30 END,
      |      CASE WHEN c5 > 0 THEN 0.25 ELSE 1e30 END) ELSE 0.0 END AS DOUBLE) AS s_min,
      |  CAST(CASE WHEN c1 + c2 + c5 > 0 THEN GREATEST(
      |      CASE WHEN c1 > 0 THEN 0.5 ELSE -1e30 END,
      |      CASE WHEN c2 > 0 THEN 2.0 ELSE -1e30 END,
      |      CASE WHEN c5 > 0 THEN 0.25 ELSE -1e30 END) ELSE 0.0 END AS DOUBLE) AS s_max
      |FROM g ORDER BY l_orderkey""".stripMargin

  // ---- q154: percentile winsorization -----------------------------------

  /** Winsorized (clipped) per-group means: exact p05/p95 per return
    * flag (the q28 exact-percentile surface, rounded to 4 dp — the
    * established cross-engine percentile contract), values clipped to
    * the band, then the DECIMAL-mediated mean. The outlier treatment
    * every feature pipeline applies before normalization. Percentile
    * table is group-count-sized → broadcast join back onto the scan;
    * two passes total, the clip itself codegen'd. Clipped values are
    * exact 4-dp decimals (prices are 2-dp, bounds 4-dp) so the sum is
    * exact in DECIMAL(25,4) in both engines. */
  def q154Winsorize(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
    // ONE percentile call for both borders — separate calls each
    // build their own per-group value buffer (the q122/q160 lesson)
    val bands = li.groupBy($"l_returnflag")
      .agg(exactPercentiles($"l_extendedprice", Seq(0.05, 0.95)).as("ps"))
      .select($"l_returnflag",
        round(element_at($"ps", 1), 4).as("p05"),
        round(element_at($"ps", 2), 4).as("p95"))
    val clip = when($"l_extendedprice" < $"p05", $"p05")
      .when($"l_extendedprice" > $"p95", $"p95")
      .otherwise($"l_extendedprice")
    li.join(broadcast(bands), "l_returnflag")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(when($"l_extendedprice" < $"p05" ||
          $"l_extendedprice" > $"p95", 1L).otherwise(0L))
          .as("n_clipped"),
        (dsum(clip) / count(lit(1))).as("mean_wins"))
      .orderBy($"l_returnflag")
  }

  val q154Sql: String =
    """WITH p AS (
      |  SELECT l_returnflag,
      |    round(quantile_cont(l_extendedprice, 0.05), 4) AS p05,
      |    round(quantile_cont(l_extendedprice, 0.95), 4) AS p95
      |  FROM lineitem GROUP BY 1)
      |SELECT l.l_returnflag, count(*) AS n,
      |  CAST(sum(CASE WHEN l_extendedprice < p05 OR l_extendedprice > p95
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
      |  CAST(sum(CAST(CASE WHEN l_extendedprice < p05 THEN p05
      |                     WHEN l_extendedprice > p95 THEN p95
      |                     ELSE l_extendedprice END
      |    AS DECIMAL(25,4))) AS DOUBLE) / count(*) AS mean_wins
      |FROM lineitem l JOIN p USING (l_returnflag)
      |GROUP BY l.l_returnflag ORDER BY l.l_returnflag""".stripMargin

  // ---- q156: per-group z-score standardization --------------------------

  /** Z-score standardization WITHIN groups (the per-group form of q18's
    * global scale_to_z_score — how features are normalized per
    * category/domain). Group stats are a 5-row aggregate broadcast
    * back onto the scan; mean and population stddev round to 6 dp (the
    * q18 cross-engine contract — absorbs partial-aggregation order
    * noise), and the z expression is the identical IEEE divide both
    * engines evaluate. */
  def q156GroupZscore(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
    val st = o.groupBy($"o_orderpriority").agg(
      round(avg($"o_totalprice"), 6).as("mu"),
      round(stddev_pop($"o_totalprice"), 6).as("sigma"))
    o.where($"o_orderkey" < 1000)
      .join(broadcast(st), "o_orderpriority")
      .select($"o_orderkey", $"o_orderpriority",
        (($"o_totalprice" - $"mu") / $"sigma").as("z"))
      .orderBy($"o_orderkey")
  }

  val q156Sql: String =
    """WITH st AS (
      |  SELECT o_orderpriority, round(avg(o_totalprice), 6) AS mu,
      |    round(stddev_pop(o_totalprice), 6) AS sigma
      |  FROM orders GROUP BY 1)
      |SELECT o_orderkey, o.o_orderpriority,
      |  (o_totalprice - mu) / sigma AS z
      |FROM orders o JOIN st USING (o_orderpriority)
      |WHERE o_orderkey < 1000
      |ORDER BY o_orderkey""".stripMargin

  // ---- q157: exact equi-width histogram ---------------------------------

  /** Equi-width histogram with data-derived bounds: min/max collect
    * (2 numbers), then bucket = ((v − min) · nb) div (max − min + 1) —
    * pure integer arithmetic, so bucket edges are engine-exact at any
    * SF. One pre-aggregated shuffle of ≤ nb rows; the per-bucket
    * min/max double as the observed bucket edges. */
  def q157Histogram(s: SparkSession, dir: String): DataFrame = {
    val q = Tables(s, dir, "lineitem")
      .select($"l_quantity".cast(LongType).as("v"))
    val m = q.agg(min($"v"), max($"v")).head()
    val (mn, mx) = (m.getLong(0), m.getLong(1))
    q.groupBy(expr(s"((v - $mn) * 8) div ${mx - mn + 1}").as("bucket"))
      .agg(count(lit(1)).as("n"), min($"v").as("lo"), max($"v").as("hi"))
      .orderBy($"bucket")
  }

  val q157Sql: String =
    """WITH q AS (SELECT CAST(l_quantity AS BIGINT) AS v FROM lineitem),
      |m AS (SELECT min(v) AS mn, max(v) AS mx FROM q)
      |SELECT ((v - mn) * 8) // (mx - mn + 1) AS bucket,
      |  count(*) AS n, min(v) AS lo, max(v) AS hi
      |FROM q, m GROUP BY 1 ORDER BY 1""".stripMargin

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
    // ONE percentile call for all three borders — each call builds
    // its own full-column value buffer, so three calls tripled the
    // dominant cost (the q122 lesson)
    val b = li.agg(
      exactPercentiles($"l_extendedprice", Seq(0.25, 0.5, 0.75)).as("ps"))
      .head().getSeq[Double](0)
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
      .agg(exactPercentile($"value", 0.5).as("med"))
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("adev", abs($"value" - $"med"))
    val mad = dev.groupBy($"event_type")
      .agg(exactPercentile($"adev", 0.5).as("mad"))
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
    s"""WITH ${LmPrepGates.bucketCtes("sp", 11L, "lineitem", "l_orderkey")},
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

  /** Engine-portable feature hash: first 8 hex chars of md5 as an
    * integer, mod the feature-space size — identical in Spark
    * (conv(hex,16,10)) and DuckDB (CAST('0x'||hex AS BIGINT)), unlike
    * murmur/xxhash whose seeds differ across engines. */
  private def featHash(c: Column, dims: Int): Column =
    pmod(conv(substring(md5(c), 1, 8), 16, 10).cast(LongType),
      lit(dims.toLong))

  // ---- q210: hashing-trick featurizer ------------------------------------

  /** The hashing trick (Weinberger et al., ICML 2009): token →
    * fixed-dimension feature index via a hash, no vocabulary pass at
    * all — the featurizer that never needs a fit step and whose
    * memory is constant in corpus size. 1024 dims over the document
    * tokens; per language the gate emits the used-dimension count
    * (collision visibility), the exact sum of squared counts (the
    * un-normalized L2² of the per-lang count vector), and the
    * deterministic argmax feature (max count, min index tie-break).
    * Every number is integer-exact and replayed by DuckDB through the
    * same md5-prefix hash. */
  def q210HashingTrick(s: SparkSession, dir: String): DataFrame = {
    val D = 1024
    val counts = Tables(s, dir, "documents")
      .select($"lang",
        explode(TextAnalysis.tokens($"text")).as("term"))
      .select($"lang", featHash($"term", D).as("feat"))
      .groupBy($"lang", $"feat")
      .agg(count(lit(1)).as("cnt"))
    counts.groupBy($"lang")
      .agg(countDistinct($"feat").as("dims_used"),
        sum($"cnt" * $"cnt").as("l2sq"),
        max(struct($"cnt", (-$"feat").as("nf"))).as("top"))
      .select($"lang", $"dims_used", $"l2sq",
        (-$"top.nf").as("top_feat"), $"top.cnt".as("top_cnt"))
      .orderBy($"lang")
  }

  val q210Sql: String =
    """WITH f AS (
      |  SELECT lang,
      |    CAST(('0x' || substr(md5(term), 1, 8)) AS BIGINT) % 1024
      |      AS feat
      |  FROM (SELECT lang, unnest(string_split_regex(trim(text),
      |          '\s+')) AS term FROM documents)),
      |c AS (SELECT lang, feat, count(*) AS cnt FROM f GROUP BY 1, 2),
      |m AS (SELECT lang, max(cnt) AS mc FROM c GROUP BY 1)
      |SELECT c.lang, count(*) AS dims_used,
      |  CAST(sum(cnt * cnt) AS BIGINT) AS l2sq,
      |  CAST(min(CASE WHEN cnt = mc THEN feat END) AS BIGINT)
      |    AS top_feat,
      |  CAST(max(mc) AS BIGINT) AS top_cnt
      |FROM c JOIN m USING (lang)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q211: one-hot + crossed categorical features -----------------------

  /** One-hot and CROSSED categorical features: segment × priority
    * crosses hashed into 256 dims (the feature-cross trick — the
    * interaction a linear model cannot see from the two one-hots
    * alone), with the one-hot conservation law asserted through the
    * oracle: each segment's indicator SUM equals its row count, each
    * cross dimension's count is replayed exactly, and hash COLLISIONS
    * are made visible (distinct crosses vs distinct dims). */
  def q211FeatureCross(s: SparkSession, dir: String): DataFrame = {
    val joined = Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer"), $"o_custkey" === $"c_custkey")
      .select($"c_mktsegment".as("seg"), $"o_orderpriority".as("prio"))
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
      "MACHINERY")
    val oneHot = array(segs.map(v =>
      when($"seg" === v, 1L).otherwise(0L)): _*)
    joined
      .select($"seg", $"prio", oneHot.as("oh"),
        featHash(concat($"seg", lit("#"), $"prio"), 256).as("xdim"))
      .groupBy($"seg")
      .agg(count(lit(1)).as("n"),
        // one-hot conservation: the indicator at this segment's own
        // position must sum to n; all positions summed elementwise
        aggregate(
          array((0 until 5).map(i =>
            sum(element_at($"oh", i + 1))): _*),
          lit(0L), (a, x) => a + x).as("oh_total"),
        countDistinct($"prio").as("n_prio"),
        countDistinct($"xdim").as("n_cross_dims"),
        min($"xdim").as("xdim_min"),
        max($"xdim").as("xdim_max"))
      .orderBy($"seg")
  }

  val q211Sql: String =
    """SELECT c_mktsegment AS seg, count(*) AS n,
      |  count(*) AS oh_total,
      |  count(DISTINCT o_orderpriority) AS n_prio,
      |  count(DISTINCT CAST(('0x' || substr(md5(c_mktsegment || '#' ||
      |    o_orderpriority), 1, 8)) AS BIGINT) % 256) AS n_cross_dims,
      |  CAST(min(CAST(('0x' || substr(md5(c_mktsegment || '#' ||
      |    o_orderpriority), 1, 8)) AS BIGINT) % 256) AS BIGINT)
      |    AS xdim_min,
      |  CAST(max(CAST(('0x' || substr(md5(c_mktsegment || '#' ||
      |    o_orderpriority), 1, 8)) AS BIGINT) % 256) AS BIGINT)
      |    AS xdim_max
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q240: higher central moments ---------------------------------------

  /** skewness / kurtosis / var_pop / stddev_pop per group — the
    * distribution-shape aggregates a data-quality report needs beyond
    * mean/std (q165's MAD flags outliers; these CHARACTERIZE the tail
    * that produces them). Spark computes population g1 / excess g2 via
    * single-pass streaming moments; the oracle restates them two-pass
    * from central-moment averages — rounding absorbs the FP
    * summation-order difference between the two algorithms (variance
    * is ~1e9 here, so it is SCALED to millions before the 6-decimal
    * round — rounding a 1e9 value at 4 decimals would demand 13
    * significant digits of cross-algorithm agreement), same
    * convention as the regr_* gate (q174). */
  def q240Moments(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        round(var_pop($"l_extendedprice") / 1e6, 6).as("var_p_m"),
        round(stddev_pop($"l_extendedprice"), 2).as("std_p"),
        round(skewness($"l_extendedprice"), 6).as("skew"),
        round(kurtosis($"l_extendedprice"), 6).as("kurt"))
      .orderBy($"l_returnflag")
  }

  val q240Sql: String =
    """WITH g AS (
      |  SELECT l_returnflag AS rf, avg(l_extendedprice) AS mu
      |  FROM lineitem GROUP BY 1),
      |m AS (
      |  SELECT l_returnflag AS rf, count(*) AS n,
      |    avg(pow(l_extendedprice - mu, 2)) AS m2,
      |    avg(pow(l_extendedprice - mu, 3)) AS m3,
      |    avg(pow(l_extendedprice - mu, 4)) AS m4
      |  FROM lineitem JOIN g ON l_returnflag = g.rf
      |  GROUP BY 1)
      |SELECT rf AS l_returnflag, n,
      |  round(m2 / 1e6, 6) AS var_p_m,
      |  round(sqrt(m2), 2) AS std_p,
      |  round(m3 / pow(m2, 1.5), 6) AS skew,
      |  round(m4 / (m2 * m2) - 3, 6) AS kurt
      |FROM m ORDER BY 1""".stripMargin
}
