package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-12 session gates past q211: hopping (sliding) time windows
  * (q212) and bitmap-aggregate exact distinct counts (q213). Naming/
  * oracle/float conventions as in [[Queries]].
  */
object Queries25 {

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

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q212_hopping_window" -> (q212HoppingWindow _),
    "q213_bitmap_distinct" -> (q213BitmapDistinct _)
  )

  val oracles: Map[String, String] = Map(
    "q212_hopping_window" -> q212Sql,
    "q213_bitmap_distinct" -> q213Sql
  )
}
