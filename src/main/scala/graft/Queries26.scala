package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Skew

/** Round-12 session gates past q213: the stream-stream FULL OUTER
  * interval join (q214), the mask() redaction built-in (q215), and
  * common-neighbor link prediction on the trade graph (q216). Naming/
  * oracle/float conventions as in [[Queries]].
  */
object Queries26 {

  // ---- q214: stream-stream FULL OUTER interval join ----------------------

  /** The last stream-stream join shape (inner q105, left outer q110,
    * left semi q174): FULL OUTER — unmatched rows from BOTH sides
    * materialize on watermark eviction, so the result also carries
    * purchases no click preceded (the orphan-conversion rows an
    * attribution audit needs). Null-safe sentinel filtering is the
    * subtle part — see
    * [[graft.streaming.EventsStream.streamStreamFullOuterJoin]].
    * Oracle: batch FULL JOIN on the same µs arithmetic. */
  def q214StreamFullOuter(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventsStream.streamStreamFullOuterJoin(s, dir)

  val q214Sql: String =
    """SELECT c.event_id AS c_id, p.event_id AS p_id
      |FROM (SELECT event_id, user_id, epoch_us(ts) AS us
      |      FROM events WHERE event_type = 'click') c
      |FULL JOIN (SELECT event_id, user_id, epoch_us(ts) AS us
      |           FROM events WHERE event_type = 'purchase') p
      |  ON c.user_id = p.user_id AND p.us >= c.us
      |     AND p.us <= c.us + 3600000000
      |ORDER BY c_id, p_id""".stripMargin

  // ---- q215: mask() redaction built-in -----------------------------------

  /** The `mask()` built-in — codegen'd character-class redaction
    * (upper→X, lower→x, digit→n by default, all four classes
    * overridable) — the cheap structural-shape-preserving scrub
    * beside q86's pattern-based PII redaction: length and word
    * boundaries survive, content does not. Oracle replays both the
    * default and a custom-char form with regexp_replace chains. */
  def q215Mask(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "customer")
      .select($"c_custkey",
        concat($"c_name", lit(" #"), $"c_custkey" % 1000).as("raw"))
      .select($"c_custkey",
        mask($"raw").as("masked"),
        mask($"raw", lit("U"), lit("l"), lit("#"), lit("*"))
          .as("masked_custom"),
        (length(mask($"raw")) === length($"raw")).as("len_ok"))
      .orderBy($"c_custkey")

  val q215Sql: String =
    """WITH r AS (
      |  SELECT c_custkey,
      |    c_name || ' #' || (c_custkey % 1000) AS raw
      |  FROM customer)
      |SELECT c_custkey,
      |  regexp_replace(regexp_replace(regexp_replace(raw,
      |    '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g')
      |    AS masked,
      |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |    raw, '[^A-Za-z0-9]', '*', 'g'), '[A-Z]', 'U', 'g'),
      |    '[a-z]', 'l', 'g'), '[0-9]', '#', 'g') AS masked_custom,
      |  true AS len_ok
      |FROM r ORDER BY c_custkey""".stripMargin

  // ---- q216: common-neighbor link prediction -----------------------------

  /** Link prediction on the bipartite trade graph: supplier pairs
    * ranked by SHARED CUSTOMERS (common neighbors) with their exact
    * Jaccard overlap — the second-order graph feature behind
    * recommend-a-counterparty. Shape: the (customer, supplier)
    * incidence list self-joins ON CUSTOMER (wedge generation — rows
    * scale as Σ deg(c)²) — CAPPED at [[wedgeCap]] suppliers per
    * customer via [[Skew.capGroups]] (the shared q40 maxBucket
    * discipline), with the honest cost surfaced as a constant
    * `dropped_wedges` column (Σ C(d,2)−C(cap,2) over capped baskets):
    * a hub customer at 100 TB bounds the quadratic step at cap²
    * instead of blowing up the join, and the drop count says exactly
    * how many candidate wedges that bound removed (0 here — sf
    * baskets are ~40 < 64 — asserted by the oracle replaying the SAME
    * cap). Then one pair aggregate; degree table broadcast back.
    * Degrees come from the UNCAPPED incidence list so jaccard
    * denominators stay exact. Integer counts, 6-dp Jaccard from the
    * same integers both engines. Top-20 by (shared desc, pair) —
    * fully deterministic. */
  val wedgeCap = 64

  def q216LinkPrediction(s: SparkSession, dir: String): DataFrame = {
    val cs = Tables(s, dir, "orders")
      .join(Tables(s, dir, "lineitem"), $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("c"), $"l_suppkey".as("sk"))
      .distinct()
    val deg = cs.groupBy($"sk").agg(count(lit(1)).as("deg"))
    val cap = Skew.capGroups(cs, Seq("c"), Seq($"sk"), wedgeCap)
    val basket = cap.kept.select($"c", $"sk")
    // The wedge aggregate is the suite's biggest hash table (Σ C(d,2)
    // wedge rows over ~1e5 distinct supplier pairs): repartitioning
    // the wedges BY PAIR KEY first bounds every task's table to its
    // own key subset, so the aggregate cannot fall back to
    // sort-and-spill when the long-suite JVM runs memory-tight — the
    // 2.8 GB raw-wedge exchange costs ~2 s and buys away the 17→63 s
    // spill mode. At cluster scale the same knob is the safety margin
    // for hub-heavy graphs. Partition COUNT inherits
    // spark.sql.shuffle.partitions / AQE — a pinned constant tuned to
    // one machine would itself bottleneck a 100x scale-up.
    val pairs = basket.select($"c", $"sk".as("a"))
      .join(basket.select($"c", $"sk".as("b")), "c")
      .where($"a" < $"b")
      .repartition($"a", $"b")
      .groupBy($"a", $"b")
      .agg(count(lit(1)).as("shared"))
    cap.attachDroppedPairs(
      pairs
        .join(broadcast(deg.select($"sk".as("a"), $"deg".as("da"))), "a")
        .join(broadcast(deg.select($"sk".as("b"), $"deg".as("db"))), "b")
        .select($"a", $"b", $"shared", $"da", $"db",
          round($"shared" / ($"da" + $"db" - $"shared"), 6).as("jaccard"))
        .orderBy($"shared".desc, $"a", $"b")
        .limit(20),
      name = "dropped_wedges")
  }

  val q216Sql: String =
    """WITH cs AS (
      |  SELECT DISTINCT o_custkey AS c, l_suppkey AS sk
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |deg AS (SELECT sk, count(*) AS deg FROM cs GROUP BY 1),
      |basket AS (
      |  SELECT c, sk FROM (
      |    SELECT c, sk,
      |      row_number() OVER (PARTITION BY c ORDER BY sk) AS rn
      |    FROM cs) WHERE rn <= 64),
      |drops AS (
      |  SELECT CAST(coalesce(sum(d*(d-1)/2 - 64*63/2), 0) AS BIGINT)
      |    AS dropped_wedges
      |  FROM (SELECT c, count(*) AS d FROM cs GROUP BY 1)
      |  WHERE d > 64),
      |pairs AS (
      |  SELECT x.sk AS a, y.sk AS b, count(*) AS shared
      |  FROM basket x JOIN basket y ON x.c = y.c AND x.sk < y.sk
      |  GROUP BY 1, 2)
      |SELECT a, b, shared, da.deg AS da, db.deg AS db,
      |  round(shared / CAST(da.deg + db.deg - shared AS DOUBLE), 6)
      |    AS jaccard, dropped_wedges
      |FROM pairs
      |JOIN deg da ON pairs.a = da.sk
      |JOIN deg db ON pairs.b = db.sk
      |CROSS JOIN drops
      |ORDER BY shared DESC, a, b LIMIT 20""".stripMargin

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q214_stream_full_outer" -> (q214StreamFullOuter _),
    "q215_mask" -> (q215Mask _),
    "q216_link_prediction" -> (q216LinkPrediction _)
  )

  val oracles: Map[String, String] = Map(
    "q214_stream_full_outer" -> q214Sql,
    "q215_mask" -> q215Sql,
    "q216_link_prediction" -> q216Sql
  )
}
