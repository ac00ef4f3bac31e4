package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.AsOfJoin

/** Tests the custom-Catalyst as-of join (AsOfJoinPlan/Strategy/Exec)
  * against inline expected values and against [[AsOfReference]], a
  * brute-force fold on the driver, on real data.
  */
class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  private def trades = Seq(
    // (symbol, ts, trade_id)
    ("A", 10L, 1L), ("A", 20L, 2L), ("A", 30L, 3L),
    ("B", 15L, 4L), ("B", 25L, 5L),
    ("C", 5L, 6L) // no quotes for C
  ).toDF("sym", "t_ts", "trade_id")

  private def quotes = Seq(
    // (symbol, ts, price)
    ("A", 8L, 1.0), ("A", 20L, 2.0), ("A", 29L, 3.0),
    ("B", 16L, 4.0),
    ("D", 1L, 9.0) // no trades for D
  ).toDF("sym", "q_ts", "price")

  private val expected = Set(
    // trade_id -> (matched q_ts, price); ties (ts equal) DO match
    Row(1L, 8L, 1.0), Row(2L, 20L, 2.0), Row(3L, 29L, 3.0),
    Row(4L, null, null), Row(5L, 16L, 4.0), Row(6L, null, null))

  // trade 1 at t=10 matches quote at 8 (lag 2); trade 2 at 20 matches
  // quote at 20 (lag 0); trade 3 at 30 matches quote at 29 (lag 1);
  // trade 5 at 25 vs quote at 16: lag 9. tol=1: trades 1 and 5 null.
  private val expectedTol1 = Set(
    Row(1L, null, null), Row(2L, 20L, 2.0), Row(3L, 29L, 3.0),
    Row(4L, null, null), Row(5L, null, null), Row(6L, null, null))

  test("asof custom exec: backward join with ties and misses") {
    val out = AsOfJoin.asof(trades, quotes, Seq("sym"), Seq("sym"),
        "t_ts", "q_ts")
      .select(col("trade_id"), col("q_ts"), col("price"))
    assert(out.collect().toSet == expected)
  }

  // trades ++ quotes columns: trade_id, q_ts, price at 2, 4, 5
  private def reference(tol: Option[Long]) =
    AsOfReference(trades, quotes, Seq("sym"), Seq("sym"), "t_ts", "q_ts",
      tol).map(r => Row(r(2), r(4), r(5))).toSet

  test("the reference fold reproduces the inline expected values") {
    assert(reference(None) == expected)
  }

  test("asof handles null keys and null timestamps as non-matching") {
    val l = Seq((Option("A"), Option(10L), 1L), (None, Option(10L), 2L),
      (Option("A"), None, 3L)).toDF("k", "ts", "id")
    val r = Seq((Option("A"), Option(5L), 100L), (None, Option(1L), 101L))
      .toDF("k", "ts", "rid")
    val out = AsOfJoin.asof(l, r, Seq("k"), Seq("k"), "ts", "ts")
      .select(col("id"), col("rid")).collect().toSet
    assert(out == Set(Row(1L, 100L), Row(2L, null), Row(3L, null)))
    // a null key tuple must not match another null key tuple
    val ref = AsOfReference(l, r, Seq("k"), Seq("k"), "ts", "ts")
      .map(x => Row(x(2), x(5))).toSet
    assert(ref == out)
  }

  test("asof custom exec matches the reference fold on events (self)") {
    val dir = "/root/testdata/sf0.001"
    val ev = Tables(spark, dir, "events")
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), expr("ts div 1000").as("us"))
    val purchases = ev.where(col("event_type") === "purchase")
      .groupBy(col("user_id").as("p_user"), expr("ts div 1000").as("p_us"))
      .agg(max(col("event_id")).as("purchase_id"))
    val a = AsOfJoin.asof(clicks, purchases, Seq("user_id"), Seq("p_user"),
        "us", "p_us").collect().toSet
    val b = AsOfReference(clicks, purchases, Seq("user_id"), Seq("p_user"),
        "us", "p_us").toSet
    assert(a.nonEmpty && a == b)
  }

  test("asof tolerance: boundary match kept at exactly tol, nulled " +
      "one past it, in BOTH implementations") {
    def out(tol: Long) = AsOfJoin.asof(trades, quotes, Seq("sym"),
        Seq("sym"), "t_ts", "q_ts", Some(tol))
      .select(col("trade_id"), col("q_ts"), col("price")).collect().toSet
    assert(out(1L) == expectedTol1)
    assert(reference(Some(1L)) == expectedTol1)
    // tol=2 restores trade 1's boundary match (lag == tol matches)
    assert(out(2L)(Row(1L, 8L, 1.0)))
    // tolerance 0: only exact-ts matches survive
    val d = out(0L)
    assert(d(Row(2L, 20L, 2.0)) && d(Row(1L, null, null)))
    intercept[IllegalArgumentException] {
      AsOfJoin.asof(trades, quotes, Seq("sym"), Seq("sym"),
        "t_ts", "q_ts", Some(-5L))
    }
  }

  test("q195 equals the reference fold row for row at sf0.01") {
    val dir = "/root/testdata/sf0.01"
    val (clicks, purchases) = RelationalGates.clicksAndPurchases(spark, dir)
    // clicks ++ purchases columns: event_id, user_id, us, p_user, p_us,
    // purchase_id; shaped as q195's (event_id, user_id, purchase_id,
    // lag_us) in event_id order
    def ref(tol: Option[Long]): Seq[Row] =
      AsOfReference(clicks, purchases, Seq("user_id"), Seq("p_user"),
        "us", "p_us", tol).map { r =>
        Row(r(0), r(1), r(5),
          if (r.isNullAt(4)) null else r.getLong(2) - r.getLong(4))
      }.sortBy(_.getLong(0))
    val want = ref(Some(RelationalGates.q195TolUs))
    val got = RelationalGates.q195AsofTolerance(spark, dir).collect().toSeq
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) => assert(g == w) }
    // the tolerance nulls some matches here and keeps others
    def matched(rows: Seq[Row]) = rows.count(!_.isNullAt(2))
    assert(matched(want) > 0 && matched(want) < matched(ref(None)))
  }

  test("asof plan shows custom exec node and sorted-merge requirements") {
    val plan = AsOfJoin.asof(trades, quotes, Seq("sym"), Seq("sym"),
      "t_ts", "q_ts").queryExecution.executedPlan.toString
    // SparkPlan.nodeName strips the Exec suffix
    assert(plan.contains("AsOfJoin ") && plan.contains("Sort ") &&
      plan.contains("Exchange hashpartitioning"))
  }
}

/** Backward left-outer as-of join folded on the driver, the reference
  * the specs hold `AsOfJoin.asof` to: every left row, in left order,
  * followed by the right row with equal keys whose timestamp is the
  * greatest one ≤ the left timestamp, or by nulls. A null key or null
  * timestamp on either side never matches; with a tolerance, a match
  * more than `tol` behind the left timestamp is nulls too. Key values
  * compare as they are, so both sides' key columns must have the same
  * types, and the right side must be unique per (key, ts).
  */
object AsOfReference {
  def apply(left: DataFrame, right: DataFrame, leftOn: Seq[String],
      rightOn: Seq[String], leftTsCol: String, rightTsCol: String,
      tolerance: Option[Long] = None): Seq[Row] = {
    // each row with its (keys, ts), None when a key or the ts is null
    def keyed(df: DataFrame, on: Seq[String], tsCol: String)
        : Seq[(Row, Option[(Seq[Any], Long)])] = {
      val keys = on.map(df.schema.fieldIndex)
      val ts = df.schema.fieldIndex(tsCol)
      df.collect().toSeq.map { r =>
        val k = keys.map(r.get)
        (r, if (k.contains(null) || r.isNullAt(ts)) None
          else Some(k -> r.getAs[Number](ts).longValue))
      }
    }
    val byKey = keyed(right, rightOn, rightTsCol)
      .collect { case (r, Some((k, t))) => (k, t, r) }.groupBy(_._1)
    val misses = Seq.fill(right.schema.length)(null)
    keyed(left, leftOn, leftTsCol).map { case (l, lk) =>
      val hit = lk.flatMap { case (k, t) =>
        byKey.getOrElse(k, Nil).filter(_._2 <= t).maxByOption(_._2)
          .filter(h => tolerance.forall(t - h._2 <= _))
      }
      Row.fromSeq(l.toSeq ++ hit.map(_._3.toSeq).getOrElse(misses))
    }
  }
}
