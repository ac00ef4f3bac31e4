package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pins for the q178-q183 gate family: the integer PageRank update on a
  * hand-computed graph, RANGE-frame boundary inclusion, and the
  * lexicographic struct tie-break q183's oracle mirrors.
  */
class Queries16Spec extends SparkSpec {
  import spark.implicits._

  test("q178 integer PageRank update reproduces a hand-computed " +
      "iteration on a 3-node path graph") {
    // path a-b-c, symmetric: edges a->b, b->a, b->c, c->b
    // deg: a=1, b=2, c=1; r0 = 1e9 each
    // contrib into a: r(b) div 2 = 5e8; into b: 1e9 + 1e9; into c: 5e8
    val SCALE = 1000000000L
    val r1a = (15 * SCALE + 85 * (SCALE / 2)) / 100
    val r1b = (15 * SCALE + 85 * (SCALE + SCALE)) / 100
    assert(r1a == 575000000L && r1b == 1850000000L)
    // mass conserved up to floor losses
    assert(2 * r1a + r1b <= 3 * SCALE)
    // replay through the gate's exact SQL arithmetic
    val e = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"))
      .toDF("src", "dst")
    val deg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
    val r0 = deg.select(col("node"), col("deg"), lit(SCALE).as("r"))
    val contrib = r0.join(e, col("node") === col("src"))
      .groupBy(col("dst")).agg(sum(expr("r div deg")).as("sc"))
    val r1 = deg.join(contrib, col("node") === col("dst"))
      .select(col("node"),
        expr(s"(${15 * SCALE} + 85 * sc) div 100").as("r"))
    assert(r1.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("a" -> r1a, "b" -> r1b, "c" -> r1a))
  }

  test("q178 gate is deterministic across runs with positive " +
      "desc-sorted ranks") {
    val dir = "/root/testdata/sf0.001"
    val once = GraphGates.q178PageRank(spark, dir).collect().toSeq
    val again = GraphGates.q178PageRank(spark, dir).collect().toSeq
    assert(once == again)
    assert(once.size == 20)
    val ranks = once.map(_.getLong(1))
    assert(ranks.forall(_ > 0L))
    assert(ranks.sorted(Ordering[Long].reverse) == ranks)
  }

  test("q179 RANGE frame includes the exact -1h boundary and " +
      "excludes beyond it") {
    val h = 3600000000000L // 1h in ns
    // t=0; t=h (exactly 1h later: IN the second row's frame);
    // t=3h+1 ns (nothing within its preceding hour but itself)
    val df = Seq((1L, 1L, 0L, 1.0), (2L, 1L, h, 10.0),
      (3L, 1L, 3 * h + 1, 100.0))
      .toDF("event_id", "user_id", "ts", "value")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"))
      .rangeBetween(-h, 0)
    val out = df.select(col("event_id"), count(lit(1)).over(w).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 2L, 3L -> 1L))
  }

  test("q179 RANGE frame treats equal-ts rows as mutual peers") {
    val df = Seq((1L, 1L, 5L, 1.0), (2L, 1L, 5L, 2.0))
      .toDF("event_id", "user_id", "ts", "value")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"))
      .rangeBetween(-10L, 0)
    val out = df.select(col("event_id"), count(lit(1)).over(w).as("n"))
      .collect().map(_.getLong(1)).toSeq
    // RANGE frames are value-based: both rows see both peers,
    // whatever internal order the engine picked
    assert(out == Seq(2L, 2L))
  }

  test("q183 breaks duplicate-linenumber ties by the full " +
      "lexicographic struct order") {
    // two lines share linenumber 1; sort_array must order by
    // (linenumber, quantity, price): first element is the qty-15
    // line, NOT the insertion-order one
    val li = Seq((7L, 1L, 18.0, 200.0), (7L, 1L, 15.0, 300.0),
      (7L, 2L, 1.0, 50.0)).toDF("l_orderkey", "l_linenumber",
      "l_quantity", "l_extendedprice")
    val out = li.groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(struct(col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice")))).as("items"))
      .select(element_at(col("items"), 1).getField("l_extendedprice"))
      .head().getDouble(0)
    assert(out == 300.0)
  }

  test("q183 scaled-long HOF fold is exact where a double fold " +
      "is not") {
    // 0.1 + 0.2 is inexact in doubles; via DECIMAL(25,4)*10^4 scaled
    // longs the fold is 1000 + 2000 = 3000 -> exactly 0.3
    val li = Seq((1L, 1L, 1.0, 0.1), (1L, 2L, 1.0, 0.2))
      .toDF("l_orderkey", "l_linenumber", "l_quantity",
        "l_extendedprice")
    val out = li.groupBy(col("l_orderkey"))
      .agg(collect_list(struct(col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"))).as("items"))
      .select((aggregate(col("items"), lit(0L), (acc, x) => acc +
        (x.getField("l_extendedprice").cast(DecimalType(25, 4)) * 10000)
          .cast(LongType)) / 10000.0).as("t"))
      .head().getDouble(0)
    assert(out == 0.3)
  }
}
