package graft

import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

import graft.operators.{GroupTopK, Sketches}

/** Per-group bounded selection (GroupTopK) and the two-pass heavy
  * hitters (Sketches.heavyHitters). */
class GroupTopKSpec extends SparkSpec {
  import spark.implicits._

  test("minKByKey matches a window row_number and is deterministic " +
      "under repartitioning") {
    val df = Seq(
      ("a", 1L, 50L), ("a", 2L, 10L), ("a", 3L, 30L), ("a", 4L, 20L),
      ("b", 5L, 5L), ("b", 6L, 7L),
      ("c", 7L, 99L)
    ).toDF("g", "id", "k")
    def run(parts: Int) =
      GroupTopK.minKByKey(df.repartition(parts), Seq("g"), "id",
          col("k"), 2)
        .orderBy(col("g"), col("rank"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getInt(3))).toSeq
    val expect = Seq(("a", 2L, 10L, 1), ("a", 4L, 20L, 2),
      ("b", 5L, 5L, 1), ("b", 6L, 7L, 2), ("c", 7L, 99L, 1))
    assert(run(1) === expect)
    assert(run(7) === expect)
  }

  test("minKByKey breaks key ties by id asc regardless of input order") {
    val rows = Seq(("g", 9L, 5L), ("g", 3L, 5L), ("g", 7L, 5L),
      ("g", 1L, 6L))
    def run(s: Seq[(String, Long, Long)]) =
      GroupTopK.minKByKey(s.toDF("g", "id", "k").coalesce(1), Seq("g"),
          "id", col("k"), 3)
        .orderBy(col("rank")).collect()
        .map(r => (r.getLong(1), r.getInt(3))).toSeq
    val expect = Seq((3L, 1), (7L, 2), (9L, 3))
    assert(run(rows) === expect)
    assert(run(rows.reverse) === expect)
  }

  test("minKByKey drops null keys and rejects non-integral ids") {
    val df = Seq((Some(1L), Some(10L)), (Some(2L), None),
      (Some(3L), Some(5L))).toDF("id", "k")
      .withColumn("g", lit("x"))
    val out = GroupTopK.minKByKey(df, Seq("g"), "id", col("k"), 5)
      .select("id").as[Long].collect().toSet
    assert(out === Set(1L, 3L))
    val bad = Seq(("a", 1L)).toDF("id", "k")
    intercept[IllegalArgumentException] {
      GroupTopK.minKByKey(bad, Seq.empty, "id", col("k"), 1)
    }
  }

  test("sampleKPerGroup plans as an aggregate, not a window, and is " +
      "partition-invariant") {
    val df = spark.range(0, 1000)
      .select((col("id") % 4).cast("string").as("g"), col("id"))
    val out = GroupTopK.sampleKPerGroup(df, Seq("g"), "id", 5, 17L)
    assert(planNodes(out.queryExecution.executedPlan)
      .count(_.isInstanceOf[WindowExec]) === 0)
    val a = out.orderBy("g", "rank").collect().map(_.toSeq).toSeq
    val b = GroupTopK.sampleKPerGroup(df.repartition(13), Seq("g"),
        "id", 5, 17L)
      .orderBy("g", "rank").collect().map(_.toSeq).toSeq
    assert(a === b)
    assert(a.size === 20) // 4 groups x 5
  }

  test("heavyHitters finds exactly the keys above theta under " +
      "adversarial partitioning") {
    // hot key "h" = 400 of 1000 rows; each cold key unique.
    // range-partition by id so the hot rows CONCENTRATE in few
    // partitions — the local-threshold pass must still surface "h"
    // (and the exact pass must kill every cold candidate).
    val df = spark.range(0, 1000)
      .select(when(col("id") < 400, lit("h"))
        .otherwise(concat(lit("c"), col("id"))).as("k"), col("id"))
      .repartitionByRange(10, col("id"))
    val out = Sketches.heavyHitters(df, "k", theta = 0.05)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out === Seq(("h", 400L)))
    // a theta above the hot key's frequency finds nothing
    assert(Sketches.heavyHitters(df, "k", theta = 0.5).count() === 0)
    intercept[IllegalArgumentException] {
      Sketches.heavyHitters(df, "k", theta = 0.0)
    }
  }

  test("heavyHitters ignores null keys") {
    val df = Seq(Some("a"), Some("a"), Some("a"), None, Some("b"))
      .toDF("k")
    val out = Sketches.heavyHitters(df, "k", theta = 0.5)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // N = 4 non-null rows; "a"=3 >= 2.0, "b"=1 < 2.0
    assert(out === Seq(("a", 3L)))
  }
}
