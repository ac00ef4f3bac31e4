package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.operators.Sketches

/** Pins for the round-11h gate semantics that the DuckDB oracles must
  * mirror exactly (gates q112-q119). */
class Queries7Spec extends SparkSpec {
  import spark.implicits._

  test("session_window MERGES an event at exactly gap distance " +
      "(adjacency counts; the oracle must break on > gap, not >= gap)") {
    val gapUs = 1800000000L // 30 min
    val t0 = 1000000000000000L // µs
    // user 1: second event at EXACTLY t0 + gap -> one merged session
    // user 2: second event 1 µs past the gap -> two sessions
    val events = Seq(
      (1L, t0), (1L, t0 + gapUs),
      (2L, t0), (2L, t0 + gapUs + 1L)
    ).toDF("user_id", "us")
      .select(col("user_id"), timestamp_micros(col("us")).as("ts"))

    val sessions = events
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), unix_micros(col("sw.start")).as("s"),
        unix_micros(col("sw.end")).as("e"), col("n"))
      .orderBy(col("user_id"), col("s"))
      .collect()

    val u1 = sessions.filter(_.getLong(0) == 1L)
    assert(u1.length === 1, "exact-gap event must merge")
    assert(u1.head.getLong(1) === t0)
    assert(u1.head.getLong(2) === t0 + 2 * gapUs) // end = last + gap
    assert(u1.head.getLong(3) === 2L)

    val u2 = sessions.filter(_.getLong(0) == 2L)
    assert(u2.length === 2, "gap+1µs event must start a new session")
    assert(u2.map(_.getLong(3)).toSeq === Seq(1L, 1L))
  }

  test("bloomSketch raises instead of silently clamping past the " +
      "aggregate's maxNumItems/maxNumBits confs") {
    val keys = spark.range(0, 10).toDF("pk")
    val e = intercept[IllegalArgumentException] {
      // 5M items > the 4M default maxNumItems clamp
      Sketches.bloomSketch(keys, "pk", expectedItems = 5000000L,
        fpp = 0.01)
    }
    assert(e.getMessage.contains("silently undersized"))
  }
}
