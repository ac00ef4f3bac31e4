package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions.col

/** The helpers the gates share: the plan walker and the memory-sink
  * drain of the streaming gates. */
class GateHelpersSpec extends SparkSpec {

  // the sf0.01 tables committed with the benchmark, inside the repository
  private val dir = "perfbench/data/sf0.01"

  test("planNodes sees the same shuffle exchanges before and after the " +
      "plan has run") {
    val df = spark.range(0, 1000, 1, 4)
      .groupBy((col("id") % 7).as("k")).count()
    def exchanges = planNodes(df.queryExecution.executedPlan)
      .count(_.isInstanceOf[ShuffleExchangeLike])
    val before = exchanges
    assert(before === 1)
    df.collect()
    // AQE has now replaced the exchange by a finished query stage, a
    // leaf; the walker must still descend into it
    assert(exchanges === before)
  }

  /** Every gate whose result is drained from a memory sink. */
  private val drainedGates = Seq(
    "q80_stream_window", "q81_stream_dedup", "q82_stream_join",
    "q100_stream_dedup_ttl", "q105_stream_stream_join",
    "q110_stream_outer_join", "q125_stream_sessions",
    "q168_transform_state", "q174_stream_semi_join", "q177_late_data",
    "q182_stream_update", "q187_session_timers",
    "q214_stream_full_outer", "q221_stream_static_outer",
    "q238_available_now", "q241_state_reader",
    "q261_stream_mlm", "q291_stream_neardup",
    "q295_stream_image_neardup", "q300_stream_audio_neardup",
    "q301_stream_video_neardup", "q305_stream_video_framerun")

  drainedGates.foreach { gate =>
    test(s"$gate leaves no temporary view and still yields its rows") {
      val df = SparkEntry.queries(gate)(spark, dir)
      val views = df.sparkSession.catalog.listTables().collect()
        .filter(_.isTemporary).map(_.name)
      assert(views.isEmpty, s"$gate left views: ${views.mkString(", ")}")
      assert(df.collect().nonEmpty)
    }
  }
}
