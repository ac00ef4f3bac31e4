package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions.{broadcast, col, lit, sum}
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** The helpers the gates share: the exact sum, the plan walker and the
  * memory-sink drain of the streaming gates. */
class GateHelpersSpec extends SparkSpec {
  import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}

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

  test("a failed gate reports its innermost cause's message") {
    val root = new IllegalArgumentException("requirement failed: no assets")
    val wrapped = new RuntimeException("Job aborted",
      new RuntimeException("Task failed", root))
    assert(innermostMessage(wrapped) === "requirement failed: no assets")
    assert(innermostMessage(new IllegalStateException) ===
      "java.lang.IllegalStateException")
  }

  test("jsonString escapes quotes, backslashes, control and non-ASCII " +
      "characters") {
    assert(jsonString("a\"b\\c\td\re\nf\u0001") ===
      "\"a\\\"b\\\\c\\td\\re\\nf\\u0001\"")
    assert(jsonString("assets \u2014 \u00e9") ===
      "\"assets \\u2014 \\u00e9\"")
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

  /** The formulation `dsum` replaced, the oracle's SQL written as a
    * Column: a decimal sum over a DECIMAL(25,4) cast. */
  private def decimalSum(c: Column): Column =
    sum(c.cast(DecimalType(25, 4))).cast(DoubleType)

  /** Aggregates shaped like q01, q03 and q16, over inputs dealt into a
    * given number of partitions; each names its group keys. */
  private val sumShapes
      : Seq[(String, Seq[String], (Int, Column => Column) => DataFrame)] = Seq(
    ("q01", Seq("l_returnflag", "l_linestatus"), (n, sumOf) =>
      Tables(spark, dir, "lineitem").repartition(n)
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(sumOf($"l_quantity"), sumOf($"l_extendedprice"),
          sumOf($"l_extendedprice" * (lit(1.0) - $"l_discount")))),
    ("q03", Seq("r_name", "n_name"), (n, sumOf) =>
      Tables(spark, dir, "orders").repartition(n)
        .join(broadcast(Tables(spark, dir, "customer")),
          $"o_custkey" === $"c_custkey")
        .join(broadcast(Tables(spark, dir, "nation")),
          $"c_nationkey" === $"n_nationkey")
        .join(broadcast(Tables(spark, dir, "region")),
          $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name", $"n_name").agg(sumOf($"o_totalprice"))),
    ("q16", Seq("l_partkey"), (n, sumOf) =>
      Tables(spark, dir, "lineitem").repartition(n)
        .groupBy($"l_partkey").agg(sumOf($"l_quantity"))))

  for ((shape, keys, build) <- sumShapes; n <- Seq(1, 4, 16)) {
    test(s"dsum equals the DECIMAL(25,4) sum bit for bit: $shape-shaped, " +
        s"$n partitions") {
      def rows(sumOf: Column => Column): Seq[Seq[Any]] =
        build(n, sumOf).orderBy(keys.map(col): _*).collect().toSeq
          .map(_.toSeq.map {
            case d: Double => java.lang.Double.doubleToRawLongBits(d)
            case v => v
          })
      val want = rows(decimalSum)
      assert(want.nonEmpty)
      assert(rows(dsum) === want)
    }
  }

  test("dsum of a group with no non-null value is null") {
    val df = Seq(("a", Some(1.5)), ("a", None), ("b", None)).toDF("k", "x")
      .groupBy($"k").agg(dsum($"x").as("s")).orderBy($"k")
    assert(df.collect().toSeq === Seq(Row("a", 1.5), Row("b", null)))
  }

  test("dsum fails on a total of 2^63 ten-thousandths or more, also in a " +
      "session with spark.sql.ansi.enabled=false") {
    val legacy = spark.newSession()
    legacy.conf.set("spark.sql.ansi.enabled", "false")
    // each 9e14 fits (9e18 ten-thousandths); any two of them do not
    val df = legacy.range(0, 8, 1, 2).select(lit(9e14).as("x"))
      .agg(dsum($"x"))
    val e = intercept[Exception](df.collect())
    assert(innermostMessage(e).contains("ARITHMETIC_OVERFLOW"),
      innermostMessage(e))
  }

  test("q01's executed plan has no DecimalType aggregate buffer") {
    val df = SparkEntry.queries("q01_groupby_agg")(spark, dir)
    df.collect()
    val aggs = planNodes(df.queryExecution.executedPlan).collect {
      case a: BaseAggregateExec => a
    }
    assert(aggs.nonEmpty)
    val decimalBuffers = aggs
      .flatMap(_.aggregateExpressions.flatMap(_.aggregateFunction
        .aggBufferAttributes))
      .filter(_.dataType.isInstanceOf[DecimalType])
    assert(decimalBuffers.isEmpty, decimalBuffers.mkString(", "))
  }
}
