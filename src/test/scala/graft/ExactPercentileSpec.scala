package graft

import scala.util.Random

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression,
  Percentile}
import org.apache.spark.sql.functions.{array, col, lit, percentile}
import org.apache.spark.sql.graftshim.ExactPercentile
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.functions.DoubleCounts

/** `exactPercentile` / `exactPercentiles` against Spark's `percentile`,
  * their `DoubleCounts` buffer, and the gates that use them. */
class ExactPercentileSpec extends SparkSpec {
  import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}

  // the sf0.01 tables committed with the benchmark, inside the repository
  private val dir = "perfbench/data/sf0.01"

  /** Grouped rows with nulls, heavy duplicates, NaN, ±Inf and ±0.0,
    * one-row groups and all-null groups. */
  private def groupedRows(seed: Long): Seq[(Int, Option[Double])] = {
    val rnd = new Random(seed)
    val pool = Seq(Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, 0.0, -0.0, 1.0, -1.0, 2.5, 1e300, -1e-300)
    def value(): Option[Double] = rnd.nextInt(10) match {
      case 0 => None
      case 1 | 2 | 3 => Some(pool(rnd.nextInt(pool.size)))
      case 4 | 5 => Some(rnd.nextInt(5).toDouble)
      case _ => Some(rnd.nextGaussian() * 1000)
    }
    (0 until 40).flatMap { g =>
      g % 8 match {
        case 0 => Seq((g, value()))
        case 1 => Seq.fill(1 + rnd.nextInt(5))((g, None))
        case 2 => Seq((g, Some(pool(rnd.nextInt(pool.size)))))
        case _ => Seq.fill(1 + rnd.nextInt(200))((g, value()))
      }
    }
  }

  /** Each group's percentiles from both aggregates, as (ours, Spark's). */
  private def bothSides(session: SparkSession,
      rows: Seq[(Int, Option[Double])], partitions: Int, ps: Seq[Double])
      : Seq[(Int, Seq[Any], Seq[Any])] = {
    val df = session.createDataFrame(rows).toDF("g", "x")
      .repartition(partitions)
    val got = df.groupBy("g").agg(
      exactPercentiles(col("x"), ps).as("ours"),
      exactPercentile(col("x"), ps.last).as("ours_one"),
      percentile(col("x"), array(ps.map(lit): _*)).as("spark"),
      percentile(col("x"), lit(ps.last)).as("spark_one"))
    got.collect().toSeq.map { r =>
      def seq(i: Int): Seq[Any] =
        if (r.isNullAt(i)) Seq(null) else r.getSeq[Double](i)
      (r.getInt(0), seq(1) :+ r.get(2), seq(3) :+ r.get(4))
    }
  }

  private def sameValue(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => x == y || (x.isNaN && y.isNaN)
    case _ => a == b
  }

  private def assertAgreesWithSpark(session: SparkSession,
      partitions: Int): Unit =
    for (seed <- 1L to 5L) {
      val rnd = new Random(seed * 31)
      val ps = Seq(0.0, 1.0, 0.5, rnd.nextDouble(), rnd.nextDouble())
      val rows = groupedRows(seed)
      val groups = bothSides(session, rows, partitions, ps)
      assert(groups.size === rows.map(_._1).distinct.size)
      for ((g, ours, theirs) <- groups) {
        assert(ours.size === theirs.size)
        assert(ours.zip(theirs).forall { case (a, b) => sameValue(a, b) },
          s"seed $seed, group $g, ps $ps: ours $ours, Spark's $theirs")
      }
    }

  for (n <- Seq(1, 4, 16))
    test(s"exactPercentiles equals Spark's percentile over $n partitions") {
      assertAgreesWithSpark(spark, n)
    }

  test("exactPercentiles equals Spark's percentile when the object hash " +
      "aggregate falls back to sorting serialized buffers") {
    val sorted = spark.newSession()
    sorted.conf.set(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1")
    assertAgreesWithSpark(sorted, 4)
  }

  test("a group with no non-null value gives null, one value per p " +
      "otherwise") {
    val df = Seq((1, Some(3.0)), (1, Some(1.0)), (2, None))
      .toDF("g", "x").groupBy("g")
      .agg(exactPercentile(col("x"), 0.5).as("m"),
        exactPercentiles(col("x"), Seq(0.0, 1.0)).as("ends"))
      .orderBy("g")
    assert(df.collect().toSeq ===
      Seq(Row(1, 2.0, Seq(1.0, 3.0)), Row(2, null, null)))
    assert(df.schema("ends").dataType ===
      ArrayType(DoubleType, containsNull = false))
  }

  test("integral and float inputs are cast to double; decimal is rejected") {
    val df = Seq((1L, 1.5f), (4L, 2.5f)).toDF("n", "f")
    assert(df.agg(exactPercentile(col("n"), 0.5),
      exactPercentile(col("f"), 0.5)).head() === Row(2.5, 2.0))
    intercept[AnalysisException] {
      df.agg(exactPercentile(col("n").cast("decimal(10,2)"), 0.5)).collect()
    }
  }

  test("percentages outside [0, 1] are rejected") {
    for (ps <- Seq(Seq(1.5), Seq(0.5, -0.1), Seq(Double.NaN), Seq.empty)) {
      val e = intercept[IllegalArgumentException](
        exactPercentiles(col("x"), ps))
      assert(e.getMessage.contains("[0, 1]"))
    }
    intercept[IllegalArgumentException](exactPercentile(col("x"), 1.5))
  }

  /** Spark's percentile over all rows sorted, duplicates included. */
  private def bruteForce(values: Array[Double], p: Double): Double = {
    val s = values.sorted(Ordering.Double.TotalOrdering)
    val pos = (s.length - 1) * p
    val (lo, hi) = (pos.floor.toInt, pos.ceil.toInt)
    if (lo == hi || s(lo) == s(hi)) s(lo)
    else (hi - pos) * s(lo) + (pos - lo) * s(hi)
  }

  test("DoubleCounts survives several resizes, a merge and a serialize / " +
      "deserialize round trip") {
    val rnd = new Random(7)
    val values = Array.fill(20000)(
      if (rnd.nextBoolean()) rnd.nextInt(50).toDouble else rnd.nextDouble())
    val (a, b) = (new DoubleCounts, new DoubleCounts)
    values.take(15000).foreach(a.add)
    values.drop(15000).foreach(b.add)
    val merged = a.merge(b)
    val distinct = values.distinct.length
    assert(distinct > 10000)
    // 16 bytes per distinct key
    val bytes = merged.serialize()
    assert(bytes.length === 16 * distinct)
    val back = DoubleCounts.deserialize(bytes)
    assert(back.serialize().length === bytes.length)
    val ps = Array(0.0, 0.1, 0.25, 0.5, 0.999, 1.0)
    val want = ps.map(bruteForce(values, _)).toSeq
    assert(merged.percentiles(ps).toSeq === want)
    assert(back.percentiles(ps).toSeq === want)
    assert(DoubleCounts.deserialize(new DoubleCounts().serialize()).isEmpty)
  }

  test("DoubleCounts fails past its largest table, naming the distinct " +
      "count") {
    assert(DoubleCounts.grownSlots(DoubleCounts.MAX_SLOTS / 2, 10L) ===
      DoubleCounts.MAX_SLOTS)
    val e = intercept[IllegalStateException](
      DoubleCounts.grownSlots(DoubleCounts.MAX_SLOTS, 536870913L))
    assert(e.getMessage.contains("536870913 distinct values"))
  }

  /** The aggregate functions of every aggregate in a run plan. */
  private def aggregateFunctions(df: DataFrame) =
    planNodes(df.queryExecution.executedPlan)
      .flatMap(_.expressions)
      .flatMap(_.collect { case a: AggregateExpression => a.aggregateFunction })

  test("q28's executed plan aggregates with ExactPercentile, not Spark's " +
      "Percentile") {
    val df = SparkEntry.queries("q28_percentiles")(spark, dir)
    df.collect()
    val fns = aggregateFunctions(df)
    assert(fns.exists(_.isInstanceOf[ExactPercentile]), fns)
    assert(!fns.exists(_.isInstanceOf[Percentile]), fns)
  }

  /** The digests over the sf0.01 tables of the gates that called Spark's
    * `percentile` or `median` before they moved to the helpers. */
  private val sweptGates = Seq(
    "q19_approx_sketch" -> (3L, BigDecimal("9331973539205797057")),
    "q20_median" -> (3L, BigDecimal("-10624692722367794194")),
    "q28_percentiles" -> (3L, BigDecimal("22336400880098514302")),
    "q122_quantile_sketch" -> (2L, BigDecimal("9703344936704078515")),
    "q154_winsorize" -> (3L, BigDecimal("3388112477998183555")),
    "q160_equidepth" -> (4L, BigDecimal("8062359555162118340")),
    "q165_mad_outliers" -> (5L, BigDecimal("17465095921083904262")),
    "q201_corpus_report" -> (97L, BigDecimal("-13170236896598943022")))

  for ((gate, before) <- sweptGates)
    test(s"$gate gives the rows it gave over Spark's percentile") {
      assert(digest(SparkEntry.queries(gate)(spark, dir)) === before)
    }
}
