package graft

import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning,
  RoundRobinPartitioning}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec,
  ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** The two [[PartitionLayout]] helpers and the gates that use them.
  *
  * [[PartitionLayout.orderByInOnePartition]]: the rows come out in
  * `orderBy`'s order, no range exchange (and so no sampling job) is
  * planned, and the stages that scan the input still run one task per
  * file, which `coalesce(1)` in place of the shuffle would not.
  *
  * [[PartitionLayout.spreadOverCores]]: over the one-file `documents`
  * table, the per-row kernel sits above a round-robin exchange, the
  * stage that runs it reads rows in more than one task, and the rows
  * are those the gate gave before it was spread. */
class OrderedResultSpec extends SparkSpec with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"

  /** The sf0.001 tables the gates below read, each rewritten as 4 files. */
  private lazy val multi: String = {
    val d = Files.createTempDirectory("ordered-result").toString
    Seq("lineitem", "orders", "customer", "nation", "region", "documents")
      .foreach(t => Tables(spark, sf, t).repartition(4)
        .write.parquet(s"$d/$t.parquet"))
    d
  }

  override def afterAll(): Unit = {
    try Fs.rmTree(new java.io.File(multi)) finally super.afterAll()
  }

  /** Every node below `p`, through adaptive stages and reused exchanges. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => nodes(r.child)
    case _ => p.children.flatMap(nodes)
  })

  private def shuffles(p: SparkPlan): Seq[ShuffleExchangeExec] =
    nodes(p).collect { case e: ShuffleExchangeExec => e }

  /** Per completed stage of the jobs `run` starts: whether it reads a
    * parquet file, its task count, and how many of its tasks read at
    * least one row from a shuffle. */
  private case class StageStat(scansFile: Boolean, tasks: Int,
      shuffleReadingTasks: Int)

  private def stageStats(run: => Unit): Seq[StageStat] = {
    val sc = spark.sparkContext
    val group = "ordered-result-spec"
    val stages = new ConcurrentLinkedQueue[Int]()
    val done = new ConcurrentHashMap[Int, (Boolean, Int)]()
    val reading = new ConcurrentHashMap[Int, Integer]()
    @volatile var markerSeen = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => e.stageIds.foreach(stages.add)
          case Some("ordered-result-marker") => markerSeen = true
          case _ =>
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null &&
            e.taskMetrics.shuffleReadMetrics.recordsRead > 0)
          reading.merge(e.stageId, 1, (a, b) => a + b)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        done.put(e.stageInfo.stageId,
          (e.stageInfo.rddInfos.exists(_.name == "FileScanRDD"),
            e.stageInfo.numTasks))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "gate under test")
      run
      // listener events arrive in order: once the marker job is seen,
      // every stage and task of the jobs before it has been seen too
      sc.setJobGroup("ordered-result-marker", "marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(markerSeen)
      stages.asScala.toSeq.distinct.flatMap(s => Option(done.get(s)).map {
        case (scans, tasks) =>
          StageStat(scans, tasks, Option(reading.get(s)).fold(0)(_.intValue))
      })
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** The three checks, for a result built over a table directory. */
  private def assertOrderedInOnePartition(build: String => DataFrame,
      keys: Column*): Unit = {
    val df = build(sf)
    val rows = df.collect().toSeq
    assert(rows.nonEmpty)
    assert(rows === df.orderBy(keys: _*).collect().toSeq)
    val ranges = shuffles(df.queryExecution.executedPlan)
      .filter(_.outputPartitioning.isInstanceOf[RangePartitioning])
    assert(ranges.isEmpty, s"range exchange in the final plan: $ranges")
    val fourFiles = multi // written before the listener starts counting
    val tasks = stageStats(build(fourFiles).collect(): Unit)
      .filter(_.scansFile).map(_.tasks)
    assert(tasks.nonEmpty && tasks.forall(_ > 1),
      s"scan-stage task counts over 4-file tables: $tasks")
  }

  test("orderByInOnePartition sorts like orderBy behind a parallel scan") {
    val keys = Seq(col("h").desc, col("doc_id"))
    def hashed(dir: String) = Tables(spark, dir, "documents")
      .select(col("doc_id"), sha2(col("text"), 256).substr(1, 1).as("h"))
    assertOrderedInOnePartition(
      dir => hashed(dir).orderByInOnePartition(keys: _*), keys: _*)
  }

  private val gates: Seq[(String, (SparkSession, String) => DataFrame,
      Seq[String])] = Seq(
    ("q01", RelationalGates.q01GroupbyAgg, Seq("l_returnflag", "l_linestatus")),
    ("q03", RelationalGates.q03JoinAgg, Seq("r_name", "n_name")),
    ("q28", RelationalGates.q28Percentiles, Seq("l_returnflag")),
    ("q44", DedupGates.q44JaccardExact, Seq("id_a", "id_b")),
    ("q60", FeatureGates.q60Bucketize, Seq("bucket")),
    ("q79", TextGates.q79Repetition, Seq("doc_id")),
    ("q289", MediaGates.q289ImageDhash, Seq("doc_id")),
    ("q296", MediaGates.q296VideoFrames, Seq("doc_id", "frame_idx")))

  for ((name, gate, keys) <- gates)
    test(s"$name is ordered in one partition, with no range exchange") {
      assertOrderedInOnePartition(dir => gate(spark, dir), keys.map(col): _*)
    }

  // ---- spreadOverCores --------------------------------------------------

  test("spreadOverCores deals the same rows over one partition per core") {
    val docs = Tables(spark, sf, "documents").select(col("doc_id"))
    val spread = docs.spreadOverCores
    assert(spread.rdd.getNumPartitions ===
      spark.sparkContext.defaultParallelism)
    assert(spread.rdd.glom().collect().count(_.nonEmpty) > 1)
    assert(spread.collect().map(_.getLong(0)).sorted ===
      docs.collect().map(_.getLong(0)).sorted)
  }

  private def hasRoundRobin(p: SparkPlan): Boolean =
    shuffles(p).exists(
      _.outputPartitioning.isInstanceOf[RoundRobinPartitioning])

  /** A plan node that evaluates a per-row kernel: a synth UDF or a
    * `graft.functions.Kernels` method. */
  private def runsKernel(p: SparkPlan): Boolean =
    p.expressions.exists(_.exists {
      case _: ScalaUDF => true
      case i: StaticInvoke =>
        i.staticObject == classOf[graft.functions.Kernels]
      case _ => false
    })

  /** (rows, Σ xxhash64 of each row) of a result, order-insensitive. */
  private def digest(df: DataFrame): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.map(col): _*)
      .cast("decimal(38,0)"))).head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  /** The gates' digests over sf0.001 from before their kernels were
    * spread (q44 also from before `charShingleSet` replaced its
    * `transform(sequence(...), xxhash64(substr(...)))` shingles). */
  private val spreadGates: Seq[(String, (SparkSession, String) => DataFrame,
      (Long, BigDecimal))] = Seq(
    ("q44", DedupGates.q44JaccardExact,
      (1198L, BigDecimal("153094968173894883285"))),
    ("q289", MediaGates.q289ImageDhash,
      (504L, BigDecimal("48519976489001279840"))),
    ("q296", MediaGates.q296VideoFrames,
      (2016L, BigDecimal("128236271821019117345"))))

  for ((name, gate, before) <- spreadGates)
    test(s"$name runs its kernel above a round-robin exchange, in more " +
        "than one task, with the same rows") {
      val df = gate(spark, sf)
      val stats = stageStats(df.collect(): Unit)
      assert(stats.map(_.shuffleReadingTasks).max >= 2,
        s"tasks reading shuffled rows, per stage: $stats")
      val kernels = nodes(df.queryExecution.executedPlan).filter(runsKernel)
      assert(kernels.nonEmpty)
      for (k <- kernels)
        assert(hasRoundRobin(k),
          s"no round-robin exchange below ${k.nodeName}: ${k.expressions}")
      assert(digest(df) === before)
    }
}
