package graft

import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** [[OrderedResult.orderByInOnePartition]] and the gates that end in it:
  * the rows come out in `orderBy`'s order, no range exchange (and so no
  * sampling job) is planned, and the stages that scan the input still
  * run one task per file, which `coalesce(1)` in place of the shuffle
  * would not. */
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

  private def shuffles(p: SparkPlan): Seq[ShuffleExchangeExec] = p match {
    case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
    case q: QueryStageExec => shuffles(q.plan)
    case e: ShuffleExchangeExec => e +: shuffles(e.child)
    case _ => p.children.flatMap(shuffles)
  }

  /** Task counts of the completed stages that read a parquet file, over
    * the jobs `run` starts. */
  private def scanStageTasks(run: => Unit): Seq[Int] = {
    val sc = spark.sparkContext
    val group = "ordered-result-spec"
    val stages = new ConcurrentLinkedQueue[Int]()
    val scans = new ConcurrentHashMap[Int, Int]()
    @volatile var markerSeen = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => e.stageIds.foreach(stages.add)
          case Some("ordered-result-marker") => markerSeen = true
          case _ =>
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.rddInfos.exists(_.name == "FileScanRDD"))
          scans.put(e.stageInfo.stageId, e.stageInfo.numTasks)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "gate under test")
      run
      // listener events arrive in order: once the marker job is seen,
      // every stage of the jobs before it has been seen too
      sc.setJobGroup("ordered-result-marker", "marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(markerSeen)
      stages.asScala.toSeq.distinct.flatMap(s => Option(scans.get(s)))
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
    val tasks = scanStageTasks(build(fourFiles).collect(): Unit)
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
    ("q01", Queries.q01GroupbyAgg, Seq("l_returnflag", "l_linestatus")),
    ("q03", Queries.q03JoinAgg, Seq("r_name", "n_name")),
    ("q28", Queries3.q28Percentiles, Seq("l_returnflag")),
    ("q44", Queries3.q44JaccardExact, Seq("id_a", "id_b")),
    ("q60", Queries2.q60Bucketize, Seq("bucket")),
    ("q79", Queries5.q79Repetition, Seq("doc_id")),
    ("q289", Queries40.q289ImageDhash, Seq("doc_id")),
    ("q296", Queries40.q296VideoFrames, Seq("doc_id", "frame_idx")))

  for ((name, gate, keys) <- gates)
    test(s"$name is ordered in one partition, with no range exchange") {
      assertOrderedInOnePartition(dir => gate(spark, dir), keys.map(col): _*)
    }
}
