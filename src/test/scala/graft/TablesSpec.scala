package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.parquet.graftshim.FooterSchema
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** The footer-schema loader: the same schema and relation
  * `spark.read.parquet` gives, in both events.ts layouts, with no Spark
  * job while a plan is built. */
class TablesSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val tables = new java.io.File(dir).listFiles().toSeq
    .map(_.getName).filter(_.endsWith(".parquet")).sorted
    .map(_.stripSuffix(".parquet"))

  test("footer schema equals spark.read.parquet's for every table") {
    assert(tables.size >= 10, s"tables under $dir: $tables")
    tables.foreach { t =>
      val p = s"$dir/$t.parquet"
      assert(FooterSchema(spark, p) === spark.read.parquet(p).schema, t)
    }
    assert(Tables(spark, dir, "events").schema("ts").dataType === LongType)
  }

  test("a directory of part-files reads its first part's schema") {
    val d = Files.createTempDirectory("tables-dir").resolve("t.parquet").toString
    try {
      spark.range(0, 30, 1, 3).selectExpr("id", "cast(id as string) s")
        .write.parquet(d)
      assert(FooterSchema(spark, d) === spark.read.parquet(d).schema)
      assert(Tables.parquet(spark, d).count() === 30L)
    } finally Fs.rmTree(new java.io.File(d).getParentFile)
  }

  test("Tables.parquet is spark.read.parquet's relation, for a file and " +
      "for a directory of part-files") {
    val d = Files.createTempDirectory("tables-rel").resolve("t.parquet").toString
    /** The optimized plan with its expression ids blanked. */
    def plan(df: DataFrame): String =
      df.queryExecution.optimizedPlan.toString.replaceAll("#\\d+L?", "#")
    try {
      spark.range(0, 30, 1, 3).selectExpr("id", "cast(id as string) s")
        .write.parquet(d)
      for (p <- Seq(s"$dir/lineitem.parquet", s"$dir/nation.parquet", d)) {
        val (ours, theirs) = (Tables.parquet(spark, p), spark.read.parquet(p))
        assert(ours.schema === theirs.schema, p)
        assert(ours.inputFiles.sorted.toSeq === theirs.inputFiles.sorted.toSeq, p)
        assert(ours.queryExecution.optimizedPlan.sameResult(
          theirs.queryExecution.optimizedPlan), p)
        val first = ours.columns.head
        def query(df: DataFrame) = df.where(df(first).isNotNull).select(first)
        assert(plan(query(ours)) === plan(query(theirs)), p)
        assert(query(ours).collect().toSeq === query(theirs).collect().toSeq, p)
      }
      assert(Tables.parquet(spark, d).inputFiles.length === 3)
    } finally Fs.rmTree(new java.io.File(d).getParentFile)
  }

  test("TIMESTAMP(NANOS) events: ts is the same long ns as inference gives") {
    val d = Files.createTempDirectory("tables-nanos")
    val file = d.resolve("events.parquet").toString
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  optional int64 event_id;
        |  optional int64 ts (TIMESTAMP(NANOS,false));
        |  optional int64 user_id;
        |  optional binary event_type (STRING);
        |  optional double value;
        |  optional binary props (STRING);
        |}""".stripMargin)
    val w = ExampleParquetWriter.builder(new Path(file)).withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try Seq(1L -> 1700000000123456789L, 2L -> 1700000001000000001L).foreach {
      case (id, ns) => w.write(rows.newGroup().append("event_id", id)
        .append("ts", ns).append("user_id", 7L).append("event_type", "click")
        .append("value", 1.5).append("props", "{}"))
    } finally w.close()
    try {
      assert(FooterSchema(spark, file) === spark.read.parquet(file).schema)
      assert(FooterSchema(spark, file)("ts").dataType === LongType)
      val ts = Tables(spark, d.toString, "events").orderBy("event_id")
        .collect().map(_.getAs[Long]("ts")).toSeq
      assert(ts === Seq(1700000000123456789L, 1700000001000000001L))
      assert(Tables.eventsRange(spark, d.toString,
        1700000000123456L, 1700000001000000L).count() === 1L)
    } finally Fs.rmTree(d.toFile)
    // the micros layout of the committed testdata surfaces as NTZ
    assert(FooterSchema(spark, s"$dir/events.parquet")("ts").dataType ===
      TimestampNTZType)
  }

  test("building table loads and streams runs no Spark job") {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("tables-spec-loads", "table loads")
      val dfs = tables.map(t => Tables(spark, dir, t)) ++ Seq(
        Tables.eventsRange(spark, dir, 0L, 4000000000000000L),
        Tables.stream(spark, dir, "documents"))
      dfs.foreach(_.schema)
      // listener events arrive in order: once the marker job is seen,
      // every job the loads started has been seen too
      sc.setJobGroup("tables-spec-marker", "marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains("tables-spec-marker") &&
          System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains("tables-spec-marker"))
      val loadJobs = groups.toArray.count(_ == "tables-spec-loads")
      assert(loadJobs === 0, s"$loadJobs Spark job(s) while building loads")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("a missing or non-parquet table fails naming its path") {
    val d = Files.createTempDirectory("tables-bad")
    try {
      val missing = intercept[Exception](Tables(spark, d.toString, "nope"))
      assert(missing.getMessage.contains(s"$d/nope.parquet"),
        missing.getMessage)
      val bogus = d.resolve("bogus.parquet")
      Files.write(bogus, "not parquet".getBytes("UTF-8"))
      val bad = intercept[Exception](Tables(spark, d.toString, "bogus"))
      assert(bad.getMessage.contains(bogus.toString), bad.getMessage)
    } finally Fs.rmTree(d.toFile)
  }
}
