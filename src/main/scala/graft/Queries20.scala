package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.StreamDrain

/** Round-12 session gates past q197: the correlated-subquery battery
  * (q198), the TPC-H Q5 six-table join shape (q199), and the
  * partitioned streaming parquet sink (q200). Naming/oracle/float
  * conventions as in [[Queries]].
  */
object Queries20 {

  // ---- q198: correlated-subquery battery ---------------------------------

  /** Catalyst's subquery rewrites, exercised through the SQL front
    * end: a correlated SCALAR subquery (→ aggregate + left outer
    * join), correlated EXISTS (→ left semi), IN with a derived table
    * (→ semi join), and a LATERAL correlated derived table — the
    * forms every BI tool emits, each decorrelated by the optimizer
    * into the join shapes the rest of this repo gates directly. DuckDB
    * runs the IDENTICAL statement (both dialects decorrelate), so the
    * oracle certifies semantics end-to-end including empty-group
    * NULLs (scalar subquery over no rows) and count-bug avoidance
    * (COUNT over no rows must be 0, not NULL — the classic
    * decorrelation trap). */
  def q198SubqueryBattery(s: SparkSession, dir: String): DataFrame = {
    Seq("region", "nation", "customer", "orders").foreach { n =>
      Tables(s, dir, n).createOrReplaceTempView(n)
    }
    s.sql(q198Sql)
  }

  val q198Sql: String =
    """SELECT c.c_custkey,
      |  (SELECT count(*) FROM orders o
      |   WHERE o.o_custkey = c.c_custkey) AS n_orders,
      |  (SELECT CAST(max(o_totalprice) AS DOUBLE) FROM orders o
      |   WHERE o.o_custkey = c.c_custkey
      |     AND o.o_orderpriority = '1-URGENT') AS max_urgent,
      |  EXISTS (SELECT 1 FROM orders o
      |          WHERE o.o_custkey = c.c_custkey
      |            AND o.o_orderpriority = '5-LOW') AS has_low,
      |  lt.top_status
      |FROM customer c,
      |  LATERAL (SELECT min(o_orderstatus) AS top_status FROM orders o
      |           WHERE o.o_custkey = c.c_custkey) lt
      |WHERE c.c_custkey IN
      |  (SELECT o_custkey FROM orders WHERE o_orderkey % 10 = 0)
      |ORDER BY c.c_custkey""".stripMargin

  // ---- q199: TPC-H Q5 shape (six-table star join) ------------------------

  /** The TPC-H Q5 shape — the heaviest classic optimizer workout in
    * the suite: lineitem ⨝ orders ⨝ customer ⨝ supplier ⨝ nation ⨝
    * region with the cross-dimension condition c_nationkey =
    * s_nationkey, a region filter, and a one-year date window.
    * Spark-first plan: the three dimension chains (region→nation,
    * customer, supplier) are broadcast (asserted — THREE
    * BroadcastHashJoins required in the executed plan, and no
    * dimension may shuffle the fact side), the date filter pushes into
    * the orders scan, and revenue is per-row IEEE price·(1−discount)
    * re-aggregated through DECIMAL. At 100 TB this is exactly the
    * plan one wants: one shuffle (orders⨝lineitem), everything else
    * map-side. */
  def q199TpchQ5(s: SparkSession, dir: String): DataFrame = {
    val region = Tables(s, dir, "region").where($"r_name" === "ASIA")
    val nation = Tables(s, dir, "nation")
      .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
      .select($"n_nationkey", $"n_name")
    val cust = Tables(s, dir, "customer")
      .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"c_nationkey", $"n_name")
    // range literals, not year(): a function over the column would
    // defeat parquet predicate pushdown on the orders scan
    def ntz(y: Int) = lit(java.time.LocalDateTime.of(y, 1, 1, 0, 0))
    val ord = Tables(s, dir, "orders")
      .where($"o_orderdate" >= ntz(1996) && $"o_orderdate" < ntz(1997))
      .select($"o_orderkey", $"o_custkey")
    val supp = Tables(s, dir, "supplier")
      .select($"s_suppkey", $"s_nationkey")
    val joined = Tables(s, dir, "lineitem")
      .select($"l_orderkey", $"l_suppkey", $"l_extendedprice",
        $"l_discount")
      .join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .join(broadcast(supp), $"l_suppkey" === $"s_suppkey" &&
        $"c_nationkey" === $"s_nationkey")
    val out = joined.groupBy($"n_name")
      .agg(count(lit(1)).as("n"),
        dsum($"l_extendedprice" * (lit(1.0) - $"l_discount"))
          .as("revenue"))
      .orderBy($"revenue".desc, $"n_name")
    val plan = out.queryExecution.executedPlan.toString()
    val nBroadcast = "BroadcastHashJoin".r.findAllIn(plan).length
    require(nBroadcast >= 3,
      s"q199: expected >= 3 broadcast joins (dims must never shuffle " +
        s"the fact), got $nBroadcast:\n${plan.take(600)}")
    out
  }

  val q199Sql: String =
    """SELECT n_name, count(*) AS n,
      |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
      |    AS DECIMAL(25,4))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |              AND c_nationkey = s_nationkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1997-01-01'
      |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin

  // ---- q200: partitioned streaming parquet sink --------------------------

  /** Streaming into a PARTITIONED at-rest layout: `writeStream
    * .partitionBy(event_type)` on the parquet file sink — the
    * streaming producer of the q119 directory-pruned table (each
    * micro-batch appends into the right `event_type=…` directories;
    * the sink's _spark_metadata commit log keeps exactly-once across
    * restarts, q131's contract). In-gate: every event_type must have
    * its own partition directory, and a type-filtered re-read must
    * scan ONLY that partition's files (numFiles strict subset —
    * directory pruning works on a stream-written table). Oracle:
    * batch aggregate per type. */
  def q200StreamPartitionedSink(parent: SparkSession, dir: String)
      : DataFrame = {
    val spark = StreamDrain.session(parent, emptyBatches = false)
    val base = Fs.scratchDir("psink")
    val sinkDir = s"$base/out"
    val ckpt = s"$base/ckpt"
    val src = graft.streaming.EventsStream.eventsStream(spark, dir)
    val q = src
      .select($"event_id", $"event_type", $"value")
      .writeStream
      .option("checkpointLocation", ckpt)
      .partitionBy("event_type")
      .format("parquet")
      .start(sinkDir)
    try q.processAllAvailable() finally q.stop()
    try {
      val typeDirs = Option(new java.io.File(sinkDir).listFiles()).toSeq
        .flatten.filter(_.getName.startsWith("event_type=")).map(_.getName)
      val nTypes = Tables(parent, dir, "events")
        .select($"event_type").distinct().count()
      require(typeDirs.size == nTypes,
        s"q200: sink has ${typeDirs.size} partition dirs, expected " +
          s"$nTypes (one per event_type)")
      val table = spark.read.parquet(sinkDir)
      val allFiles = table.inputFiles.length
      val filtered = table.where($"event_type" === "click")
      // execute THIS plan instance and read the scan's numFiles
      // metric: Dataset.inputFiles is PRE-pruning (whole relation)
      val qe = filtered.queryExecution
      qe.toRdd.count()
      val scan = planNodes(qe.executedPlan).collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.getOrElse(sys.error(s"q200: no file scan in:\n${qe.executedPlan}"))
      require(scan.toString().contains("PartitionFilters"),
        "q200: type filter did not become a partition filter on the " +
          "stream-written table")
      val scanned = scan.metrics("numFiles").value
      require(scanned > 0 && scanned < allFiles,
        s"q200: partition pruning read $scanned of $allFiles files — " +
          "no subset pruning on the stream-written layout")
      val agg = table.groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          dsum($"value").as("sum_value"))
        .withColumn("pruned_ok", lit(true))
        .orderBy($"event_type")
      import scala.jdk.CollectionConverters._
      parent.createDataFrame(agg.collect().toSeq.asJava, agg.schema)
        .orderBy($"event_type")
    } finally {
      Fs.rmTree(new java.io.File(base))
    }
  }

  val q200Sql: String =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST("value" AS DECIMAL(25,4))) AS DOUBLE) AS sum_value,
      |  true AS pruned_ok
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q198_subquery_battery" -> (q198SubqueryBattery _),
    "q199_tpch_q5" -> (q199TpchQ5 _),
    "q200_stream_part_sink" -> (q200StreamPartitionedSink _)
  )

  val oracles: Map[String, String] = Map(
    "q198_subquery_battery" -> q198Sql,
    "q199_tpch_q5" -> q199Sql,
    "q200_stream_part_sink" -> q200Sql
  )
}
