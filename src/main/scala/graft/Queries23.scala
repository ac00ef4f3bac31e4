package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-12 session gates past q206: the AQE partition-coalescing
  * witness (q207), two-pass global row ids (q208), and file metadata
  * columns (q209). Naming/oracle/float conventions as in [[Queries]].
  */
object Queries23 {

  // ---- q207: AQE shuffle-partition coalescing ----------------------------

  /** AQE's small-partition mitigation — the complement of its skew
    * SPLIT (q134): a shuffle planned at 64 partitions over data that
    * only fills a few must COALESCE at runtime (AQEShuffleRead
    * reading fewer, larger partitions), or a 1000-executor cluster
    * burns a task launch per near-empty partition on every small
    * dimension aggregate. Witnessed from the executed plan's
    * AQEShuffleRead (coalesced) node + its partition-count metric
    * strictly below the static 64. Oracle: the aggregate itself. */
  def q207AqeCoalesce(parent: SparkSession, dir: String): DataFrame = {
    val spark = parent.newSession()
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
      "true")
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    // one shuffle over a dimension-sized input: 64 static partitions
    // would each hold a few KB
    val agg = Tables(spark, dir, "customer")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n"),
        dsum($"c_acctbal").as("bal"))
    agg.collect() // materialize so AQE finalizes the plan
    val plan = agg.queryExecution.executedPlan.toString()
    require(plan.contains("AQEShuffleRead coalesced"),
      s"q207: no coalesced AQEShuffleRead in the executed plan:\n" +
        plan.take(600))
    val nOut = agg.rdd.getNumPartitions
    require(nOut < 64,
      s"q207: runtime partition count $nOut not below the static 64")
    agg.withColumn("coalesced_ok", lit(true))
      .orderBy($"c_mktsegment")
  }

  val q207Sql: String =
    """SELECT c_mktsegment, count(*) AS n,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(25,4))) AS DOUBLE) AS bal,
      |  true AS coalesced_ok
      |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q208: two-pass global row ids -------------------------------------

  /** Contiguous global row numbering WITHOUT the single-partition
    * window: `row_number() OVER (ORDER BY …)` funnels the entire
    * dataset through ONE task (the classic scale cliff); the
    * distributed answer is two passes — range-partition by the order
    * key, count per partition, prefix-sum the counts on the driver
    * (#partitions values), then assign partition-local offsets
    * (zipWithIndex's contract, built here explicitly so the plan is
    * inspectable). Emitted ids are asserted to be exactly
    * 0..n-1 (dense) in-gate; the oracle replays row_number over the
    * same unique key order. */
  def q208GlobalIds(s: SparkSession, dir: String): DataFrame = {
    // localCheckpoint PINS the range partitions: the counting pass and
    // the id pass must see the SAME boundaries (two independent
    // executions of repartitionByRange re-sample and may split
    // differently, silently corrupting the offsets)
    val src = Tables(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey")
      .repartitionByRange(8, $"o_orderkey")
      .sortWithinPartitions($"o_orderkey")
      .localCheckpoint()
    val counts = src.rdd
      .mapPartitionsWithIndex((i, it) => Iterator.single(i -> it.size))
      .collect().sortBy(_._1).map(_._2)
    val offsets = counts.scanLeft(0L)(_ + _) // #partitions driver values
    val bc = s.sparkContext.broadcast(offsets)
    val withIds = src
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var id = bc.value(pid)
        it.map { r => val out = (r.getLong(0), r.getLong(1), id)
          id += 1; out }
      }(org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong))
      .toDF("o_orderkey", "o_custkey", "row_id")
    val n = withIds.count()
    val check = withIds.agg(min($"row_id"), max($"row_id"),
      countDistinct($"row_id")).head()
    require(check.getLong(0) == 0L && check.getLong(1) == n - 1 &&
      check.getLong(2) == n,
      s"q208: ids not dense 0..${n - 1}: $check")
    withIds.orderBy($"row_id")
  }

  val q208Sql: String =
    """SELECT o_orderkey, o_custkey,
      |  CAST(row_number() OVER (ORDER BY o_orderkey) - 1 AS BIGINT)
      |    AS row_id
      |FROM orders ORDER BY row_id""".stripMargin

  // ---- q209: file metadata columns ---------------------------------------

  /** The hidden `_metadata` struct on file sources — per-row file
    * provenance (file_name, file_size, row counts per physical file)
    * with NO extra scan: the lineage column every incident
    * investigation wants ("which input file produced this row").
    * Staged as a 4-file hive layout whose split is an INTEGER
    * function of the key (k·4 div (max+1)) — deterministic across
    * rewrites, unlike repartitionByRange's per-write boundary
    * sampling, so a later re-staging (e.g. the bench re-running this
    * gate between the driver's verify and its DuckDB compare) cannot
    * drift the per-file stats. DuckDB replays via
    * read_parquet(filename=true) over the SAME staged files. */
  def q209FileMetadata(s: SparkSession, dir: String): DataFrame = {
    val stage = "/tmp/graft_fmeta/orders4"
    val mx = Tables(s, dir, "orders").agg(max($"o_orderkey")).head().getLong(0)
    Tables(s, dir, "orders").select($"o_orderkey", $"o_totalprice")
      .withColumn("b", expr(s"(o_orderkey * 4) div ${mx + 1}"))
      .repartition($"b")
      .write.mode("overwrite").partitionBy("b").parquet(stage)
    s.read.parquet(stage)
      .select($"o_orderkey", $"b",
        col("_metadata.file_name").as("fname"),
        col("_metadata.file_path").as("fpath"),
        col("_metadata.file_size").as("fsize"))
      .groupBy($"b")
      .agg(count(lit(1)).as("n"), min($"o_orderkey").as("k_min"),
        max($"o_orderkey").as("k_max"),
        (max($"fsize") > 0).as("size_ok"),
        // one physical file per split + provenance columns sane
        (countDistinct($"fname") === 1 &&
          min($"fpath").contains(min($"fname")) &&
          min($"fname").rlike("^part-\\d{5}-.*\\.parquet$"))
          .as("name_ok"))
      .orderBy($"b")
  }

  val q209Sql: String =
    """SELECT CAST(regexp_extract(filename, 'b=(\d+)', 1) AS BIGINT)
      |    AS b,
      |  count(*) AS n, min(o_orderkey) AS k_min,
      |  max(o_orderkey) AS k_max, true AS size_ok, true AS name_ok
      |FROM read_parquet('/tmp/graft_fmeta/orders4/*/*.parquet',
      |  filename=true)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q207_aqe_coalesce" -> (q207AqeCoalesce _),
    "q208_global_ids" -> (q208GlobalIds _),
    "q209_file_metadata" -> (q209FileMetadata _)
  )

  val oracles: Map[String, String] = Map(
    "q207_aqe_coalesce" -> q207Sql,
    "q208_global_ids" -> q208Sql,
    "q209_file_metadata" -> q209Sql
  )
}
