package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.streaming.StreamDrain

/** Round-13 session gates past q236: incremental rollup maintenance
  * (q237), Trigger.AvailableNow batch-drain (q238), bitwise aggregates
  * (q239), higher central moments (q240), the streaming state-store reader (q241), timezone conversion (q242), the binary-encoding battery (q243), parquet bloom filters (q244), the warehouse capstone (q245), and SQL pipe syntax (q246). Naming/oracle/float
  * conventions as in [[Queries]].
  */
object Queries33 {

  // ---- q237: incremental rollup maintenance -------------------------------

  /** Merge-refresh an aggregate from a delta WITHOUT rescanning the
    * base — the pay-once pattern behind every nightly rollup at 100 TB:
    * the base partition (90% of lineitem) is aggregated ONCE into a
    * groups-sized mergeable state (n / DECIMAL qty / min / max — sums
    * of sums, mins of mins), written to parquet and read back (state
    * must survive storage), and the refresh touches ONLY the delta
    * (10%) plus that state. avg is derived from (qty, n) at output —
    * the classic non-mergeable-aggregate fix. The oracle aggregates
    * the FULL table directly: any merge defect (double count, lost
    * group, decimal drift) hash-mismatches. Refresh cost is
    * O(delta + |groups|), independent of base size. */
  def q237IncrementalRollup(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
    val keys = Seq($"l_returnflag", $"l_linestatus")
    def partial(df: DataFrame): DataFrame =
      df.groupBy(keys: _*)
        .agg(count(lit(1)).as("n"),
          sum($"l_quantity".cast(DecimalType(25, 4))).as("qty_state"),
          min($"l_quantity").as("min_q"),
          max($"l_quantity").as("max_q"))
    val stage = Fs.scratchDir("rollup")
    try {
      // ingest-time: aggregate the base once, persist the tiny state
      partial(li.where($"l_orderkey" % 10 =!= 0))
        .coalesce(1).write.mode("overwrite").parquet(s"$stage/state")
      // refresh-time: delta scan + state merge only
      val state = s.read.parquet(s"$stage/state")
      val delta = partial(li.where($"l_orderkey" % 10 === 0))
      val merged = state.unionByName(delta)
        .groupBy(keys: _*)
        .agg(sum($"n").cast(LongType).as("n"),
          sum($"qty_state").as("qty_merged"),
          min($"min_q").as("min_q"),
          max($"max_q").as("max_q"))
        .select($"l_returnflag", $"l_linestatus", $"n",
          $"qty_merged".cast(DoubleType).as("qty"),
          $"min_q", $"max_q",
          round($"qty_merged".cast(DoubleType) / $"n", 4).as("avg_q"))
      // materialize (groups-sized) before the finally deletes the state;
      // the post-collect orderBy is the load-bearing output sort
      import scala.jdk.CollectionConverters._
      s.createDataFrame(merged.collect().toSeq.asJava, merged.schema)
        .orderBy($"l_returnflag", $"l_linestatus")
    } finally {
      Fs.rmTree(new java.io.File(stage))
    }
  }

  val q237Sql: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) AS qty,
      |  min(l_quantity) AS min_q, max(l_quantity) AS max_q,
      |  round(CAST(sum(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE)
      |        / count(*), 4) AS avg_q
      |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- q238: Trigger.AvailableNow batch-drain -----------------------------

  /** The incremental-batch trigger: AvailableNow processes everything
    * present at start — honoring source rate limits
    * (maxFilesPerTrigger=1 → one micro-batch per staged file) — then
    * STOPS ON ITS OWN (awaitTermination returns, no processAllAvailable
    * babysitting). This is how a 100 TB ingest runs streaming code on
    * a batch schedule: same query, same exactly-once sink, finite run.
    * The multi-batch witness (≥4 progress entries for 4 staged files)
    * is REQUIRED in-gate; the aggregate must equal the batch oracle
    * over the same rows. */
  def q238AvailableNow(parent: SparkSession, dir: String): DataFrame = {
    val spark = StreamDrain.session(parent, emptyBatches = true)
    val stage = Fs.scratchDir("avnow")
    try {
      Tables(spark, dir, "events")
        .select($"event_type", $"value")
        .repartition(4)
        .write.mode("overwrite").parquet(stage)
      val schema = StructType(Seq(
        StructField("event_type", StringType),
        StructField("value", DoubleType)))
      val name = s"graft_avnow_${System.nanoTime()}"
      val agg = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(stage)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          dsum($"value").as("sum_value"))
      val q = agg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination() // AvailableNow terminates by itself
      val batches = q.recentProgress.count(_.numInputRows > 0)
      require(batches >= 4,
        s"q238: expected >=4 rate-limited micro-batches, saw $batches")
      spark.table(name).orderBy($"event_type") // memory-sink-backed
    } finally {
      Fs.rmTree(new java.io.File(stage))
    }
  }

  val q238Sql: String =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST("value" AS DECIMAL(25,4))) AS DOUBLE)
      |    AS sum_value
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q239: bitwise aggregates -------------------------------------------

  /** bit_and / bit_or / bit_xor aggregates — exact, fixed-size,
    * mergeable (the algebraic cousins of q213's bitmap distinct):
    * bit_or accumulates a presence mask, bit_xor a parity check, both
    * map-side combinable so the shuffle carries ONE long per group.
    * Parity matters because flag-mask rollups silently corrupt if an
    * engine treats the aggregate as nullable-skipping differently. */
  def q239BitAggs(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "events").createOrReplaceTempView("q239_e")
    s.sql(
      """SELECT event_type, count(*) AS n,
        |  bit_and(user_id) AS mask_and,
        |  bit_or(user_id) AS mask_or,
        |  bit_xor(user_id) AS parity
        |FROM q239_e GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  val q239Sql: String =
    """SELECT event_type, count(*) AS n,
      |  bit_and(user_id) AS mask_and,
      |  bit_or(user_id) AS mask_or,
      |  bit_xor(user_id) AS parity
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q240: higher central moments ---------------------------------------

  /** skewness / kurtosis / var_pop / stddev_pop per group — the
    * distribution-shape aggregates a data-quality report needs beyond
    * mean/std (q165's MAD flags outliers; these CHARACTERIZE the tail
    * that produces them). Spark computes population g1 / excess g2 via
    * single-pass streaming moments; the oracle restates them two-pass
    * from central-moment averages — rounding absorbs the FP
    * summation-order difference between the two algorithms (variance
    * is ~1e9 here, so it is SCALED to millions before the 6-decimal
    * round — rounding a 1e9 value at 4 decimals would demand 13
    * significant digits of cross-algorithm agreement), same
    * convention as the regr_* gate (q174). */
  def q240Moments(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        round(var_pop($"l_extendedprice") / 1e6, 6).as("var_p_m"),
        round(stddev_pop($"l_extendedprice"), 2).as("std_p"),
        round(skewness($"l_extendedprice"), 6).as("skew"),
        round(kurtosis($"l_extendedprice"), 6).as("kurt"))
      .orderBy($"l_returnflag")
  }

  val q240Sql: String =
    """WITH g AS (
      |  SELECT l_returnflag AS rf, avg(l_extendedprice) AS mu
      |  FROM lineitem GROUP BY 1),
      |m AS (
      |  SELECT l_returnflag AS rf, count(*) AS n,
      |    avg(pow(l_extendedprice - mu, 2)) AS m2,
      |    avg(pow(l_extendedprice - mu, 3)) AS m3,
      |    avg(pow(l_extendedprice - mu, 4)) AS m4
      |  FROM lineitem JOIN g ON l_returnflag = g.rf
      |  GROUP BY 1)
      |SELECT rf AS l_returnflag, n,
      |  round(m2 / 1e6, 6) AS var_p_m,
      |  round(sqrt(m2), 2) AS std_p,
      |  round(m3 / pow(m2, 1.5), 6) AS skew,
      |  round(m4 / (m2 * m2) - 3, 6) AS kurt
      |FROM m ORDER BY 1""".stripMargin

  // ---- q241: state-store reader -------------------------------------------

  /** Streaming-state observability (Spark 4 State Data Source): run a
    * checkpointed streaming aggregate, STOP it, then read the RocksDB/
    * HDFS state store back as a DataFrame — the gate reconstructs the
    * per-key aggregate FROM THE CHECKPOINTED BUFFERS (key.event_type,
    * value.count, value.sum) and the batch oracle must match it
    * value-for-value. This is how a 100 TB pipeline debugs a stateful
    * job without replaying it: state is data, queryable offline. The
    * drain reuses q238's AvailableNow shape; the state-metadata
    * source first certifies WHICH stores the checkpoint holds. */
  def q241StateReader(parent: SparkSession, dir: String): DataFrame = {
    val spark = StreamDrain.session(parent, emptyBatches = true)
    val stage = Fs.scratchDir("stsrc")
    val ckpt = Fs.scratchDir("stckpt")
    try {
      Tables(spark, dir, "events")
        .select($"event_type", $"value")
        .repartition(2)
        .write.mode("overwrite").parquet(stage)
      val schema = StructType(Seq(
        StructField("event_type", StringType),
        StructField("value", DoubleType)))
      val name = s"graft_st_${System.nanoTime()}"
      val agg = spark.readStream.schema(schema).parquet(stage)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          sum($"value".cast(DecimalType(25, 4))).as("sv"))
      val q = agg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // catalog witness: the checkpoint self-describes its operators
      // (state-metadata source) — REQUIRE the expected aggregation
      // store before reading its contents
      val meta = spark.read.format("state-metadata").load(ckpt)
        .select($"operatorName", $"stateStoreName").collect()
      require(meta.exists(r => r.getString(0) == "stateStoreSave" &&
        r.getString(1) == "default"),
        s"q241: state-metadata missing the aggregation store: " +
          meta.mkString(","))
      // the sink result is NOT used: the claim is about the state files
      val out = spark.read.format("statestore").load(ckpt)
        .select($"key.event_type".as("event_type"),
          $"value.count".as("n"),
          $"value.sum".cast(DoubleType).as("sum_value"))
      // materialize before the finally deletes the checkpoint; the
      // post-collect orderBy is the load-bearing output sort
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(out.collect().toSeq.asJava, out.schema)
        .orderBy($"event_type")
    } finally {
      Fs.rmTree(new java.io.File(stage)); Fs.rmTree(new java.io.File(ckpt))
    }
  }

  val q241Sql: String =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST("value" AS DECIMAL(25,4))) AS DOUBLE)
      |    AS sum_value
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q242: timezone conversion ------------------------------------------

  /** Timezone-aware processing under the UTC session contract: the
    * instant column converts to WALL TIME per business zone with
    * from_utc_timestamp (IANA rules, DST included) — the
    * local-business-hours rollup every global events pipeline runs.
    * Conversion is a row-local expression (scan-side); the tiny
    * (zone x hour) aggregate is the only shuffle. Each zone is a
    * LITERAL (computed as three columns in one scan, then stacked):
    * a column-valued zone forces the per-row ZoneId-lookup slow path
    * (~3x here) because codegen cannot specialize the rules — the
    * same lesson as non-foldable format strings. The oracle replays
    * with DuckDB's two-step timezone() (naive->UTC instant->zone wall),
    * which is session-timezone-independent — both engines consult the
    * same IANA database, so a hash mismatch means a real rule/offset
    * divergence. */
  def q242Timezones(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "events").createOrReplaceTempView("q242_e")
    s.sql(
      """SELECT tz, lhour, count(*) AS n
        |FROM (
        |  SELECT stack(3,
        |    'America/New_York',
        |    hour(from_utc_timestamp(t, 'America/New_York')),
        |    'Asia/Tokyo', hour(from_utc_timestamp(t, 'Asia/Tokyo')),
        |    'Europe/Paris', hour(from_utc_timestamp(t, 'Europe/Paris'))
        |  ) AS (tz, lhour)
        |  FROM (SELECT timestamp_micros(ts DIV 1000) AS t FROM q242_e))
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
  }

  val q242Sql: String =
    """SELECT tz, CAST(hour(timezone(tz, timezone('UTC', ts))) AS INTEGER)
      |    AS lhour,
      |  count(*) AS n
      |FROM events
      |CROSS JOIN (SELECT unnest(['America/New_York', 'Asia/Tokyo',
      |  'Europe/Paris']) AS tz) z
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- q243: binary-encoding battery --------------------------------------

  /** Digest/encoding parity battery — sha2-256 hex digests, base64
    * round-trip, integer hex, printf formatting — the row-local
    * encodings an interchange layer leans on (content-addressed ids,
    * wire formats, stable file names). All codegen scan-side
    * expressions; a single-character divergence (case, padding,
    * truncation) moves the min() representatives or n_rt. hex is
    * lower()ed on both sides so the claim is about the DIGITS, not a
    * case convention. */
  def q243Encoding(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "customer").createOrReplaceTempView("q243_c")
    s.sql(
      """SELECT c_nationkey, count(*) AS n,
        |  sum(CASE WHEN CAST(unbase64(base64(CAST(c_name AS BINARY)))
        |        AS STRING) <=> c_name THEN 1 ELSE 0 END) AS n_rt,
        |  min(sha2(c_name, 256)) AS first_digest,
        |  min(lower(hex(c_custkey))) AS first_hex,
        |  min(format_string('%05d:%s', c_custkey, c_mktsegment))
        |    AS first_fmt
        |FROM q243_c GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  val q243Sql: String =
    """SELECT c_nationkey, count(*) AS n,
      |  CAST(sum(CASE WHEN from_base64(base64(c_name::BLOB))::VARCHAR
      |        = c_name THEN 1 ELSE 0 END) AS BIGINT) AS n_rt,
      |  min(sha256(c_name)) AS first_digest,
      |  min(lower(hex(c_custkey))) AS first_hex,
      |  min(printf('%05d:%s', c_custkey, c_mktsegment)) AS first_fmt
      |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q244: parquet bloom filters at rest --------------------------------

  /** Bloom filters in the parquet footer — the at-rest point-lookup
    * accelerator beside q181's codecs and q138's file sizing: with
    * `parquet.bloom.filter.enabled#col`, a reader probing
    * `col = x` skips whole row groups whose filter excludes x, without
    * any sort or partitioning on col. The gate stages 4 files with a
    * bloom on the high-NDV o_orderkey and then CERTIFIES THE FOOTERS:
    * every file must carry a bloom for o_orderkey (offset >= 0) and
    * must NOT carry one for the dictionary-encoded o_orderstatus (the
    * writer is selective — a fully dict-encoded column already filters
    * exactly, so a bloom would be pure bytes). Data round-trip is
    * oracled from the source table. */
  def q244ParquetBloom(s: SparkSession, dir: String): DataFrame = {
    val stage = Fs.scratchDir("bloom")
    try {
      Tables(s, dir, "orders")
        .select($"o_orderkey", $"o_custkey", $"o_orderstatus",
          $"o_totalprice")
        .repartition(4)
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#o_orderkey", "true")
        .option("parquet.bloom.filter.expected.ndv#o_orderkey",
          "2000000")
        .parquet(stage)
      // footer witness (driver-side, bounded: 4 files)
      import org.apache.hadoop.conf.Configuration
      import org.apache.hadoop.fs.Path
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      import scala.jdk.CollectionConverters._
      val files = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      val perFile = files.map { f =>
        val rd = ParquetFileReader.open(HadoopInputFile.fromPath(
          new Path(f.getPath), new Configuration()))
        try {
          val cols = rd.getFooter.getBlocks.get(0).getColumns.asScala
          def off(name: String): Long = cols
            .find(_.getPath.toString == s"[$name]")
            .map(_.getBloomFilterOffset).getOrElse(-1L)
          (off("o_orderkey") >= 0, off("o_orderstatus") < 0)
        } finally rd.close()
      }
      require(perFile.forall(_._1),
        s"q244: ${perFile.count(!_._1)} files missing the o_orderkey bloom")
      require(perFile.forall(_._2),
        "q244: dict-encoded o_orderstatus unexpectedly carries a bloom")
      val agg = s.read.parquet(stage).agg(
        count(lit(1)).cast(LongType).as("n_rows"),
        dsum($"o_totalprice").as("sum_price"),
        countDistinct($"o_orderkey").cast(LongType).as("n_keys"))
        .withColumn("n_files", lit(files.length.toLong))
        .withColumn("n_bloom_files",
          lit(perFile.count(_._1).toLong))
      import scala.jdk.CollectionConverters.{SeqHasAsJava => _, _}
      val rows = agg.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), agg.schema)
    } finally {
      Fs.rmTree(new java.io.File(stage))
    }
  }

  val q244Sql: String =
    """SELECT count(*) AS n_rows,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(25,4))) AS DOUBLE)
      |    AS sum_price,
      |  count(DISTINCT o_orderkey) AS n_keys,
      |  CAST(4 AS BIGINT) AS n_files,
      |  CAST(4 AS BIGINT) AS n_bloom_files
      |FROM orders""".stripMargin

  // ---- q245: warehouse capstone -------------------------------------------

  /** The round's warehouse operators CHAINED, so interface drift is
    * what the oracle catches (the q220 capstone pattern, warehouse
    * face): orders update-log -> SCD2 change detection (q224's
    * lag/filter/lead shape) -> CURRENT state per customer -> dimension
    * enrichment (LEFT JOIN, misses bucketed — q221's accounting) ->
    * uniqueness DQ invariant (q226's shape, REQUIRED in-gate) ->
    * (status, segment) rollup. One window shuffle + one broadcastable
    * dim join + one groups-sized aggregate; the DuckDB oracle replays
    * the ENTIRE chain in one statement. */
  def q245WarehouseCapstone(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"custkey").orderBy($"eff", $"ver")
    val upd = Tables(s, dir, "orders")
      .select($"o_custkey".as("custkey"),
        $"o_orderdate".cast(TimestampType).as("eff"),
        $"o_orderkey".as("ver"), $"o_orderstatus".as("status"),
        $"o_totalprice".as("price"))
    val scd = upd
      .withColumn("__prev", lag($"status", 1).over(w))
      .where($"__prev".isNull || $"__prev" =!= $"status")
      .withColumn("__next_eff", lead($"eff", 1).over(w))
    val current = scd.where($"__next_eff".isNull)
      .select($"custkey", $"status")
    val dim = Tables(s, dir, "customer")
      .where($"c_custkey" % 2 === 0) // deliberately incomplete dim
      .select($"c_custkey", $"c_mktsegment")
    val enriched = current.join(broadcast(dim),
        $"custkey" === $"c_custkey", "left_outer")
      .select($"custkey", $"status",
        coalesce($"c_mktsegment", lit("__miss")).as("segment"))
    // DQ invariant: SCD2 current state is one row per customer
    val dq = enriched.agg(
        (count(lit(1)) - countDistinct($"custkey")).as("__dups"))
      .select(when($"__dups" === 0L, lit(true))
        .otherwise(raise_error(concat(lit("q245: current-state dups "),
          $"__dups".cast(StringType)))).as("dq_ok"))
    enriched.groupBy($"status", $"segment")
      .agg(count(lit(1)).as("n_customers"))
      .crossJoin(broadcast(dq))
      .orderBy($"status", $"segment")
  }

  val q245Sql: String =
    """WITH upd AS (
      |  SELECT o_custkey AS custkey, o_orderdate AS eff,
      |    o_orderkey AS ver, o_orderstatus AS status
      |  FROM orders),
      |ch AS (
      |  SELECT *, lag(status) OVER
      |    (PARTITION BY custkey ORDER BY eff, ver) AS prev
      |  FROM upd),
      |scd AS (
      |  SELECT custkey, eff, ver, status,
      |    lead(eff) OVER (PARTITION BY custkey ORDER BY eff, ver)
      |      AS next_eff
      |  FROM ch WHERE prev IS NULL OR prev <> status),
      |cur AS (SELECT custkey, status FROM scd WHERE next_eff IS NULL),
      |enr AS (
      |  SELECT custkey, status,
      |    coalesce(c_mktsegment, '__miss') AS segment
      |  FROM cur LEFT JOIN (
      |    SELECT c_custkey, c_mktsegment FROM customer
      |    WHERE c_custkey % 2 = 0) d
      |  ON custkey = d.c_custkey)
      |SELECT status, segment, count(*) AS n_customers, true AS dq_ok
      |FROM enr GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- q246: SQL pipe syntax ----------------------------------------------

  /** Spark 4's SQL pipe syntax (`FROM t |> WHERE |> EXTEND |>
    * AGGREGATE |> ORDER BY`) — operator-order-as-written resolution of
    * the same logical plan the nested standard form builds. Parity
    * matters for migration the same way GROUP BY ALL (q222) does: a
    * resolution difference between the pipelined and nested forms
    * would silently change results when a query is mechanically
    * rewritten. The oracle is the STANDARD-SQL restatement in DuckDB,
    * so a green row certifies the pipe chain resolves to exactly the
    * classic semantics. */
  def q246PipeSyntax(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "lineitem").createOrReplaceTempView("q246_li")
    s.sql(
      """FROM q246_li
        ||> WHERE l_quantity < 30
        ||> EXTEND CAST(l_extendedprice * (1 - l_discount)
        |     AS DECIMAL(25,4)) AS disc_price
        ||> AGGREGATE count(*) AS n,
        |     CAST(sum(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE)
        |       AS qty,
        |     CAST(sum(disc_price) AS DOUBLE) AS revenue
        |     GROUP BY l_returnflag, l_linestatus
        ||> ORDER BY l_returnflag, l_linestatus""".stripMargin)
  }

  val q246Sql: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) AS qty,
      |  CAST(sum(CAST(l_extendedprice * (1 - l_discount)
      |    AS DECIMAL(25,4))) AS DOUBLE) AS revenue
      |FROM lineitem WHERE l_quantity < 30
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q237_incremental_rollup" -> (q237IncrementalRollup _),
    "q238_available_now" -> (q238AvailableNow _),
    "q239_bit_aggs" -> (q239BitAggs _),
    "q240_moments" -> (q240Moments _),
    "q241_state_reader" -> (q241StateReader _),
    "q242_timezones" -> (q242Timezones _),
    "q243_encoding" -> (q243Encoding _),
    "q244_parquet_bloom" -> (q244ParquetBloom _),
    "q245_warehouse_capstone" -> (q245WarehouseCapstone _),
    "q246_pipe_syntax" -> (q246PipeSyntax _)
  )

  val oracles: Map[String, String] = Map(
    "q237_incremental_rollup" -> q237Sql,
    "q238_available_now" -> q238Sql,
    "q239_bit_aggs" -> q239Sql,
    "q240_moments" -> q240Sql,
    "q241_state_reader" -> q241Sql,
    "q242_timezones" -> q242Sql,
    "q243_encoding" -> q243Sql,
    "q244_parquet_bloom" -> q244Sql,
    "q245_warehouse_capstone" -> q245Sql,
    "q246_pipe_syntax" -> q246Sql
  )
}
