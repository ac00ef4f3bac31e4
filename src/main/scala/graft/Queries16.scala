package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.StreamDrain

/** Round-12 session gates past q177: integer-exact PageRank (q178),
  * time-RANGE window frames (q179), stats-driven join planning (q180),
  * codec at-rest trade-off (q181), update-mode streaming aggregation
  * (q182), and array-of-struct higher-order processing (q183).
  * Naming/oracle/float conventions as in [[Queries]].
  */
object Queries16 {

  // ---- q178: PageRank (integer-exact power iteration) --------------------

  /** PageRank over the customer–supplier interaction graph — the
    * canonical iterative-join workload (dup-graph authority scoring,
    * source reputation for corpus curation). Both engine and oracle
    * run the SAME fixed-point-free formulation: 5 power iterations
    * with every quantity held in INTEGER form — rank starts at
    * SCALE=1e9 per node, a node's contribution is `rank div deg`
    * (floor), and the damped update is `(15·SCALE + 85·S) div 100` —
    * so no float ever crosses the engine boundary and the result is
    * bit-exact at any SF.
    *
    * Graph: distinct (customer, supplier) trade pairs from
    * orders⨝lineitem, symmetrized (random walk on the bipartite
    * graph); node ids disambiguate the two sides (2k / 2k+1). Every
    * node therefore has both in- and out-edges: no dangling-mass term,
    * and the per-iteration inner join is total (asserted).
    *
    * Scale shape: only (node, rank) pairs move per iteration — the
    * edge list is built once, localCheckpoint-ed, and re-joined; at
    * 100 TB the edge list is the pay-once bucketed layout (q92) so the
    * 5 iterations reuse one at-rest partitioning instead of
    * re-shuffling. Rank state is O(|V|), never O(|E|). */
  def q178PageRank(s: SparkSession, dir: String): DataFrame = {
    val SCALE = 1000000000L
    val pairs = Tables(s, dir, "orders")
      .join(Tables(s, dir, "lineitem"),
        $"o_orderkey" === $"l_orderkey")
      .select(($"o_custkey" * 2).as("c"), ($"l_suppkey" * 2 + 1).as("s"))
      .distinct()
    // symmetrize; eager checkpoint so 5 iterations re-join one
    // materialized edge list instead of re-deriving it from the scan
    val edges = pairs.select($"c".as("src"), $"s".as("dst"))
      .unionByName(pairs.select($"s".as("src"), $"c".as("dst")))
      .localCheckpoint()
    val deg = edges.groupBy($"src".as("node"))
      .agg(count(lit(1)).as("deg")).localCheckpoint()
    val nNodes = deg.count()
    var ranks = deg.select($"node", $"deg", lit(SCALE).as("r"))
    for (_ <- 1 to 5) {
      val contrib = ranks
        .join(edges, $"node" === $"src")
        .groupBy($"dst")
        .agg(sum(expr("r div deg")).as("sc"))
      ranks = deg.join(contrib, $"node" === $"dst")
        .select($"node", $"deg",
          // 15·SCALE pre-folded: a 15 * 1000000000 INT product would
          // overflow under ANSI before promotion to BIGINT
          expr(s"(${15 * SCALE} + 85 * sc) div 100").as("r"))
        .localCheckpoint()
      require(ranks.count() == nNodes,
        "q178: an iteration dropped nodes — the symmetric graph " +
          "guarantee (every node has in-edges) was violated")
    }
    ranks.select($"node", $"r".as("rank"))
      .orderBy($"rank".desc, $"node").limit(20)
  }

  val q178Sql: String = {
    def iter(prev: String, cur: String): String =
      s"""$cur AS (
         |  SELECT d.node, d.deg,
         |    CAST((15000000000 + 85 * s.sc) // 100 AS BIGINT) AS r
         |  FROM d JOIN (
         |    SELECT e.dst AS node, sum(r.r // r.deg) AS sc
         |    FROM $prev r JOIN e ON r.node = e.src GROUP BY 1) s
         |  ON d.node = s.node)""".stripMargin
    s"""WITH p AS (
       |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |e AS (SELECT c AS src, s AS dst FROM p
       |      UNION ALL SELECT s, c FROM p),
       |d AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY 1),
       |r0 AS (SELECT node, deg, CAST(1000000000 AS BIGINT) AS r FROM d),
       |${iter("r0", "r1")},
       |${iter("r1", "r2")},
       |${iter("r2", "r3")},
       |${iter("r3", "r4")},
       |${iter("r4", "r5")}
       |SELECT node, r AS rank FROM r5
       |ORDER BY rank DESC, node LIMIT 20""".stripMargin
  }

  // ---- q179: time-RANGE window frame -------------------------------------

  /** Per-event trailing-hour activity — a RANGE frame over event TIME,
    * not row position: each event sees every same-user event whose ts
    * lies in [ts−1h, ts], however many rows that is (the rate/velocity
    * feature behind abuse detection and session weighting; the q128
    * battery's ROWS frames can't express it). Value-based frames are
    * tie-safe by construction — peers at the exact boundary are in or
    * out by VALUE, so engine-internal row order can't change the
    * result. Sum is DECIMAL-mediated (exact, order-free); one user_id
    * shuffle carries the whole query. */
  def q179RangeFrame(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts")
      .rangeBetween(-3600000000000L, 0) // 1 hour in ns
    Tables(s, dir, "events")
      .select($"event_id", $"user_id", $"ts", $"value")
      .select($"event_id",
        count(lit(1)).over(w).as("n_1h"),
        sum($"value".cast(DecimalType(25, 4))).over(w)
          .cast(DoubleType).as("sum_1h"))
      .orderBy($"event_id")
  }

  val q179Sql: String =
    """SELECT event_id,
      |  count(*) OVER w AS n_1h,
      |  CAST(sum(CAST("value" AS DECIMAL(25,4))) OVER w AS DOUBLE)
      |    AS sum_1h
      |FROM (SELECT event_id, user_id, epoch_us(ts) * 1000 AS tsn,
      |        "value" FROM events)
      |WINDOW w AS (PARTITION BY user_id ORDER BY tsn
      |  RANGE BETWEEN 3600000000000 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  // ---- q180: stats-driven join planning (CBO) ----------------------------

  /** Cost-based join planning from TABLE STATISTICS — the compile-time
    * complement of q134's runtime AQE: without stats the planner sees
    * the dim's raw size and picks SortMergeJoin; after `ANALYZE TABLE
    * … FOR ALL COLUMNS`, column min/max let the CBO estimate the
    * ~1%-selective filter's output and flip the SAME query to
    * BroadcastHashJoin (both shapes REQUIRED in the executed plans,
    * AQE off so the witness is the compile-time estimate, not a
    * runtime rescue). At 100 TB this is why warehouses run ANALYZE:
    * a filtered dim that LOOKS table-sized shuffles the fact side for
    * nothing. The broadcast threshold derives from the dim's actual
    * file bytes, so the witness holds at every SF. Results from both
    * plans are asserted bit-identical; the oracle replays the
    * aggregate. */
  def q180CboStats(s: SparkSession, dir: String): DataFrame = {
    val stamp = java.lang.Long.toHexString(System.nanoTime())
    val loc = s"/tmp/graft_cbo/orders_$stamp"
    val tbl = s"graft_cbo_orders_$stamp"
    Tables(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_orderpriority")
      .write.mode("overwrite").parquet(loc)
    def dirBytes(p: String): Long =
      Option(new java.io.File(p).listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("part-")).map(_.length()).sum
    // quarter of the dim's ACTUAL bytes: SF-proportional, so the
    // no-stats estimate (= file size) always exceeds it and the
    // ~1%-selective stats estimate always undercuts it, at any SF
    val threshold = math.max(dirBytes(loc) / 4, 1024)
    val kMax = Tables(s, dir, "orders").agg(max($"o_custkey")).head().getLong(0)
    val kCut = kMax / 100 + 1 // ~1% of the key range
    def session(cbo: Boolean): SparkSession = {
      val ss = s.newSession()
      ss.conf.set("spark.sql.adaptive.enabled", "false")
      ss.conf.set("spark.sql.cbo.enabled", cbo.toString)
      ss.conf.set("spark.sql.autoBroadcastJoinThreshold",
        threshold.toString)
      ss
    }
    def query(ss: SparkSession): DataFrame =
      ss.table(tbl).where($"o_custkey" <= kCut)
        .join(Tables(ss, dir, "lineitem")
          .select($"l_orderkey", $"l_extendedprice"),
          $"o_orderkey" === $"l_orderkey")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n"), dsum($"l_extendedprice").as("rev"))
        .orderBy($"o_orderpriority")
    val sA = session(cbo = false)
    try {
      sA.sql(s"CREATE TABLE $tbl (o_orderkey BIGINT, o_custkey BIGINT, " +
        s"o_orderpriority STRING) USING parquet LOCATION '$loc'")
      val dfA = query(sA)
      val planA = dfA.queryExecution.executedPlan.toString()
      require(planA.contains("SortMergeJoin"),
        s"q180: pre-stats plan must sort-merge (dim estimate = file " +
          s"size > threshold=$threshold):\n${planA.take(600)}")
      val rowsA = dfA.collect().toSeq
      sA.sql(s"ANALYZE TABLE $tbl COMPUTE STATISTICS FOR ALL COLUMNS")
      val sB = session(cbo = true)
      val dfB = query(sB)
      val planB = dfB.queryExecution.executedPlan.toString()
      require(planB.contains("BroadcastHashJoin"),
        s"q180: post-ANALYZE CBO plan must broadcast the ~1% filtered " +
          s"dim (threshold=$threshold):\n${planB.take(600)}")
      val rowsB = dfB.collect().toSeq
      require(rowsA == rowsB,
        "q180: stats changed the RESULT, not just the plan")
      // materialize before the finally-block cleanup: the returned
      // frame must not reference the dropped table's files (Verify
      // writes it AFTER this function returns)
      import scala.jdk.CollectionConverters._
      s.createDataFrame(rowsB.asJava, dfB.schema)
        .withColumn("plan_flipped", lit(true))
        .orderBy($"o_orderpriority")
    } finally {
      sA.sql(s"DROP TABLE IF EXISTS $tbl")
      Fs.rmTree(new java.io.File(loc))
    }
  }

  val q180Sql: String =
    """WITH k AS (SELECT max(o_custkey) // 100 + 1 AS kcut FROM orders)
      |SELECT o_orderpriority, count(*) AS n,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(25,4))) AS DOUBLE)
      |    AS rev,
      |  true AS plan_flipped
      |FROM orders, k
      |JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE o_custkey <= kcut
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q181: compression codec at-rest trade-off -------------------------

  /** Codec choice as a measured at-rest decision: the same documents
    * table written parquet+snappy and parquet+zstd. The gate REQUIRES
    * (a) zstd strictly smaller on disk (the 100 TB storage/scan-cost
    * lever — zstd typically buys 20-40% over snappy on text), and (b)
    * byte-identical content both directions (exceptAll both ways),
    * so the saving is certified lossless. The returned aggregate is
    * computed FROM THE ZSTD COPY with per-group md5 content witnesses
    * the oracle replays from the original — a decode bug anywhere
    * would surface as a value mismatch, not just a row count. */
  def q181CodecAtRest(s: SparkSession, dir: String): DataFrame = {
    val stamp = java.lang.Long.toHexString(System.nanoTime())
    val base = s"/tmp/graft_codec_$stamp"
    val docs = Tables(s, dir, "documents")
    def write(codec: String): Long = {
      docs.write.mode("overwrite").option("compression", codec)
        .parquet(s"$base/$codec")
      Option(new java.io.File(s"$base/$codec").listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("part-")).map(_.length()).sum
    }
    try {
      val snappyBytes = write("snappy")
      val zstdBytes = write("zstd")
      require(zstdBytes < snappyBytes,
        s"q181: zstd ($zstdBytes B) not smaller than snappy " +
          s"($snappyBytes B) on the documents table")
      val sn = s.read.parquet(s"$base/snappy")
      val zs = s.read.parquet(s"$base/zstd")
      require(sn.exceptAll(zs).isEmpty && zs.exceptAll(sn).isEmpty,
        "q181: codec round trips disagree — lossless contract broken")
      val agg = zs.groupBy($"lang")
        .agg(count(lit(1)).as("n"), sum($"n_chars").as("chars"),
          min(md5($"text")).as("h_min"), max(md5($"text")).as("h_max"))
        .withColumn("zstd_smaller", lit(true))
        .orderBy($"lang")
      // materialize before cleanup: the lazy frame reads the zstd dir
      // the finally block deletes (Verify writes it after return)
      import scala.jdk.CollectionConverters._
      s.createDataFrame(agg.collect().toSeq.asJava, agg.schema)
        .orderBy($"lang")
    } finally {
      Fs.rmTree(new java.io.File(base))
    }
  }

  val q181Sql: String =
    """SELECT lang, count(*) AS n,
      |  CAST(sum(n_chars) AS BIGINT) AS chars,
      |  min(md5(text)) AS h_min, max(md5(text)) AS h_max,
      |  true AS zstd_smaller
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q182: update-mode streaming aggregation ---------------------------

  /** UPDATE output mode — the third streaming output contract beside
    * complete (q80) and append (q177): each micro-batch emits ONLY the
    * groups it changed, re-stating their new totals (the
    * low-latency dashboard feed; complete mode re-emits the world,
    * append waits for watermark finality). Two pinned micro-batches
    * (events split by event_id parity, file order forced via mtimes)
    * must produce exactly |types(b1)| + |types(b2)| sink rows — the
    * changed-groups-only contract, asserted in-gate. Counts are
    * monotonic per key, so the final state is each type's max-n row;
    * it must equal the batch aggregate (the oracle). Sums are
    * DECIMAL-mediated in state, so re-emission is exact. */
  def q182StreamUpdateMode(parent: SparkSession, dir: String): DataFrame = {
    val spark = StreamDrain.session(parent, emptyBatches = false)
    val ev = Tables(parent, dir, "events")
    val stage = Fs.scratchDir("upd")
    ev.where($"event_id" % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$stage/b1")
    ev.where($"event_id" % 2 === 1).coalesce(1)
      .write.mode("overwrite").parquet(s"$stage/b2")
    StreamDrain.promote(stage, "b1", "b2")
    val typesB1 = ev.where($"event_id" % 2 === 0)
      .select($"event_type").distinct().count()
    val typesB2 = ev.where($"event_id" % 2 === 1)
      .select($"event_type").distinct().count()
    val stream = spark.readStream
      .schema(graft.streaming.EventsStream.eventsSchema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "batch*.parquet")
      .parquet(stage)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        dsum($"value").as("sum_value"))
    val sink =
      try StreamDrain.toMemory(stream.writeStream.outputMode("update"))
      finally Fs.rmTree(new java.io.File(stage))
    val emitted = sink.count()
    require(emitted == typesB1 + typesB2,
      s"q182: update mode emitted $emitted rows, expected changed " +
        s"groups only = $typesB1 + $typesB2")
    // counts are monotonic per key: the max-n row IS the final state
    sink.groupBy($"event_type")
      .agg(max($"n").as("n"), max_by($"sum_value", $"n").as("sum_value"))
      .orderBy($"event_type")
  }

  val q182Sql: String =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST("value" AS DECIMAL(25,4))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q183: array-of-struct higher-order processing ---------------------

  /** Nested order documents processed WITHOUT re-shuffling: each
    * order's line items collected into a sorted array of structs (one
    * l_orderkey shuffle — the document build), then every derived
    * column is a row-local higher-order function over that array:
    * element_at + getField (first line's price), filter+size (heavy
    * lines), transform+array_max (max quantity), exists (big-ticket
    * flag), and an `aggregate` fold carrying an exact scaled-long sum
    * (the dsum convention inside a lambda — DECIMAL(25,4)·10⁴ per
    * element, integer adds, one final divide). This is the
    * struct-array analog of the primitive-list HOFs (q63): the
    * denormalized-document shape feature pipelines use so per-entity
    * logic never becomes a second aggregation. Oracle replays every
    * scalar relationally (ordered-aggregate first / FILTER /
    * bool_or); the testdata has DUPLICATE (orderkey, linenumber)
    * pairs, so "first line" is pinned by the FULL lexicographic
    * struct order (linenumber, quantity, price) on both sides —
    * a linenumber-only tie-break would be nondeterministic. */
  def q183NestedStructs(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
    li.groupBy($"l_orderkey")
      .agg(sort_array(collect_list(struct(
        $"l_linenumber", $"l_quantity", $"l_extendedprice"))).as("items"))
      .select($"l_orderkey",
        size($"items").as("n_items"),
        element_at($"items", 1).getField("l_extendedprice")
          .as("first_price"),
        size(filter($"items", x => x.getField("l_quantity") >= 25))
          .as("n_heavy"),
        array_max(transform($"items", x => x.getField("l_quantity")))
          .as("max_qty"),
        exists($"items", x => x.getField("l_extendedprice") > 50000)
          .as("has_big"),
        (aggregate($"items", lit(0L), (acc, x) => acc +
          (x.getField("l_extendedprice").cast(DecimalType(25, 4)) * 10000)
            .cast(LongType)) / 10000.0).as("price_total"))
      .orderBy($"l_orderkey")
  }

  val q183Sql: String =
    """SELECT l_orderkey,
      |  count(*) AS n_items,
      |  first(l_extendedprice ORDER BY l_linenumber, l_quantity,
      |    l_extendedprice) AS first_price,
      |  count(*) FILTER (WHERE l_quantity >= 25) AS n_heavy,
      |  max(l_quantity) AS max_qty,
      |  bool_or(l_extendedprice > 50000) AS has_big,
      |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(25,4)) * 10000
      |    AS BIGINT)) AS BIGINT) / 10000.0 AS price_total
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q178_pagerank" -> (q178PageRank _),
    "q179_range_frame" -> (q179RangeFrame _),
    "q180_cbo_stats" -> (q180CboStats _),
    "q181_codec_at_rest" -> (q181CodecAtRest _),
    "q182_stream_update" -> (q182StreamUpdateMode _),
    "q183_nested_structs" -> (q183NestedStructs _)
  )

  val oracles: Map[String, String] = Map(
    "q178_pagerank" -> q178Sql,
    "q179_range_frame" -> q179Sql,
    "q180_cbo_stats" -> q180Sql,
    "q181_codec_at_rest" -> q181Sql,
    "q182_stream_update" -> q182Sql,
    "q183_nested_structs" -> q183Sql
  )
}
