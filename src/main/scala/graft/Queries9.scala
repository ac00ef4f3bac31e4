package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.ZOrder
import graft.streaming.StreamDrain

/** Round-12 gates past q127: the full analytic window-function surface
  * (q128), an EXACT token-set similarity self-join via prefix filtering
  * — no cross product in the plan (q129), Z-order multi-dimensional
  * at-rest clustering with a file-skipping witness (q130), and
  * streaming checkpoint recovery proving exactly-once file-sink
  * semantics across a stop/restart (q131). Naming/oracle/float
  * conventions as in [[Queries]].
  */
object Queries9 {

  // ---- q128: analytic window-function suite -----------------------------

  /** The window functions q11 (rank) and q27 (rolling) do NOT cover, in
    * one partitioned pass: row_number / lag / lead / ntile /
    * percent_rank / cume_dist / first_value / last_value / nth_value /
    * framed sum. Ordering inside each supplier partition is the
    * globally-unique (l_orderkey, l_linenumber), so every function is
    * deterministic; percent_rank and cume_dist are exact rational
    * divisions of identical integer operands on both engines, and the
    * framed moving sum goes through DECIMAL. One shuffle on l_suppkey;
    * all ten functions share the single sort. */
  def q128WindowSuite(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"l_suppkey")
      .orderBy($"l_orderkey", $"l_linenumber")
    val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTail = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val wM3 = w.rowsBetween(-2, 0)
    Tables(s, dir, "lineitem")
      .where($"l_suppkey" < 10)
      .select($"l_suppkey", $"l_orderkey", $"l_linenumber",
        row_number().over(w).as("rn"),
        lag($"l_quantity", 1).over(w).as("lag_qty"),
        lead($"l_quantity", 1).over(w).as("lead_qty"),
        ntile(4).over(w).as("nt"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"),
        first($"l_quantity").over(wCum).as("first_q"),
        last($"l_quantity").over(wTail).as("last_q"),
        nth_value($"l_quantity", 2).over(wCum).as("nth2"),
        sum($"l_quantity".cast(DecimalType(25, 4))).over(wM3)
          .cast(DoubleType).as("mavg3"))
      .orderBy($"l_suppkey", $"l_orderkey", $"l_linenumber")
  }

  val q128Sql: String =
    """SELECT l_suppkey, l_orderkey, l_linenumber,
      |  row_number() OVER w AS rn,
      |  lag(l_quantity, 1) OVER w AS lag_qty,
      |  lead(l_quantity, 1) OVER w AS lead_qty,
      |  ntile(4) OVER w AS nt,
      |  percent_rank() OVER w AS pr,
      |  cume_dist() OVER w AS cd,
      |  first_value(l_quantity) OVER (PARTITION BY l_suppkey
      |    ORDER BY l_orderkey, l_linenumber
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_q,
      |  last_value(l_quantity) OVER (PARTITION BY l_suppkey
      |    ORDER BY l_orderkey, l_linenumber
      |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS last_q,
      |  nth_value(l_quantity, 2) OVER (PARTITION BY l_suppkey
      |    ORDER BY l_orderkey, l_linenumber
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nth2,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(25,4))) OVER (
      |    PARTITION BY l_suppkey ORDER BY l_orderkey, l_linenumber
      |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS mavg3
      |FROM lineitem WHERE l_suppkey < 10
      |WINDOW w AS (PARTITION BY l_suppkey
      |  ORDER BY l_orderkey, l_linenumber)
      |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin

  // ---- q129: exact similarity join via prefix filtering -----------------

  /** EXACT word-set Jaccard self-join at threshold 0.7 WITHOUT an
    * all-pairs plan — the AllPairs/PPJoin prefix-filter pattern
    * (Bayardo et al., WWW'07; Xiao et al., WWW'08): order every
    * token set by ascending global document frequency (rare tokens
    * first), keep only the first |x| − ⌈θ·|x|⌉ + 1 tokens as the
    * PREFIX, and generate candidates by equi-joining on prefix tokens.
    * Soundness: J(x,y) ≥ θ forces |x∩y| ≥ ⌈θ·max(|x|,|y|)⌉, and two
    * sets overlapping that much under a common total order must share
    * a prefix token — so the equi-join provably misses NO qualifying
    * pair, which the all-pairs DuckDB oracle certifies value-for-value.
    * ⌈θn⌉ is computed in exact integer arithmetic ((7n+9) div 10) so
    * the soundness bound carries no floating-point rounding question
    * (a double ceil is only right while 0.7·n rounds the right way). Unlike q40/q42 (MinHash LSH: probabilistic recall,
    * containment-checked) this join is exact by construction.
    *
    * Scale shape: the corpus shuffles as (prefix_token, id) pairs —
    * O(0.3·Σ|x|) rows — then candidate pairs join back to the
    * token-set table by id; the executed plan is asserted free of
    * cartesian/nested-loop joins. Pruning power tracks corpus
    * redundancy (this synthetic corpus is near-replica-dense, so most
    * pairs genuinely qualify); on a real corpus the df-ascending
    * prefix is the difference between |candidates| and n². */
  def q129SimJoinPrefix(s: SparkSession, dir: String): DataFrame = {
    val toks = array_distinct(filter(
      split(lower($"text"), "[^a-z]+"), x => x =!= ""))
    val d = Tables(s, dir, "documents")
      .where($"doc_id" < 200)
      .select($"doc_id", toks.as("tok"))
      .where(size($"tok") > 0)
    val tf = d.select($"doc_id", explode($"tok").as("token"))
    val dfreq = tf.groupBy($"token").agg(count(lit(1)).as("df"))
    val ranked = tf.join(dfreq, "token")
      .groupBy($"doc_id")
      .agg(sort_array(collect_list(struct($"df", $"token"))).as("ts"))
      .select($"doc_id",
        transform($"ts", st => st.getField("token")).as("stok"))
    val prefLen = greatest(lit(1),
      size($"stok") - expr("(7 * size(stok) + 9) div 10") + lit(1))
    val pref = ranked
      .select($"doc_id", explode(slice($"stok", lit(1), prefLen))
        .as("ptok"))
    val cand = pref.as("a").join(pref.as("b"),
        $"a.ptok" === $"b.ptok" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("ia"), $"b.doc_id".as("ib"))
      .distinct()
    val sets = d
    val result = cand
      .join(sets.select($"doc_id".as("ia"), $"tok".as("ta")), "ia")
      .join(sets.select($"doc_id".as("ib"), $"tok".as("tb")), "ib")
      .select($"ia", $"ib",
        size(array_intersect($"ta", $"tb")).as("i"),
        size($"ta").as("na"), size($"tb").as("nb"))
      .withColumn("j", $"i".cast(DoubleType) /
        ($"na" + $"nb" - $"i").cast(DoubleType))
      .where($"j" >= 0.7)
      .select($"ia".as("id_a"), $"ib".as("id_b"),
        round($"j", 4).as("jaccard"))
      .orderBy($"id_a", $"id_b")
    val plan = result.queryExecution.executedPlan.toString()
    require(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"q129: similarity join fell back to an all-pairs plan:\n" +
        plan.take(600))
    result
  }

  val q129Sql: String =
    """WITH d AS (
      |  SELECT doc_id, list_distinct(list_filter(
      |    regexp_split_to_array(lower(text), '[^a-z]+'),
      |    x -> x <> '')) AS tok
      |  FROM documents WHERE doc_id < 200),
      |d2 AS (SELECT * FROM d WHERE len(tok) > 0),
      |p AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    len(list_filter(a.tok, x -> list_contains(b.tok, x))) AS i,
      |    len(a.tok) AS na, len(b.tok) AS nb
      |  FROM d2 a, d2 b WHERE a.doc_id < b.doc_id)
      |SELECT id_a, id_b,
      |  ROUND(CAST(i AS DOUBLE) / (na + nb - i), 4) AS jaccard
      |FROM p WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.7
      |ORDER BY id_a, id_b""".stripMargin

  // ---- q130: Z-order multi-dimensional layout ---------------------------

  /** Completes the at-rest layout story (bucketed q92, hive-partitioned
    * q119, 1-D range q127) with the MULTI-dimensional case: files
    * range-partitioned + sorted on the Morton key of
    * (l_partkey, l_suppkey) ([[ZOrder.mortonKey]]), so a conjunctive
    * box predicate on BOTH columns can skip files from footer min/max
    * stats alone — the zone-map model 1-D sorting only provides for
    * its one sort key. In-gate witnesses: (a) per-file [min,max] boxes
    * computed from the data must let the query box skip at least half
    * the files, and (b) the re-read scan carries the box predicate as
    * PushedFilters. The oracled VALUES are the box-filtered aggregate;
    * box bounds derive from max(key) by integer division so both
    * engines compute identical bounds at every SF. */
  def q130ZorderLayout(s: SparkSession, dir: String): DataFrame = {
    val src = Tables(s, dir, "lineitem")
      .select($"l_partkey", $"l_suppkey", $"l_returnflag", $"l_quantity")
    val mrow = src.agg(max($"l_partkey"), max($"l_suppkey")).head()
    val (mp, ms) = (mrow.getLong(0), mrow.getLong(1))
    val (loP, hiP, loS, hiS) = (mp / 10, mp / 5, ms / 10, ms / 5)
    val zkey = ZOrder.mortonKey(21, $"l_partkey", $"l_suppkey")
    val path = "/tmp/graft_formats/zorder_lineitem"
    src.repartitionByRange(16, zkey).sortWithinPartitions(zkey)
      .write.mode("overwrite").parquet(path)
    val back = s.read.parquet(path)
    val boxes = back.groupBy(input_file_name().as("f"))
      .agg(min($"l_partkey").as("p0"), max($"l_partkey").as("p1"),
        min($"l_suppkey").as("s0"), max($"l_suppkey").as("s1"))
      .collect()
    require(boxes.length > 1, "q130: expected multiple files")
    val touched = boxes.count { b =>
      !(b.getLong(2) < loP || b.getLong(1) > hiP ||
        b.getLong(4) < loS || b.getLong(3) > hiS)
    }
    require(touched * 2 <= boxes.length,
      s"q130: z-order skipping too weak — box touches $touched of " +
        s"${boxes.length} files")
    val filtered = back.where(
      $"l_partkey".between(loP, hiP) && $"l_suppkey".between(loS, hiS))
    val plan = filtered.queryExecution.executedPlan.toString()
    require(plan.contains("PushedFilters") &&
      plan.contains(s"GreaterThanOrEqual(l_partkey,$loP)"),
      s"q130: box predicate not pushed to the scan:\n${plan.take(600)}")
    filtered.groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"), dsum($"l_quantity").as("sum_qty"))
      .orderBy($"l_returnflag")
  }

  val q130Sql: String =
    """WITH m AS (
      |  SELECT max(l_partkey) // 10 AS lp, max(l_partkey) // 5 AS hp,
      |         max(l_suppkey) // 10 AS ls, max(l_suppkey) // 5 AS hs
      |  FROM lineitem)
      |SELECT l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE)
      |    AS sum_qty
      |FROM lineitem, m
      |WHERE l_partkey BETWEEN lp AND hp
      |  AND l_suppkey BETWEEN ls AND hs
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---- q131: streaming checkpoint recovery (exactly-once) ---------------

  /** The fault-tolerance contract every production stream relies on:
    * a file-source → parquet-file-sink stream is stopped mid-corpus
    * and RESTARTED from its checkpoint, and the sink must hold each
    * input row exactly once — no loss (offsets committed before
    * output would drop rows), no duplication (output committed before
    * offsets would replay). The staged corpus is split into two file
    * batches; run 1 sees only the first, then a second query with the
    * SAME checkpoint + sink processes the remainder. In-gate: run 1
    * must emit a strict subset (else "recovery" proved nothing), the
    * recovered total must equal the batch count, and event_ids must be
    * distinct. The oracled VALUES are the per-type aggregate over the
    * sink — identical to batch SQL over the original table iff
    * exactly-once held. The file sink's _spark_metadata commit log is
    * what makes the sink read transactional (orphan files from a torn
    * run are invisible); state here is the source's processed-file log,
    * so the same recovery works for any deterministic transform. */
  def q131StreamRecovery(parent: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val spark = StreamDrain.session(parent, emptyBatches = true)
    val base = Fs.scratchDir("recovery")
    val (stage, srcDir, sink, chk) =
      (s"$base/stage", s"$base/src", s"$base/sink", s"$base/chk")
    val ev = Tables(parent, dir, "events")
    val expected = ev.count()
    ev.repartition(4).write.parquet(stage)
    val parts = new java.io.File(stage).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    require(parts.length >= 2, s"q131: need >=2 staged files")
    new java.io.File(srcDir).mkdirs()
    def arrive(fs: Seq[java.io.File]): Unit = fs.foreach { f =>
      java.nio.file.Files.copy(f.toPath,
        java.nio.file.Path.of(srcDir, f.getName))
    }
    def runToCompletion(): Unit = {
      val q = spark.readStream
        .schema(graft.streaming.EventsStream.eventsSchema).parquet(srcDir)
        .select($"event_id", $"event_type", $"value")
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    arrive(parts.take(parts.length / 2))
    runToCompletion()
    val afterRun1 = spark.read.parquet(sink).count()
    arrive(parts.drop(parts.length / 2))
    runToCompletion()
    val out = spark.read.parquet(sink)
    val totalRows = out.count()
    val distinctIds = out.select($"event_id").distinct().count()
    val res = out.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
      .orderBy($"event_type").collect().toSeq
    Fs.rmTree(new java.io.File(base))
    require(afterRun1 > 0 && afterRun1 < expected,
      s"q131: run 1 emitted $afterRun1 of $expected rows — the restart " +
        "had nothing to recover")
    require(totalRows == expected,
      s"q131: exactly-once violated — sink has $totalRows rows, " +
        s"batch has $expected")
    require(distinctIds == expected,
      s"q131: duplicate event_ids in sink ($distinctIds distinct of " +
        s"$totalRows)")
    parent.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(res).asJava),
      StructType(Seq(StructField("event_type", StringType),
        StructField("n", LongType),
        StructField("sum_value", DoubleType))))
  }

  val q131Sql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(25,4))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---- q132: star-schema join (TPC-H Q3 shape) --------------------------

  /** The classic shipping-priority query (TPC-H Q3) on the star schema:
    * filtered customer segment × date-bounded orders × shipped-after
    * lineitems, revenue per order, top 20. The Spark-first plan: the
    * segment-filtered customer dim is explicitly `broadcast()` (no
    * shuffle of either fact input for that join), the orders join
    * shuffles on the natural key, and both date filters push into the
    * parquet scans. Revenue per row is the identical IEEE product on
    * both engines; the per-order sum goes through DECIMAL; top-20
    * selection is deterministic via the (revenue DESC, orderkey)
    * tie-break. */
  def q132StarJoin(s: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1998-06-01").cast(TimestampNTZType)
    val cust = Tables(s, dir, "customer")
      .where($"c_mktsegment" === "BUILDING")
      .select($"c_custkey")
    val ord = Tables(s, dir, "orders")
      .where($"o_orderdate" < cutoff)
      .select($"o_orderkey", $"o_custkey", $"o_orderdate",
        $"o_orderpriority")
    val li = Tables(s, dir, "lineitem")
      .where($"l_shipdate" > cutoff)
      .select($"l_orderkey", $"l_extendedprice", $"l_discount")
    val result = li
      .join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .groupBy($"l_orderkey", $"o_orderdate", $"o_orderpriority")
      .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount"))
        .as("revenue"))
      .orderBy($"revenue".desc, $"l_orderkey")
      .limit(20)
      .select($"l_orderkey", $"revenue", $"o_orderdate",
        $"o_orderpriority")
    val plan = result.queryExecution.executedPlan.toString()
    require(plan.contains("BroadcastHashJoin"),
      s"q132: customer dim not broadcast:\n${plan.take(600)}")
    result
  }

  val q132Sql: String =
    """SELECT l_orderkey,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |    AS DECIMAL(25,4))) AS DOUBLE) AS revenue,
      |  o_orderdate, o_orderpriority
      |FROM customer, orders, lineitem
      |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
      |  AND l_orderkey = o_orderkey
      |  AND o_orderdate < TIMESTAMP '1998-06-01'
      |  AND l_shipdate > TIMESTAMP '1998-06-01'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey LIMIT 20""".stripMargin

  // ---- q133: dynamic partition pruning --------------------------------

  /** Runtime partition pruning — the scan of a hive-partitioned fact
    * table is pruned by the RESULT of a dim-side filter the optimizer
    * cannot see statically (the filter is on `cat`, the fact is
    * partitioned by `flag`): Catalyst inserts a dynamicpruning
    * subquery that reuses the dim broadcast to skip fact partitions at
    * run time. q119 witnesses STATIC pruning (literal predicate); this
    * is the join-driven form every star-schema query at 100 TB leans
    * on. In-gate: the executed scan must carry a
    * dynamicpruningexpression PartitionFilter AND its numFiles metric
    * must show a strict subset of the relation's files was read.
    * `useStats=false` on the isolated session because local toy stats
    * make the benefit heuristic decline the insertion a cluster's
    * stats would accept. */
  def q133DynamicPruning(parent: SparkSession, dir: String): DataFrame = {
    val s = parent.newSession()
    s.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats",
      "false")
    val factPath = "/tmp/graft_formats/dpp_lineitem"
    val dimPath = "/tmp/graft_formats/dpp_dim"
    Tables(s, dir, "lineitem")
      .select($"l_orderkey", $"l_linenumber", $"l_quantity",
        $"l_returnflag")
      .write.mode("overwrite").partitionBy("l_returnflag")
      .parquet(factPath)
    import scala.jdk.CollectionConverters._
    s.createDataFrame(
      Seq(Row("R", "returned"), Row("A", "acknowledged"),
        Row("N", "none")).asJava,
      StructType(Seq(StructField("flag", StringType),
        StructField("cat", StringType))))
      .write.mode("overwrite").parquet(dimPath)
    val fact = s.read.parquet(factPath)
    val dim = s.read.parquet(dimPath).where($"cat" === "returned")
    val joined = fact.join(dim, fact("l_returnflag") === dim("flag"))
      .groupBy($"l_linenumber")
      .agg(count(lit(1)).as("n"), dsum($"l_quantity").as("sum_qty"))
      .orderBy($"l_linenumber")
    val qe = joined.queryExecution
    qe.toRdd.count()
    val factScan = planNodes(qe.executedPlan).collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.toString().contains("dynamicpruningexpression") => f
    }.getOrElse(
      sys.error("q133: no scan carries a dynamicpruning partition " +
        s"filter:\n${qe.executedPlan.toString().take(800)}"))
    val filesRead = factScan.metrics("numFiles").value
    val totalFiles = s.read.parquet(factPath).inputFiles.length
    require(filesRead > 0 && filesRead < totalFiles,
      s"q133: dynamic pruning read $filesRead of $totalFiles files — " +
        "no runtime skip happened")
    joined
  }

  val q133Sql: String =
    """SELECT l_linenumber, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE)
      |    AS sum_qty
      |FROM lineitem WHERE l_returnflag = 'R'
      |GROUP BY l_linenumber ORDER BY l_linenumber""".stripMargin

  // ---- q134: AQE skew-join handling -----------------------------------

  /** Runtime skew mitigation WITHOUT manual salting (the q99
    * alternative): half the fact rows share one synthetic hot key, the
    * dim is too big to broadcast (both broadcast thresholds off), and
    * AQE's OptimizeSkewedJoin must split the skewed shuffle partition
    * at mapper boundaries — the executed plan is REQUIRED to carry an
    * `AQEShuffleRead … skew=true`. Skew thresholds derive from the
    * actual data size so the witness holds at every SF without
    * creating thousands of split tasks at sf1.0; the upstream
    * repartition(16) guarantees multiple mapper chunks to split at
    * (a single-file input gives AQE nothing to cut). Values are
    * oracled: the synthetic key and weight are exact integer
    * expressions DuckDB replays, the revenue product is the identical
    * IEEE double, and the sum goes through DECIMAL. */
  def q134AqeSkewJoin(parent: SparkSession, dir: String): DataFrame = {
    val s = parent.newSession()
    val li0 = Tables(s, dir, "lineitem")
    val rows = li0.count()
    val hotBytes = rows / 2 * 16
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    s.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      math.max(4096L, hotBytes / 4).toString)
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
      math.max(2048L, hotBytes / 8).toString)
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "1.0")
    val fact = li0.repartition(16)
      .withColumn("k", when($"l_orderkey" % 2 === 0, 7L)
        .otherwise($"l_orderkey" % 1000L))
    val dim = s.range(0, 1000)
      .select($"id".as("k"), ($"id" * 2).as("w"))
    val result = fact.join(dim, "k")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        dsum($"l_quantity" * $"w").as("weighted_qty"))
      .orderBy($"l_returnflag")
    val qe = result.queryExecution
    qe.toRdd.count()
    val plan = qe.executedPlan.toString()
    require(plan.contains("skew=true"),
      s"q134: AQE did not mark the hot partition skewed:\n" +
        plan.take(800))
    result
  }

  val q134Sql: String =
    """SELECT l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity * (k * 2) AS DECIMAL(25,4)))
      |    AS DOUBLE) AS weighted_qty
      |FROM lineitem JOIN range(0, 1000) AS t(k)
      |  ON (CASE WHEN l_orderkey % 2 = 0 THEN 7
      |      ELSE l_orderkey % 1000 END) = k
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---- q135: incremental corpus ingestion (dedup vs a store) ----------

  /** The shape every continuously-crawled corpus takes: a NEW batch of
    * documents is deduplicated against the fingerprint store of
    * everything already ingested, WITHOUT touching historical text —
    * the store holds 8-byte xxhash64 fingerprints only. New-batch
    * survivors = anti-join against the store on fingerprint, then
    * keep-first (min doc_id) within the batch for content the batch
    * itself repeats. The DuckDB oracle picks survivors by raw CONTENT,
    * so a green row also witnesses fingerprint collision-freedom
    * (the q107/q113 discipline). Scale shape: the store shuffles as
    * 8-byte hashes, the incoming batch as (hash, id) pairs; text
    * never moves, and the anti-join + min-agg are both map-side
    * partial-friendly. */
  def q135IncrementalIngest(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val store = docs.where($"doc_id" < 250)
      .select(xxhash64($"text").as("fp")).distinct()
    val incoming = docs.where($"doc_id" >= 250)
    val keep = incoming.select($"doc_id", xxhash64($"text").as("fp"))
      .join(store, Seq("fp"), "left_anti")
      .groupBy($"fp").agg(min($"doc_id").as("doc_id"))
    keep.join(docs.select($"doc_id", $"lang", $"n_chars"), "doc_id")
      .select($"doc_id", $"lang", $"n_chars")
      .orderBy($"doc_id")
  }

  val q135Sql: String =
    """WITH store AS (
      |  SELECT DISTINCT text FROM documents WHERE doc_id < 250),
      |inc AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id >= 250),
      |unseen AS (
      |  SELECT i.* FROM inc i WHERE NOT EXISTS (
      |    SELECT 1 FROM store st WHERE st.text = i.text)),
      |keep AS (
      |  SELECT min(doc_id) AS doc_id FROM unseen GROUP BY text)
      |SELECT d.doc_id, d.lang, d.n_chars
      |FROM documents d JOIN keep USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // ---- q136: weighted deterministic sampling ---------------------------

  /** Quality-weighted subsampling ([[graft.operators.Sampling
    * .weightedBernoulli]]): every document is kept with probability
    * proportional to its weight — here n_chars / max(n_chars), the
    * deterministic stand-in for a quality or DSIR importance score —
    * via a per-row integer threshold (n_chars·8192) div max_n_chars
    * against the splitmix64 bucket of doc_id. Everything is exact
    * integer arithmetic, so the DuckDB oracle replays the ENTIRE
    * selection bit-for-bit (the q83 HUGEINT machinery): a green row
    * pins the hash, the per-row threshold, and the comparison as
    * engine-portable. One bounded max() scan, then a stateless
    * codegen'd filter — the corpus is never shuffled. */
  def q136WeightedSample(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    val docs = Tables(s, dir, "documents")
    val maxn = docs.agg(max($"n_chars")).head().getLong(0)
    val thr = expr(
      s"least(${Sampling.Buckets}, (n_chars * ${Sampling.Buckets}) " +
        s"div $maxn)")
    Sampling.weightedBernoulli(docs, $"doc_id", thr, 5L)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n"),
        sum($"n_chars").cast(LongType).as("chars_sum"),
        sum($"doc_id").cast(LongType).as("id_sum"))
      .orderBy($"lang")
  }

  val q136Sql: String =
    s"""WITH ${Queries5.bucketCtes("ws", 5L, "documents", "doc_id")},
       |m AS (SELECT max(n_chars) AS mn FROM documents),
       |kept AS (
       |  SELECT d.* FROM documents d JOIN wsb b ON d.doc_id = b.k, m
       |  WHERE b.bucket < LEAST(8192, (d.n_chars * 8192) // m.mn))
       |SELECT lang, COUNT(*) AS n,
       |  CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
       |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
       |FROM kept GROUP BY lang ORDER BY lang""".stripMargin

  // ---- q137: join-strategy control ------------------------------------

  /** Explicit join-strategy selection — the knob a 100 TB plan turns
    * when the optimizer's size estimates are wrong: the SAME join runs
    * under `broadcast`, `shuffle_hash`, and `merge` hints, the
    * executed plan is REQUIRED to honor each (BroadcastHashJoin /
    * ShuffledHashJoin / SortMergeJoin), and all three must produce
    * IDENTICAL values — which the DECIMAL sum convention makes exact
    * regardless of partial-agg order, so the check is bit-for-bit, not
    * approximate. One strategy's result is oracled; the others equal
    * it in-gate. */
  def q137JoinHints(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem").select($"l_suppkey", $"l_quantity")
    val sup = Tables(s, dir, "supplier")
      .select($"s_suppkey", $"s_nationkey")
    def run(hint: String, shape: String): DataFrame = {
      val j = li.join(sup.hint(hint), $"l_suppkey" === $"s_suppkey")
        .groupBy($"s_nationkey")
        .agg(count(lit(1)).as("n"), dsum($"l_quantity").as("qty_sum"))
        .orderBy($"s_nationkey")
      val plan = j.queryExecution.executedPlan.toString()
      require(plan.contains(shape),
        s"q137: hint '$hint' did not yield $shape:\n${plan.take(500)}")
      j
    }
    val bc = run("broadcast", "BroadcastHashJoin")
    val sh = run("shuffle_hash", "ShuffledHashJoin")
    val sm = run("merge", "SortMergeJoin")
    val (b, h, m) =
      (bc.collect().toSeq, sh.collect().toSeq, sm.collect().toSeq)
    require(b == h && h == m,
      s"q137: join strategies disagree — broadcast=$b shuffle_hash=$h " +
        s"merge=$m")
    sm
  }

  val q137Sql: String =
    """SELECT s_nationkey, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE)
      |    AS qty_sum
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin

  // ---- q138: file sizing + compaction ----------------------------------

  /** The small-file problem, both directions: `maxRecordsPerFile`
    * bounds file size at WRITE time (a 100 TB table written unsized
    * melts the namenode and the planner; written too-finely it drowns
    * in per-file overhead), and a compaction pass coalesces an
    * over-fragmented table down to a target file count without
    * touching values. In-gate: the sized write must produce exactly
    * ⌈n/per⌉ files, compaction must strictly reduce the count to the
    * target, and the oracled aggregate reads from the COMPACTED copy —
    * proving the maintenance pass preserved every row. */
  def q138FileSizing(s: SparkSession, dir: String): DataFrame = {
    val sized = "/tmp/graft_formats/sized_events"
    val compact = "/tmp/graft_formats/compact_events"
    val ev = Tables(s, dir, "events")
      .select($"event_id", $"event_type", $"value")
    val n = ev.count()
    // 1/8 of the table per file at any SF, so the sized write always
    // fragments (≥8 files) and the coalesce(2) pass always compacts
    val per = math.max(1L, n / 8)
    ev.repartition(1).sortWithinPartitions($"event_id")
      .write.option("maxRecordsPerFile", per)
      .mode("overwrite").parquet(sized)
    val files1 = s.read.parquet(sized).inputFiles.length
    val want = ((n + per - 1) / per).toInt
    require(files1 == want,
      s"q138: sized write produced $files1 files, expected $want " +
        s"(n=$n, per=$per)")
    s.read.parquet(sized).coalesce(2).write.mode("overwrite")
      .parquet(compact)
    val files2 = s.read.parquet(compact).inputFiles.length
    require(files2 == 2 && files2 < files1,
      s"q138: compaction produced $files2 files from $files1")
    s.read.parquet(compact)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"),
        sum($"event_id").cast(LongType).as("id_sum"))
      .orderBy($"event_type")
  }

  val q138Sql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(25,4))) AS DOUBLE)
      |    AS sum_value,
      |  CAST(SUM(event_id) AS BIGINT) AS id_sum
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---- q139: SQL-text API surface --------------------------------------

  /** The `spark.sql(...)` user path: tables registered as temp views
    * and queried with SQL TEXT (not the DataFrame DSL) — a join, a
    * window, and an aggregate in one statement, planned by the same
    * Catalyst pipeline as every DSL gate. Proves the library's surface
    * is reachable from the SQL front end a BI tool or notebook user
    * would hit; the oracle is the same statement's DuckDB reading. */
  def q139SqlApi(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "orders").createOrReplaceTempView("orders_v")
    Tables(s, dir, "customer").createOrReplaceTempView("customer_v")
    s.sql("""
      SELECT c_mktsegment,
        COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(25,4))) AS DOUBLE)
          AS price_sum,
        MAX(rk) AS max_rank
      FROM (
        SELECT o.o_totalprice, c.c_mktsegment,
          RANK() OVER (PARTITION BY c.c_mktsegment
            ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rk
        FROM orders_v o JOIN customer_v c ON o.o_custkey = c.c_custkey)
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment""")
  }

  val q139Sql: String =
    """SELECT c_mktsegment, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(25,4))) AS DOUBLE)
      |    AS price_sum,
      |  MAX(rk) AS max_rank
      |FROM (
      |  SELECT o.o_totalprice, c.c_mktsegment,
      |    RANK() OVER (PARTITION BY c.c_mktsegment
      |      ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rk
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey) t
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  // ---- q140: schema evolution (mergeSchema read) -----------------------

  /** Long-lived tables EVOLVE: a v2 writer adds a column while
    * petabytes of v1 files stay on disk. Batch A is written with the
    * 3-column v1 schema, batch B appended with v2's extra column, and
    * a `mergeSchema` read must present the union — v1 rows surface the
    * new column as null (never a default, never an error). The oracle
    * recomputes the same population from the source table, so the
    * merged read is value-certified, not just shape-checked. At scale
    * mergeSchema's footer union is a planning-time cost (or a
    * metastore schema); the data files are never rewritten. */
  def q140SchemaMerge(s: SparkSession, dir: String): DataFrame = {
    val path = "/tmp/graft_formats/evolving_orders"
    val o = Tables(s, dir, "orders")
    o.where($"o_orderkey" % 2 === 0)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      .write.mode("overwrite").parquet(path)
    o.where($"o_orderkey" % 2 =!= 0)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice",
        $"o_orderpriority")
      .write.mode("append").parquet(path)
    val merged = s.read.option("mergeSchema", "true").parquet(path)
    require(merged.columns.toSet == Set("o_orderkey", "o_custkey",
      "o_totalprice", "o_orderpriority"),
      s"q140: merged schema wrong: ${merged.columns.toSeq}")
    merged
      .groupBy(coalesce($"o_orderpriority", lit("<v1>"))
        .as("priority"))
      .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("price_sum"))
      .orderBy($"priority")
  }

  val q140Sql: String =
    """SELECT CASE WHEN o_orderkey % 2 = 0 THEN '<v1>'
      |  ELSE o_orderpriority END AS priority,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(25,4))) AS DOUBLE)
      |    AS price_sum
      |FROM orders GROUP BY 1 ORDER BY priority""".stripMargin

  // ---- q141: time-series resample with gap fill ------------------------

  /** Downsample the event stream to fixed 15-minute bins INCLUDING the
    * empty ones — the resample-then-gap-fill shape every monitoring /
    * feature-engineering pipeline needs (a missing bin is a zero, not
    * an absent row). Bin ids are exact integer division of the long-ns
    * ts; the dense bin axis comes from `spark.range(lo, hi+1)` (a
    * generated relation, not a scan) left-joined to the aggregate.
    * In-gate: the output must be exactly the dense axis — one row per
    * bin in [lo, hi]. Scale shape: the aggregate is the usual partial/
    * final pair; the axis relation is bins-sized, not rows-sized, and
    * broadcasts. */
  def q141ResampleGapfill(s: SparkSession, dir: String): DataFrame = {
    val binNs = 900L * 1000000000L // 15 min
    val agg = Tables(s, dir, "events")
      .select(expr(s"ts div $binNs").as("bin"), $"value")
      .groupBy($"bin")
      .agg(count(lit(1)).as("n0"), dsum($"value").as("s0"))
    val mrow = agg.agg(min($"bin"), max($"bin")).head()
    val (lo, hi) = (mrow.getLong(0), mrow.getLong(1))
    require(hi > lo, s"q141: degenerate bin axis [$lo,$hi]")
    val out = s.range(lo, hi + 1).select($"id".as("bin"))
      .join(agg, Seq("bin"), "left")
      .select($"bin", coalesce($"n0", lit(0L)).as("n"),
        coalesce($"s0", lit(0.0)).as("sum_value"))
      .orderBy($"bin")
    out
  }

  val q141Sql: String =
    """WITH b AS (
      |  SELECT (epoch_us(ts) * 1000) // 900000000000 AS bin, value
      |  FROM events),
      |a AS (
      |  SELECT bin, COUNT(*) AS n0,
      |    CAST(SUM(CAST(value AS DECIMAL(25,4))) AS DOUBLE) AS s0
      |  FROM b GROUP BY bin),
      |r AS (
      |  SELECT UNNEST(generate_series(
      |    (SELECT min(bin) FROM a), (SELECT max(bin) FROM a))) AS bin)
      |SELECT r.bin, COALESCE(a.n0, 0) AS n,
      |  COALESCE(a.s0, 0.0) AS sum_value
      |FROM r LEFT JOIN a USING (bin) ORDER BY bin""".stripMargin

  // ---- q142: cache reuse ------------------------------------------------

  /** Explicit dataset caching — the hot-dim / iterative-read pattern: a
    * filtered projection is persisted, materialized once, and TWO
    * downstream aggregates consume it; the second one's executed plan
    * is REQUIRED to read `InMemoryTableScan` (the cache, not the
    * parquet). At 100 TB you cache the filtered 100 GB working set,
    * never the raw table — the gate caches the filter+projection
    * result for exactly that reason. Unpersisted before returning so
    * repeated bench loops don't accumulate executors-full of old
    * cache entries. */
  def q142CacheReuse(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir, "lineitem")
      .where($"l_quantity" > 10)
      .select($"l_returnflag", $"l_quantity", $"l_extendedprice")
      .persist()
    try {
      val qty = base.groupBy($"l_returnflag")
        .agg(dsum($"l_quantity").as("qty_sum"))
      qty.count() // materialize the cache
      val price = base.groupBy($"l_returnflag")
        .agg(dsum($"l_extendedprice").as("price_sum"))
      val plan = price.queryExecution.executedPlan.toString()
      require(plan.contains("InMemoryTableScan"),
        s"q142: second read did not hit the cache:\n${plan.take(500)}")
      qty.join(price, "l_returnflag")
        .select($"l_returnflag", $"qty_sum", $"price_sum")
        .orderBy($"l_returnflag")
        // force the join NOW while the cache is live; the returned
        // frame is re-evaluated later (post-unpersist), where it
        // recomputes from parquet with identical values
        .localCheckpoint()
    } finally base.unpersist()
  }

  val q142Sql: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE)
      |    AS qty_sum,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,4))) AS DOUBLE)
      |    AS price_sum
      |FROM lineitem WHERE l_quantity > 10
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---- q143: outer-join matrix ------------------------------------------

  /** The outer-join truth table in one result: two deliberately
    * part-overlapping populations (orders of every 3rd customer vs
    * customers outside one residue class) FULL-OUTER joined, with
    * null-side indicators and null-tolerant aggregates — the join-type
    * semantics (left-only, right-only, matched) every engine must
    * agree on exactly. Complements the inner/semi/anti forms gates
    * q03/q115/q135 exercise. */
  def q143OuterJoin(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
      .where($"o_custkey" % 3 === 0)
      .groupBy($"o_custkey".as("k"))
      .agg(count(lit(1)).as("n_orders"))
    val c = Tables(s, dir, "customer")
      .where($"c_custkey" % 3 =!= 1)
      .select($"c_custkey".as("k"), $"c_nationkey")
    o.join(c, Seq("k"), "full_outer")
      .select($"k",
        $"n_orders".isNotNull.as("has_orders"),
        $"c_nationkey".isNotNull.as("has_customer"),
        coalesce($"n_orders", lit(0L)).as("n_orders"),
        coalesce($"c_nationkey".cast(LongType), lit(-1L))
          .as("nationkey"))
      .orderBy($"k")
  }

  val q143Sql: String =
    """WITH o AS (
      |  SELECT o_custkey AS k, COUNT(*) AS n_orders FROM orders
      |  WHERE o_custkey % 3 = 0 GROUP BY o_custkey),
      |c AS (
      |  SELECT c_custkey AS k, c_nationkey FROM customer
      |  WHERE c_custkey % 3 <> 1)
      |SELECT COALESCE(o.k, c.k) AS k,
      |  o.n_orders IS NOT NULL AS has_orders,
      |  c.c_nationkey IS NOT NULL AS has_customer,
      |  COALESCE(o.n_orders, 0) AS n_orders,
      |  CAST(COALESCE(c.c_nationkey, -1) AS BIGINT) AS nationkey
      |FROM o FULL OUTER JOIN c ON o.k = c.k
      |ORDER BY k""".stripMargin

  // ---- q144: explode forms (posexplode_outer) ---------------------------

  /** Generator semantics at the edge: `posexplode_outer` over an array
    * that is EMPTY for many rows must emit one (null pos, null value)
    * row per empty input instead of dropping the document — the
    * difference between explode and explode_outer is exactly the rows
    * a naive pipeline silently loses. The array here is each doc's
    * long words (> 7 letters), empty for short-worded docs; the oracle
    * replays the outer semantics with list_extract over a 1-based
    * index axis (empty list → index 0 probe → NULL row). */
  def q144ExplodeForms(s: SparkSession, dir: String): DataFrame = {
    val words = filter(
      split(lower($"text"), "[^a-z]+"), w => length(w) > 7)
    Tables(s, dir, "documents")
      .where($"doc_id" < 100)
      .select($"doc_id", words.as("arr"))
      .select($"doc_id", posexplode_outer($"arr"))
      .select($"doc_id", $"pos".cast(LongType).as("pos"),
        $"col".as("w"))
      .orderBy($"doc_id", $"pos")
  }

  val q144Sql: String =
    """WITH d AS (
      |  SELECT doc_id, list_filter(
      |    regexp_split_to_array(lower(text), '[^a-z]+'),
      |    w -> length(w) > 7) AS arr
      |  FROM documents WHERE doc_id < 100),
      |x AS (
      |  SELECT doc_id, arr,
      |    UNNEST(range(greatest(len(arr), 1))) AS i
      |  FROM d)
      |SELECT doc_id,
      |  CASE WHEN len(arr) = 0 THEN NULL ELSE i END AS pos,
      |  list_extract(arr, CAST(i + 1 AS INT)) AS w
      |FROM x ORDER BY doc_id, pos""".stripMargin

  // ---- q145: foreachBatch idempotent custom sink -----------------------

  /** The exactly-once recipe for sinks WITHOUT a commit log (q131's
    * file sink has one; a JDBC table, a KV store, or a plain directory
    * does not): `foreachBatch` hands the micro-batch AND its batchId
    * to user code, and idempotence comes from keying the write on the
    * batchId — here one overwritten directory per batch, so a replayed
    * batch rewrites its own output instead of duplicating it. Same
    * stop/restart protocol as q131: run 1 sees half the staged corpus,
    * a second query on the SAME checkpoint processes the remainder
    * (batchIds continue across the restart), and the batch-partitioned
    * sink must hold each row exactly once. */
  def q145ForeachBatch(parent: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val spark = StreamDrain.session(parent, emptyBatches = true)
    val base = Fs.scratchDir("fb")
    val (stage, srcDir, sink, chk) =
      (s"$base/stage", s"$base/src", s"$base/sink", s"$base/chk")
    val ev = Tables(parent, dir, "events")
    val expected = ev.count()
    ev.repartition(4).write.parquet(stage)
    val parts = new java.io.File(stage).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    require(parts.length >= 2, "q145: need >=2 staged files")
    new java.io.File(srcDir).mkdirs()
    def arrive(fs: Seq[java.io.File]): Unit = fs.foreach { f =>
      java.nio.file.Files.copy(f.toPath,
        java.nio.file.Path.of(srcDir, f.getName))
    }
    def runToCompletion(): Unit = {
      val q = spark.readStream
        .schema(graft.streaming.EventsStream.eventsSchema).parquet(srcDir)
        .select($"event_id", $"event_type", $"value")
        .writeStream
        .foreachBatch { (df: DataFrame, batchId: Long) =>
          df.write.mode("overwrite").parquet(s"$sink/batch=$batchId")
          ()
        }
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    arrive(parts.take(parts.length / 2))
    runToCompletion()
    val afterRun1 = spark.read.parquet(sink).count()
    arrive(parts.drop(parts.length / 2))
    runToCompletion()
    val out = spark.read.parquet(sink)
    val totalRows = out.count()
    val distinctIds = out.select($"event_id").distinct().count()
    val nBatches = out.select($"batch").distinct().count()
    val res = out.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
      .orderBy($"event_type").collect().toSeq
    Fs.rmTree(new java.io.File(base))
    require(afterRun1 > 0 && afterRun1 < expected,
      s"q145: run 1 emitted $afterRun1 of $expected — nothing to " +
        "recover")
    require(nBatches >= 2,
      s"q145: expected batches from both runs, got $nBatches")
    require(totalRows == expected && distinctIds == expected,
      s"q145: exactly-once violated — $totalRows rows / $distinctIds " +
        s"distinct ids vs $expected")
    parent.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(res).asJava),
      StructType(Seq(StructField("event_type", StringType),
        StructField("n", LongType),
        StructField("sum_value", DoubleType))))
  }

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q128_window_suite" -> (q128WindowSuite _),
    "q129_simjoin_prefix" -> (q129SimJoinPrefix _),
    "q130_zorder_layout" -> (q130ZorderLayout _),
    "q131_stream_recovery" -> (q131StreamRecovery _),
    "q132_star_join" -> (q132StarJoin _),
    "q133_dynamic_pruning" -> (q133DynamicPruning _),
    "q134_aqe_skew_join" -> (q134AqeSkewJoin _),
    "q135_incremental_ingest" -> (q135IncrementalIngest _),
    "q136_weighted_sample" -> (q136WeightedSample _),
    "q137_join_hints" -> (q137JoinHints _),
    "q138_file_sizing" -> (q138FileSizing _),
    "q139_sql_api" -> (q139SqlApi _),
    "q140_schema_merge" -> (q140SchemaMerge _),
    "q141_resample_gapfill" -> (q141ResampleGapfill _),
    "q142_cache_reuse" -> (q142CacheReuse _),
    "q143_outer_join" -> (q143OuterJoin _),
    "q144_explode_forms" -> (q144ExplodeForms _),
    "q145_foreach_batch" -> (q145ForeachBatch _)
  )

  val oracles: Map[String, String] = Map(
    "q128_window_suite" -> q128Sql,
    "q129_simjoin_prefix" -> q129Sql,
    "q130_zorder_layout" -> q130Sql,
    "q131_stream_recovery" -> q131Sql,
    "q132_star_join" -> q132Sql,
    "q133_dynamic_pruning" -> q133Sql,
    "q134_aqe_skew_join" -> q134Sql,
    "q135_incremental_ingest" -> q135Sql,
    "q136_weighted_sample" -> q136Sql,
    "q137_join_hints" -> q137Sql,
    "q138_file_sizing" -> q138Sql,
    "q139_sql_api" -> q139Sql,
    "q140_schema_merge" -> q140Sql,
    "q141_resample_gapfill" -> q141Sql,
    "q142_cache_reuse" -> q142Sql,
    "q143_outer_join" -> q143Sql,
    "q144_explode_forms" -> q144Sql,
    // q145 intentionally shares q131's oracle: same per-type aggregate
    // contract, different sink mechanism under test
    "q145_foreach_batch" -> q131Sql
  )
}
