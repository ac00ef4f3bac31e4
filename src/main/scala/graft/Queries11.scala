package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Functional
import graft.operators.GroupTopK
import graft.streaming.StreamDrain

/** Round-12 gates past q150: inverted-index construction with bounded
  * posting lists (q151), an exact edit-distance-1 similarity join via
  * FastSS deletion neighborhoods (q152), the date/time function battery
  * (q153), percentile winsorization (q154), rate-limited AvailableNow
  * streaming backfill (q155), per-group z-score standardization (q156),
  * and exact equi-width histograms (q157). Naming/oracle/float
  * conventions as in [[Queries]].
  */
object Queries11 {

  // ---- q151: inverted index with bounded posting lists ------------------

  /** Term → (document frequency, first-k postings) — the retrieval
    * index build that feeds q146's BM25 at scale. The corpus explodes
    * to distinct (term, doc_id) pairs once; df is a plain count, and
    * the posting list is [[GroupTopK.minKByKey]] — the partial-merging
    * bounded k-heap aggregator, so only k·|terms| rows shuffle for the
    * lists and NO WindowExec appears anywhere (asserted). A full
    * production index keeps all postings doc_id-sorted per term via
    * repartitionByRange(term) + sortWithinPartitions — the bounded
    * variant here is the skew-safe head every query path touches
    * first. */
  def q151InvertedIndex(s: SparkSession, dir: String): DataFrame = {
    val td = Tables(s, dir, "documents")
      .select($"doc_id",
        explode(array_distinct(split(trim($"text"), "\\s+"))).as("term"))
    val stats = td.groupBy($"term").agg(count(lit(1)).as("df"))
    val posts = GroupTopK.minKByKey(td, Seq("term"), "doc_id",
        $"doc_id", 8)
      .groupBy($"term")
      .agg(sort_array(collect_list(struct($"rank", $"id"))).as("ps"))
      // array_join to a flat string: the driver's hasher handles only
      // scalar columns (round-12 q151 ERRORED on the raw array), and
      // the joined form carries the same information
      .select($"term",
        array_join(
          transform($"ps", p => p.getField("id").cast(StringType)),
          " ").as("postings"))
    val result = stats.join(posts, "term").orderBy($"term")
    val plan = result.queryExecution.executedPlan.toString()
    require(!plan.contains("WindowExec"),
      s"q151: posting lists fell back to a window sort:\n${plan.take(600)}")
    result
  }

  val q151Sql: String =
    """WITH td AS (
      |  SELECT DISTINCT doc_id, term FROM (
      |    SELECT doc_id,
      |      unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      |    FROM documents))
      |SELECT term, count(*) AS df,
      |  array_to_string((list(doc_id ORDER BY doc_id))[1:8], ' ')
      |    AS postings
      |FROM td GROUP BY term ORDER BY term""".stripMargin

  // ---- q152: edit-distance-1 similarity join (FastSS) -------------------

  /** Exact Levenshtein-distance-≤1 self-join over distinct-ified part
    * names plus planted single-character deletions — short-text fuzzy
    * dedup (product names, titles, queries). Candidates come from
    * [[Functional.editNeighborhood1]]: |s|+1 deletion keys per string,
    * equi-joined — provably complete for ed≤1 (see the kernel's proof
    * sketch), verified by the exact levenshtein on candidates only,
    * no cross product in the plan (asserted). The corpus shuffles as
    * (key, id) pairs — ~|s| per string — and the verify join touches
    * candidate pairs only; at 100 TB this is the same inverted-pair
    * shape as q129/q147. The oracle replays the same mutation and an
    * UNPRUNED all-pairs levenshtein — green certifies completeness. */
  def q152EditJoin(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir, "part").where($"p_partkey" < 300)
      .select($"p_partkey".as("id"),
        concat($"p_name", lit(" #"), $"p_partkey".cast(StringType))
          .as("s"))
    // single-character deletion at position len div 2 (1-based), the
    // same integer arithmetic the oracle replays
    val mut = base.select(($"id" + 1000000L).as("id"),
      concat(
        expr("substr(s, 1, CAST(length(s) div 2 AS INT) - 1)"),
        expr("substr(s, CAST(length(s) div 2 AS INT) + 1)")).as("s"))
    val all = base.unionByName(mut)
    val keys = all.select($"id",
      explode(Functional.editNeighborhood1($"s")).as("k"))
    val cand = keys.as("a").join(keys.as("b"),
        $"a.k" === $"b.k" && $"a.id" < $"b.id")
      .select($"a.id".as("id_a"), $"b.id".as("id_b")).distinct()
    val result = cand
      .join(all.select($"id".as("id_a"), $"s".as("sa")), Seq("id_a"))
      .join(all.select($"id".as("id_b"), $"s".as("sb")), Seq("id_b"))
      .select($"id_a", $"id_b", levenshtein($"sa", $"sb").as("dist"))
      .where($"dist" <= 1)
      .orderBy($"id_a", $"id_b")
    val plan = result.queryExecution.executedPlan.toString()
    require(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"q152: edit join fell back to an all-pairs plan:\n${plan.take(600)}")
    result
  }

  val q152Sql: String =
    """WITH base AS (
      |  SELECT p_partkey AS id,
      |    p_name || ' #' || CAST(p_partkey AS VARCHAR) AS s
      |  FROM part WHERE p_partkey < 300),
      |mut AS (
      |  SELECT id + 1000000 AS id,
      |    substr(s, 1, CAST(len(s) // 2 AS INT) - 1) ||
      |    substr(s, CAST(len(s) // 2 AS INT) + 1) AS s
      |  FROM base),
      |a AS (SELECT * FROM base UNION ALL SELECT * FROM mut)
      |SELECT a.id AS id_a, b.id AS id_b,
      |  levenshtein(a.s, b.s) AS dist
      |FROM a, a b
      |WHERE a.id < b.id AND levenshtein(a.s, b.s) <= 1
      |ORDER BY id_a, id_b""".stripMargin

  // ---- q153: date/time function battery ---------------------------------

  /** The date-dimension battery over order timestamps: extract fields
    * (year/quarter/month/day, ISO weekday, day-of-year), truncations
    * (week/month starts), calendar arithmetic (last_day, add_months
    * with month-end clamping, day diffs from an epoch). All pure
    * row-local integer/date expressions — codegen'd, no shuffle; both
    * engines implement the same proleptic Gregorian calendar so every
    * value is exact. Spark's weekday() is 0=Monday; +1 = ISO dow. */
  def q153DateBattery(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders").where($"o_orderkey" < 3000)
      .select($"o_orderkey", $"o_orderdate".cast(DateType).as("d"))
      .select($"o_orderkey",
        year($"d").as("yr"), quarter($"d").as("qtr"),
        month($"d").as("mon"), dayofmonth($"d").as("dom"),
        (weekday($"d") + 1).as("isodow"),
        dayofyear($"d").as("doy"),
        date_trunc("week", $"d").cast(DateType).as("wk_start"),
        last_day($"d").as("last_dom"),
        add_months($"d", 2).as("plus2mo"),
        datediff($"d", lit(java.sql.Date.valueOf("1995-01-01")))
          .as("days_since"))
      .orderBy($"o_orderkey")

  val q153Sql: String =
    """SELECT o_orderkey,
      |  CAST(year(o_orderdate) AS INT) AS yr,
      |  CAST(quarter(o_orderdate) AS INT) AS qtr,
      |  CAST(month(o_orderdate) AS INT) AS mon,
      |  CAST(day(o_orderdate) AS INT) AS dom,
      |  CAST(isodow(o_orderdate) AS INT) AS isodow,
      |  CAST(dayofyear(o_orderdate) AS INT) AS doy,
      |  CAST(date_trunc('week', o_orderdate) AS DATE) AS wk_start,
      |  last_day(CAST(o_orderdate AS DATE)) AS last_dom,
      |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE)
      |    AS plus2mo,
      |  CAST(datediff('day', DATE '1995-01-01',
      |    CAST(o_orderdate AS DATE)) AS INT) AS days_since
      |FROM orders WHERE o_orderkey < 3000
      |ORDER BY o_orderkey""".stripMargin

  // ---- q154: percentile winsorization -----------------------------------

  /** Winsorized (clipped) per-group means: exact p05/p95 per return
    * flag (the q28 exact-percentile surface, rounded to 4 dp — the
    * established cross-engine percentile contract), values clipped to
    * the band, then the DECIMAL-mediated mean. The outlier treatment
    * every feature pipeline applies before normalization. Percentile
    * table is group-count-sized → broadcast join back onto the scan;
    * two passes total, the clip itself codegen'd. Clipped values are
    * exact 4-dp decimals (prices are 2-dp, bounds 4-dp) so the sum is
    * exact in DECIMAL(25,4) in both engines. */
  def q154Winsorize(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
    // ONE percentile() call for both borders — separate calls each
    // build their own per-group value buffer (the q122/q160 lesson)
    val bands = li.groupBy($"l_returnflag")
      .agg(percentile($"l_extendedprice", array(lit(0.05), lit(0.95)))
        .as("ps"))
      .select($"l_returnflag",
        round(element_at($"ps", 1), 4).as("p05"),
        round(element_at($"ps", 2), 4).as("p95"))
    val clip = when($"l_extendedprice" < $"p05", $"p05")
      .when($"l_extendedprice" > $"p95", $"p95")
      .otherwise($"l_extendedprice")
    li.join(broadcast(bands), "l_returnflag")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(when($"l_extendedprice" < $"p05" ||
          $"l_extendedprice" > $"p95", 1L).otherwise(0L))
          .as("n_clipped"),
        (dsum(clip) / count(lit(1))).as("mean_wins"))
      .orderBy($"l_returnflag")
  }

  val q154Sql: String =
    """WITH p AS (
      |  SELECT l_returnflag,
      |    round(quantile_cont(l_extendedprice, 0.05), 4) AS p05,
      |    round(quantile_cont(l_extendedprice, 0.95), 4) AS p95
      |  FROM lineitem GROUP BY 1)
      |SELECT l.l_returnflag, count(*) AS n,
      |  CAST(sum(CASE WHEN l_extendedprice < p05 OR l_extendedprice > p95
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
      |  CAST(sum(CAST(CASE WHEN l_extendedprice < p05 THEN p05
      |                     WHEN l_extendedprice > p95 THEN p95
      |                     ELSE l_extendedprice END
      |    AS DECIMAL(25,4))) AS DOUBLE) / count(*) AS mean_wins
      |FROM lineitem l JOIN p USING (l_returnflag)
      |GROUP BY l.l_returnflag ORDER BY l.l_returnflag""".stripMargin

  // ---- q155: rate-limited AvailableNow backfill -------------------------

  /** Bounded-batch streaming backfill: a multi-file corpus processed by
    * ONE `Trigger.AvailableNow` run under `maxFilesPerTrigger` — the
    * production pattern for draining a large directory without melting
    * the cluster (each micro-batch is a bounded unit of work with its
    * own commit, so a mid-backfill failure resumes from the file log,
    * and downstream state/watermarks advance incrementally). q131
    * proves the stop/restart story; THIS gate proves the rate limit:
    * the run must split into ≥3 micro-batches (asserted from query
    * progress), and the drained sink must equal the batch aggregate
    * (the shared q131 oracle). */
  def q155BackfillAvailableNow(parent: SparkSession, dir: String)
      : DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val spark = StreamDrain.session(parent, emptyBatches = true)
    val base = Fs.scratchDir("backfill")
    val (srcDir, sink, chk) = (s"$base/src", s"$base/sink", s"$base/chk")
    val ev = Tables(parent, dir, "events")
    val expected = ev.count()
    ev.repartition(8).write.parquet(srcDir)
    val q = spark.readStream
      .schema(graft.streaming.EventsStream.eventsSchema)
      .option("maxFilesPerTrigger", 2)
      .parquet(srcDir)
      .select($"event_id", $"event_type", $"value")
      .writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", chk)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val nBatches = q.recentProgress.count(_.numInputRows > 0)
    val out = spark.read.parquet(sink)
    val totalRows = out.count()
    val res = out.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
      .orderBy($"event_type").collect().toSeq
    Fs.rmTree(new java.io.File(base))
    require(nBatches >= 3,
      s"q155: rate limit ignored — backfill ran in $nBatches batches")
    require(totalRows == expected,
      s"q155: drained $totalRows rows, batch has $expected")
    parent.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(res).asJava),
      StructType(Seq(StructField("event_type", StringType),
        StructField("n", LongType),
        StructField("sum_value", DoubleType))))
  }

  // ---- q156: per-group z-score standardization --------------------------

  /** Z-score standardization WITHIN groups (the per-group form of q18's
    * global scale_to_z_score — how features are normalized per
    * category/domain). Group stats are a 5-row aggregate broadcast
    * back onto the scan; mean and population stddev round to 6 dp (the
    * q18 cross-engine contract — absorbs partial-aggregation order
    * noise), and the z expression is the identical IEEE divide both
    * engines evaluate. */
  def q156GroupZscore(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
    val st = o.groupBy($"o_orderpriority").agg(
      round(avg($"o_totalprice"), 6).as("mu"),
      round(stddev_pop($"o_totalprice"), 6).as("sigma"))
    o.where($"o_orderkey" < 1000)
      .join(broadcast(st), "o_orderpriority")
      .select($"o_orderkey", $"o_orderpriority",
        (($"o_totalprice" - $"mu") / $"sigma").as("z"))
      .orderBy($"o_orderkey")
  }

  val q156Sql: String =
    """WITH st AS (
      |  SELECT o_orderpriority, round(avg(o_totalprice), 6) AS mu,
      |    round(stddev_pop(o_totalprice), 6) AS sigma
      |  FROM orders GROUP BY 1)
      |SELECT o_orderkey, o.o_orderpriority,
      |  (o_totalprice - mu) / sigma AS z
      |FROM orders o JOIN st USING (o_orderpriority)
      |WHERE o_orderkey < 1000
      |ORDER BY o_orderkey""".stripMargin

  // ---- q157: exact equi-width histogram ---------------------------------

  /** Equi-width histogram with data-derived bounds: min/max collect
    * (2 numbers), then bucket = ((v − min) · nb) div (max − min + 1) —
    * pure integer arithmetic, so bucket edges are engine-exact at any
    * SF. One pre-aggregated shuffle of ≤ nb rows; the per-bucket
    * min/max double as the observed bucket edges. */
  def q157Histogram(s: SparkSession, dir: String): DataFrame = {
    val q = Tables(s, dir, "lineitem")
      .select($"l_quantity".cast(LongType).as("v"))
    val m = q.agg(min($"v"), max($"v")).head()
    val (mn, mx) = (m.getLong(0), m.getLong(1))
    q.groupBy(expr(s"((v - $mn) * 8) div ${mx - mn + 1}").as("bucket"))
      .agg(count(lit(1)).as("n"), min($"v").as("lo"), max($"v").as("hi"))
      .orderBy($"bucket")
  }

  val q157Sql: String =
    """WITH q AS (SELECT CAST(l_quantity AS BIGINT) AS v FROM lineitem),
      |m AS (SELECT min(v) AS mn, max(v) AS mx FROM q)
      |SELECT ((v - mn) * 8) // (mx - mn + 1) AS bucket,
      |  count(*) AS n, min(v) AS lo, max(v) AS hi
      |FROM q, m GROUP BY 1 ORDER BY 1""".stripMargin

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q151_inverted_index" -> (q151InvertedIndex _),
    "q152_edit_join" -> (q152EditJoin _),
    "q153_date_battery" -> (q153DateBattery _),
    "q154_winsorize" -> (q154Winsorize _),
    "q155_backfill" -> (q155BackfillAvailableNow _),
    "q156_group_zscore" -> (q156GroupZscore _),
    "q157_histogram" -> (q157Histogram _)
  )

  val oracles: Map[String, String] = Map(
    "q151_inverted_index" -> q151Sql,
    "q152_edit_join" -> q152Sql,
    "q153_date_battery" -> q153Sql,
    "q154_winsorize" -> q154Sql,
    // q155 intentionally shares q131's oracle: same drained-aggregate
    // contract, different mechanism under test (rate-limited backfill)
    "q155_backfill" -> Queries9.q131Sql,
    "q156_group_zscore" -> q156Sql,
    "q157_histogram" -> q157Sql
  )
}
