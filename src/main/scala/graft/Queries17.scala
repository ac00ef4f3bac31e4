package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-12 session gates past q183: map-column higher-order functions
  * (q184), CSV malformed-row modes (q185), the extended string-function
  * battery (q186), event-time TIMERS under transformWithState (q187),
  * and the Spark-4 VARIANT JSON type (q188). Naming/oracle/float
  * conventions as in [[Queries]].
  */
object Queries17 {

  // ---- q184: map-column higher-order functions ---------------------------

  /** MAP columns processed row-locally with the full HOF surface —
    * transform_keys / transform_values / map_filter / map_zip_with /
    * map_entries + aggregate folds — the map analog of q183's
    * struct-array HOFs (and of the reference's map namespace, q67).
    * Per order, two maps (linenumber → scaled quantity, linenumber →
    * line count) are built once (ONE l_orderkey shuffle; duplicate
    * linenumbers pre-summed so keys are unique — map keys must be);
    * every derived column is then an integer-exact fold, so the oracle
    * replays them relationally with no float anywhere. */
  def q184MapHof(s: SparkSession, dir: String): DataFrame = {
    val perLine = Tables(s, dir, "lineitem")
      .groupBy($"l_orderkey", $"l_linenumber")
      .agg(sum(($"l_quantity".cast(DecimalType(25, 4)) * 10000)
        .cast(LongType)).as("sq"),
        count(lit(1)).as("cnt"))
    perLine.groupBy($"l_orderkey")
      .agg(
        map_from_entries(sort_array(collect_list(
          struct($"l_linenumber", $"sq")))).as("mq"),
        map_from_entries(sort_array(collect_list(
          struct($"l_linenumber", $"cnt")))).as("mc"))
      .select($"l_orderkey",
        size($"mq").as("n_keys"),
        size(map_filter($"mq", (k, _) => k <= 3)).as("small_keys"),
        aggregate(map_keys(transform_keys($"mq", (k, _) => k + 100)),
          lit(0L), (a, x) => a + x).as("keyshift_sum"),
        aggregate(transform(map_entries($"mq"),
          e => e.getField("key") * e.getField("value")),
          lit(0L), (a, x) => a + x).as("qty_weighted"),
        aggregate(map_values(transform_values($"mq", (_, v) => v * 2)),
          lit(0L), (a, x) => a + x).as("doubled_scaled"),
        aggregate(map_values(map_zip_with($"mq", $"mc",
          (_, v1, v2) => v1 * v2)), lit(0L), (a, x) => a + x)
          .as("zip_dot"))
      .orderBy($"l_orderkey")
  }

  val q184Sql: String =
    """WITH pl AS (
      |  SELECT l_orderkey, l_linenumber,
      |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(25,4)) * 10000
      |      AS BIGINT)) AS BIGINT) AS sq,
      |    count(*) AS cnt
      |  FROM lineitem GROUP BY 1, 2)
      |SELECT l_orderkey,
      |  count(*) AS n_keys,
      |  count(*) FILTER (WHERE l_linenumber <= 3) AS small_keys,
      |  CAST(sum(l_linenumber + 100) AS BIGINT) AS keyshift_sum,
      |  CAST(sum(l_linenumber * sq) AS BIGINT) AS qty_weighted,
      |  CAST(sum(2 * sq) AS BIGINT) AS doubled_scaled,
      |  CAST(sum(sq * cnt) AS BIGINT) AS zip_dot
      |FROM pl GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q185: CSV malformed-row modes -------------------------------------

  /** The three CSV parse-failure contracts, witnessed on one
    * deterministically corrupted file (rows with l_orderkey%97=0 get a
    * non-numeric quantity): PERMISSIVE must keep every line and
    * surface exactly the corrupt set through columnNameOfCorruptRecord
    * (nulling the bad field); DROPMALFORMED must keep exactly the
    * complement; FAILFAST must throw. The ingest-robustness decision
    * every 100 TB text-corpus load makes — silently-dropped rows are
    * the failure mode, so both counts are REQUIRED in-gate, and the
    * returned aggregate is computed from the DROPMALFORMED survivors
    * whose values the oracle replays from the clean table. */
  def q185CsvModes(s: SparkSession, dir: String): DataFrame = {
    val stamp = java.lang.Long.toHexString(System.nanoTime())
    val path = s"/tmp/graft_csv_modes_$stamp"
    val bad = $"l_orderkey" % 97 === 0
    Tables(s, dir, "lineitem")
      .select(concat_ws(",", $"l_orderkey",
        when(bad, lit("bogus")).otherwise($"l_quantity".cast(StringType)),
        $"l_extendedprice").as("value"))
      .write.mode("overwrite").text(path)
    val nBad = Tables(s, dir, "lineitem").where(bad).count()
    val nAll = Tables(s, dir, "lineitem").count()
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType),
      StructField("l_quantity", DoubleType),
      StructField("l_extendedprice", DoubleType)))
    try {
      val permissive = s.read.schema(schema.add("_bad", StringType))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(path)
        .cache() // required before filtering on the corrupt column
      val seenBad = permissive.where($"_bad".isNotNull).count()
      require(permissive.count() == nAll && seenBad == nBad,
        s"q185: PERMISSIVE kept ${permissive.count()}/$nAll rows with " +
          s"$seenBad/$nBad corrupt — every line must survive, exactly " +
          "the corrupt set flagged")
      permissive.unpersist()
      val dropped = s.read.schema(schema)
        .option("mode", "DROPMALFORMED").csv(path)
      val failed =
        try {
          // an aggregate OVER A PARSED FIELD: a bare count() prunes
          // every column and never parses the corrupt value at all
          s.read.schema(schema).option("mode", "FAILFAST").csv(path)
            .agg(sum($"l_quantity")).head()
          false
        } catch { case _: Exception => true }
      require(failed, "q185: FAILFAST did not throw on the corrupt file")
      val out = dropped.agg(count(lit(1)).as("n_kept"),
        dsum($"l_quantity").as("sum_qty"),
        dsum($"l_extendedprice").as("sum_price"))
        .withColumn("n_corrupt", lit(nBad))
        .withColumn("failfast_threw", lit(true))
      require(out.head().getLong(0) == nAll - nBad,
        "q185: DROPMALFORMED did not keep exactly the clean complement")
      import scala.jdk.CollectionConverters._
      s.createDataFrame(out.collect().toSeq.asJava, out.schema)
    } finally {
      Fs.rmTree(new java.io.File(path))
    }
  }

  val q185Sql: String =
    """SELECT count(*) AS n_kept,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE)
      |    AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(25,4))) AS DOUBLE)
      |    AS sum_price,
      |  (SELECT count(*) FROM lineitem WHERE l_orderkey % 97 = 0)
      |    AS n_corrupt,
      |  true AS failfast_threw
      |FROM lineitem WHERE NOT l_orderkey % 97 = 0""".stripMargin

  // ---- q186: extended string-function battery ----------------------------

  /** The string functions beyond the reference's str namespace (q64-66
    * covered that surface exactly): levenshtein, translate, lpad/rpad,
    * reverse, repeat, ascii, instr/strpos, substring_index/split_part,
    * left/right — all codegen'd row-local exprs on the scan, replayed
    * function-for-function by DuckDB. Per-part rows keep the battery
    * honest (no aggregation hiding a per-row divergence). */
  def q186StringBattery(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "part")
      .select($"p_partkey",
        levenshtein($"p_name", lower($"p_type")).as("lev"),
        translate($"p_name", "aeiou", "AEIOU").as("tr"),
        lpad($"p_type", 12, "*").as("lp"),
        rpad($"p_type", 12, "#").as("rp"),
        reverse($"p_name").as("rev"),
        repeat(substring($"p_name", 1, 2), 3).as("rep"),
        ascii($"p_name").as("asc"),
        instr($"p_name", "e").as("pos_e"),
        substring_index($"p_name", " ", 1).as("first_word"),
        substring($"p_name", 1, 3).as("l3"),
        $"p_name".substr(length($"p_name") - 1, lit(2)).as("r2"))
      .orderBy($"p_partkey")

  val q186Sql: String =
    """SELECT p_partkey,
      |  levenshtein(p_name, lower(p_type)) AS lev,
      |  translate(p_name, 'aeiou', 'AEIOU') AS tr,
      |  lpad(p_type, 12, '*') AS lp,
      |  rpad(p_type, 12, '#') AS rp,
      |  reverse(p_name) AS rev,
      |  repeat(substring(p_name, 1, 2), 3) AS rep,
      |  ascii(p_name) AS asc,
      |  strpos(p_name, 'e') AS pos_e,
      |  split_part(p_name, ' ', 1) AS first_word,
      |  substring(p_name, 1, 3) AS l3,
      |  right(p_name, 2) AS r2
      |FROM part ORDER BY p_partkey""".stripMargin

  // ---- q187: event-time timers (transformWithState) ----------------------

  /** See [[graft.streaming.SessionTimers]]: sessions closed by the
    * WATERMARK through registered event-time timers, not by a next
    * event — the state-reaches-zero contract for unbounded keyed
    * streams. Shares q23's lag-window oracle: the timer formulation
    * must reproduce the batch sessionization value-for-value. */
  def q187SessionTimers(s: SparkSession, dir: String): DataFrame =
    graft.streaming.SessionTimers.sessionsViaTimers(s, dir)

  val q187Sql: String = Queries2.q15Sql

  // ---- q188: VARIANT JSON type -------------------------------------------

  /** The Spark-4 VARIANT type: `parse_json` once on the scan, then
    * typed access via `variant_get` and existence via
    * `try_variant_get` — the open-schema JSON answer that avoids both
    * per-access string re-parsing (q158's get_json_object) and a
    * rigid from_json struct. The round trip through `to_json` and the
    * miss path (a absent field must be NULL, not an error) are pinned
    * in the result; numeric outputs replayed by DuckDB's JSON
    * operators on the same strings. */
  def q188Variant(s: SparkSession, dir: String): DataFrame = {
    val v = parse_json($"props")
    Tables(s, dir, "events")
      .select($"event_type",
        variant_get(v, "$.k", "bigint").as("k"),
        try_variant_get(v, "$.missing", "bigint").as("miss"),
        // SEMANTIC round trip: to_json normalizes whitespace, so
        // compare re-parsed values, not strings; <=> keeps a
        // missing-$.k row counted as PRESERVED (null on both sides)
        (variant_get(parse_json(to_json(v)), "$.k", "bigint") <=>
          variant_get(v, "$.k", "bigint")).as("rt_ok"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"k").as("sum_k"),
        min($"k").as("min_k"),
        max($"k").as("max_k"),
        sum(when($"miss".isNull, 1L).otherwise(0L)).as("n_miss_null"),
        sum(when($"rt_ok", 1L).otherwise(0L)).as("n_rt"))
      .orderBy($"event_type")
  }

  val q188Sql: String =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
      |  min(CAST(props->>'$.k' AS BIGINT)) AS min_k,
      |  max(CAST(props->>'$.k' AS BIGINT)) AS max_k,
      |  CAST(sum(CASE WHEN props->>'$.missing' IS NULL
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_miss_null,
      |  count(*) AS n_rt
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q184_map_hof" -> (q184MapHof _),
    "q185_csv_modes" -> (q185CsvModes _),
    "q186_string_battery" -> (q186StringBattery _),
    "q187_session_timers" -> (q187SessionTimers _),
    "q188_variant" -> (q188Variant _)
  )

  val oracles: Map[String, String] = Map(
    "q184_map_hof" -> q184Sql,
    "q185_csv_modes" -> q185Sql,
    "q186_string_battery" -> q186Sql,
    "q187_session_timers" -> q187Sql,
    "q188_variant" -> q188Sql
  )
}
