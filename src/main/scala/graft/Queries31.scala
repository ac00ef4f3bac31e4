package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-13 session gates past q228: MP4 container probe (q229), XML
  * round-trip (q230), collation-aware grouping (q231), listagg (q232)
  * and approx_top_k (q233). Naming/oracle/float conventions as in
  * [[Queries]].
  */
object Queries31 {

  // ---- q229: video (MP4/ISO-BMFF) container probe -------------------------

  /** Real ISO-BMFF box-walk end-to-end — the video face of q70's image
    * decode and q223's WAV chunk walk: each document gets a synthesized
    * VALID MP4 ([[graft.operators.Multimodal.synthesizeMp4Blob]]: ftyp
    * + moov{mvhd, trak{tkhd}} + mdat with seed-derived 16.16
    * fixed-point dimensions), decodeMeta parses the actual bytes back
    * partition-wise (no shuffle until the tiny grouped aggregate), and
    * the oracle predicts width/height arithmetically from the seed — a
    * green row proves the BE box parser is exact. Completes the
    * image/audio/video multimodal story on the shared media_meta
    * tuple. */
  def q229Mp4Probe(s: SparkSession, dir: String): DataFrame = {
    // 1048573 multiplier (same as q223/q70): doc_id * 1048573 + 29
    // stays inside signed 64-bit for any doc_id < 2^63/1048573 ≈ 8.8e12
    // — the 2654435761 Knuth constant previously here overflowed at
    // doc_id ≥ ~3.47e9, where Spark wraps silently but the DuckDB
    // oracle's BIGINT raises, diverging gate and oracle at target scale
    val synth = udf((id: Long) =>
      graft.operators.Multimodal.synthesizeMp4Blob(id * 1048573L + 29L))
    val docs = Tables(s, dir, "documents")
      .select($"doc_id", synth($"doc_id").as("blob"))
    graft.operators.Multimodal.decodeMeta(docs)
      .select($"media_meta.format".as("format"),
        $"media_meta.width".as("w"),
        $"media_meta.height".as("h"),
        $"media_meta.n_bytes".as("n_bytes"))
      .groupBy($"format",
        floor($"w" / 480).cast(IntegerType).as("w_class"))
      .agg(count(lit(1)).as("n"),
        sum($"w").cast(LongType).as("sum_w"),
        sum($"h").cast(LongType).as("sum_h"),
        sum($"n_bytes").cast(LongType).as("total_bytes"))
      .orderBy($"w_class")
  }

  val q229Sql: String =
    """WITH d AS (SELECT doc_id * 1048573 + 29 AS seed FROM documents),
      |m AS (SELECT 160 + (seed // 8) % 1760 AS w,
      |             120 + (seed // 131072) % 960 AS h FROM d)
      |SELECT 'mp4' AS format, CAST(w // 480 AS INTEGER) AS w_class,
      |  count(*) AS n,
      |  CAST(sum(w) AS BIGINT) AS sum_w,
      |  CAST(sum(h) AS BIGINT) AS sum_h,
      |  CAST(count(*) * 264 AS BIGINT) AS total_bytes
      |FROM m GROUP BY 1, 2 ORDER BY w_class""".stripMargin

  // ---- q230: XML round-trip -----------------------------------------------

  /** XML serialize → parse identity over real rows (the XML face of
    * q158's JSON ops and q188's VARIANT): each lineitem row is encoded
    * with `to_xml`, parsed back with `from_xml` under an explicit
    * schema, and the AGGREGATE OVER THE PARSED FIELDS must equal the
    * oracle computed straight from the source table — any field the
    * round trip drops, renames, or re-types moves the sums. Both
    * functions are row-local expressions (scan-side, no shuffle until
    * the aggregate), which is what makes XML ingest viable at 100 TB:
    * the parse cost is embarrassingly parallel. */
  def q230XmlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "lineitem").createOrReplaceTempView("q230_li")
    s.sql(
      """SELECT r.sm AS sm, count(*) AS n,
        |  CAST(sum(r.qty) AS BIGINT) AS qty,
        |  CAST(sum(r.ok) AS BIGINT) AS sum_ok
        |FROM (
        |  SELECT from_xml(
        |    to_xml(named_struct(
        |      'ok', l_orderkey, 'ln', l_linenumber, 'sm', l_returnflag,
        |      'qty', CAST(l_quantity AS BIGINT))),
        |    'ok BIGINT, ln BIGINT, sm STRING, qty BIGINT') AS r
        |  FROM q230_li)
        |GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  val q230Sql: String =
    """SELECT l_returnflag AS sm, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
      |  CAST(sum(l_orderkey) AS BIGINT) AS sum_ok
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q231: collation-aware grouping -------------------------------------

  /** Case-insensitive grouping via a COLLATED column type
    * (UTF8_LCASE), not an eager lower() rewrite: the collation rides
    * the column through the plan, so every comparison — the group-by
    * shuffle hash AND the equality — is collation-aware while the
    * ORIGINAL bytes stay available (min(seg_raw) picks the
    * deterministic binary-min representative). Mixed-case forms are
    * synthesized 3 ways from c_custkey so every group genuinely mixes
    * case. The oracle restates the semantics with DuckDB's lower()
    * grouping — identical groups, counts, and representatives.
    * Plan note: collated keys compile to SortAggregate (not
    * HashAggregate) with collation-aware hashpartitioning — partial
    * aggregation is still map-side, so ONE row per group per task
    * crosses the single exchange; the sort-vs-hash difference only
    * matters within a task. */
  def q231Collation(s: SparkSession, dir: String): DataFrame = {
    val m = Tables(s, dir, "customer").select(
      when($"c_custkey" % 3 === 0, upper($"c_mktsegment"))
        .when($"c_custkey" % 3 === 1, lower($"c_mktsegment"))
        .otherwise(concat(upper(substring($"c_mktsegment", 1, 1)),
          lower(expr("substring(c_mktsegment, 2)"))))
        .as("seg_mixed"))
    m.select(collate($"seg_mixed", "UTF8_LCASE").as("seg_ci"),
        $"seg_mixed".as("seg_raw"))
      .groupBy($"seg_ci")
      .agg(min($"seg_raw").as("segment"), count(lit(1)).as("n"))
      .select($"segment", $"n")
      .orderBy($"segment")
  }

  val q231Sql: String =
    """WITH m AS (SELECT CASE
      |    WHEN c_custkey % 3 = 0 THEN upper(c_mktsegment)
      |    WHEN c_custkey % 3 = 1 THEN lower(c_mktsegment)
      |    ELSE concat(upper(substring(c_mktsegment, 1, 1)),
      |                lower(substring(c_mktsegment, 2)))
      |  END AS seg_mixed FROM customer)
      |SELECT min(seg_mixed) AS segment, count(*) AS n
      |FROM m GROUP BY lower(seg_mixed) ORDER BY 1""".stripMargin

  // ---- q232: listagg WITHIN GROUP -----------------------------------------

  /** Ordered string aggregation (SQL:2016 listagg) — the
    * report-formatting aggregate both engines now ship natively; the
    * WITHIN GROUP order makes the concatenation deterministic, which
    * is the whole point (an unordered collect_list + concat_ws varies
    * run to run under shuffle). Groups are region-sized (5 rows), so
    * the agg state is trivially bounded. */
  def q232Listagg(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "nation").createOrReplaceTempView("q232_n")
    Tables(s, dir, "region").createOrReplaceTempView("q232_r")
    s.sql(
      """SELECT r_name,
        |  listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)
        |    AS nations,
        |  count(*) AS n
        |FROM q232_n JOIN q232_r ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin)
  }

  val q232Sql: String =
    """SELECT r_name,
      |  string_agg(n_name, ',' ORDER BY n_name) AS nations,
      |  count(*) AS n
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin

  // ---- q233: approx_top_k -------------------------------------------------

  /** Sketch-based heavy hitters via the native approx_top_k aggregate —
    * single-pass, fixed-size mergeable state (the built-in complement
    * of q123's hand-rolled SpaceSaving): with maxItemsTracked (100)
    * above the domain cardinality (5 priorities) the sketch is EXACT,
    * which is what lets a DuckDB count(*) oracle hash-match it; at
    * real cardinalities the same call degrades gracefully to
    * approximate counts under the same fixed memory. Output re-sorted
    * by item so the sketch's internal count ordering never leaks into
    * the hash. */
  def q233ApproxTopK(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "orders").createOrReplaceTempView("q233_o")
    s.sql(
      """SELECT t.item AS priority, CAST(t.count AS BIGINT) AS n
        |FROM (SELECT approx_top_k(o_orderpriority, 10, 100) AS tk
        |      FROM q233_o)
        |LATERAL VIEW explode(tk) AS t
        |ORDER BY priority""".stripMargin)
  }

  val q233Sql: String =
    """SELECT o_orderpriority AS priority, count(*) AS n
      |FROM orders GROUP BY 1 ORDER BY priority""".stripMargin

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q229_mp4_probe" -> (q229Mp4Probe _),
    "q230_xml_roundtrip" -> (q230XmlRoundtrip _),
    "q231_collation" -> (q231Collation _),
    "q232_listagg" -> (q232Listagg _),
    "q233_approx_top_k" -> (q233ApproxTopK _)
  )

  val oracles: Map[String, String] = Map(
    "q229_mp4_probe" -> q229Sql,
    "q230_xml_roundtrip" -> q230Sql,
    "q231_collation" -> q231Sql,
    "q232_listagg" -> q232Sql,
    "q233_approx_top_k" -> q233Sql
  )
}
