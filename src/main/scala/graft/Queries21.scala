package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.TextAnalysis

/** Round-12 session gates past q200: the one-pass corpus QA report
  * (q201), tokenizer OOV-rate stats (q202), and session extraction via
  * flatMapGroupsWithState (q203). Naming/oracle/float conventions as
  * in [[Queries]].
  */
object Queries21 {

  // ---- q201: corpus QA report --------------------------------------------

  /** The corpus data card in ONE scan + one small aggregate: per
    * (source, lang) — document counts, exact-duplicate counts (hashed
    * text, certified by content in the oracle), token totals, and
    * median/p90 token lengths (continuous interpolation, the q20
    * cross-engine contract). This is the report every dataset release
    * ships; at 100 TB it is exactly this shape — one corpus scan
    * emitting (group, token-count, fingerprint), then a groups-sized
    * aggregate. */
  def q201CorpusReport(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select($"source", $"lang",
        TextAnalysis.tokenCount($"text").cast(LongType).as("nt"),
        // md5 not xxhash64: a 64-bit collision at corpus scale would
        // inflate n_dups vs the oracle's content-distinct count; the
        // 128-bit digest keeps the shuffle narrow AND collision-free
        md5($"text").as("fp"))
      .groupBy($"source", $"lang")
      .agg(count(lit(1)).as("n_docs"),
        (count(lit(1)) - countDistinct($"fp")).as("n_dups"),
        sum($"nt").as("tokens"),
        round(expr("percentile(nt, 0.5)"), 4).as("med_tokens"),
        round(expr("percentile(nt, 0.9)"), 4).as("p90_tokens"))
      .orderBy($"source", $"lang")

  val q201Sql: String =
    """SELECT source, lang, count(*) AS n_docs,
      |  CAST(count(*) - count(DISTINCT text) AS BIGINT) AS n_dups,
      |  CAST(sum(CAST(len(string_split_regex(trim(text), '\s+'))
      |    AS BIGINT)) AS BIGINT) AS tokens,
      |  round(quantile_cont(CAST(len(string_split_regex(trim(text),
      |    '\s+')) AS BIGINT), 0.5), 4) AS med_tokens,
      |  round(quantile_cont(CAST(len(string_split_regex(trim(text),
      |    '\s+')) AS BIGINT), 0.9), 4) AS p90_tokens
      |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- q202: tokenizer OOV-rate stats ------------------------------------

  /** Tokenizer QA: build the top-500 vocabulary from the corpus itself
    * (q101's builder — count desc, term asc tie-break), then measure
    * per-language OOV rates — the % of token OCCURRENCES a lookup
    * table would miss, the number that decides vocab size before a
    * training run. Vocabulary is broadcast (it is vocabulary-sized);
    * the corpus is scanned once; rates are exact integer ratios
    * rounded at 6 dp. Oracle replays the vocabulary (same window
    * tie-break) and the membership counts relationally. */
  def q202OovStats(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val vocab = TextAnalysis.buildVocab(docs, "text", maxSize = 500)
      .select($"term")
    val toks = docs.select($"lang",
      explode(TextAnalysis.tokens($"text")).as("term"))
    toks.join(broadcast(vocab.withColumn("__in", lit(1L))),
        Seq("term"), "left")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when($"__in".isNull, 1L).otherwise(0L)).as("n_oov"),
        round(sum(when($"__in".isNull, 1L).otherwise(0L)) /
          count(lit(1)).cast(DoubleType), 6).as("oov_rate"))
      .orderBy($"lang")
  }

  val q202Sql: String =
    """WITH tok AS (
      |  SELECT lang, unnest(string_split_regex(trim(text), '\s+'))
      |    AS term
      |  FROM documents),
      |vocab AS (
      |  SELECT term FROM (
      |    SELECT term, count(*) AS c,
      |      row_number() OVER (ORDER BY count(*) DESC, term ASC) AS rk
      |    FROM tok GROUP BY term)
      |  WHERE rk <= 500)
      |SELECT lang, count(*) AS n_tokens,
      |  count(*) FILTER (WHERE v.term IS NULL) AS n_oov,
      |  round(count(*) FILTER (WHERE v.term IS NULL) /
      |    CAST(count(*) AS DOUBLE), 6) AS oov_rate
      |FROM tok LEFT JOIN vocab v USING (term)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q203: flatMapGroupsWithState session extraction -------------------

  /** `flatMapGroupsWithState` — the multi-row-output arbitrary-state
    * operator (mapGroupsWithState q23 emits one row per key; the flat
    * form emits one row PER SESSION, the shape downstream attribution
    * actually joins against). Batch mode: one invocation per key with
    * the full iterator; under readStream the same function runs
    * incrementally with a gap timeout. Emits (user, session start,
    * events-in-session); the oracle recomputes sessions as lag-break
    * islands. Equal-ts events share a session whatever their
    * engine-internal order, so the extraction is deterministic. */
  def q203SessionExtract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val gapNs = 30L * 60 * 1000000000L
    val ds = Tables(s, dir, "events")
      .select(col("user_id"), col("ts")).as[(Long, Long)]
    ds.groupByKey(_._1)
      .flatMapGroupsWithState[Long, (Long, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (user, events, _) =>
          val ts = events.map(_._2).toArray
          java.util.Arrays.sort(ts)
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Long, Long)]
          var start = 0
          var i = 1
          while (i <= ts.length) {
            if (i == ts.length || ts(i) - ts(i - 1) > gapNs) {
              out += ((user, ts(start), (i - start).toLong))
              start = i
            }
            i += 1
          }
          out.iterator
      }
      .toDF("user_id", "start_ns", "n_events")
      .orderBy("user_id", "start_ns")
  }

  val q203Sql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_ns(ts) AS tsn,
      |    CASE WHEN epoch_ns(ts) - LAG(epoch_ns(ts)) OVER w
      |      > 1800000000000 THEN 1 ELSE 0 END AS brk
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT user_id, tsn,
      |    SUM(brk) OVER (PARTITION BY user_id ORDER BY tsn, brk
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM e)
      |SELECT user_id, min(tsn) AS start_ns, count(*) AS n_events
      |FROM s GROUP BY user_id, sid
      |ORDER BY user_id, start_ns""".stripMargin

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q201_corpus_report" -> (q201CorpusReport _),
    "q202_oov_stats" -> (q202OovStats _),
    "q203_session_extract" -> (q203SessionExtract _)
  )

  val oracles: Map[String, String] = Map(
    "q201_corpus_report" -> q201Sql,
    "q202_oov_stats" -> q202Sql,
    "q203_session_extract" -> q203Sql
  )
}
