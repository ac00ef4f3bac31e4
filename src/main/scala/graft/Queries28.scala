package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Sampling, TextAnalysis}

/** Round-12 session capstone: the web-corpus refresh pipeline (q220)
  * — this session's operators composed end-to-end under ONE oracle.
  * Naming/oracle/float conventions as in [[Queries]].
  */
object Queries28 {

  // ---- q220: web-corpus refresh pipeline ---------------------------------

  /** The composed web-corpus refresh, each stage an operator gated
    * individually this round, chained so INTERFACE drift is what the
    * oracle catches (the q84/q117 discipline, over the new surface):
    *
    *  1. crawl records = documents + a synthetic URL (host from
    *     doc_id, tracking params, fragment) → q190's parse_url
    *     canonicalization;
    *  2. URL-level dedup — keep the MIN doc_id per normalized URL
    *     (two "crawls" of one page collide after canonicalization:
    *     doc_id % 250 aliases pages onto 250 urls);
    *  3. quality gate — token count ≥ 5 and ASCII-alpha ratio ≥ 0.5
    *     (the q84 rules);
    *  4. leakage-free split at PAGE granularity (q197's discipline,
    *     splitmix64 on the url hash's stable key);
    *  5. per-(split, domain-shard) report: doc counts, token sums,
    *     id checksums (q201's data-card shape).
    *
    * Every stage is SQL-expressible, so the WHOLE chain is DuckDB-
    * replayed — canonicalization, keep-min dedup, both quality rules,
    * the split hash, and the rollup, value-for-value. */
  def q220CorpusRefresh(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables(s, dir, "documents")
      .select($"doc_id", $"text",
        concat(lit("HTTP://Host"), $"doc_id" % 50, lit(".Crawl.ORG:80/d/"),
          $"doc_id" % 250, lit("?utm_ref=x&v=1#top")).as("url"))
    val keepQ = array_join(filter(
      split(parse_url($"url", lit("QUERY")), "&"),
      p => !p.startsWith("utm_")), "&")
    val canon = raw.select($"doc_id", $"text",
      concat(lower(parse_url($"url", lit("PROTOCOL"))), lit("://"),
        lower(parse_url($"url", lit("HOST"))),
        parse_url($"url", lit("PATH")),
        when(length(keepQ) > 0, concat(lit("?"), keepQ))
          .otherwise(lit(""))).as("norm_url"))
    val deduped = canon
      .groupBy($"norm_url")
      .agg(min($"doc_id").as("doc_id"))
      .join(canon.select($"doc_id", $"text"), "doc_id")
    val kept = deduped.where(
      TextAnalysis.tokenCount($"text") >= 5 &&
        graft.functions.Functional.asciiAlphaRatio($"text") >= 0.5)
    kept
      .select($"doc_id", $"norm_url",
        TextAnalysis.tokenCount($"text").cast(LongType).as("nt"),
        Sampling.splitLabel($"doc_id", Seq("train" -> 0.9,
          "eval" -> 0.1), 23L).as("split"))
      .groupBy($"split", ($"doc_id" % 5).as("shard"))
      .agg(count(lit(1)).as("n_docs"), sum($"nt").as("tokens"),
        sum($"doc_id").as("id_sum"))
      .orderBy($"split", $"shard")
  }

  // split thresholds: floor(0.9*8192)=7372 (Sampling.threshold floor
  // semantics, the q83/q84 convention). asciiAlphaRatio =
  // ascii-letter count / total chars (0 for empty), replayed with
  // regexp character-class counts.
  val q220Sql: String = {
    val mix = Queries5.bucketCtes("sp", 23L,
      "(SELECT DISTINCT doc_id FROM documents)", "doc_id")
    s"""WITH canon AS (
       |  SELECT doc_id, text,
       |    'http://host' || (doc_id % 50) || '.crawl.org/d/' ||
       |      (doc_id % 250) || '?v=1' AS norm_url
       |  FROM documents),
       |dedup AS (
       |  SELECT norm_url, min(doc_id) AS doc_id FROM canon GROUP BY 1),
       |docs AS (
       |  SELECT d.doc_id, d.norm_url, c.text
       |  FROM dedup d JOIN canon c ON d.doc_id = c.doc_id),
       |kept AS (
       |  SELECT doc_id, norm_url,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
       |      AS nt
       |  FROM docs
       |  WHERE len(string_split_regex(trim(text), '\\s+')) >= 5
       |    AND CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
       |          AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE)
       |          >= 0.5),
       |$mix,
       |lab AS (
       |  SELECT k AS doc_id,
       |    CASE WHEN bucket < 7372 THEN 'train' ELSE 'eval' END
       |      AS split
       |  FROM spb)
       |SELECT split, kept.doc_id % 5 AS shard, count(*) AS n_docs,
       |  CAST(sum(nt) AS BIGINT) AS tokens,
       |  CAST(sum(kept.doc_id) AS BIGINT) AS id_sum
       |FROM kept JOIN lab USING (doc_id)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q220_corpus_refresh" -> (q220CorpusRefresh _)
  )

  val oracles: Map[String, String] = Map(
    "q220_corpus_refresh" -> q220Sql
  )
}
