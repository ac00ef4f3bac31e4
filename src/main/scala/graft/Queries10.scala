package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Functional
import graft.operators.TextAnalysis

/** Round-12 gates past q145: lexical retrieval scoring (BM25, q146),
  * exact containment join for fuzzy decontamination (q147), corpus
  * text normalization (q148), and the events-analytics pair every
  * production pipeline runs — conversion funnel (q149) and cohort
  * retention (q150). Naming/oracle/float conventions as in
  * [[Queries]]: every float the oracle compares is either an IEEE
  * operation replayed in identical order on identical operands in both
  * engines, or a DECIMAL-mediated sum.
  */
object Queries10 {

  // ---- q146: BM25 lexical retrieval scoring -----------------------------

  /** The fixed query-term set scored against every document. Small by
    * construction (a user query), so its per-term statistics collect to
    * the driver and embed as literals — the corpus is scanned, never
    * shuffled. */
  private val bm25Terms = Seq("merge", "window", "hash", "scan")

  /** BM25 retrieval scoring of the whole corpus against a fixed query —
    * the lexical half of every RAG / data-selection stack (Robertson &
    * Zaragoza 2009). Two scans, zero corpus shuffles:
    *
    *  1. stats scan: one tiny aggregate (N docs, total tokens, per-term
    *     document frequencies — |query|+2 numbers) collects to the
    *     driver;
    *  2. score scan: per-doc term frequencies are row-local array ops,
    *     the BM25 formula is a codegen'd expression over driver-embedded
    *     literal idf/avgdl, and the top-20 survives via TakeOrdered
    *     (orderBy+limit — no full sort, no window).
    *
    * Engine-exact scoring: the classic formula's `ln` is replaced by the
    * rational idf (N − df + ½)/(df + ½) — order-preserving in df, and
    * every operation in the whole score is IEEE +,·,/ on doubles derived
    * from exact integers, evaluated in the same textual order the oracle
    * replays, so the doubles match bit-for-bit (same discipline as
    * q128's percent_rank). k1 = 1.2, b = 0.75 (the standard defaults).
    * At 100 TB the plan is unchanged: the stats aggregate is map-side
    * partial, the score scan is embarrassingly parallel, TakeOrdered
    * keeps 20 rows per partition. */
  def q146Bm25(s: SparkSession, dir: String): DataFrame = {
    val toks = split(trim($"text"), "\\s+")
    val d = Tables(s, dir, "documents")
      .select($"doc_id" +: size(toks).cast(LongType).as("dl") +:
        bm25Terms.zipWithIndex.map { case (w, i) =>
          size(filter(toks, x => x === w)).cast(LongType).as(s"tf_$i")
        }: _*)
    val aggs = count(lit(1)).as("n") +: sum($"dl").as("tot") +:
      bm25Terms.indices.map(i =>
        sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i"))
    val stats = d.agg(aggs.head, aggs.tail: _*).head()
    val nD = stats.getLong(0).toDouble
    val avgdl = stats.getLong(1).toDouble / nD
    val score = bm25Terms.indices.map { i =>
      val dfD = stats.getLong(2 + i).toDouble
      val idf = (nD - dfD + 0.5) / (dfD + 0.5)
      val tf = col(s"tf_$i").cast(DoubleType)
      lit(idf) * ((tf * lit(2.2)) /
        (tf + lit(1.2) * (lit(0.25) +
          lit(0.75) * ($"dl".cast(DoubleType) / lit(avgdl)))))
    }.reduce(_ + _)
    d.select($"doc_id", score.as("score"))
      .orderBy($"score".desc, $"doc_id")
      .limit(20)
  }

  /** DuckDB replays the identical arithmetic: rational idf from the
    * same integer stats, the same left-associated term sum, the same
    * double divisions — bit-equality is the contract, not closeness. */
  val q146Sql: String = {
    val selTf = bm25Terms.zipWithIndex.map { case (w, i) =>
      s"CAST(len(list_filter(w, x -> x = '$w')) AS DOUBLE) AS tf_$i"
    }.mkString(", ")
    val selDf = bm25Terms.indices.map(i =>
      s"CAST(sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_$i")
      .mkString(", ")
    val score = bm25Terms.indices.map(i =>
      s"((CAST(g.n AS DOUBLE) - df_$i + 0.5) / (df_$i + 0.5)) * " +
        s"((tf_$i * 2.2) / (tf_$i + 1.2 * (0.25 + 0.75 * (dl / avgdl))))")
      .mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
       |  FROM documents),
       |d AS (
       |  SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl, $selTf FROM tok),
       |g AS (
       |  SELECT count(*) AS n, $selDf,
       |    CAST(sum(CAST(dl AS BIGINT)) AS DOUBLE) /
       |      CAST(count(*) AS DOUBLE) AS avgdl
       |  FROM d)
       |SELECT doc_id, $score AS score
       |FROM d, g
       |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
  }

  // ---- q147: containment join (fuzzy decontamination) -------------------

  /** Exact CONTAINMENT join between an eval set and the corpus — the
    * loose-match decontamination GPT-3's Appendix C calls for when an
    * eval item appears INSIDE a larger page (q85's exact n-gram hit
    * counting is the symmetric case). Eval snippets here are the first
    * 30 tokens of every 20th document (a planted overlap with ground
    * truth); a corpus doc is contaminated when it contains ≥ 60% of a
    * snippet's distinct 3-gram shingles: |E ∩ C| · 10 ≥ |E| · 6 —
    * integer arithmetic, engine-exact.
    *
    * The scalable plan (round 22) counts the intersection directly:
    * one corpus scan into (shingle, doc) postings, inner-joined
    * against the BROADCAST eval shingle table (the eval side is
    * broadcast-sized by the decontamination contract — eval suites
    * are small, corpora are not), then one map-side-combined count per
    * (eval_id, doc_id) and an integer threshold test. No cross product
    * anywhere (asserted on the executed plan); the corpus never
    * shuffles as text OR as shingle arrays — the single exchange
    * carries candidate (eval, doc, partial-count) triples. This
    * supersedes the round-12 PPJoin prefix filter (rarest-first
    * candidate pruning + array_intersect verify): see
    * [[containmentPairs]] for the cost comparison and the worst-case
    * note. */
  /** The reusable containment join behind q147:
    * `eval` = (eval_id, gs: array<string>), `corpus` = (doc_id,
    * gs: array<string>); emits every (eval_id, doc_id, shared, ne) with
    * |E ∩ C| · den ≥ |E| · num over the DISTINCT elements of each
    * array — exact, no cross product. Both inputs go through
    * `array_distinct` here, so the count below never sees a repeat.
    * Threshold is the rational num/den so the qualifying test is pure
    * integer arithmetic.
    *
    * Round 22 (guide §1.1 first-principles / §2.3): because both
    * shingle arrays are element-distinct, |E ∩ C| is a JOIN-ROW COUNT —
    * explode the corpus once into (doc, g) postings, inner-join the
    * broadcast eval gram table (eval is broadcast-sized by the
    * decontamination contract), and count rows per (eval_id, doc_id)
    * with map-side partial aggregation. This replaces the round-12
    * PPJoin pipeline (corpus-wide document-frequency aggregate →
    * rarest-first prefix explode → candidate distinct → re-join both
    * full shingle arrays → array_intersect verify), whose heaviest
    * pieces were the full-postings dfreq exchange and the verify join
    * shuffling every candidate doc's whole array. The only exchange
    * left is (eval_id, doc_id, partial count) — candidate-pair-sized,
    * 20 bytes a row, map-side combined. Worst-case note: a stop-shingle
    * shared by every doc makes the pre-combine match stream
    * eval-grams × its df rows (the prefix filter could dodge that when
    * the stop-shingle stayed out of the rarest-first prefix), but the
    * old plan's dfreq aggregate already touched EVERY posting of every
    * gram, so the new form strictly lowers both bytes exchanged and
    * rows touched; the hash aggregate bounds the exchange by distinct
    * qualifying-candidate pairs. Losslessness is pinned by the same
    * Queries10Spec brute-force property tests that certified the
    * prefix filter. */
  def containmentPairs(eval_ : DataFrame, corpus: DataFrame,
      num: Int, den: Int): DataFrame = {
    require(num > 0 && num <= den,
      s"containmentPairs: need 0 < num <= den, got $num/$den")
    val ev = eval_.select($"eval_id", array_distinct($"gs").as("gs"))
    val evalG = ev.select($"eval_id", explode($"gs").as("g"))
    val evalNe = ev.select($"eval_id", size($"gs").as("ne"))
    val cg = corpus.select($"doc_id", explode(array_distinct($"gs")).as("g"))
    cg.join(broadcast(evalG), Seq("g"))
      .groupBy($"eval_id", $"doc_id")
      .agg(count(lit(1)).cast(IntegerType).as("shared"))
      .join(broadcast(evalNe), Seq("eval_id"))
      .where($"shared" * den >= $"ne" * num)
      .select($"eval_id", $"doc_id", $"shared", $"ne")
  }

  def q147ContainJoin(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val corpus = docs.select($"doc_id",
      Functional.wordShingles($"text", 3).as("gs"))
    val snippet = concat_ws(" ",
      slice(split(trim($"text"), "\\s+"), 1, 30))
    val eval_ = docs.where($"doc_id" % 20 === 7)
      .select($"doc_id".as("eval_id"),
        Functional.wordShingles(snippet, 3).as("gs"))
    val result = containmentPairs(eval_, corpus, 6, 10)
      .orderBy($"eval_id", $"doc_id")
    val plan = result.queryExecution.executedPlan.toString()
    require(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"q147: containment join fell back to an all-pairs plan:\n" +
        plan.take(600))
    result
  }

  /** The oracle runs the UNPRUNED all-pairs containment — green also
    * certifies the match-count form equals the intersection exactly
    * (pairs sharing zero shingles can never qualify: ne ≥ 1 always —
    * even empty text yields the [""] whole-doc shingle). */
  val q147Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
      |  FROM documents),
      |cg AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    range(1, len(w) - 1),
      |    i -> array_to_string(w[i:i+2], ' '))) AS gs
      |  FROM tok),
      |ev AS (SELECT doc_id AS eval_id, w[1:30] AS w FROM tok
      |       WHERE doc_id % 20 = 7),
      |eg AS (
      |  SELECT eval_id, list_distinct(list_transform(
      |    range(1, len(w) - 1),
      |    i -> array_to_string(w[i:i+2], ' '))) AS gs
      |  FROM ev)
      |SELECT eval_id, doc_id,
      |  len(list_filter(eg.gs, x -> list_contains(cg.gs, x))) AS shared,
      |  len(eg.gs) AS ne
      |FROM eg, cg
      |WHERE len(list_filter(eg.gs, x -> list_contains(cg.gs, x))) * 10
      |      >= len(eg.gs) * 6
      |ORDER BY eval_id, doc_id""".stripMargin

  // ---- q148: corpus text normalization ----------------------------------

  /** [[TextAnalysis.normalizeText]] over adversarially decorated text:
    * each document is wrapped with decomposed accent sequences
    * (e + U+0301, A + U+030A), a tab, and a BEL control character, so
    * the gate exercises every normalization step — NFC composition
    * (é / Å appear composed in the output), control→space, whitespace
    * collapse, trim. Pure row-local scan (codegen'd NFC kernel + two
    * regexes), no shuffle; the oracle replays the identical pipeline
    * through DuckDB's utf8proc NFC and RE2 regexes — the shared
    * regex/Unicode dialect discipline of q86. In-gate: the decoration
    * must actually change under NFC, and no tab/control byte may
    * survive. */
  def q148Normalize(s: SparkSession, dir: String): DataFrame = {
    val deco = concat(lit("é\tÅ "), $"text",
      lit(" \u0007x\u0301"))
    val out = Tables(s, dir, "documents")
      .select($"doc_id", TextAnalysis.normalizeText(deco).as("clean_text"))
    val probe = out
      .select(
        max(when($"clean_text".contains("\t") ||
          $"clean_text".contains("\u0007"), 1).otherwise(0)).as("bad"),
        max(when($"clean_text".startsWith("\u00e9"), 1).otherwise(0))
          .as("nfc"))
      .head()
    require(probe.getInt(0) == 0,
      "q148: control characters survived normalization")
    require(probe.getInt(1) == 1,
      "q148: NFC composition did not fire (no leading é)")
    out.orderBy($"doc_id")
  }

  val q148Sql: String =
    """SELECT doc_id,
      |  trim(regexp_replace(regexp_replace(
      |    nfc_normalize('e' || chr(769) || chr(9) || 'A' || chr(778) ||
      |      ' ' || text || ' ' || chr(7) || 'x' || chr(769)),
      |    '[\x00-\x1F\x7F]', ' ', 'g'), '\s+', ' ', 'g')) AS clean_text
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // ---- q149: conversion funnel ------------------------------------------

  /** Three-stage ordered conversion funnel (view → click within 24 h →
    * purchase within 24 h) per user — the canonical events-analytics
    * query. Each stage is a filter-pushdown scan (event_type reaches
    * the parquet scan) + one min aggregate, joined to the previous
    * stage on user_id; stage tables are user-sized, so at 100 TB each
    * join is a shuffle on user_id over already-aggregated rows (AQE
    * broadcasts them when the funnel top fits). Timestamps are exact
    * integer microseconds (ts div 1000) end to end. */
  def q149Funnel(s: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    val e = Tables(s, dir, "events")
      .select($"user_id", $"event_type", expr("ts div 1000").as("us"))
    val v = e.where($"event_type" === "view")
      .groupBy($"user_id").agg(min($"us").as("t_view"))
    val c = e.where($"event_type" === "click").join(v, "user_id")
      .where($"us" > $"t_view" && $"us" <= $"t_view" + lit(dayUs))
      .groupBy($"user_id").agg(min($"us").as("t_click"))
    val p = e.where($"event_type" === "purchase").join(c, "user_id")
      .where($"us" > $"t_click" && $"us" <= $"t_click" + lit(dayUs))
      .groupBy($"user_id").agg(min($"us").as("t_purchase"))
    v.join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .orderBy($"user_id")
  }

  val q149Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |v AS (SELECT user_id, min(us) AS t_view FROM e
      |      WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, min(us) AS t_click
      |      FROM e JOIN v USING (user_id)
      |      WHERE event_type = 'click' AND us > v.t_view
      |        AND us <= v.t_view + 86400000000 GROUP BY 1),
      |p AS (SELECT e.user_id, min(us) AS t_purchase
      |      FROM e JOIN c USING (user_id)
      |      WHERE event_type = 'purchase' AND us > c.t_click
      |        AND us <= c.t_click + 86400000000 GROUP BY 1)
      |SELECT v.user_id, v.t_view, c.t_click, p.t_purchase
      |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
      |ORDER BY user_id""".stripMargin

  // ---- q150: cohort retention -------------------------------------------

  /** Weekly cohort retention over purchase events: users grouped by
    * their first purchase week, counted as retained in each later week
    * they purchased again. Two shuffles total (first-week aggregate,
    * cohort×offset distinct-count) over an event_type-pruned scan; all
    * arithmetic is integer floor division of epoch microseconds, exact
    * in both engines. The distinct count is Spark's exact two-phase
    * countDistinct — at 100 TB the (cohort, offset, user) expand is the
    * standard pre-aggregate and nothing materializes driver-side. */
  def q150Cohort(s: SparkSession, dir: String): DataFrame = {
    val pe = Tables(s, dir, "events").where($"event_type" === "purchase")
      .select($"user_id",
        expr("ts div 1000 div 1000000 div 86400 div 7").as("wk"))
    val first = pe.groupBy($"user_id").agg(min($"wk").as("cohort"))
    pe.join(first, "user_id")
      .groupBy($"cohort", ($"wk" - $"cohort").as("offset_wk"))
      .agg(countDistinct($"user_id").as("n_users"))
      .orderBy($"cohort", $"offset_wk")
  }

  val q150Sql: String =
    """WITH pe AS (
      |  SELECT user_id, epoch_us(ts) // 1000000 // 86400 // 7 AS wk
      |  FROM events WHERE event_type = 'purchase'),
      |f AS (SELECT user_id, min(wk) AS cohort FROM pe GROUP BY 1)
      |SELECT cohort, wk - cohort AS offset_wk,
      |  count(DISTINCT pe.user_id) AS n_users
      |FROM pe JOIN f USING (user_id)
      |GROUP BY 1, 2
      |ORDER BY cohort, offset_wk""".stripMargin

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q146_bm25" -> (q146Bm25 _),
    "q147_contain_join" -> (q147ContainJoin _),
    "q148_normalize" -> (q148Normalize _),
    "q149_funnel" -> (q149Funnel _),
    "q150_cohort" -> (q150Cohort _)
  )

  val oracles: Map[String, String] = Map(
    "q146_bm25" -> q146Sql,
    "q147_contain_join" -> q147Sql,
    "q148_normalize" -> q148Sql,
    "q149_funnel" -> q149Sql,
    "q150_cohort" -> q150Sql
  )
}
