package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.BpeTrain
import graft.operators.{Packing, Sampling, TextAnalysis}

/** Round-15 gates: oracle-restatable invariants split OUT of the
  * `no_oracle` gates q97/q95/q108 so the DuckDB hash covers their
  * conservation/normalization arithmetic (the q31/q36/q61 precedent —
  * the engine-defined part stays self-checked in the original gate,
  * the cross-engine-restatable part becomes hashed data here).
  * Naming/oracle/float conventions as in [[Queries]].
  */
object Queries34 {

  // ---- q247: packing conservation, hashed ---------------------------------

  /** The oracle-restatable half of q97's self-checks: run the SAME
    * packing pipeline (splitmix64 shuffle order, fixed 8 range
    * partitions, greedy ≤256-token packing) and emit the conservation
    * totals as DATA — packed token total, docs packed (distinct and
    * raw row count), and the count of over-budget multi-doc sequences.
    * DuckDB restates each straight from `documents` with the
    * q30-proven tokenization: conservation says packing moved every
    * doc exactly once and invented/lost no tokens, so the packed
    * totals MUST equal the corpus totals computed without running the
    * packer at all. A green hash proves it cross-engine; q97 keeps the
    * engine-defined per-sequence rows and raise_error checks. */
  def q247PackConserve(s: SparkSession, dir: String): DataFrame = {
    val maxTok = 256
    val docs = Tables(s, dir, "documents")
      .select($"doc_id", TextAnalysis.tokenCount($"text").cast(LongType)
        .as("n_tokens"))
    val ordered = docs
      .withColumn("__k", Sampling.shuffleKey($"doc_id", 31L))
      .repartitionByRange(8, $"__k", $"doc_id")
      .sortWithinPartitions($"__k", $"doc_id")
    // localCheckpoint: packed feeds both the conservation totals and
    // the over-budget aggregate — without it each consumer re-runs the
    // scan + range shuffle + greedy fold
    val packed = Packing.packGreedy(ordered, "doc_id", "n_tokens", maxTok)
      .localCheckpoint()
    val overBudget = packed.groupBy($"seq_id")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("seq_tokens"))
      .agg(sum(when($"seq_tokens" > maxTok && $"n_docs" > 1, 1L)
        .otherwise(0L)).as("n_over_budget"))
    packed
      .agg(sum($"n_tokens").cast(LongType).as("total_tokens"),
        count_distinct($"doc_id").as("n_docs"),
        count(lit(1)).as("n_rows"))
      .crossJoin(broadcast(overBudget))
  }

  val q247Sql: String =
    """SELECT
      |  CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
      |    AS total_tokens,
      |  count(*) AS n_docs,
      |  count(*) AS n_rows,
      |  CAST(0 AS BIGINT) AS n_over_budget
      |FROM documents""".stripMargin

  // ---- q248: DSIR gram totals, hashed --------------------------------------

  /** The oracle-restatable half of q95's DSIR fit: per-document gram
    * counts (unigrams + bigrams over the whitespace tokenization —
    * 2m−1 for m ≥ 2 tokens) for the first 100 corpus docs, plus the
    * TOTAL gram counts of the target and corpus sides — the exact
    * denominators (tTot, rTot) of the fitted probability tables.
    * Spark computes them through the real `dsirBuckets` windowing
    * (the expression the fit and the scorer both consume); DuckDB
    * recomputes them from the raw text and the q95 fixture literals
    * without any hashing. A green hash proves the gram windowing that
    * feeds every DSIR weight is exact cross-engine; what stays
    * engine-defined in q95 is only the xxhash64 bucket assignment. */
  def q248DsirGrams(s: SparkSession, dir: String): DataFrame = {
    val (target, corpus) = Queries6.dsirFixture(s, dir)
    val nB = 4096
    def grams(df: DataFrame) =
      df.select(size(TextAnalysis.dsirBuckets($"text", nB))
        .cast(LongType).as("g"))
    val tTot = grams(target).agg(sum($"g").as("t_tot"))
    val rTot = grams(corpus).agg(sum($"g").as("r_tot"))
    corpus.where($"doc_id" < 100)
      .select($"doc_id",
        size(TextAnalysis.dsirBuckets($"text", nB)).cast(LongType)
          .as("n_grams"))
      .crossJoin(broadcast(tTot))
      .crossJoin(broadcast(rTot))
      .orderBy($"doc_id")
  }

  /** The three target texts and two planted texts are the q95 fixture
    * literals ([[Queries6.dsirTargetTexts]]/[[Queries6.dsirPlantedTexts]])
    * restated VERBATIM — 2·len−1 grams each (all have ≥ 2 tokens). */
  val q248Sql: String =
    """WITH w AS (
      |  SELECT doc_id,
      |    len(string_split_regex(trim(text), '\s+')) AS m
      |  FROM documents),
      |tgt AS (SELECT * FROM (VALUES
      |  ('qqalpha qqbeta qqgamma qqdelta qqepsilon qqalpha qqbeta'),
      |  ('qqgamma qqdelta qqalpha qqepsilon qqbeta qqgamma'),
      |  ('qqdelta qqepsilon qqgamma qqalpha qqbeta qqdelta')) AS t(text)),
      |pl AS (SELECT * FROM (VALUES
      |  ('qqalpha qqbeta qqgamma qqdelta qqepsilon'),
      |  ('qqepsilon qqdelta qqgamma qqbeta qqalpha qqalpha qqbeta'))
      |  AS t(text)),
      |tt AS (SELECT CAST(sum(
      |    2 * len(string_split_regex(trim(text), '\s+')) - 1) AS BIGINT)
      |  AS t_tot FROM tgt),
      |rt AS (SELECT CAST(
      |    (SELECT sum(2 * m - 1) FROM w) +
      |    (SELECT sum(2 * len(string_split_regex(trim(text), '\s+')) - 1)
      |     FROM pl) AS BIGINT) AS r_tot)
      |SELECT doc_id, CAST(2 * m - 1 AS BIGINT) AS n_grams, t_tot, r_tot
      |FROM w, tt, rt WHERE doc_id < 100 ORDER BY doc_id""".stripMargin

  // ---- q249: BPE training frame, hashed ------------------------------------

  /** The oracle-restatable frame of q108's BPE training: the distinct
    * whitespace-word count actually fed to the trainer (DuckDB
    * recomputes it from `documents` — a real cross-engine check of the
    * training input), the merge count (the numMerges=60 parameter,
    * reached because the corpus has ≥ 60 mergeable pairs), and the
    * vocabulary size (byte-level base 256 + one NEW token per merge;
    * the gate raises if any merge product collided with an existing
    * token, which would silently shrink the vocab). q108 keeps the
    * engine-defined ranked merge table and the losslessness check. */
  def q249BpeFrame(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val (ranks, vocab) = BpeTrain.trainFromCorpus(docs, "text",
      numMerges = 60)
    val ranksOk = ranks.values.toSeq.sorted == (0 until ranks.size) &&
      ranks.keys.forall { case (l, r) => vocab.contains(l + r) }
    val nWords = docs
      .select(explode(split(trim($"text"), "\\s+")).as("w"))
      .where(length($"w") > 0)
      .agg(count_distinct($"w").as("n_words"))
    nWords.select(
      lit(ranks.size.toLong).as("n_merges"),
      when(lit(vocab.size) === lit(256 + ranks.size) && lit(ranksOk),
          lit(vocab.size.toLong))
        .otherwise(raise_error(lit(
          "q249: merge-token collision or non-contiguous ranks — " +
            s"vocab=${vocab.size} merges=${ranks.size}")))
        .as("vocab_size"),
      $"n_words")
  }

  val q249Sql: String =
    """SELECT CAST(60 AS BIGINT) AS n_merges,
      |  CAST(316 AS BIGINT) AS vocab_size,
      |  (SELECT count(DISTINCT w) FROM (
      |     SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
      |     FROM documents) t
      |   WHERE len(w) > 0) AS n_words""".stripMargin

  // ---- q250: Gopher duplicate-segment counts, hashed -----------------------

  /** The oracle-restatable third of q79's Gopher repetition signals:
    * the line- and paragraph-level duplicate statistics, emitted as
    * EXACT INTEGER numerators/denominators per document (duplicates =
    * occurrences beyond first; "chars" = UTF-8 bytes; empty segments
    * skipped; lines split on \n, paragraphs on runs of 2+ \n with
    * single newlines kept inside the paragraph — the documented kernel
    * choices). DuckDB restates all eight counters straight from the
    * raw text. The gate ALSO runs the real fused kernel
    * (repetitionSignals) per doc and raises unless slots 0-3 equal the
    * integer ratios exactly (same IEEE quotient of the same integers)
    * — so a green hash proves the kernel's segment splitting, dup
    * accounting, and byte counting on the whole corpus, not just the
    * q79 fixture. The n-gram slots (4-12) stay engine-defined (hashed
    * word identity). Integer output sidesteps float-rounding hazards
    * entirely. Scale shape: one explode + keyed aggregate per segment
    * kind — the text leaves the scan only as (doc_id, segment) pairs,
    * and the kernel pass is scan-side. */
  def q250DupSegments(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    // ONE corpus scan: both segment kinds ride the same explode as
    // tagged structs, then conditional aggregation splits them back
    // into the 8 counters — vs the naive 4-subtree form that scanned
    // documents once per (kind, consumer) pair
    def tagged(pattern: String, kind: String): Column =
      transform(filter(split($"text", pattern), x => octet_length(x) > 0),
        x => struct(lit(kind).as("kind"), x.as("seg")))
    val segs = docs.select($"doc_id",
        explode(concat(tagged("\n", "l"), tagged("\n{2,}", "p"))).as("ks"))
      .select($"doc_id", $"ks.kind".as("kind"), $"ks.seg".as("seg"))
    def side(kind: String, expr: Column): Column =
      sum(when($"kind" === kind, expr).otherwise(0L)).cast(LongType)
    // localCheckpoint: ints feeds BOTH the gate output and the kernel
    // cross-check aggregate — without it each consumer re-runs the
    // explode + two shuffles (the q96 multi-consumer discipline)
    val ints = segs.groupBy($"doc_id", $"kind", $"seg")
      .agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(
        side("l", $"c").as("n_line"),
        side("l", $"c" - 1).as("dup_line"),
        side("l", $"c" * octet_length($"seg")).as("tot_line_bytes"),
        side("l", ($"c" - 1) * octet_length($"seg")).as("dup_line_bytes"),
        side("p", $"c").as("n_para"),
        side("p", $"c" - 1).as("dup_para"),
        side("p", $"c" * octet_length($"seg")).as("tot_para_bytes"),
        side("p", ($"c" - 1) * octet_length($"seg")).as("dup_para_bytes"))
      .localCheckpoint()
    val kernel = docs.select($"doc_id",
      TextAnalysis.repetitionSignals($"text").as("r"))
    // kernel slots 0-3 must equal the SAME-IEEE-quotient of the
    // integers — dup/n and dupBytes/totBytes with identical operands
    // on both sides, so strict equality is the correct tolerance
    def ratio(num: Column, den: Column): Column =
      when(den === 0L, lit(0.0))
        .otherwise(num.cast(DoubleType) / den.cast(DoubleType))
    val bad = ints.join(kernel, Seq("doc_id"))
      .agg(sum(when(
        $"r.dup_line_frac" === ratio($"dup_line", $"n_line") &&
        $"r.dup_line_char_frac" ===
          ratio($"dup_line_bytes", $"tot_line_bytes") &&
        $"r.dup_para_frac" === ratio($"dup_para", $"n_para") &&
        $"r.dup_para_char_frac" ===
          ratio($"dup_para_bytes", $"tot_para_bytes"), 0L)
        .otherwise(1L)).as("__bad"))
    val check = bad.select(when($"__bad" === 0L, lit(true))
      .otherwise(raise_error(concat(
        lit("q250: kernel segment stats diverge from integer replay ("),
        $"__bad".cast(StringType), lit(" docs)")))).as("kernel_ok"))
    ints.select($"doc_id", $"n_line", $"dup_line",
        $"tot_line_bytes", $"dup_line_bytes",
        $"n_para", $"dup_para", $"tot_para_bytes", $"dup_para_bytes")
      .crossJoin(broadcast(check))
      .orderBy($"doc_id")
  }

  /** Shaped like the Spark side — one tagged union of both segment
    * kinds, conditional aggregation — so a doc with segments of only
    * ONE kind (e.g. text "\n": a paragraph but no non-empty line)
    * appears on both sides with zeros for the missing kind, where an
    * INNER JOIN of per-kind aggregates would have dropped it from the
    * oracle only. */
  val q250Sql: String =
    """WITH segs AS (
      |  SELECT doc_id, 'l' AS kind,
      |    unnest(string_split(text, chr(10))) AS seg
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id, 'p' AS kind,
      |    unnest(string_split_regex(text, '\n\n+')) AS seg
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, kind, seg, count(*) AS c, strlen(seg) AS b
      |  FROM segs WHERE seg <> '' GROUP BY doc_id, kind, seg)
      |SELECT doc_id,
      |  CAST(sum(CASE WHEN kind = 'l' THEN c ELSE 0 END) AS BIGINT)
      |    AS n_line,
      |  CAST(sum(CASE WHEN kind = 'l' THEN c - 1 ELSE 0 END) AS BIGINT)
      |    AS dup_line,
      |  CAST(sum(CASE WHEN kind = 'l' THEN c * b ELSE 0 END) AS BIGINT)
      |    AS tot_line_bytes,
      |  CAST(sum(CASE WHEN kind = 'l' THEN (c - 1) * b ELSE 0 END)
      |    AS BIGINT) AS dup_line_bytes,
      |  CAST(sum(CASE WHEN kind = 'p' THEN c ELSE 0 END) AS BIGINT)
      |    AS n_para,
      |  CAST(sum(CASE WHEN kind = 'p' THEN c - 1 ELSE 0 END) AS BIGINT)
      |    AS dup_para,
      |  CAST(sum(CASE WHEN kind = 'p' THEN c * b ELSE 0 END) AS BIGINT)
      |    AS tot_para_bytes,
      |  CAST(sum(CASE WHEN kind = 'p' THEN (c - 1) * b ELSE 0 END)
      |    AS BIGINT) AS dup_para_bytes,
      |  true AS kernel_ok
      |FROM g GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  // ---- q251: pad-or-truncate sequence prep, hashed -------------------------

  /** Fixed-length sequence padding — the loader-facing contract of
    * [[graft.operators.Packing.padToLength]]/`attentionMask`
    * (reference: test/test_interop.py:148 `base_test_pad_sequence`,
    * the ragged-list→padded-batch step of every training pipeline).
    * Each document's whitespace tokens (q247's tokenization) are
    * padded/truncated to exactly 8 slots with `<pad>`; the gate emits
    * the padded sequence flattened with `|` (the checker rejects
    * nested columns), the mask-derived real-token count (computed by
    * FOLDING the actual attentionMask array, so the mask expression is
    * itself under the hash), the mask signature as a 0/1 string, and
    * the left-truncation window (padToLengthKeepEnd: long docs keep
    * their LAST 8 tokens — the chat-context rule).
    * DuckDB restates all three with `list_slice || list_transform(
    * range(...))` (NOT `list_resize`, whose pad-value handling over
    * table vectors is broken in DuckDB 1.0.0 — wrong fill value, and
    * `std::bad_array_new_length` crashes on corpus-sized input), so a
    * green hash proves pad, truncate, short-doc, and mask arithmetic
    * cross-engine. Plan: one scan, row-local expressions, zero
    * shuffles (the checker sorts, no orderBy needed beyond
    * determinism). */
  def q251PadSequence(s: SparkSession, dir: String): DataFrame = {
    val L = 8
    // deterministic ragged lengths 1..12: every corpus doc at sf0.01+
    // has >= 8 whitespace tokens, so padding to 8 straight from the
    // text would only ever exercise the TRUNCATE path — the per-doc
    // cap makes a third of the rows shorter than L (pad path) and the
    // rest longer (truncate path), all under the same hash
    val toks = slice(split(trim($"text"), "\\s+"), lit(1),
      ($"doc_id" % 12 + 1).cast(IntegerType))
    val mask = graft.operators.Packing.attentionMask(toks, L)
    Tables(s, dir, "documents").select(
      $"doc_id",
      array_join(graft.operators.Packing.padToLength(
        toks, L, lit("<pad>")), "|").as("padded"),
      aggregate(mask, lit(0), (acc, x) => acc + x)
        .cast(IntegerType).as("n_real"),
      array_join(transform(mask, _.cast(StringType)), "").as("mask_sig"),
      // left-truncation variant: long docs keep their LAST 8 tokens
      array_join(graft.operators.Packing.padToLengthKeepEnd(
        toks, L, lit("<pad>")), "|").as("tail_win"))
  }

  val q251Sql: String =
    """WITH tk AS (
      |  SELECT doc_id,
      |    list_slice(string_split_regex(trim(text), '\s+'),
      |      1, CAST(doc_id % 12 + 1 AS INT)) AS toks
      |  FROM documents)
      |SELECT doc_id,
      |  array_to_string(
      |    list_slice(toks, 1, least(len(toks), 8)) ||
      |    list_transform(range(8 - least(len(toks), 8)), x -> '<pad>'),
      |    '|') AS padded,
      |  CAST(least(len(toks), 8) AS INT) AS n_real,
      |  repeat('1', least(len(toks), 8)) ||
      |    repeat('0', 8 - least(len(toks), 8)) AS mask_sig,
      |  array_to_string(
      |    list_slice(toks, greatest(len(toks) - 7, 1), len(toks)) ||
      |    list_transform(range(8 - least(len(toks), 8)), x -> '<pad>'),
      |    '|') AS tail_win
      |FROM tk""".stripMargin

  // ---- q252: T5 span corruption, hashed -------------------------------------

  /** Denoising-objective prep end-to-end under the cross-engine hash:
    * each document's first 16 tokens are span-corrupted at density
    * 0.25 (seed 17) by [[graft.operators.Denoise.spanCorrupt]] — mask
    * selection is the q83-precedent splitmix64 bucket keyed on
    * `doc_id * 4096 + pos`, runs of masked tokens collapse to one
    * `<extra_id_k>` sentinel in the input, and the target lists each
    * sentinel + its hidden tokens. DuckDB replays the WHOLE pipeline:
    * the exact splitmix64 mix ([[Queries5.bucketCtes]]), the
    * gaps-and-islands span grouping (lag + running sum windows), and
    * the ordered string rebuild — so a green hash proves mask
    * arithmetic, span collapse, sentinel numbering, and both output
    * sequences bit-for-bit. Plan: row-local explode, ONE window
    * partitioning on doc_id reused by the groupBy rebuild. */
  def q252SpanCorrupt(s: SparkSession, dir: String): DataFrame = {
    val toks = slice(split(trim($"text"), "\\s+"), 1, 16)
    val docs = Tables(s, dir, "documents").select($"doc_id", toks.as("toks"))
    graft.operators.Denoise.spanCorrupt(docs, "doc_id", "toks",
      density = 0.25, seed = 17L)
  }

  // threshold: floor(0.25 * 8192) = 2048
  val q252Sql: String =
    s"""WITH tk AS (
       |  SELECT doc_id,
       |    unnest(list_slice(string_split_regex(trim(text), '\\s+'),
       |      1, 16)) AS tok,
       |    generate_subscripts(list_slice(
       |      string_split_regex(trim(text), '\\s+'), 1, 16), 1) - 1
       |      AS pos
       |  FROM documents),
       |keyed AS (
       |  SELECT doc_id, tok, pos, doc_id * 4096 + pos AS k FROM tk),
       |${Queries5.bucketCtes("mk", 17L, "keyed", "k")},
       |m AS (
       |  SELECT keyed.doc_id, keyed.tok, keyed.pos,
       |    mkb.bucket < 2048 AS msk
       |  FROM keyed JOIN mkb ON keyed.k = mkb.k),
       |sp AS (
       |  SELECT doc_id, tok, pos, msk,
       |    msk AND NOT coalesce(
       |      lag(msk) OVER (PARTITION BY doc_id ORDER BY pos), false)
       |      AS strt
       |  FROM m),
       |ks AS (
       |  SELECT doc_id, tok, pos, msk, strt,
       |    sum(CASE WHEN strt THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS kk
       |  FROM sp),
       |pieces AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN NOT msk THEN tok
       |         WHEN strt THEN '<extra_id_' || kk || '>' END AS in_piece,
       |    CASE WHEN msk THEN
       |      CASE WHEN strt THEN '<extra_id_' || kk || '> ' || tok
       |           ELSE tok END
       |    END AS tgt_piece,
       |    msk, strt
       |  FROM ks)
       |SELECT doc_id,
       |  coalesce(string_agg(in_piece, ' ' ORDER BY pos)
       |    FILTER (WHERE in_piece IS NOT NULL), '') AS input_str,
       |  coalesce(string_agg(tgt_piece, ' ' ORDER BY pos)
       |    FILTER (WHERE tgt_piece IS NOT NULL), '') AS target_str,
       |  CAST(sum(CASE WHEN msk THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_masked,
       |  CAST(sum(CASE WHEN strt THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_spans
       |FROM pieces GROUP BY doc_id""".stripMargin

  // ---- q253: BERT masked-LM prep, hashed ------------------------------------

  /** The row-local sibling of q252: each document's first 16 tokens
    * get BERT-style MLM treatment ([[graft.operators.Denoise
    * .mlmMask]], density 0.15, seed 23) — selection, the 80/10/10
    * mask/random/keep split, and the "random" replacement position
    * are all splitmix64 buckets (seeds 23/24/25), so the entire
    * objective prep is a pure function of (doc_id, seed) with ZERO
    * shuffles (plan-asserted in DenoiseSpec). DuckDB replays all
    * three draws via bucketCtes over the exploded positions, the
    * replacement via 1-based list indexing at `bucket % len`, and
    * rebuilds both streams with ordered string_agg — a green hash
    * proves the masked sequence, the label stream, and the per-branch
    * counts bit-for-bit. */
  def q253MlmMask(s: SparkSession, dir: String): DataFrame = {
    val toks = slice(split(trim($"text"), "\\s+"), 1, 16)
    val docs = Tables(s, dir, "documents").select($"doc_id", toks.as("toks"))
    graft.operators.Denoise.mlmMask(docs, "doc_id", "toks",
      density = 0.15, seed = 23L)
  }

  // thresholds: sel floor(0.15*8192)=1228; mask floor(0.8*8192)=6553;
  // rand floor(0.9*8192)=7372
  val q253Sql: String = mlmSql(sliceLen = 16, thrSel = 1228, seed = 23L)

  /** The full DuckDB MLM replay, parameterized — q253 (batch) and
    * q261 (the SAME operator as a streaming query) share it, so the
    * two gates are provably the same contract at different configs. */
  private[graft] def mlmSql(sliceLen: Int, thrSel: Int, seed: Long)
      : String =
    s"""WITH tk AS (
       |  SELECT doc_id,
       |    list_slice(string_split_regex(trim(text), '\\s+'), 1,
       |      $sliceLen) AS toks
       |  FROM documents),
       |keyed AS (
       |  SELECT doc_id, toks, len(toks) AS n,
       |    unnest(toks) AS tok,
       |    generate_subscripts(toks, 1) - 1 AS pos,
       |    doc_id * 4096 + generate_subscripts(toks, 1) - 1 AS k
       |  FROM tk),
       |${Queries5.bucketCtes("ma", seed, "keyed", "k")},
       |${Queries5.bucketCtes("mb", seed + 1, "keyed", "k")},
       |${Queries5.bucketCtes("mc", seed + 2, "keyed", "k")},
       |j AS (
       |  SELECT keyed.doc_id, keyed.toks, keyed.n, keyed.tok,
       |    keyed.pos,
       |    mab.bucket < $thrSel AS sel, mbb.bucket AS d2,
       |    mcb.bucket % keyed.n AS rpos
       |  FROM keyed
       |  JOIN mab ON keyed.k = mab.k
       |  JOIN mbb ON keyed.k = mbb.k
       |  JOIN mcb ON keyed.k = mcb.k),
       |p AS (
       |  SELECT doc_id, pos, tok, sel, d2,
       |    CASE WHEN NOT sel THEN tok
       |         WHEN d2 < 6553 THEN '[MASK]'
       |         WHEN d2 < 7372 THEN toks[rpos + 1]
       |         ELSE tok END AS m
       |  FROM j)
       |SELECT doc_id,
       |  string_agg(m, ' ' ORDER BY pos) AS masked_str,
       |  coalesce(string_agg(pos || ':' || tok, ' ' ORDER BY pos)
       |    FILTER (WHERE sel), '') AS labels_str,
       |  CAST(sum(CASE WHEN sel THEN 1 ELSE 0 END) AS BIGINT) AS n_sel,
       |  CAST(sum(CASE WHEN sel AND d2 < 6553 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_mask,
       |  CAST(sum(CASE WHEN sel AND d2 >= 6553 AND d2 < 7372 THEN 1
       |    ELSE 0 END) AS BIGINT) AS n_rand,
       |  CAST(sum(CASE WHEN sel AND d2 >= 7372 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_keep
       |FROM p GROUP BY doc_id""".stripMargin

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q247_pack_conserve" -> (q247PackConserve _),
    "q248_dsir_grams" -> (q248DsirGrams _),
    "q249_bpe_frame" -> (q249BpeFrame _),
    "q250_dup_segments" -> (q250DupSegments _),
    "q251_pad_sequence" -> (q251PadSequence _),
    "q252_span_corrupt" -> (q252SpanCorrupt _),
    "q253_mlm_mask" -> (q253MlmMask _)
  )

  val oracles: Map[String, String] = Map(
    "q247_pack_conserve" -> q247Sql,
    "q248_dsir_grams" -> q248Sql,
    "q249_bpe_frame" -> q249Sql,
    "q250_dup_segments" -> q250Sql,
    "q251_pad_sequence" -> q251Sql,
    "q252_span_corrupt" -> q252Sql,
    "q253_mlm_mask" -> q253Sql
  )
}
