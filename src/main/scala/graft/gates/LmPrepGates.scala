package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.frame.namespaces._
import graft.functions.{Bpe, BpeEncoder, BpeTrain, Functional}
import graft.operators.{Dedup, Denoise, Packing, Sampling, TextAnalysis}

/** Language-model data-preparation gates: tokenizers (BPE training and
  * encoding), sampling and mixing, splits, packing, chunking and the
  * pretraining objectives (MLM, span corruption, FIM, UL2, NSP).
  */
object LmPrepGates extends GateFamily("lm_prep") {

  import DedupGates.jaccardPairFixture

  lazy val gates: Seq[Gate] = Seq(
    Gate("q36_bpe", q36Bpe, Some(q36Sql)),
    Gate("q47_add_tokens", q47AddTokens, Some(q47Sql)),
    Gate("q83_sample", q83Sample, Some(q83Sql)),
    Gate("q90_shuffle_order", q90ShuffleOrder, Some(q90Sql)),
    Gate("q93_stratified", q93Stratified, Some(q93Sql)),
    Gate("q95_dsir", q95Dsir,
      eager = Some("driver pull of the DSIR n-gram counts")),
    Gate("q97_packing", q97Packing),
    Gate("q98_chunk", q98Chunk, Some(q98Sql)),
    Gate("q101_build_vocab", q101BuildVocab, Some(q101Sql)),
    Gate("q106_mix_to_target", q106MixToTarget, Some(q106Sql),
      eager = Some("driver pull of per-language counts")),
    Gate("q108_bpe_train", q108BpeTrain,
      eager = Some("BPE merge training on the driver")),
    Gate("q136_weighted_sample", q136WeightedSample, Some(q136Sql),
      eager = Some("driver pull of the maximum weight")),
    Gate("q247_pack_conserve", q247PackConserve, Some(q247Sql),
      eager = Some("checkpointed packing, driver pull of offsets")),
    Gate("q248_dsir_grams", q248DsirGrams, Some(q248Sql)),
    Gate("q249_bpe_frame", q249BpeFrame, Some(q249Sql),
      eager = Some("BPE merge training on the driver")),
    Gate("q251_pad_sequence", q251PadSequence, Some(q251Sql)),
    Gate("q252_span_corrupt", q252SpanCorrupt, Some(q252Sql)),
    Gate("q253_mlm_mask", q253MlmMask, Some(q253Sql)),
    Gate("q254_fim", q254Fim, Some(q254Sql)),
    Gate("q255_nsp", q255Nsp, Some(q255Sql)),
    Gate("q256_len_buckets", q256LenBuckets, Some(q256Sql)),
    Gate("q257_block_pack", q257BlockPack, Some(q257Sql)),
    Gate("q258_ul2", q258Ul2, Some(q258Sql)),
    Gate("q259_pref_pairs", q259PrefPairs, Some(q259Sql)),
    Gate("q262_repeat_schedule", q262RepeatSchedule, Some(q262Sql)),
    Gate("q264_block_rows", q264BlockRows, Some(q264Sql)),
    Gate("q265_bpe_len_buckets", q265BpeLenBuckets, Some(q265Sql),
      eager = Some("driver pull of the distinct-word vocabulary")),
    Gate("q266_curriculum", q266Curriculum, Some(q266Sql)),
    Gate("q267_fertility", q267Fertility, Some(q267Sql),
      eager = Some("driver pull of the distinct-word vocabulary")),
    Gate("q270_bpe_dict_distributed", q270BpeDictDistributed, Some(q265Sql)),
    Gate("q271_gpt2_corpus", q271Gpt2Corpus, Some(q271Sql)),
    Gate("q281_temperature_mix", q281TemperatureMix, Some(q281Sql),
      eager = Some("driver pull of per-language counts")),
    Gate("q282_leakage_safe_split", q282LeakageSafeSplit, Some(q282Sql),
      eager = Some("localCheckpoint connected-components loop")),
    Gate("q286_sft_mask", q286SftMask, Some(q286Sql))
  )

  // ---- §2.14 add_tokens + §2.11 fixed-size list ------------------------

  /** add_tokens (text/add_tokens.h) wrapping BOS/EOS around a
    * fixed-size-asserted 3-token slice; assertFixedSize is the runtime
    * analog of the reference's fixed-size list dtype — a violation
    * would fail the job, so a green row proves every array passed. */
  def q47AddTokens(s: SparkSession, dir: String): DataFrame = {
    val toks = split(trim($"text"), "\\s+")
    Tables(s, dir, "documents")
      .where(size(toks) >= 3)
      .select($"doc_id",
        array_join(
          Functional.addTokens(
            Functional.addTokens(
              Functional.assertFixedSize(slice(toks, 1, 3), 3),
              Seq("</s>"), begin = false),
            Seq("<s>"), begin = true),
          "|").as("wrapped"))
      .orderBy($"doc_id")
  }

  val q47Sql: String =
    """SELECT doc_id, array_to_string(list_concat(list_concat(['<s>'],
      |  list_slice(string_split_regex(trim(text), '\s+'), 1, 3)),
      |  ['</s>']), '|') AS wrapped
      |FROM documents
      |WHERE len(string_split_regex(trim(text), '\s+')) >= 3
      |ORDER BY doc_id""".stripMargin

  // ---- §2.14 BPE tokenize at the gate (rows-only) ----------------------

  /** GPT-2-style BPE (csrc/velox/text/gpt2_bpe_tokenizer.{h,cpp}) with a
    * literal 10-rule merge table and a small vocab. Greedy lowest-rank
    * merges are not SQL-expressible, so (round-13 change, ending this
    * gate's `no_oracle` status) the output is DRIVER-HASHABLE: one row
    * per token of a fixed input encoded through the real distributed
    * kernel, compared against ids hand-derived from the merge table
    * ("the"→101; " and"→[unk,104]; " ring"→[unk,r=18,ing=108];
    * " or"→[unk,109]; " in"→[unk,102] — the leading-space unit maps
    * to a 256+ byte-level char absent from the vocab → unkId 0), as a
    * DuckDB VALUES literal. The corpus tokenize (leading 60 chars of
    * every document) stays in the gate as oracle-restatable
    * invariants: n_docs crosses engines; corpus_ok raises unless every
    * document produced ≥1 token with a non-negative id sum. The
    * encoder ships once per executor via the task closure. */
  /** The 10-rule fixture merge table + small vocab shared by q36 and
    * the BPE-true length gate q265 (whose oracle restates per-word
    * token counts hand-derived from THESE merges — any edit must
    * change both). */
  private[graft] lazy val q36Encoder: BpeEncoder = {
    val merges = Seq(("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"),
      ("an", "d"), ("e", "r"), ("o", "n"), ("r", "e"), ("in", "g"),
      ("o", "r")).zipWithIndex.toMap
    val vocab: Map[String, Long] =
      ('a' to 'z').map(ch => ch.toString -> (ch - 'a' + 1).toLong).toMap ++
        Map("th" -> 100L, "the" -> 101L, "in" -> 102L, "an" -> 103L,
          "and" -> 104L, "er" -> 105L, "on" -> 106L, "re" -> 107L,
          "ing" -> 108L, "or" -> 109L)
    new BpeEncoder(merges, vocab, unkId = 0L)
  }

  def q36Bpe(s: SparkSession, dir: String): DataFrame = {
    val enc = q36Encoder
    val fixture = s.range(1)
      .select(posexplode(
        Bpe.bpeTokenize(enc)(lit("the and ring or in")))
        .as(Seq("pos", "id")))
    val ids = Bpe.bpeTokenize(enc)(lower(substring($"text", 1, 60)))
    val corpus = Tables(s, dir, "documents")
      .select(size(ids).as("nt"),
        aggregate(ids, lit(0L), (acc, x) => acc + x).as("sum"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"nt" >= 1 && $"sum" >= 0L, 0L).otherwise(1L))
          .as("__bad"))
      .select($"n_docs",
        when($"__bad" === 0L, lit(true))
          .otherwise(raise_error(lit(
            "q36: corpus tokenize produced an empty or negative doc")))
          .as("corpus_ok"))
    fixture.crossJoin(broadcast(corpus))
      .select($"pos", $"id", $"n_docs", $"corpus_ok")
      .orderBy($"pos")
  }

  val q36Sql: String =
    """SELECT CAST(pos AS INTEGER) AS pos, CAST(id AS BIGINT) AS id,
      |  (SELECT count(*) FROM documents) AS n_docs, true AS corpus_ok
      |FROM (VALUES (0,101),(1,0),(2,104),(3,0),(4,18),(5,108),(6,0),
      |  (7,109),(8,0),(9,102)) AS t(pos, id)
      |ORDER BY pos""".stripMargin

  // ---- deterministic sampling / splits (operators/Sampling.scala) ------

  /** DuckDB CTE chain replaying Kernels.sampleBucket bit-for-bit in
    * exact integer SQL: the two wrapped 64-bit multiplies run in
    * HUGEINT via 32-bit limb decomposition (`a*c mod 2^64 = (a*c_lo +
    * ((a*c_hi) mod 2^32)*2^32) mod 2^64` — every intermediate < 2^97,
    * inside HUGEINT range), the xor/shift finalizer steps in UBIGINT.
    * Emits CTEs `<tag>0..<tag>3` and `<tag>b(k, bucket)`. Assumes a
    * non-negative integral key (true for every table key here);
    * negative keys would need an extra mod-normalization because
    * DuckDB's % takes the dividend's sign. */
  private def mixCtes(tag: String, seed: Long, src: String,
      keyExpr: String): (String, String) = {
    val m = BigInt(1) << 64
    def u(x: Long): BigInt = BigInt(x) & (m - 1)
    val seedc = (u(seed) * u(Sampling.Multiplier)).mod(m)
    val c1 = u(0xBF58476D1CE4E5B9L)
    val c2 = u(0x94D049BB133111EBL)
    def mul(a: String, c: BigInt): String = {
      val lo = c & 0xFFFFFFFFL
      val hi = c >> 32
      s"(($a * $lo + (($a * $hi) % 4294967296) * 4294967296) % $m)"
    }
    def xs(a: String, n: Int): String =
      s"CAST(xor(CAST($a AS UBIGINT), CAST($a AS UBIGINT) >> $n) AS HUGEINT)"
    val last = mul("z", c2)
    val stages =
      s"""${tag}0 AS (SELECT $keyExpr AS k,
         |  (CAST($keyExpr AS HUGEINT) + $seedc) % $m AS z FROM $src),
         |${tag}1 AS (SELECT k, ${xs("z", 30)} AS z FROM ${tag}0),
         |${tag}2 AS (SELECT k, ${mul("z", c1)} AS z FROM ${tag}1),
         |${tag}3 AS (SELECT k, ${xs("z", 27)} AS z FROM ${tag}2)""".stripMargin
    (stages, last)
  }

  private[graft] def bucketCtes(tag: String, seed: Long, src: String,
      keyExpr: String): String = {
    val (stages, last) = mixCtes(tag, seed, src, keyExpr)
    s"""$stages,
       |${tag}b AS (SELECT k, CAST(xor(CAST($last AS UBIGINT),
       |  CAST($last AS UBIGINT) >> 31) >> 51 AS INTEGER) AS bucket
       |  FROM ${tag}3)""".stripMargin
  }

  /** Like [[bucketCtes]] but emitting the FULL finalized 64-bit value
    * as a SIGNED BIGINT in `<tag>h(k, h)` — the exact value
    * Kernels.sampleHash returns, so cross-engine ORDER BY agrees. */
  private[graft] def hashCtes(tag: String, seed: Long, src: String,
      keyExpr: String): String = {
    val (stages, last) = mixCtes(tag, seed, src, keyExpr)
    val half = BigInt(1) << 63
    val full = BigInt(1) << 64
    s"""$stages,
       |${tag}h AS (SELECT k, CAST(CASE
       |  WHEN CAST(xor(CAST($last AS UBIGINT), CAST($last AS UBIGINT)
       |    >> 31) AS HUGEINT) >= $half
       |  THEN CAST(xor(CAST($last AS UBIGINT), CAST($last AS UBIGINT)
       |    >> 31) AS HUGEINT) - $full
       |  ELSE CAST(xor(CAST($last AS UBIGINT), CAST($last AS UBIGINT)
       |    >> 31) AS HUGEINT) END AS BIGINT) AS h
       |  FROM ${tag}3)""".stripMargin
  }

  private val q83Weights = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  /** Deterministic sampling / split gate: splitLabel assigns every
    * order to train/val/test (0.8/0.1/0.1, seed 7) and bernoulli keeps
    * a deterministic 10% (seed 42); per split the query emits row
    * counts and key-sum checksums for both the full table and the
    * sampled subset. The oracle replays the splitmix64 bucket
    * bit-for-bit in DuckDB ([[bucketCtes]]) — a green row proves the
    * hash, the threshold floors, AND the when-chain range assignment
    * are engine-portable exactly as Sampling.scala promises. */
  def q83Sample(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables(s, dir, "orders")
    val split = Sampling.splitLabel($"o_orderkey", q83Weights, 7L)
    val all = orders.select($"o_orderkey", split.as("split"))
      .groupBy($"split")
      .agg(count(lit(1)).as("n"), sum($"o_orderkey").as("key_sum"))
    val smp = Sampling.bernoulli(orders, $"o_orderkey", 0.1, 42L)
      .select($"o_orderkey", split.as("split"))
      .groupBy($"split")
      .agg(count(lit(1)).as("sampled_n"),
        sum($"o_orderkey").as("sampled_key_sum"))
    all.join(smp, Seq("split"), "left").orderBy($"split")
  }

  // thresholds: floor(0.8*8192)=6553, floor(0.9*8192)=7372,
  // floor(0.1*8192)=819 — Sampling.threshold's floor semantics, spelled
  // out as literals so the oracle is independent of the Scala code.
  val q83Sql: String =
    s"""WITH ${bucketCtes("sp", 7L, "orders", "o_orderkey")},
       |${bucketCtes("bn", 42L, "orders", "o_orderkey")},
       |lab AS (
       |  SELECT spb.k AS k,
       |    CASE WHEN spb.bucket < 6553 THEN 'train'
       |         WHEN spb.bucket < 7372 THEN 'val' ELSE 'test' END AS split,
       |    bnb.bucket < 819 AS in_sample
       |  FROM spb JOIN bnb ON spb.k = bnb.k)
       |SELECT split, COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS key_sum,
       |  CAST(SUM(CASE WHEN in_sample THEN 1 END) AS BIGINT) AS sampled_n,
       |  CAST(SUM(CASE WHEN in_sample THEN k END) AS BIGINT)
       |    AS sampled_key_sum
       |FROM lab GROUP BY split ORDER BY split""".stripMargin

  // ---- deterministic global shuffle ------------------------------------

  /** Deterministic corpus shuffle: the 100 lowest rows of the
    * splitmix64 permutation (Sampling.shuffled, seed 17), with the
    * shuffle key exposed. A green row proves the full 64-bit hash —
    * not just the q83-oracled top-13-bits bucket — and the signed
    * ORDER BY agree across engines, i.e. both engines materialize the
    * identical training order. */
  def q90ShuffleOrder(s: SparkSession, dir: String): DataFrame =
    Sampling.shuffled(Tables(s, dir, "documents").select($"doc_id"),
        $"doc_id", 17L)
      .limit(100)
      .select($"doc_id", Sampling.shuffleKey($"doc_id", 17L).as("h"))

  val q90Sql: String =
    s"""WITH ${LmPrepGates.hashCtes("sh", 17L, "documents", "doc_id")}
       |SELECT k AS doc_id, h FROM shh ORDER BY h, k LIMIT 100""".stripMargin

  // ---- stratified deterministic sampling -------------------------------

  /** Per-stratum deterministic sampling (Sampling.stratified): the
    * source-mixing primitive — downsample one slice of a corpus hard,
    * keep another nearly whole, reproducibly (e.g. 5% of crawl, 50% of
    * curated). Strata here are o_orderstatus (F 5%, O 20%, default
    * 50%); keyed by o_orderkey, seed 21. Fully oracled: DuckDB replays
    * the splitmix64 bucket with HUGEINT arithmetic and the same
    * literal floor thresholds, so a green row proves the per-stratum
    * when-chain thresholds are engine-portable exactly like q83 proved
    * bernoulli/splitLabel. */
  def q93Stratified(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables(s, dir, "orders")
    val smp = Sampling.stratified(orders, $"o_orderstatus", $"o_orderkey",
      Map("F" -> 0.05, "O" -> 0.20), default = 0.50, seed = 21L)
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("sampled_n"),
        sum($"o_orderkey").as("sampled_key_sum"))
    orders.groupBy($"o_orderstatus").agg(count(lit(1)).as("n"))
      .join(smp, Seq("o_orderstatus"), "left")
      .orderBy($"o_orderstatus")
  }

  // thresholds: floor(0.05*8192)=409, floor(0.20*8192)=1638,
  // floor(0.50*8192)=4096 — spelled out as literals so the oracle is
  // independent of the Scala code (q83 discipline).
  val q93Sql: String =
    s"""WITH ${LmPrepGates.bucketCtes("st", 21L, "orders", "o_orderkey")},
       |j AS (
       |  SELECT o.o_orderstatus, o.o_orderkey, stb.bucket
       |  FROM orders o JOIN stb ON o.o_orderkey = stb.k),
       |lab AS (
       |  SELECT o_orderstatus, o_orderkey,
       |    bucket < (CASE o_orderstatus WHEN 'F' THEN 409
       |      WHEN 'O' THEN 1638 ELSE 4096 END) AS in_sample
       |  FROM j)
       |SELECT o_orderstatus, COUNT(*) AS n,
       |  CAST(SUM(CASE WHEN in_sample THEN 1 END) AS BIGINT) AS sampled_n,
       |  CAST(SUM(CASE WHEN in_sample THEN o_orderkey END) AS BIGINT)
       |    AS sampled_key_sum
       |FROM lab GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // ---- DSIR importance weighting ---------------------------------------

  /** DSIR data selection (Xie et al., NeurIPS 2023): hashed-n-gram
    * importance weights of every corpus doc against a small TARGET
    * domain. The target here is a 3-doc fixture over a vocabulary the
    * synthetic corpus never uses, plus two planted in-domain docs in
    * the corpus. Self-checking separation guarantee: the target vocab's
    * feature buckets get their probability mass ONLY from the target
    * fit, so every planted in-domain doc must out-score every ordinary
    * corpus doc (min planted > max corpus, raise_error otherwise) —
    * not SQL-oracle-able because the bucket fold uses Spark's xxhash64.
    * Scale shape: fit = two bounded count scans (the table is
    * nBuckets doubles, broadcast as a literal); scoring = one
    * codegen'd scan, O(1) lookup per gram; nothing shuffles. */
  /** The q95 fixture, shared with q248's oracled gram-count gate: the
    * 3-doc TARGET over a vocabulary the synthetic corpus never uses,
    * and the corpus = documents ∪ two planted in-domain docs. The
    * LITERAL TEXTS here are restated verbatim in q248's oracle SQL —
    * any edit must change both. */
  private[graft] val dsirTargetTexts = Seq(
    "qqalpha qqbeta qqgamma qqdelta qqepsilon qqalpha qqbeta",
    "qqgamma qqdelta qqalpha qqepsilon qqbeta qqgamma",
    "qqdelta qqepsilon qqgamma qqalpha qqbeta qqdelta")

  private[graft] def dsirPlantedTexts: Seq[(Long, String)] = {
    val vocab = Seq("qqalpha", "qqbeta", "qqgamma", "qqdelta", "qqepsilon")
    Seq((DedupGates.plantBase, vocab.mkString(" ")),
      (DedupGates.plantBase + 1,
        (vocab.reverse ++ vocab.take(2)).mkString(" ")))
  }

  /** (target, corpus) frames for the DSIR gates. */
  private[graft] def dsirFixture(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    import s.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val target = dsirTargetTexts
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val planted = dsirPlantedTexts.toDF("doc_id", "text")
    val corpus = Tables(s, dir, "documents").select($"doc_id", $"text")
      .unionByName(planted)
    (target, corpus)
  }

  def q95Dsir(s: SparkSession, dir: String): DataFrame = {
    val (target, corpus) = dsirFixture(s, dir)
    val nB = 4096
    val table = TextAnalysis.dsirLogRatios(target, corpus, "text", nB)
    val scored = corpus.select($"doc_id",
      TextAnalysis.dsirScore($"text", table, nB).as("score"))
    val sep = scored.agg(
        min(when($"doc_id" >= DedupGates.plantBase, $"score")).as("__minP"),
        max(when($"doc_id" < DedupGates.plantBase, $"score")).as("__maxC"))
      .select(when($"__minP" > $"__maxC", lit(true))
        .otherwise(raise_error(concat(
          lit("q95: DSIR separation failed (min planted "),
          $"__minP".cast(StringType), lit(" <= max corpus "),
          $"__maxC".cast(StringType), lit(")")))).as("separation_ok"))
    scored.where($"doc_id" < 100)
      .select($"doc_id", round($"score", 6).as("score"))
      .crossJoin(broadcast(sep))
      .orderBy($"doc_id")
  }

  // ---- sequence packing ------------------------------------------------

  /** Sequence packing for pre-training (Packing.packGreedy): the
    * corpus in deterministic shuffled order (q90's splitmix64 key),
    * range-partitioned into a FIXED 8 partitions and sorted within
    * each, packed into <=256-token sequences. The fixed partition
    * count + total order make the entire (doc -> seq, pos) assignment
    * reproducible regardless of session parallelism, so the per-seq
    * rows are stable gate output. Self-checks, raise_error on
    * violation:
    * 1. budget — no multi-doc sequence exceeds 256 tokens, and every
    *    oversize sequence is a singleton (a long doc alone);
    * 2. conservation — packed token total equals the corpus token
    *    total, and every doc appears exactly once;
    * 3. efficiency — mean fill of non-final, non-oversize sequences
    *    is at least 50% of the budget (greedy in-order floor; measured
    *    ~0.9 on this corpus).
    * Emits one row per sequence (seq_id, n_docs, seq_tokens). */
  def q97Packing(s: SparkSession, dir: String): DataFrame = {
    val maxTok = 256
    val docs = Tables(s, dir, "documents")
      .select($"doc_id", TextAnalysis.tokenCount($"text").cast(LongType)
        .as("n_tokens"))
    val ordered = docs
      .withColumn("__k", Sampling.shuffleKey($"doc_id", 31L))
      .repartitionByRange(8, $"__k", $"doc_id")
      .sortWithinPartitions($"__k", $"doc_id")
    val packed = Packing.packGreedy(ordered, "doc_id", "n_tokens", maxTok)
    // part_id/seq_ord are constant per sequence (a sequence never
    // crosses a partition); max() just picks the shared value
    val seqsFull = packed.groupBy($"seq_id")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("seq_tokens"),
        max($"part_id").as("part_id"), max($"seq_ord").as("seq_ord"))
    val seqs = seqsFull.select($"seq_id", $"n_docs", $"seq_tokens")

    val budgetOk = seqs
      .agg(sum(when($"seq_tokens" > maxTok && $"n_docs" > 1, 1)
        .otherwise(0)).as("__over"))
      .select(when($"__over" === 0, lit(true)).otherwise(raise_error(
        lit("q97: multi-doc sequence exceeds the token budget")))
        .as("budget_ok"))
    val conserveOk = packed
      .agg(sum($"n_tokens").as("__pt"),
        count_distinct($"doc_id").as("__pd"), count(lit(1)).as("__pr"))
      .crossJoin(docs.agg(sum($"n_tokens").as("__dt"),
        count(lit(1)).as("__dd")))
      .select(when($"__pt" === $"__dt" && $"__pd" === $"__dd" &&
          $"__pr" === $"__dd", lit(true))
        .otherwise(raise_error(lit(
          "q97: token/doc conservation failed"))).as("conserve_ok"))
    // non-final sequences per partition: every one the greedy loop
    // CLOSED because the next doc did not fit. The partition and the
    // creation order come from packGreedy's DATA-DERIVED columns
    // (part_id = the partition's first doc id, seq_ord = the
    // sequence's creation ordinal) — NOT from decoding seq_id, which
    // since round 16 is the sequence's first doc id, not a
    // (partition << 32) encoding. Rank BEFORE dropping oversize
    // singletons (else a partition ending in a long doc would
    // mislabel its last real sequence as final); a NULL average (no
    // qualifying sequence at tiny inputs) is a vacuous check, not a
    // failure.
    val effOk = seqsFull
      .withColumn("__last", row_number().over(Window
        .partitionBy($"part_id")
        .orderBy($"seq_ord".desc)))
      .where($"__last" > 1 && $"seq_tokens" <= maxTok)
      .agg(avg($"seq_tokens".cast(DoubleType) / maxTok).as("__fill"))
      .select(when($"__fill".isNull || $"__fill" >= 0.5, lit(true))
        .otherwise(raise_error(
          concat(lit("q97: packing efficiency "),
            $"__fill".cast(StringType),
            lit(" below 0.5")))).as("efficiency_ok"))

    seqs.crossJoin(broadcast(budgetOk))
      .crossJoin(broadcast(conserveOk))
      .crossJoin(broadcast(effOk))
      .orderBy($"seq_id")
  }

  // ---- long-document chunking ------------------------------------------

  /** Context-window chunking (TextAnalysis.chunk): every document split
    * into ≤40-token chunks with 8 tokens of carried overlap (stride
    * 32); the corpus spans 10-99 tokens so docs yield 1-3 chunks.
    * Fully oracled — DuckDB recomputes the chunk boundaries, texts and
    * lengths with list slicing over the same regex tokenization the
    * q30 gate proved equivalent. Row-local explode, no shuffle. */
  def q98Chunk(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select($"doc_id",
        explode(TextAnalysis.chunk($"text", maxTokens = 40, overlap = 8))
          .as("c"))
      .select($"doc_id", $"c.chunk_idx".as("chunk_idx"),
        $"c.chunk_text".as("chunk_text"), $"c.n_tokens".as("n_tokens"))
      .orderBy($"doc_id", $"chunk_idx")

  val q98Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
      |  FROM documents),
      |par AS (
      |  SELECT doc_id, w, len(w) AS n,
      |    GREATEST(1, CAST(ceil((len(w) - 8) / 32.0) AS INT)) AS nc
      |  FROM tok),
      |ch AS (
      |  SELECT doc_id, CAST(i AS INT) AS chunk_idx,
      |    array_to_string(w[i*32 + 1 : i*32 + LEAST(40, n - i*32)], ' ')
      |      AS chunk_text,
      |    CAST(LEAST(40, n - i*32) AS BIGINT) AS n_tokens
      |  FROM par, UNNEST(range(0, nc)) AS t(i))
      |SELECT doc_id, chunk_idx, chunk_text, n_tokens
      |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin

  // ---- vocabulary building ---------------------------------------------

  /** Corpus vocabulary (TextAnalysis.buildVocab): top-50 tokens by
    * (count desc, term asc) with contiguous ids — the artifact that
    * feeds lookup_indices/Vocab (q34 consumes a literal vocabulary;
    * this is where a real pipeline gets one). Fully oracled: DuckDB
    * recomputes counts and the rank with the identical tie-break. */
  def q101BuildVocab(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.buildVocab(Tables(s, dir, "documents"), "text",
        maxSize = 50, minFreq = 2)
      .orderBy($"term_id")

  val q101Sql: String =
    """WITH c AS (
      |  SELECT t.term, COUNT(*) AS count
      |  FROM documents,
      |    UNNEST(string_split_regex(trim(text), '\s+')) AS t(term)
      |  GROUP BY t.term HAVING COUNT(*) >= 2),
      |r AS (
      |  SELECT term, count,
      |    ROW_NUMBER() OVER (ORDER BY count DESC, term ASC) AS rk
      |  FROM c)
      |SELECT term, CAST(rk - 1 AS BIGINT) AS term_id, count
      |FROM r WHERE rk <= 50 ORDER BY term_id""".stripMargin

  // ---- domain-mixture rebalancing --------------------------------------

  /** Domain-mixture rebalancing (Sampling.mixToTarget): resample the
    * corpus so language shares hit a target mix (en 50 / de 20 / fr 15 /
    * es 10 / zh 5) at the largest total that oversamples no language —
    * the data-mixture step of training-set assembly (the control knob
    * behind Gopher/LLaMA-style source weighting). Fully oracled: DuckDB
    * recomputes the per-language counts, the achievable total
    * T = min(n/p), the per-language floor thresholds, and the
    * splitmix64 buckets — the whole chain engine-portable, per the q83
    * discipline. */
  def q106MixToTarget(s: SparkSession, dir: String): DataFrame = {
    val mixed = Sampling.mixToTarget(Tables(s, dir, "documents"), $"lang",
      $"doc_id", Map("en" -> 0.5, "de" -> 0.2, "fr" -> 0.15,
        "es" -> 0.1, "zh" -> 0.05), seed = 33L)
    mixed.groupBy($"lang")
      .agg(count(lit(1)).as("kept_n"), sum($"doc_id").as("kept_id_sum"))
      .orderBy($"lang")
  }

  val q106Sql: String =
    s"""WITH ${LmPrepGates.bucketCtes("mx", 33L, "documents", "doc_id")},
       |cnt AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
       |tgt AS (SELECT * FROM (VALUES
       |  ('en', CAST(0.5 AS DOUBLE)), ('de', CAST(0.2 AS DOUBLE)),
       |  ('fr', CAST(0.15 AS DOUBLE)), ('es', CAST(0.1 AS DOUBLE)),
       |  ('zh', CAST(0.05 AS DOUBLE))) AS t(lang, p)),
       |tt AS (SELECT MIN(CAST(n AS DOUBLE) / p) AS t
       |  FROM cnt JOIN tgt USING (lang)),
       |thr AS (SELECT tgt.lang,
       |  CAST(floor(CASE WHEN CAST(n AS DOUBLE) / p = tt.t
       |    THEN CAST(1.0 AS DOUBLE)
       |    ELSE LEAST(CAST(1.0 AS DOUBLE),
       |      p * tt.t / CAST(n AS DOUBLE)) END * 8192) AS INTEGER) AS th
       |  FROM cnt JOIN tgt USING (lang) CROSS JOIN tt),
       |j AS (SELECT d.lang, d.doc_id, mxb.bucket
       |  FROM documents d JOIN mxb ON d.doc_id = mxb.k)
       |SELECT j.lang, COUNT(*) AS kept_n,
       |  CAST(SUM(j.doc_id) AS BIGINT) AS kept_id_sum
       |FROM j JOIN thr ON j.lang = thr.lang
       |WHERE j.bucket < thr.th
       |GROUP BY j.lang ORDER BY j.lang""".stripMargin

  // ---- BPE tokenizer training ------------------------------------------

  /** BPE tokenizer training (functions/BpeTrain.scala — the learning
    * counterpart of q36's encoder): 60 merges learned from the corpus
    * word-frequency table. One distributed count scan reduces the
    * corpus to a vocabulary-sized table; the incremental merge loop is
    * driver-side and corpus-size-independent (the Sennrich Algorithm-1
    * shape). Output = the ranked merge table, deterministic via the
    * (count desc, pair asc) tie-break. Self-checking in-gate: the
    * trained tables must drive BpeEncoder losslessly over the corpus
    * they came from — for EVERY document, concatenating its tokens
    * restores the byte-unicode image of the text (no byte dropped or
    * reordered) and compresses it (token count below byte count, or
    * equal for degenerate docs); any violation raises. */
  def q108BpeTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val docs = Tables(s, dir, "documents")
    val (ranks, vocab) = BpeTrain.trainFromCorpus(docs, "text",
      numMerges = 60)
    val enc = new BpeEncoder(ranks, vocab, unkId = -1L, byteLevel = true)
    val fidelity = udf { (text: String) =>
      if (text == null) true // training drops nulls; vacuously lossless
      else {
        val toks = enc.tokenize(text) // tokenize ONCE; id check via vocab
        val image = text.getBytes("UTF-8").map(b =>
          BpeEncoder.byteToUnicode(b & 0xff)).mkString
        toks.mkString == image && toks.length <= image.length &&
          toks.forall(vocab.contains)
      }
    }
    val check = docs
      .agg(min(when(fidelity($"text"), 1).otherwise(0)).as("__ok"))
      .select(when($"__ok" === 1, lit(true)).otherwise(raise_error(lit(
        "q108: trained BPE tables are not lossless over their own " +
          "corpus"))).as("fidelity_ok"))
    val merges = ranks.toSeq.sortBy(_._2)
      .map { case ((l, r), k) => (k, l, r) }
      .toDF("rank", "left", "right")
    merges.crossJoin(broadcast(check)).orderBy($"rank")
  }

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
    s"""WITH ${LmPrepGates.bucketCtes("ws", 5L, "documents", "doc_id")},
       |m AS (SELECT max(n_chars) AS mn FROM documents),
       |kept AS (
       |  SELECT d.* FROM documents d JOIN wsb b ON d.doc_id = b.k, m
       |  WHERE b.bucket < LEAST(8192, (d.n_chars * 8192) // m.mn))
       |SELECT lang, COUNT(*) AS n,
       |  CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
       |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
       |FROM kept GROUP BY lang ORDER BY lang""".stripMargin

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
    val (target, corpus) = LmPrepGates.dsirFixture(s, dir)
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
    * literals ([[LmPrepGates.dsirTargetTexts]]/[[LmPrepGates.dsirPlantedTexts]])
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
    * the exact splitmix64 mix ([[LmPrepGates.bucketCtes]]), the
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
       |${LmPrepGates.bucketCtes("mk", 17L, "keyed", "k")},
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
       |${LmPrepGates.bucketCtes("ma", seed, "keyed", "k")},
       |${LmPrepGates.bucketCtes("mb", seed + 1, "keyed", "k")},
       |${LmPrepGates.bucketCtes("mc", seed + 2, "keyed", "k")},
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

  // ---- q254: fill-in-the-middle transform, hashed ---------------------------

  /** FIM prep end-to-end under the cross-engine hash: each document's
    * first 12 tokens go through [[Denoise.fimTransform]] (rate 0.5,
    * seed 31) — the apply draw and both cut points are doc-level
    * splitmix64 buckets (seeds 31/32/33), cuts are `bucket % (n+1)`,
    * and both the PSM and SPM sequence orders are emitted. DuckDB
    * replays the draws via [[LmPrepGates.bucketCtes]] and the segment
    * slicing with list_slice — a green hash proves the apply decision,
    * both cut positions, all three segment boundaries, and both
    * output orders bit-for-bit. Plan: row-local collection
    * expressions, ZERO shuffles (plan-asserted in DenoiseSpec). */
  def q254Fim(s: SparkSession, dir: String): DataFrame = {
    val toks = slice(split(trim($"text"), "\\s+"), 1, 12)
    val docs = Tables(s, dir, "documents").select($"doc_id", toks.as("toks"))
    Denoise.fimTransform(docs, "doc_id", "toks", fimRate = 0.5,
      seed = 31L)
  }

  // thresholds: apply floor(0.5 * 8192) = 4096
  val q254Sql: String =
    s"""WITH tk AS (
       |  SELECT doc_id,
       |    list_slice(string_split_regex(trim(text), '\\s+'), 1, 12)
       |      AS toks
       |  FROM documents),
       |${LmPrepGates.bucketCtes("fa", 31L, "tk", "doc_id")},
       |${LmPrepGates.bucketCtes("fb", 32L, "tk", "doc_id")},
       |${LmPrepGates.bucketCtes("fc", 33L, "tk", "doc_id")},
       |j AS (
       |  SELECT tk.doc_id, tk.toks, len(tk.toks) AS n,
       |    fab.bucket < 4096 AS ap,
       |    least(fbb.bucket % (len(tk.toks) + 1),
       |          fcb.bucket % (len(tk.toks) + 1)) AS lo,
       |    greatest(fbb.bucket % (len(tk.toks) + 1),
       |             fcb.bucket % (len(tk.toks) + 1)) AS hi
       |  FROM tk
       |  JOIN fab ON tk.doc_id = fab.k
       |  JOIN fbb ON tk.doc_id = fbb.k
       |  JOIN fcb ON tk.doc_id = fcb.k),
       |seg AS (
       |  SELECT doc_id, toks, n, ap, lo, hi,
       |    list_slice(toks, 1, lo) AS p,
       |    list_slice(toks, lo + 1, hi) AS m,
       |    list_slice(toks, hi + 1, n) AS s
       |  FROM j)
       |SELECT doc_id, ap AS fim_applied,
       |  CASE WHEN ap THEN array_to_string(
       |      ['<fim_prefix>'] || p || ['<fim_suffix>'] || s ||
       |      ['<fim_middle>'] || m, ' ')
       |    ELSE array_to_string(toks, ' ') END AS psm_str,
       |  CASE WHEN ap THEN array_to_string(
       |      ['<fim_suffix>'] || s || ['<fim_prefix>'] || p ||
       |      ['<fim_middle>'] || m, ' ')
       |    ELSE array_to_string(toks, ' ') END AS spm_str,
       |  CAST(CASE WHEN ap THEN lo ELSE n END AS BIGINT) AS n_prefix,
       |  CAST(CASE WHEN ap THEN hi - lo ELSE 0 END AS BIGINT)
       |    AS n_middle,
       |  CAST(CASE WHEN ap THEN n - hi ELSE 0 END AS BIGINT)
       |    AS n_suffix
       |FROM seg""".stripMargin

  // ---- q255: next-sentence-prediction pairs, hashed -------------------------

  /** NSP pair prep under the cross-engine hash: each document's first
    * 10 tokens split into segment A (first ceil(n/2)) and segment B;
    * [[Denoise.nspPairs]] (swap rate 0.4, seed 41, 64 groups) swaps a
    * deterministic 40% of B segments with the NEXT document's B in
    * splitmix64-shuffled order inside splitmix64-assigned groups —
    * the shuffled-neighbor draw. DuckDB replays the shuffle key
    * ([[LmPrepGates.hashCtes]] — the exact signed 64-bit sampleHash),
    * the group and swap buckets, and the lead/first_value/count
    * windows — a green hash proves segment splitting, partner
    * selection (including group wrap-around and singleton-group
    * fallback), the swap decision, and the label bit-for-bit.
    * Plan: ONE exchange (the group-id window partitioning), all three
    * window functions share its sort (plan-asserted in DenoiseSpec). */
  def q255Nsp(s: SparkSession, dir: String): DataFrame = {
    val toks = slice(split(trim($"text"), "\\s+"), 1, 10)
    val docs = Tables(s, dir, "documents").select($"doc_id", toks.as("toks"))
    Denoise.nspPairs(docs, "doc_id", "toks", swapRate = 0.4,
      seed = 41L, groups = 64)
  }

  // thresholds: swap floor(0.4 * 8192) = 3276; group = bucket % 64
  val q255Sql: String =
    s"""WITH tk AS (
       |  SELECT doc_id,
       |    list_slice(string_split_regex(trim(text), '\\s+'), 1, 10)
       |      AS toks
       |  FROM documents),
       |base AS (
       |  SELECT doc_id, toks, len(toks) AS n,
       |    (len(toks) + 1) // 2 AS sp
       |  FROM tk),
       |${LmPrepGates.hashCtes("nk", 41L, "base", "doc_id")},
       |${LmPrepGates.bucketCtes("ng", 50L, "base", "doc_id")},
       |${LmPrepGates.bucketCtes("ns", 42L, "base", "doc_id")},
       |j AS (
       |  SELECT base.doc_id,
       |    list_slice(toks, 1, sp) AS a,
       |    list_slice(toks, sp + 1, n) AS b,
       |    nkh.h AS h, ngb.bucket % 64 AS g,
       |    nsb.bucket < 3276 AS sw
       |  FROM base
       |  JOIN nkh ON base.doc_id = nkh.k
       |  JOIN ngb ON base.doc_id = ngb.k
       |  JOIN nsb ON base.doc_id = nsb.k),
       |w AS (
       |  SELECT doc_id, a, b, sw,
       |    coalesce(lead(b) OVER win, first_value(b) OVER winAll) AS pb,
       |    coalesce(lead(doc_id) OVER win,
       |      first_value(doc_id) OVER winAll) AS pid,
       |    count(*) OVER (PARTITION BY g) AS cnt
       |  FROM j
       |  WINDOW win AS (PARTITION BY g ORDER BY h, doc_id),
       |    winAll AS (PARTITION BY g ORDER BY h, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
       |SELECT doc_id,
       |  array_to_string(a, ' ') AS seg_a,
       |  array_to_string(CASE WHEN sw AND cnt >= 2 THEN pb ELSE b END,
       |    ' ') AS seg_b,
       |  NOT (sw AND cnt >= 2) AS is_next,
       |  CAST(CASE WHEN sw AND cnt >= 2 THEN pid ELSE doc_id END
       |    AS BIGINT) AS partner_id
       |FROM w""".stripMargin

  // ---- q256: length-bucket batch shaping, hashed -----------------------------

  /** The padding-waste report of power-of-two length bucketing: every
    * document's whitespace token count maps to the smallest bucket in
    * {16, 32, 64, 128, 256, 512} that holds it ([[Packing
    * .lengthBucket]]; longer docs truncate to 512), and the report
    * aggregates per bucket the doc count, real tokens, padded slots
    * (bucket capacity minus real, after truncation), and truncated
    * tokens — all exact integers, the numbers a batch-shape planner
    * trades off. DuckDB restates the when-chain as a CASE and the
    * four sums directly. Plan: one scan + one groups-sized aggregate
    * (6 rows), no joins. */
  def q256LenBuckets(s: SparkSession, dir: String): DataFrame = {
    val bounds = Seq(16, 32, 64, 128, 256, 512)
    val len = TextAnalysis.tokenCount($"text").cast(LongType)
    Tables(s, dir, "documents")
      .select(Packing.lengthBucket(len, bounds).cast(LongType)
        .as("bucket_len"), len.as("len"))
      .groupBy($"bucket_len")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"len").cast(LongType).as("real_tokens"),
        sum($"bucket_len" - least($"len", $"bucket_len"))
          .cast(LongType).as("pad_slots"),
        sum(greatest($"len" - 512L, lit(0L))).cast(LongType)
          .as("trunc_tokens"))
      .orderBy($"bucket_len")
  }

  val q256Sql: String =
    """WITH d AS (
      |  SELECT CAST(len(string_split_regex(trim(text), '\s+'))
      |    AS BIGINT) AS len
      |  FROM documents),
      |b AS (
      |  SELECT len,
      |    CASE WHEN len <= 16 THEN 16 WHEN len <= 32 THEN 32
      |         WHEN len <= 64 THEN 64 WHEN len <= 128 THEN 128
      |         WHEN len <= 256 THEN 256 ELSE 512 END AS bucket_len
      |  FROM d)
      |SELECT CAST(bucket_len AS BIGINT) AS bucket_len,
      |  count(*) AS n_docs,
      |  CAST(sum(len) AS BIGINT) AS real_tokens,
      |  CAST(sum(bucket_len - least(len, bucket_len)) AS BIGINT)
      |    AS pad_slots,
      |  CAST(sum(greatest(len - 512, 0)) AS BIGINT) AS trunc_tokens
      |FROM b GROUP BY bucket_len
      |ORDER BY bucket_len""".stripMargin

  // ---- q257: contiguous block packing, hashed --------------------------------

  /** GPT-style block packing addresses under the cross-engine hash:
    * documents (token count + 1 EOS) are laid out contiguously in
    * splitmix64-shuffled order by [[Packing.contiguousOffsets]] (seed
    * 13, 8 range partitions — the scalable two-phase prefix sum, NOT
    * a one-partition global window), and each doc's 128-token block
    * coordinates are pure arithmetic on its global offset: block id
    * and in-block offset via exact shifts (128 = 2^7), plus the
    * number of blocks the doc spans. DuckDB replays the shuffle key
    * ([[LmPrepGates.hashCtes]]) and the prefix sum as a window over the
    * same total order — a green hash proves the two-phase offsets
    * equal the global prefix sum exactly, boundary placement
    * notwithstanding (the partition-count invariance is additionally
    * pinned in PackingSpec across parts = 3 vs 8). */
  def q257BlockPack(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
      .select($"doc_id", (TextAnalysis.tokenCount($"text") + 1L)
        .cast(LongType).as("len"))
    val off = Packing.contiguousOffsets(docs, "doc_id", "len",
      seed = 13L, parts = 8)
    off.select($"doc_id", $"len", $"global_start",
      shiftright($"global_start", 7).as("block_id"),
      $"global_start".bitwiseAND(127L).as("block_off"),
      (shiftright($"global_start" + $"len" - 1L, 7) -
        shiftright($"global_start", 7) + 1L).as("n_blocks"))
  }

  val q257Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) + 1
       |      AS BIGINT) AS len
       |  FROM documents),
       |${LmPrepGates.hashCtes("ok", 13L, "d", "doc_id")},
       |j AS (
       |  SELECT d.doc_id, d.len, okh.h
       |  FROM d JOIN okh ON d.doc_id = okh.k),
       |o AS (
       |  SELECT doc_id, len,
       |    CAST(coalesce(sum(len) OVER (ORDER BY h, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS gs
       |  FROM j)
       |SELECT doc_id, len, gs AS global_start,
       |  CAST(gs // 128 AS BIGINT) AS block_id,
       |  CAST(gs % 128 AS BIGINT) AS block_off,
       |  CAST((gs + len - 1) // 128 - gs // 128 + 1 AS BIGINT)
       |    AS n_blocks
       |FROM o""".stripMargin

  // ---- q258: UL2 mixture of denoisers, hashed --------------------------------

  /** The UL2 objective router under the cross-engine hash: each
    * document's first 16 tokens go to ONE of three denoisers by a
    * doc-level splitmix64 draw ([[graft.operators.Denoise
    * .spanCorruptMixture]], seed 29 → mask seed 29, config seed 36) —
    * `[R]` span corruption at 0.15, `[S]` prefix-LM tail masking
    * (last ceil(n/4) positions as one span), `[X]` extreme corruption
    * at 0.5 — with the mode token prepended to the encoder input.
    * DuckDB replays the config draw, the per-position mask bucket,
    * the S-denoiser tail arithmetic, the shared T5 span rebuild, and
    * the mode prepend — a green hash proves the whole mixture routing
    * bit-for-bit. Plan: same ONE doc-id exchange as q252 (the mode
    * prepend is id arithmetic, not a join). */
  def q258Ul2(s: SparkSession, dir: String): DataFrame = {
    val toks = slice(split(trim($"text"), "\\s+"), 1, 16)
    val docs = Tables(s, dir, "documents").select($"doc_id", toks.as("toks"))
    graft.operators.Denoise.spanCorruptMixture(docs, "doc_id", "toks",
      seed = 29L)
  }

  // thresholds: R floor(0.15*8192)=1228, X floor(0.5*8192)=4096;
  // config = bucket(doc_id, 36) % 3; S cut = n - (n+3)//4
  val q258Sql: String =
    s"""WITH raw AS (
       |  SELECT doc_id,
       |    list_slice(string_split_regex(trim(text), '\\s+'), 1, 16)
       |      AS toks
       |  FROM documents),
       |tk AS (
       |  SELECT doc_id, len(toks) AS n,
       |    unnest(toks) AS tok,
       |    generate_subscripts(toks, 1) - 1 AS pos
       |  FROM raw),
       |keyed AS (
       |  SELECT doc_id, tok, pos, n, doc_id * 4096 + pos AS k FROM tk),
       |${LmPrepGates.bucketCtes("um", 29L, "keyed", "k")},
       |${LmPrepGates.bucketCtes("uc", 36L, "raw", "doc_id")},
       |m AS (
       |  SELECT keyed.doc_id, keyed.tok, keyed.pos,
       |    ucb.bucket % 3 AS cfg,
       |    CASE ucb.bucket % 3
       |      WHEN 0 THEN umb.bucket < 1228
       |      WHEN 2 THEN umb.bucket < 4096
       |      ELSE keyed.pos >= keyed.n - (keyed.n + 3) // 4
       |    END AS msk
       |  FROM keyed
       |  JOIN umb ON keyed.k = umb.k
       |  JOIN ucb ON keyed.doc_id = ucb.k),
       |sp AS (
       |  SELECT doc_id, tok, pos, cfg, msk,
       |    msk AND NOT coalesce(
       |      lag(msk) OVER (PARTITION BY doc_id ORDER BY pos), false)
       |      AS strt
       |  FROM m),
       |ks AS (
       |  SELECT doc_id, tok, pos, cfg, msk, strt,
       |    sum(CASE WHEN strt THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS kk
       |  FROM sp),
       |pieces AS (
       |  SELECT doc_id, pos, cfg,
       |    CASE WHEN NOT msk THEN tok
       |         WHEN strt THEN '<extra_id_' || kk || '>' END AS in_piece,
       |    CASE WHEN msk THEN
       |      CASE WHEN strt THEN '<extra_id_' || kk || '> ' || tok
       |           ELSE tok END
       |    END AS tgt_piece,
       |    msk, strt
       |  FROM ks),
       |agg AS (
       |  SELECT doc_id, any_value(cfg) AS cfg,
       |    coalesce(string_agg(in_piece, ' ' ORDER BY pos)
       |      FILTER (WHERE in_piece IS NOT NULL), '') AS base_str,
       |    coalesce(string_agg(tgt_piece, ' ' ORDER BY pos)
       |      FILTER (WHERE tgt_piece IS NOT NULL), '') AS target_str,
       |    CAST(sum(CASE WHEN msk THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_masked,
       |    CAST(sum(CASE WHEN strt THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_spans
       |  FROM pieces GROUP BY doc_id)
       |SELECT doc_id,
       |  CASE cfg WHEN 0 THEN '[R]' WHEN 1 THEN '[S]' ELSE '[X]' END
       |    AS denoiser,
       |  CASE WHEN base_str = ''
       |    THEN CASE cfg WHEN 0 THEN '[R]' WHEN 1 THEN '[S]'
       |      ELSE '[X]' END
       |    ELSE CASE cfg WHEN 0 THEN '[R]' WHEN 1 THEN '[S]'
       |      ELSE '[X]' END || ' ' || base_str
       |  END AS input_str,
       |  target_str, n_masked, n_spans
       |FROM agg""".stripMargin

  // ---- q259: preference-pair prep (DPO/RLHF), hashed ------------------------

  /** Best-of-n preference-pair assembly — the step between scored
    * generations and a DPO/RLHF trainer: documents group into prompts
    * (doc_id >> 3: 8 candidates per prompt — the stand-in for n
    * sampled generations), the highest-scoring candidate becomes
    * `chosen` and the lowest `rejected`, with a fully deterministic
    * tiebreak (score, then doc_id — both directions), and
    * single-candidate prompts are dropped (no pair exists). The score
    * is the exact integer token count (a deterministic reward
    * stand-in; any scored column slots in). Output carries both ids,
    * both scores, the margin, and the candidate count.
    *
    * Scale shape: ONE shuffle on the prompt id shared by the ranking
    * window and the final aggregate; no self-join (the naive
    * chosen-x-rejected join would shuffle the candidates twice). At
    * 100 TB this is the grouped top-1/bottom-1 pattern — state per
    * prompt is O(1). DuckDB replays the window and the conditional
    * aggregate directly. */
  def q259PrefPairs(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"prompt_id")
      .orderBy($"score".desc, $"doc_id".desc)
    Tables(s, dir, "documents")
      .select(shiftright($"doc_id", 3).as("prompt_id"),
        $"doc_id",
        TextAnalysis.tokenCount($"text").cast(LongType).as("score"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n_cands", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"prompt_id")))
      .where($"n_cands" >= 2)
      .groupBy($"prompt_id")
      .agg(
        max(when($"rn" === 1, $"doc_id")).as("chosen_id"),
        max(when($"rn" === 1, $"score")).as("chosen_score"),
        max(when($"rn" === $"n_cands", $"doc_id")).as("rejected_id"),
        max(when($"rn" === $"n_cands", $"score")).as("rejected_score"),
        max($"n_cands").as("n_cands"))
      .withColumn("margin", $"chosen_score" - $"rejected_score")
  }

  val q259Sql: String =
    """WITH c AS (
      |  SELECT doc_id // 8 AS prompt_id, doc_id,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
      |      AS score
      |  FROM documents),
      |r AS (
      |  SELECT prompt_id, doc_id, score,
      |    row_number() OVER (PARTITION BY prompt_id
      |      ORDER BY score DESC, doc_id DESC) AS rn,
      |    count(*) OVER (PARTITION BY prompt_id) AS n_cands
      |  FROM c)
      |SELECT prompt_id,
      |  max(CASE WHEN rn = 1 THEN doc_id END) AS chosen_id,
      |  max(CASE WHEN rn = 1 THEN score END) AS chosen_score,
      |  max(CASE WHEN rn = n_cands THEN doc_id END) AS rejected_id,
      |  max(CASE WHEN rn = n_cands THEN score END) AS rejected_score,
      |  CAST(max(n_cands) AS BIGINT) AS n_cands,
      |  max(CASE WHEN rn = 1 THEN score END) -
      |    max(CASE WHEN rn = n_cands THEN score END) AS margin
      |FROM r WHERE n_cands >= 2
      |GROUP BY prompt_id""".stripMargin

  // ---- q262: epoch-repeat schedule, hashed -----------------------------------

  /** Data-constrained repeat scheduling (the Muennighoff et al. 2023
    * "repeat good data" regime): each document's target epoch count is
    * a per-tier rate — here tiers by exact token count as the quality
    * stand-in: <=30 tokens -> 0.5 epochs, <=60 -> 1.25, else 2.5 —
    * and the FRACTIONAL part realizes as a deterministic splitmix64
    * Bernoulli (the q83 machinery), so `n_repeats = floor(rate) +
    * bern(frac(rate))` and the corpus-level expectation equals the
    * target mix exactly in distribution while every run reproduces
    * the same per-doc counts. Output: per-doc tier + repeat count,
    * plus per-tier totals (docs, repeats) via groupBy + broadcast
    * join-back — a 3-row aggregate with map-side partials, then a
    * broadcast hash join onto the per-doc rows. NOT a
    * Window.partitionBy(tier): a window on a 3-value key funnels each
    * tier's every row through ONE task to compute a 2-number answer —
    * a third of the corpus per task at 100 TB (the round-16 verdict's
    * one scale-killer, replaced here; plan pinned window-free in
    * SessionDeterminismSpec). DuckDB replays the tier CASE, the
    * bucket draw, and both totals. Expansion to actual training rows
    * is a row-local `explode(sequence(1, n_repeats))` left to the
    * loader — the schedule itself never multiplies the corpus. */
  def q262RepeatSchedule(s: SparkSession, dir: String): DataFrame = {
    val len = TextAnalysis.tokenCount($"text").cast(LongType)
    // thresholds: frac 0.5 -> 4096, 0.25 -> 2048 of 8192
    val docs = Tables(s, dir, "documents").select($"doc_id", len.as("len"))
      .withColumn("tier",
        when($"len" <= 30, "low").when($"len" <= 60, "mid")
          .otherwise("high"))
      .withColumn("base",
        when($"tier" === "low", 0L).when($"tier" === "mid", 1L)
          .otherwise(2L))
      .withColumn("thr",
        when($"tier" === "mid", graft.operators.Sampling.threshold(0.25))
          .otherwise(graft.operators.Sampling.threshold(0.5)))
      .withColumn("n_repeats", $"base" +
        when(graft.operators.Sampling.bucket($"doc_id", 61L) < $"thr",
          1L).otherwise(0L))
    val totals = docs.groupBy($"tier")
      .agg(count(lit(1)).as("tier_docs"),
        sum($"n_repeats").cast(LongType).as("tier_repeats"))
    docs.join(broadcast(totals), Seq("tier"))
      .select($"doc_id", $"tier", $"n_repeats",
        $"tier_docs", $"tier_repeats")
  }

  val q262Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    len(string_split_regex(trim(text), '\\s+')) AS len
       |  FROM documents),
       |t AS (
       |  SELECT doc_id,
       |    CASE WHEN len <= 30 THEN 'low' WHEN len <= 60 THEN 'mid'
       |      ELSE 'high' END AS tier
       |  FROM d),
       |${LmPrepGates.bucketCtes("rp", 61L, "t", "doc_id")},
       |r AS (
       |  SELECT t.doc_id, t.tier,
       |    (CASE t.tier WHEN 'low' THEN 0 WHEN 'mid' THEN 1 ELSE 2 END)
       |    + (CASE WHEN rpb.bucket <
       |        (CASE t.tier WHEN 'mid' THEN 2048 ELSE 4096 END)
       |       THEN 1 ELSE 0 END) AS n_repeats
       |  FROM t JOIN rpb ON t.doc_id = rpb.k)
       |SELECT doc_id, tier, CAST(n_repeats AS BIGINT) AS n_repeats,
       |  count(*) OVER (PARTITION BY tier) AS tier_docs,
       |  CAST(sum(n_repeats) OVER (PARTITION BY tier) AS BIGINT)
       |    AS tier_repeats
       |FROM r""".stripMargin

  // ---- q264: GPT block materialization, hashed ------------------------------

  /** The loader contract q257's block coordinates exist for: emit the
    * ACTUAL packed block fragments — for every document and every
    * 128-token block it spans, the block id, the fragment's offset and
    * length inside the block, the fragment's tokens, doc-start/doc-end
    * flags, and the 128-char document-boundary attention mask (1 where
    * the block position holds this document's tokens — the causal-mask
    * reset boundary a block-packed trainer needs). Layout is IDENTICAL
    * to q257 (same seed 13, 8 range partitions, token count + 1 EOS),
    * so the two gates corroborate: q257 proves the addresses, this
    * gate proves the contents at those addresses bit-for-bit.
    *
    * Scale shape: [[Packing.contiguousOffsets]] carries the token
    * array as PAYLOAD through the same two-phase prefix sum — no
    * corpus-sized join back to fetch text — and the blocks come from a
    * row-local explode over each doc's span: ONE range exchange total,
    * everything after it pipelined. The mask is a string (the driver
    * hash cannot compare list columns), pure arithmetic on
    * (frag_off, frag_len). DuckDB replays the shuffle key, the prefix
    * sum, and the slicing with generate_series + list_slice. */
  def q264BlockRows(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
      .select($"doc_id",
        concat(split(trim($"text"), "\\s+"), array(lit("<eos>")))
          .as("toks"))
      .withColumn("len", size($"toks").cast(LongType))
    val off = Packing.contiguousOffsets(docs, "doc_id", "len",
      seed = 13L, parts = 8, payload = Seq("toks"))
    // 128 = 2^7: block id via exact shifts, in-block offset via the
    // low 7 bits (the q257 arithmetic — `/` on Columns is double
    // division, never used here)
    val inOff = $"global_start".bitwiseAND(127L)
    val ex = off
      .withColumn("k", explode(sequence(lit(0L),
        shiftright($"global_start" + $"len" - 1L, 7) -
          shiftright($"global_start", 7))))
      .withColumn("block_id", shiftright($"global_start", 7) + $"k")
      .withColumn("frag_off", when($"k" === 0L, inOff).otherwise(lit(0L)))
      .withColumn("__ts", greatest(lit(0L), $"k" * 128L - inOff))
      .withColumn("__te", least($"len", ($"k" + 1L) * 128L - inOff))
      .withColumn("frag_len", $"__te" - $"__ts")
    ex.select($"doc_id", $"block_id", $"frag_off", $"frag_len",
      array_join(slice($"toks", ($"__ts" + 1L).cast(IntegerType),
        $"frag_len".cast(IntegerType)), " ").as("frag_text"),
      ($"k" === 0L).as("is_doc_start"),
      ($"__te" === $"len").as("is_doc_end"),
      expr("repeat('0', CAST(frag_off AS INT)) || " +
        "repeat('1', CAST(frag_len AS INT)) || " +
        "repeat('0', CAST(128 - frag_off - frag_len AS INT))")
        .as("block_mask"))
  }

  val q264Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    string_split_regex(trim(text), '\\s+') || ['<eos>'] AS toks,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) + 1
       |      AS BIGINT) AS len
       |  FROM documents),
       |${LmPrepGates.hashCtes("bk", 13L, "d", "doc_id")},
       |j AS (
       |  SELECT d.doc_id, d.toks, d.len, bkh.h
       |  FROM d JOIN bkh ON d.doc_id = bkh.k),
       |o AS (
       |  SELECT doc_id, toks, len,
       |    CAST(coalesce(sum(len) OVER (ORDER BY h, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS gs
       |  FROM j),
       |e AS (
       |  SELECT doc_id, toks, len, gs,
       |    CAST(unnest(range(0, (gs + len - 1) // 128 - gs // 128 + 1))
       |      AS BIGINT) AS k
       |  FROM o),
       |f AS (
       |  SELECT doc_id, toks, len, k,
       |    gs // 128 + k AS block_id,
       |    CASE WHEN k = 0 THEN gs % 128 ELSE 0 END AS frag_off,
       |    greatest(0, k * 128 - gs % 128) AS ts,
       |    least(len, (k + 1) * 128 - gs % 128) AS te
       |  FROM e)
       |SELECT doc_id,
       |  CAST(block_id AS BIGINT) AS block_id,
       |  CAST(frag_off AS BIGINT) AS frag_off,
       |  CAST(te - ts AS BIGINT) AS frag_len,
       |  array_to_string(list_slice(toks, ts + 1, te), ' ')
       |    AS frag_text,
       |  k = 0 AS is_doc_start,
       |  te = len AS is_doc_end,
       |  repeat('0', CAST(frag_off AS INT)) ||
       |    repeat('1', CAST(te - ts AS INT)) ||
       |    repeat('0', CAST(128 - frag_off - (te - ts) AS INT))
       |    AS block_mask
       |FROM f""".stripMargin

  // ---- q265: BPE-true length buckets, hashed --------------------------------

  /** The q256 batch-shape report with REAL token budgets: document
    * length measured by the q36 BPE encoder (the 10-rule fixture merge
    * table) instead of whitespace counts, then the same power-of-two
    * bucket/pad/truncation accounting. The scale path is the
    * dictionary trick: collect the corpus's DISTINCT words (a bounded,
    * vocabulary-sized collect — 31 here; hard-capped), encode each
    * word ONCE through the real [[graft.functions.BpeEncoder]] on the
    * driver, and ship the word → token-count dictionary as a broadcast
    * map literal the per-doc length expression looks up in codegen —
    * BPE runs |vocab| times, not |corpus| times, and the per-doc work
    * is a row-local map lookup + sum at any corpus size.
    *
    * The oracle restates per-word token counts HAND-DERIVED from the
    * merge table (the q36 VALUES precedent — e.g. "the"→1 via
    * t+h→th, th+e→the; "order"→3 via e+r→er rank 5 BEFORE o+r rank 9;
    * "window"→5 via i+n→in only), so a green hash proves the real
    * greedy-merge encoder, the dictionary plumbing, and the bucket
    * arithmetic cross-engine. A corpus word missing from the
    * dictionary cannot happen (it is built from the same frame); a
    * word missing from the ORACLE's 31-entry CASE yields NULL and
    * fails the hash loudly. */
  /** Per-document BPE token count as a codegen'd expression: the
    * corpus's DISTINCT words (bounded, vocabulary-sized collect,
    * hard-capped) each encoded ONCE through the real
    * [[graft.functions.BpeEncoder]] on the driver, shipped as a map
    * literal — shared by q265 and q267. */
  private def bpeLenExpr(s: SparkSession, dir: String): org.apache.spark.sql.Column = {
    val enc = LmPrepGates.q36Encoder
    val words = Tables(s, dir, "documents")
      .select(explode(split(trim($"text"), "\\s+")).as("w"))
      .distinct()
      .collect().map(_.getString(0))
    // 4096 keys = 8192 map() literal children — comfortably inside
    // Catalyst/codegen expression-tree limits (the earlier 65536 bound
    // admitted sizes whose 131072-child literal would itself fall
    // over). Larger vocabularies take the REAL distributed path:
    // [[bpeDocLens]] (gate q270) encodes distinct words as a TABLE and
    // joins back — no driver collect, no literal, any vocabulary size.
    require(words.length <= 4096,
      s"corpus vocabulary ${words.length} exceeds the map-literal " +
        "bound — use Bpe.bpeDocTokenCounts (the distributed " +
        "dictionary-encode path, gate q270) instead")
    val dict = words.sorted.flatMap(w =>
      Seq(lit(w), lit(enc.encode(w).size.toLong)))
    val lens = map(dict.toIndexedSeq: _*)
    aggregate(
      transform(split(trim($"text"), "\\s+"), w => element_at(lens, w)),
      lit(0L), (acc, x) => acc + x)
  }

  def q265BpeLenBuckets(s: SparkSession, dir: String): DataFrame = {
    val len = bpeLenExpr(s, dir)
    val bounds = Seq(16, 32, 64, 128, 256, 512)
    Tables(s, dir, "documents")
      .select(Packing.lengthBucket(len, bounds).cast(LongType)
        .as("bucket_len"), len.as("len"))
      .groupBy($"bucket_len")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"len").cast(LongType).as("real_tokens"),
        sum($"bucket_len" - least($"len", $"bucket_len"))
          .cast(LongType).as("pad_slots"),
        sum(greatest($"len" - 512L, lit(0L))).cast(LongType)
          .as("trunc_tokens"))
      .orderBy($"bucket_len")
  }

  /** Per-word BPE token counts under the q36 merge table, derived
    * independently of the engine under test (greedy lowest-rank
    * adjacent merges applied by hand to each of the corpus's 31
    * words). */
  private val bpeWordLens: Seq[(String, Int)] = Seq(
    "a" -> 1, "agg" -> 3, "batch" -> 5, "big" -> 3, "column" -> 6,
    "customer" -> 7, "data" -> 4, "dup" -> 3, "fast" -> 4,
    "filter" -> 5, "group" -> 5, "hash" -> 4, "join" -> 3, "key" -> 3,
    "line" -> 3, "merge" -> 4, "order" -> 3, "part" -> 4, "query" -> 4,
    "row" -> 3, "scan" -> 3, "slow" -> 4, "small" -> 5, "sort" -> 3,
    "spark" -> 5, "stream" -> 5, "table" -> 5, "the" -> 1,
    "value" -> 5, "vector" -> 5, "window" -> 5)

  val q265Sql: String = {
    val cases = bpeWordLens
      .map { case (w, n) => s"WHEN '$w' THEN $n" }.mkString(" ")
    s"""WITH d AS (
       |  SELECT CAST(list_sum(list_transform(
       |    string_split_regex(trim(text), '\\s+'),
       |    t -> CASE t $cases END)) AS BIGINT) AS len
       |  FROM documents),
       |b AS (
       |  SELECT len,
       |    CASE WHEN len <= 16 THEN 16 WHEN len <= 32 THEN 32
       |         WHEN len <= 64 THEN 64 WHEN len <= 128 THEN 128
       |         WHEN len <= 256 THEN 256 ELSE 512 END AS bucket_len
       |  FROM d)
       |SELECT CAST(bucket_len AS BIGINT) AS bucket_len,
       |  count(*) AS n_docs,
       |  CAST(sum(len) AS BIGINT) AS real_tokens,
       |  CAST(sum(bucket_len - least(len, bucket_len)) AS BIGINT)
       |    AS pad_slots,
       |  CAST(sum(greatest(len - 512, 0)) AS BIGINT) AS trunc_tokens
       |FROM b GROUP BY bucket_len
       |ORDER BY bucket_len""".stripMargin
  }

  // ---- q266: curriculum staging via funnel-free global rank, hashed ---------

  /** Curriculum staging (easy→hard training order, Bengio et al.
    * 2009 realized as data prep): every document's exact 0-based
    * global rank in (difficulty, doc_id) order — difficulty here is
    * the exact token count; any scored column slots in — then integer
    * quantile boundaries cut the corpus into warmup (first 20%),
    * main (next 60%), and anneal (last 20%) stages, with per-stage
    * totals joined back.
    *
    * Scale shape: the rank comes from [[Packing.rankInOrder]] — a
    * two-phase prefix COUNT over range partitions — NOT
    * `row_number() OVER (ORDER BY ...)`, whose executed plan funnels
    * the whole corpus through ONE task (the global-sort twin of the
    * q262 tier-window lesson; plan pinned window-free in
    * SessionDeterminismSpec). Stage membership is pure integer
    * arithmetic (rank*5 < n, rank*5 < n*4) against a broadcast 1-row
    * count; stage totals are a 3-row groupBy broadcast-joined back.
    * DuckDB replays the rank as row_number over the same total order
    * — a green hash proves the two-phase rank equals the global sort
    * exactly. */
  def q266Curriculum(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
      .select($"doc_id",
        TextAnalysis.tokenCount($"text").cast(LongType).as("score"),
        TextAnalysis.tokenCount($"text").cast(LongType).as("len"))
    val ranked = Packing.rankInOrder(docs, "doc_id", Seq("score"),
      parts = 8, payload = Seq("len"))
    val n = docs.agg(count(lit(1)).as("__n"))
    val staged = ranked.crossJoin(broadcast(n))
      .withColumn("stage",
        when($"rank" * 5 < $"__n", "warmup")
          .when($"rank" * 5 < $"__n" * 4, "main")
          .otherwise("anneal"))
    val totals = staged.groupBy($"stage")
      .agg(count(lit(1)).as("stage_docs"),
        sum($"len").cast(LongType).as("stage_tokens"))
    staged.join(broadcast(totals), Seq("stage"))
      .select($"doc_id", $"len", $"rank", $"stage",
        $"stage_docs", $"stage_tokens")
  }

  val q266Sql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
      |      AS len
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, len,
      |    row_number() OVER (ORDER BY len, doc_id) - 1 AS rank,
      |    count(*) OVER () AS n
      |  FROM d),
      |st AS (
      |  SELECT doc_id, len, CAST(rank AS BIGINT) AS rank,
      |    CASE WHEN rank * 5 < n THEN 'warmup'
      |         WHEN rank * 5 < n * 4 THEN 'main'
      |         ELSE 'anneal' END AS stage
      |  FROM r)
      |SELECT doc_id, len, rank, stage,
      |  count(*) OVER (PARTITION BY stage) AS stage_docs,
      |  CAST(sum(len) OVER (PARTITION BY stage) AS BIGINT)
      |    AS stage_tokens
      |FROM st""".stripMargin

  // ---- q267: tokenizer fertility report, hashed ------------------------------

  /** Tokenizer-efficiency metrics per document — the numbers a
    * tokenizer evaluation reads before committing a vocab to a
    * training run: word count, BPE token count (the q265 dictionary
    * expression through the real encoder), character count, fertility
    * (BPE tokens per word — the standard multilingual-tokenizer
    * metric), and compression (chars per BPE token). Ratios are
    * double divisions of exact longs rounded to 6 — the identical
    * IEEE expression on both engines (the repo float convention).
    * Plan: one row-local scan (plus the bounded distinct-word
    * collect); no shuffle at any corpus size. */
  def q267Fertility(s: SparkSession, dir: String): DataFrame = {
    val bpe = bpeLenExpr(s, dir)
    Tables(s, dir, "documents")
      .select($"doc_id",
        TextAnalysis.tokenCount($"text").cast(LongType).as("n_words"),
        // n_bpe = 0 (an empty-text document) must raise, not divide:
        // double x/0 is NaN/Infinity in Spark but NULL in DuckDB
        // (ieee_floating_point_ops off) — a silent cross-engine hash
        // divergence. Same loud-assert convention as q260/q268.
        when(bpe === 0L, raise_error(lit(
          "q267: document with zero BPE tokens — chars_per_token is " +
            "engine-divergent on x/0; filter empty docs upstream")))
          .otherwise(bpe).as("n_bpe"),
        length(trim($"text")).cast(LongType).as("n_chars"))
      .withColumn("fertility",
        round($"n_bpe".cast(DoubleType) / $"n_words".cast(DoubleType), 6))
      .withColumn("chars_per_token",
        round($"n_chars".cast(DoubleType) / $"n_bpe".cast(DoubleType), 6))
  }

  val q267Sql: String = {
    val cases = bpeWordLens
      .map { case (w, n) => s"WHEN '$w' THEN $n" }.mkString(" ")
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
       |      AS n_words,
       |    CAST(list_sum(list_transform(
       |      string_split_regex(trim(text), '\\s+'),
       |      t -> CASE t $cases END)) AS BIGINT) AS n_bpe,
       |    CAST(len(trim(text)) AS BIGINT) AS n_chars
       |  FROM documents)
       |SELECT doc_id, n_words, n_bpe, n_chars,
       |  round(CAST(n_bpe AS DOUBLE) / CAST(n_words AS DOUBLE), 6)
       |    AS fertility,
       |  round(CAST(n_chars AS DOUBLE) / CAST(n_bpe AS DOUBLE), 6)
       |    AS chars_per_token
       |FROM d""".stripMargin
  }

  // ---- q270: distributed BPE dictionary encode, hashed ----------------------

  /** The q265 batch-shape report recomputed through
    * [[Bpe.bpeDocTokenCounts]] — the DISTRIBUTED dictionary-encode
    * path (distinct words as a table, each word encoded once
    * executor-side, hash-join back by word) instead of q265's
    * driver-collected map literal, with NO vocabulary cap: the
    * round-17 verdict's ask, realized. The oracle is the identical
    * hand-derived per-word restatement as q265, so a green hash
    * proves the distributed plumbing returns bit-identical token
    * counts to the bounded fast path on the same corpus — and the
    * per-word counts themselves remain certified independently of
    * the engine. Plan: two word-keyed exchanges (distinct + the
    * join-back regroup) and one broadcast — BPE runs |vocab| times,
    * never |corpus| times, at any corpus size. */
  def q270BpeDictDistributed(s: SparkSession, dir: String): DataFrame = {
    val counts = Bpe.bpeDocTokenCounts(
      Tables(s, dir, "documents"), "doc_id", "text", LmPrepGates.q36Encoder)
    val bounds = Seq(16, 32, 64, 128, 256, 512)
    val len = $"n_bpe"
    counts
      .select(graft.operators.Packing.lengthBucket(len, bounds)
        .cast(LongType).as("bucket_len"), len.as("len"))
      .groupBy($"bucket_len")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"len").cast(LongType).as("real_tokens"),
        sum($"bucket_len" - least($"len", $"bucket_len"))
          .cast(LongType).as("pad_slots"),
        sum(greatest($"len" - 512L, lit(0L))).cast(LongType)
          .as("trunc_tokens"))
      .orderBy($"bucket_len")
  }

  // ---- q271: real-asset GPT-2 tokenizer at corpus scale, hashed -------------

  /** The production 50k-merge GPT-2 encoder
    * ([[BpeEncoder.fromFiles]] over the reference's public
    * gpt2_bpe_encoder.json / gpt2_bpe_vocab.bpe assets —
    * test/test_text_ops.py:87-94 loads the same pair) proven at
    * corpus scale, not just on the BpeSpec fixture: the corpus's
    * per-document token counts run through the SAME distributed
    * dictionary path as q270 but with the real encoder, whose full
    * merge table ships executor-side with the task closure. The
    * oracle-restatable half is (a) the reference's own pinned ids for
    * a fixed sentence (the BpeSpec values, a DuckDB VALUES literal)
    * and (b) the corpus doc count; everything engine-defined is
    * certified by in-gate raise_error checks:
    * 1. dict_ok — on a bounded subset (doc_id < 50) the dictionary
    *    path's count equals a DIRECT per-word encode of the same
    *    docs (catches any dictionary/join plumbing defect under the
    *    production encoder);
    * 2. corpus_ok — every document yields >= 1 token and at least as
    *    many tokens as words (byte-level BPE emits >= 1 token per
    *    non-empty word).
    * The distinct-word dictionary is vocabulary-sized at any corpus
    * size; broadcast cost of the full encoder is recorded in
    * BASELINE.md. */
  /** The production encoder parsed ONCE per JVM (model assets are
    * immutable; re-parsing 50k merges per gate invocation would be
    * pure waste in a suite that calls the gate repeatedly), on its
    * first use inside a task: building the gate reads no file, and a
    * missing asset fails the gate when it runs. The asset
    * directory is overridable via SPARK_GRAFT_GPT2_ASSETS so the gate
    * survives the reference checkout moving (the files themselves are
    * the public GPT-2 encoder/vocab that ship with the reference's
    * test assets). */
  private lazy val gpt2Encoder: BpeEncoder = {
    val assets = gpt2Assets
    require(new java.io.File(s"$assets/gpt2_bpe_encoder.json").exists(),
      s"q271: GPT-2 assets not found under $assets — point " +
        "SPARK_GRAFT_GPT2_ASSETS at a directory holding " +
        "gpt2_bpe_encoder.json + gpt2_bpe_vocab.bpe (the reference " +
        "checkout's public test assets provide both)")
    BpeEncoder.fromFiles(s"$assets/gpt2_bpe_encoder.json",
      s"$assets/gpt2_bpe_vocab.bpe")
  }

  /** The directory q271 reads the GPT-2 encoder files from. */
  def gpt2Assets: String = sys.env.getOrElse("SPARK_GRAFT_GPT2_ASSETS",
    "/root/reference/torcharrow/test/asset")

  def q271Gpt2Corpus(s: SparkSession, dir: String): DataFrame =
    gpt2Corpus(s, dir, gpt2Encoder)

  /** q271's plan over any byte-level encoder, resolved by the tasks
    * that first use it. Both checks join the same `counts`, whose
    * exchange the plan reuses, so the dictionary encode runs once. */
  def gpt2Corpus(s: SparkSession, dir: String, enc: => BpeEncoder)
      : DataFrame = {
    val fixture = s.range(1)
      .select(posexplode(
        Bpe.bpeTokenize(enc)(lit("Hello World!, how are you?")))
        .as(Seq("pos", "id")))

    val docs = Tables(s, dir, "documents")
    val counts = Bpe.bpeDocTokenCounts(docs, "doc_id", "text", enc)
    val words = docs.select($"doc_id",
      size(split(trim($"text"), "\\s+")).cast(LongType).as("n_words"))
    val corpusOk = counts.join(words, Seq("doc_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"n_bpe" >= 1L && $"n_bpe" >= $"n_words", 0L)
          .otherwise(1L)).as("__bad"))
      .select($"n_docs",
        when($"__bad" === 0L, lit(true)).otherwise(raise_error(lit(
          "q271: document with zero tokens or fewer tokens than words " +
            "under the production encoder"))).as("corpus_ok"))
    val direct = docs.where($"doc_id" < 50)
      .select($"doc_id", explode(split(trim($"text"), "\\s+")).as("__w"))
      .select($"doc_id",
        size(Bpe.bpeTokenize(enc)($"__w")).cast(LongType).as("__n"))
      .groupBy($"doc_id").agg(sum($"__n").as("n_direct"))
    // count + coalesce: an EMPTY check subset would make sum() NULL,
    // and NULL === 0 is NULL -> the raise branch would fire with a
    // misleading 'diverges' message; distinguish the two loudly
    val dictOk = counts.join(direct, Seq("doc_id"))
      .agg(count(lit(1)).as("__checked"),
        coalesce(sum(when($"n_bpe" === $"n_direct", 0L).otherwise(1L)),
          lit(0L)).as("__mismatch"))
      .select(when($"__checked" === 0L, raise_error(lit(
          "q271: empty dictionary-check subset (no doc_id < 50) — " +
            "the dict-vs-direct equality check did not run")))
        .when($"__mismatch" === 0L, lit(true))
        .otherwise(raise_error(lit(
          "q271: dictionary-path count diverges from direct per-word " +
            "encode under the production encoder"))).as("dict_ok"))

    fixture.crossJoin(broadcast(corpusOk)).crossJoin(broadcast(dictOk))
      .select($"pos", $"id", $"n_docs", $"corpus_ok", $"dict_ok")
      .orderBy($"pos")
  }

  /** Pinned ids from the reference's own test
    * (test/test_text_ops.py:87-94, reproduced in BpeSpec against the
    * real asset files). */
  val q271Sql: String =
    """SELECT CAST(pos AS INTEGER) AS pos, CAST(id AS BIGINT) AS id,
      |  (SELECT count(*) FROM documents) AS n_docs,
      |  true AS corpus_ok, true AS dict_ok
      |FROM (VALUES (0,15496),(1,2159),(2,28265),(3,703),(4,389),
      |  (5,345),(6,30)) AS t(pos, id)
      |ORDER BY pos""".stripMargin

  // ---- q281: temperature-scaled domain mixture (alpha sampling), hashed ------

  /** [[graft.operators.Sampling.mixByTemperature]] at alpha=0.5 over
    * the documents languages — the XLM-R/mT5 low-resource boost,
    * realized duplication-free: shares land exactly ∝ √n_lang with the
    * smallest language kept in full. The oracle recomputes the counts,
    * w = power(n, 0.5), m = min(n/w), the argmin-pinned fractions, the
    * floor(f·8192) thresholds, and the splitmix64 buckets — the entire
    * chain engine-portable (the q106 discipline; pow is the one
    * cross-engine trust point and this hash pins it). Output is the
    * q106 shape: per-language kept count + kept id sum. */
  def q281TemperatureMix(s: SparkSession, dir: String): DataFrame = {
    val mixed = Sampling.mixByTemperature(Tables(s, dir, "documents"),
      $"lang", $"doc_id", alpha = 0.5, seed = 47L)
    mixed.groupBy($"lang")
      .agg(count(lit(1)).as("kept_n"), sum($"doc_id").as("kept_id_sum"))
      .orderBy($"lang")
  }

  val q281Sql: String =
    s"""WITH ${LmPrepGates.bucketCtes("tm", 47L, "documents", "doc_id")},
       |cnt AS (SELECT lang, COUNT(*) AS n FROM documents
       |  WHERE lang IS NOT NULL GROUP BY lang),
       |w AS (SELECT lang, n,
       |  power(CAST(n AS DOUBLE), CAST(0.5 AS DOUBLE)) AS w FROM cnt),
       |mm AS (SELECT MIN(CAST(n AS DOUBLE) / w) AS m FROM w),
       |thr AS (SELECT w.lang,
       |  CAST(floor(CASE WHEN CAST(n AS DOUBLE) / w = mm.m
       |    THEN CAST(1.0 AS DOUBLE)
       |    ELSE LEAST(CAST(1.0 AS DOUBLE),
       |      w * mm.m / CAST(n AS DOUBLE)) END * 8192) AS INTEGER) AS th
       |  FROM w CROSS JOIN mm),
       |j AS (SELECT d.lang, d.doc_id, tmb.bucket
       |  FROM documents d JOIN tmb ON d.doc_id = tmb.k)
       |SELECT j.lang, COUNT(*) AS kept_n,
       |  CAST(SUM(j.doc_id) AS BIGINT) AS kept_id_sum
       |FROM j JOIN thr ON j.lang = thr.lang
       |WHERE j.bucket < thr.th
       |GROUP BY j.lang ORDER BY j.lang""".stripMargin

  // ---- q282: leakage-safe train/test split (split by dup-GROUP), hashed ------

  /** Near-dup-aware train/test split — the data-hygiene rule that a
    * duplicate GROUP must land on one side of the split (a test doc
    * whose near-twin sits in train is leaked evaluation data). The
    * composition: connected components over the q88 pair graph (the
    * SAME jaccardPairFixture — one definition, three gates), split key
    * = coalesce(component, doc_id), label =
    * [[graft.operators.Sampling.splitLabel]] over THAT key, so every
    * member follows its group representative by construction. Two
    * witnesses ride the hash: an in-gate raise if any group spans
    * splits (the end-to-end construction certificate), and
    * `naive_leak_groups` — how many groups a doc-keyed split WOULD
    * have torn apart on this corpus, the measured reason this
    * operator exists. Scale shape: components are pair-graph-sized,
    * the corpus takes one broadcast join + the stateless splitmix64
    * filter — never shuffled. */
  def q282LeakageSafeSplit(s: SparkSession, dir: String): DataFrame = {
    val weights = Seq("train" -> 0.8, "test" -> 0.2)
    val comp = graft.operators.Dedup
      .connectedComponents(
        DedupGates.jaccardPairFixture(s, dir).select($"id_a", $"id_b"))
      .select($"id", $"component")
    val docs = Tables(s, dir, "documents").select($"doc_id")
    val rep = docs.join(broadcast(comp), $"doc_id" === $"id", "left")
      .select($"doc_id", $"component",
        coalesce($"component", $"doc_id").as("rep"))
    val lab = rep
      .withColumn("split", Sampling.splitLabel($"rep", weights, 23L))
      .withColumn("nsplit", Sampling.splitLabel($"doc_id", weights, 23L))
    val spanning = lab.where($"component".isNotNull)
      .groupBy($"component")
      .agg(count_distinct($"split").as("nl"))
      .agg(coalesce(sum(when($"nl" > 1L, 1L).otherwise(0L)), lit(0L))
        .as("spanning"))
      .select(when($"spanning" === 0L, lit(0L)).otherwise(raise_error(
        lit("q282: a duplicate group spans splits — the rep-keyed " +
          "label is group-constant by construction, this is a bug")))
        .as("spanning_groups"))
    val naiveLeak = lab.where($"component".isNotNull)
      .groupBy($"component")
      .agg(count_distinct($"nsplit").as("nl"))
      .agg(coalesce(sum(when($"nl" > 1L, 1L).otherwise(0L)), lit(0L))
        .as("naive_leak_groups"))
    lab.groupBy($"split")
      .agg(count(lit(1)).as("n"),
        sum($"doc_id").as("id_sum"),
        sum(when($"component".isNotNull, 1L).otherwise(0L))
          .as("grouped_n"))
      .crossJoin(broadcast(spanning))
      .crossJoin(broadcast(naiveLeak))
      .orderBy($"split")
  }

  // threshold: floor(0.8*8192) = 6553 (Sampling.threshold floor
  // semantics, spelled as a literal per the q83 discipline)
  val q282Sql: String = {
    val closure = DedupGates.closureCtes
    s"""WITH RECURSIVE $closure,
       |comp AS (SELECT src AS id, MIN(dst) AS component
       |  FROM reach GROUP BY src),
       |rep AS (SELECT d2.doc_id, c.component,
       |    coalesce(c.component, d2.doc_id) AS rep
       |  FROM documents d2 LEFT JOIN comp c ON d2.doc_id = c.id),
       |repd AS (SELECT DISTINCT rep FROM rep),
       |${LmPrepGates.bucketCtes("sg", 23L, "repd", "rep")},
       |${LmPrepGates.bucketCtes("nv", 23L, "documents", "doc_id")},
       |lab AS (SELECT r.doc_id, r.component,
       |    CASE WHEN sgb.bucket < 6553 THEN 'train' ELSE 'test' END
       |      AS split,
       |    CASE WHEN nvb.bucket < 6553 THEN 'train' ELSE 'test' END
       |      AS nsplit
       |  FROM rep r JOIN sgb ON r.rep = sgb.k
       |    JOIN nvb ON r.doc_id = nvb.k),
       |span AS (SELECT CAST(coalesce(SUM(CASE WHEN nl > 1 THEN 1 END), 0)
       |    AS BIGINT) AS spanning_groups
       |  FROM (SELECT component, COUNT(DISTINCT split) AS nl FROM lab
       |    WHERE component IS NOT NULL GROUP BY component)),
       |leak AS (SELECT CAST(coalesce(SUM(CASE WHEN nl > 1 THEN 1 END), 0)
       |    AS BIGINT) AS naive_leak_groups
       |  FROM (SELECT component, COUNT(DISTINCT nsplit) AS nl FROM lab
       |    WHERE component IS NOT NULL GROUP BY component))
       |SELECT split, COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS id_sum,
       |  CAST(SUM(CASE WHEN component IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS grouped_n,
       |  spanning_groups, naive_leak_groups
       |FROM lab CROSS JOIN span CROSS JOIN leak
       |GROUP BY split, spanning_groups, naive_leak_groups
       |ORDER BY split""".stripMargin
  }

  // ---- q286: SFT prompt-masking prep, hashed ---------------------------------

  /** [[graft.operators.Denoise.sftMask]] end-to-end: deterministic
    * ragged prompt/response token arrays derived arithmetically from
    * doc_id (prompt length 1..7, response length 2..6 — totals span
    * 4..14 around maxLen=10, so the LEFT-truncation path and the
    * no-truncation path both ride the hash), eos appended, prompt
    * masked to −100 in the labels, truncation dropping only
    * ignore-labeled positions (n_supervised = |response|+1 always —
    * the raise guarantees the supervised span fits). DuckDB rebuilds
    * the arrays with range() and replays concat/transform/slice
    * bit-for-bit — the q251 array-hash precedent. */
  def q286SftMask(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir, "documents").select($"doc_id",
      sequence($"doc_id" * 1000 + 1,
        $"doc_id" * 1000 + ($"doc_id" % 7 + 1)).as("p"),
      sequence($"doc_id" * 1000 + 100,
        $"doc_id" * 1000 + 99 + ($"doc_id" % 5 + 2)).as("r"))
    def flat(c: Column): Column =
      array_join(transform(c, _.cast(StringType)), ",")
    graft.operators.Denoise.sftMask(base, "p", "r", eosId = 2L,
        maxLen = 10)
      .select($"doc_id", flat($"input_ids").as("input_ids"),
        flat($"labels").as("labels"), $"n_tokens", $"n_supervised")
      .orderBy($"doc_id")
  }

  val q286Sql: String =
    """WITH d AS (SELECT doc_id,
      |    doc_id % 7 + 1 AS np, doc_id % 5 + 2 AS nr FROM documents),
      |arr AS (SELECT doc_id, np, nr,
      |  range(doc_id * 1000 + 1, doc_id * 1000 + np + 1) AS p,
      |  range(doc_id * 1000 + 100, doc_id * 1000 + 100 + nr) AS r
      |  FROM d),
      |built AS (SELECT doc_id, np, nr,
      |  np + nr + 1 AS tot_len,
      |  p || r || [CAST(2 AS BIGINT)] AS ids,
      |  list_transform(p, x -> CAST(-100 AS BIGINT)) || r ||
      |    [CAST(2 AS BIGINT)] AS labels
      |  FROM arr)
      |SELECT doc_id,
      |  array_to_string(CASE WHEN tot_len > 10
      |    THEN ids[tot_len - 9 : tot_len] ELSE ids END, ',')
      |    AS input_ids,
      |  array_to_string(CASE WHEN tot_len > 10
      |    THEN labels[tot_len - 9 : tot_len] ELSE labels END, ',')
      |    AS labels,
      |  CAST(least(tot_len, 10) AS BIGINT) AS n_tokens,
      |  CAST(nr + 1 AS BIGINT) AS n_supervised
      |FROM built ORDER BY doc_id""".stripMargin
}
