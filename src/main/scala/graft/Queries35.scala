package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Denoise, Packing, TextAnalysis}
import graft.streaming.StreamDrain

/** Round-16 gates: the remaining objective-prep surfaces of a
  * training-data pipeline — fill-in-the-middle (q254), NSP pair prep
  * (q255), length-bucket batch shaping (q256), and GPT-style
  * contiguous block packing over a scalable global prefix sum (q257).
  * All four are pure functions of (doc_id, seed) and fully
  * DuckDB-restatable (the q252/q253 splitmix64-replay precedent).
  * Naming/oracle/float conventions as in [[Queries]].
  */
object Queries35 {

  // ---- q254: fill-in-the-middle transform, hashed ---------------------------

  /** FIM prep end-to-end under the cross-engine hash: each document's
    * first 12 tokens go through [[Denoise.fimTransform]] (rate 0.5,
    * seed 31) — the apply draw and both cut points are doc-level
    * splitmix64 buckets (seeds 31/32/33), cuts are `bucket % (n+1)`,
    * and both the PSM and SPM sequence orders are emitted. DuckDB
    * replays the draws via [[Queries5.bucketCtes]] and the segment
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
       |${Queries5.bucketCtes("fa", 31L, "tk", "doc_id")},
       |${Queries5.bucketCtes("fb", 32L, "tk", "doc_id")},
       |${Queries5.bucketCtes("fc", 33L, "tk", "doc_id")},
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
    * ([[Queries5.hashCtes]] — the exact signed 64-bit sampleHash),
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
       |${Queries5.hashCtes("nk", 41L, "base", "doc_id")},
       |${Queries5.bucketCtes("ng", 50L, "base", "doc_id")},
       |${Queries5.bucketCtes("ns", 42L, "base", "doc_id")},
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
    * ([[Queries5.hashCtes]]) and the prefix sum as a window over the
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
       |${Queries5.hashCtes("ok", 13L, "d", "doc_id")},
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
       |${Queries5.bucketCtes("um", 29L, "keyed", "k")},
       |${Queries5.bucketCtes("uc", 36L, "raw", "doc_id")},
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

  // ---- q260: global running sum on the fact table, hashed -------------------

  /** The two-phase global prefix sum ([[Packing.contiguousOffsets]])
    * proven on the BIG table: every lineitem row (key = l_orderkey*8 +
    * l_linenumber — linenumber <= 7, so the packing is collision-free)
    * gets its exact global running-quantity offset in
    * splitmix64-shuffled order. This is the operation TFrame.cumsum
    * documents as driver-scale-only in its global (`by = Nil`) window
    * form — here it runs as 32 range partitions + a 32-row driver
    * collect, no one-partition funnel, 600k rows at sf0.1 / 6M at
    * sf1.0. Quantities are integer-valued (TPC-H 1..50), so the cast
    * to BIGINT and the prefix sums are exact on both engines. DuckDB
    * replays the shuffle key and the prefix sum as a single window
    * over the same total order. */
  def q260GlobalCumsum(s: SparkSession, dir: String): DataFrame = {
    // the synthetic lineitem does NOT keep (orderkey, linenumber)
    // unique (TPC-H-ish, not TPC-H) — aggregate to unique keys first:
    // contiguousOffsets needs a total order, and duplicate (key, id)
    // rows with different quantities would make the offset assignment
    // between them engine-arbitrary.
    // Integrality is ASSERTED, not assumed: Spark's double->long cast
    // truncates while DuckDB's CAST rounds — the engines agree only
    // because TPC-H quantities are exactly integer-valued (1..50), so
    // a future fractional quantity must fail loudly here instead of
    // silently diverging the oracle. The raise_error rides the same
    // projection — no extra pass.
    val li = Tables(s, dir, "lineitem")
      .select(($"l_orderkey" * 8 + $"l_linenumber").cast(LongType)
        .as("lk"),
        when($"l_quantity" =!= floor($"l_quantity"), raise_error(lit(
          "q260: non-integer l_quantity — Spark truncates and DuckDB " +
            "rounds on the long cast, the prefix sums would diverge")))
          .otherwise($"l_quantity").cast(LongType).as("q"))
      .groupBy($"lk")
      .agg(sum($"q").as("qty"))
    val off = Packing.contiguousOffsets(li, "lk", "qty",
      seed = 21L, parts = 32)
    off.select($"lk", $"qty", $"global_start",
      ($"global_start" + $"qty").as("running_qty"))
  }

  val q260Sql: String =
    s"""WITH d AS (
       |  SELECT l_orderkey * 8 + l_linenumber AS lk,
       |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
       |  FROM lineitem GROUP BY 1),
       |${Queries5.hashCtes("gk", 21L, "d", "lk")},
       |j AS (
       |  SELECT d.lk, d.qty, gkh.h
       |  FROM d JOIN gkh ON d.lk = gkh.k),
       |o AS (
       |  SELECT lk, qty,
       |    CAST(coalesce(sum(qty) OVER (ORDER BY h, lk
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS gs
       |  FROM j)
       |SELECT lk, qty, gs AS global_start, gs + qty AS running_qty
       |FROM o""".stripMargin

  // ---- q261: MLM prep as a STREAMING query, hashed ---------------------------

  /** The objective-prep ops are stateless row-local transforms, so
    * the SAME operator runs incrementally under Structured Streaming
    * with no code change and no state store: this gate streams the
    * documents table ([[graft.streaming.EventsStream]]'s
    * single-file-vs-directory reader pattern), applies
    * [[graft.operators.Denoise.mlmMask]] (density 0.2, seed 47, first
    * 12 tokens) in APPEND mode — stateless, so the watermark-free
    * append plan is legal — and drains to a memory sink. The DuckDB
    * oracle is the SAME parameterized replay as batch q253
    * ([[Queries34.mlmSql]]), so a green hash proves stream == batch
    * == cross-engine for the full 80/10/10 pipeline. At scale this is
    * the incremental-corpus path: new shards land, prep runs on
    * exactly the new rows, checkpointed offsets resume.
    *
    * The memory sink is gate-harness-only; see
    * [[graft.streaming.StreamDrain.toMemory]]. */
  def q261StreamMlm(s: SparkSession, dir: String): DataFrame = {
    val spark = StreamDrain.session(s, emptyBatches = false)
    val docs = Tables.stream(spark, dir, "documents").select($"doc_id",
      slice(split(trim($"text"), "\\s+"), 1, 12).as("toks"))
    val out = graft.operators.Denoise.mlmMask(docs, "doc_id", "toks",
      density = 0.2, seed = 47L)
    StreamDrain.toMemory(out.writeStream.outputMode("append"))
  }

  // thresholds: sel floor(0.2*8192)=1638; 80/10/10 constants shared
  // with q253 via the parameterized replay
  val q261Sql: String =
    Queries34.mlmSql(sliceLen = 12, thrSel = 1638, seed = 47L)

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
       |${Queries5.bucketCtes("rp", 61L, "t", "doc_id")},
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

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q254_fim" -> (q254Fim _),
    "q255_nsp" -> (q255Nsp _),
    "q256_len_buckets" -> (q256LenBuckets _),
    "q257_block_pack" -> (q257BlockPack _),
    "q258_ul2" -> (q258Ul2 _),
    "q259_pref_pairs" -> (q259PrefPairs _),
    "q260_global_cumsum" -> (q260GlobalCumsum _),
    "q261_stream_mlm" -> (q261StreamMlm _),
    "q262_repeat_schedule" -> (q262RepeatSchedule _)
  )

  val oracles: Map[String, String] = Map(
    "q254_fim" -> q254Sql,
    "q255_nsp" -> q255Sql,
    "q256_len_buckets" -> q256Sql,
    "q257_block_pack" -> q257Sql,
    "q258_ul2" -> q258Sql,
    "q259_pref_pairs" -> q259Sql,
    "q260_global_cumsum" -> q260Sql,
    "q261_stream_mlm" -> q261Sql,
    "q262_repeat_schedule" -> q262Sql
  )
}
