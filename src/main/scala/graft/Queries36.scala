package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Packing, TextAnalysis}

/** Round-17 gates: the remaining oracle-split and materialization
  * companions from the round-16 verdict — SemDeDup survivor accounting
  * (q263, the last obvious no_oracle split, the q247/q248/q250
  * precedent), GPT-block materialization from the q257 offsets (q264,
  * the loader contract the block coordinates exist for), and the
  * BPE-true variant of the q256 batch-shape report (q265, real token
  * budgets instead of whitespace counts). Naming/oracle/float
  * conventions as in [[Queries]].
  */
object Queries36 {

  // ---- q263: SemDeDup survivor accounting, hashed ---------------------------

  /** The oracle-restatable half of q96's SemDeDup pipeline: run the
    * SAME cluster → within-cell cosine pairs → keep-best resolution
    * chain ([[Queries6.q96Frames]]) and emit the survivor accounting
    * as DATA — corpus size, kept count, dropped count, and the dropped
    * ids themselves. On this corpus the answer is fully determined
    * WITHOUT running the pipeline: the 0.95 threshold sits far above
    * every non-planted cosine (max corpus-corpus ~0.51, max
    * planted-corpus ~0.45, twin-cross ~0.01 — measured at all three
    * SFs), identical twin vectors always share a k-means cell and have
    * cosine exactly 1, and [[graft.operators.Dedup.resolveKeepBest]]
    * breaks the equal-norm tie toward the LOWER id — so the pair graph
    * is exactly the two planted twin pairs and the dropped set is
    * exactly the two higher twin ids. Since round 18 DuckDB does not
    * STATE that answer — it RE-DERIVES it from the embeddings (exact
    * all-pairs cosine graph, recursive-closure components, the same
    * keep-best policy; see [[q263Sql]]), so a green hash certifies
    * the survivor set against an independent first-principles
    * computation, robust to corpus changes (what stays engine-defined
    * in q96 is only the k-means cell assignment, which this
    * accounting is invariant to). Plan: pair-graph-sized frames
    * throughout; the only corpus-sized ops are one count and one
    * broadcast anti-join. */
  def q263SemSurvivors(s: SparkSession, dir: String): DataFrame = {
    val (emb, _, dropped) = Queries6.q96Frames(s, dir)
    val kept = emb.join(broadcast(dropped), Seq("vec_id"), "left_anti")
    kept.agg(count(lit(1)).as("n_kept"))
      .crossJoin(broadcast(emb.agg(count(lit(1)).as("n_total"))))
      .crossJoin(broadcast(dropped.agg(
        count(lit(1)).as("n_dropped"),
        array_join(transform(array_sort(collect_list($"vec_id")),
          x => x.cast(StringType)), ",").as("dropped_ids"))))
      .select($"n_total", $"n_kept", $"n_dropped", $"dropped_ids")
  }

  /** DATA-DERIVED restatement (round 18, replacing the closed-form
    * literal the round-17 verdict flagged): DuckDB COMPUTES the
    * survivor set from first principles instead of stating the known
    * answer — (1) rebuild the full vector set (corpus + the 4
    * [[Queries2.plantedVecs]] twins, whose construction formula is
    * restated arithmetically); (2) compute the EXACT >= 0.95 cosine
    * pair graph over ALL pairs (`list_cosine_similarity`; no k-means
    * cells — a superset probe of the pipeline's within-cell search,
    * so it also re-proves that no cross-cell pair crosses the
    * threshold); (3) resolve connected components (the q88 recursive
    * closure) with [[graft.operators.Dedup.resolveKeepBest]]'s exact
    * keep policy — max L2 norm, tie toward the LOWER id; (4) emit the
    * accounting. A pipeline defect dropping the right ids for a wrong
    * reason now fails: the oracle re-derives WHICH ids must drop from
    * the embeddings themselves. Float-vs-double cosine rounding is
    * irrelevant to the discrete output: the corpus's max non-twin
    * cosine is ~0.6 at every SF, far from 0.95. All-pairs cost is
    * oracle-side only and bounded by the verify SFs (504 vectors at
    * sf0.01: 0.4 s; the ENGINE side keeps its bucketed plan). */
  val q263Sql: String =
    """WITH RECURSIVE planted AS (
      |  SELECT CAST(1000000000 + p AS BIGINT) AS vec_id,
      |    CASE WHEN p < 2
      |      THEN list_transform(range(0, 64), i ->
      |        CAST(((i % 7) + 1) / 10.0 AS DOUBLE))
      |      ELSE list_transform(range(0, 64), i ->
      |        CAST((CASE WHEN i % 2 = 0 THEN 1 ELSE -1 END) *
      |          ((i % 5) + 1) / 10.0 AS DOUBLE)) END AS v
      |  FROM range(0, 4) t(p)),
      |allv AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings
      |  UNION ALL SELECT vec_id, v FROM planted),
      |e AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
      |  FROM allv a JOIN allv b ON a.vec_id < b.vec_id
      |  WHERE list_cosine_similarity(a.v, b.v) >= 0.95),
      |edges AS (SELECT id_a AS a, id_b AS b FROM e
      |  UNION SELECT id_b, id_a FROM e),
      |nodes AS (SELECT DISTINCT a AS id FROM edges),
      |reach AS (
      |  SELECT id AS src, id AS dst FROM nodes
      |  UNION
      |  SELECT r.src, e2.b FROM reach r JOIN edges e2 ON r.dst = e2.a),
      |comp AS (SELECT src AS id, MIN(dst) AS component FROM reach
      |  GROUP BY src),
      |scored AS (
      |  SELECT c.id, c.component,
      |    sqrt(list_sum(list_transform(av.v, x -> x * x))) AS score
      |  FROM comp c JOIN allv av ON av.vec_id = c.id),
      |keepb AS (
      |  SELECT component, id AS keep_id FROM (
      |    SELECT component, id, row_number() OVER (
      |      PARTITION BY component ORDER BY score DESC, id ASC) AS rn
      |    FROM scored) WHERE rn = 1),
      |dropped AS (
      |  SELECT s.id FROM scored s JOIN keepb k ON s.component = k.component
      |  WHERE s.id <> k.keep_id)
      |SELECT
      |  (SELECT count(*) FROM allv) AS n_total,
      |  (SELECT count(*) FROM allv) - (SELECT count(*) FROM dropped)
      |    AS n_kept,
      |  (SELECT count(*) FROM dropped) AS n_dropped,
      |  (SELECT string_agg(CAST(id AS VARCHAR), ',' ORDER BY id)
      |    FROM dropped) AS dropped_ids""".stripMargin

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
       |${Queries5.hashCtes("bk", 13L, "d", "doc_id")},
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
    val enc = Queries4.q36Encoder
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

  // ---- q268: global rank + deciles on the fact table, hashed ----------------

  /** [[Packing.rankInOrder]] proven on the BIG table (the q260 role
    * for the rank half of the two-phase machinery): every unique
    * lineitem key (the q260 aggregation — the synthetic table
    * duplicates (orderkey, linenumber)) gets its exact 0-based global
    * rank in (total quantity, key) order plus an exact integer decile
    * — 600k keys at sf0.1 / 4.57M at sf1.0 through 32 range
    * partitions and a 32-row driver collect, where the declarative
    * spelling `row_number() OVER (ORDER BY ...)` would funnel every
    * row through ONE task. The decile is (rank*10) div n against a
    * broadcast 1-row count — the exact-quantile bucketing of mixture
    * capping / eval-split assignment at corpus scale. Quantities are
    * integrality-asserted as in q260. DuckDB replays rank and decile
    * over the same total order. */
  def q268GlobalRank(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
      .select(($"l_orderkey" * 8 + $"l_linenumber").cast(LongType)
        .as("lk"),
        when($"l_quantity" =!= floor($"l_quantity"), raise_error(lit(
          "q268: non-integer l_quantity — Spark truncates and DuckDB " +
            "rounds on the long cast, the ranks would diverge")))
          .otherwise($"l_quantity").cast(LongType).as("q"))
      .groupBy($"lk")
      .agg(sum($"q").as("qty"))
    val ranked = Packing.rankInOrder(li, "lk", Seq("qty"), parts = 32)
    val n = li.agg(count(lit(1)).as("__n"))
    ranked.crossJoin(broadcast(n))
      .select($"lk", $"qty", $"rank",
        expr("CAST((rank * 10) DIV __n AS BIGINT)").as("decile"))
  }

  val q268Sql: String =
    """WITH d AS (
      |  SELECT l_orderkey * 8 + l_linenumber AS lk,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      |  FROM lineitem GROUP BY 1),
      |r AS (
      |  SELECT lk, qty,
      |    row_number() OVER (ORDER BY qty, lk) - 1 AS rank,
      |    count(*) OVER () AS n
      |  FROM d)
      |SELECT lk, qty, CAST(rank AS BIGINT) AS rank,
      |  CAST((rank * 10) // n AS BIGINT) AS decile
      |FROM r""".stripMargin

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q263_sem_survivors" -> (q263SemSurvivors _),
    "q264_block_rows" -> (q264BlockRows _),
    "q265_bpe_len_buckets" -> (q265BpeLenBuckets _),
    "q266_curriculum" -> (q266Curriculum _),
    "q267_fertility" -> (q267Fertility _),
    "q268_global_rank" -> (q268GlobalRank _)
  )

  val oracles: Map[String, String] = Map(
    "q263_sem_survivors" -> q263Sql,
    "q264_block_rows" -> q264Sql,
    "q265_bpe_len_buckets" -> q265Sql,
    "q266_curriculum" -> q266Sql,
    "q267_fertility" -> q267Sql,
    "q268_global_rank" -> q268Sql
  )
}
