package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.frame.TFrame
import graft.functions.{Bpe, BpeEncoder}

/** Round-18 gates: the ranked residue of the round-17 verdict —
  * DECIMAL-exact global running sums for money columns (q269, the
  * fixed-point completion of the q260 two-phase machinery), the
  * distributed BPE dictionary-encode path with the map-literal cap
  * lifted (q270), the real-asset GPT-2 tokenizer proven at corpus
  * scale (q271), and the funnel-free rank family on the TFrame user
  * surface (q272). Naming/oracle/float conventions as in [[Queries]].
  */
object Queries37 {

  /** Unique-key money frame shared by q269/q272: the synthetic
    * lineitem duplicates (orderkey, linenumber), so aggregate to the
    * q268 composite key first. Prices go double → DECIMAL(18,2)
    * BEFORE the sum (both engines round the ~2-decimal double to the
    * nearest cent identically — no half-way case exists within one
    * double ulp of a cent), and the per-key sum is decimal-exact. */
  private def moneyKeys(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .select(($"l_orderkey" * 8 + $"l_linenumber").cast(LongType).as("lk"),
        $"l_extendedprice".cast(DecimalType(18, 2)).as("p"))
      .groupBy($"lk")
      .agg(sum($"p").cast(DecimalType(18, 2)).as("price"))

  // ---- q269: DECIMAL-exact global running sum (money), hashed ---------------

  /** The fixed-point completion of the q260 global-cumsum machinery:
    * an exact running revenue over every unique lineitem key in key
    * order, computed by [[TFrame.cumsumExactDecimal]] — the value is
    * scaled to cents (exact: DECIMAL(18,2) always fits a LONG), run
    * through the two-phase range-partitioned prefix sum, and scaled
    * back — so the money column (the realistic 100 TB case: the
    * reference cumsum surface includes floats,
    * inumerical_column.py:229-312, and l_extendedprice is the column
    * a warehouse actually accumulates) gets an EXACT global cumsum
    * with no one-partition window. Long addition on cents is exactly
    * associative, so the float objection to two-phase double cumsum
    * does not apply. Output doubles follow the repo convention
    * (exact DECIMAL → CAST AS DOUBLE, the identical conversion on
    * both engines); run_cents is the fully-exact integer witness.
    * DuckDB replays the running sum as a decimal window sum over the
    * same total order. Plan pinned window-free in TFrameSpec. */
  def q269MoneyCumsum(s: SparkSession, dir: String): DataFrame = {
    val run = TFrame(moneyKeys(s, dir))
      .cumsumExactDecimal("price", order = Seq.empty, idCol = "lk",
        parts = 32)
    run.df.select($"lk",
      $"price".cast(DoubleType).as("price"),
      (col("`price.cumsum`") * lit(100)).cast(LongType).as("run_cents"),
      col("`price.cumsum`").cast(DoubleType).as("run_price"))
  }

  val q269Sql: String =
    """WITH d AS (
      |  SELECT l_orderkey * 8 + l_linenumber AS lk,
      |    CAST(l_extendedprice AS DECIMAL(18,2)) AS p
      |  FROM lineitem),
      |g AS (
      |  SELECT lk, CAST(sum(p) AS DECIMAL(18,2)) AS price
      |  FROM d GROUP BY lk),
      |r AS (
      |  SELECT lk, price, sum(price) OVER (ORDER BY lk) AS run
      |  FROM g)
      |SELECT lk, CAST(price AS DOUBLE) AS price,
      |  CAST(run * 100 AS BIGINT) AS run_cents,
      |  CAST(run AS DOUBLE) AS run_price
      |FROM r""".stripMargin

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
      Tables(s, dir, "documents"), "doc_id", "text", Queries4.q36Encoder)
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
    * pure waste in a suite that calls the gate repeatedly). The asset
    * directory is overridable via SPARK_GRAFT_GPT2_ASSETS so the gate
    * survives the reference checkout moving (the files themselves are
    * the public GPT-2 encoder/vocab that ship with the reference's
    * test assets). */
  private lazy val gpt2Encoder: BpeEncoder = {
    val assets = sys.env.getOrElse("SPARK_GRAFT_GPT2_ASSETS",
      "/root/reference/torcharrow/test/asset")
    require(new java.io.File(s"$assets/gpt2_bpe_encoder.json").exists(),
      s"q271: GPT-2 assets not found under $assets — point " +
        "SPARK_GRAFT_GPT2_ASSETS at a directory holding " +
        "gpt2_bpe_encoder.json + gpt2_bpe_vocab.bpe (the reference " +
        "checkout's public test assets provide both)")
    BpeEncoder.fromFiles(s"$assets/gpt2_bpe_encoder.json",
      s"$assets/gpt2_bpe_vocab.bpe")
  }

  def q271Gpt2Corpus(s: SparkSession, dir: String): DataFrame = {
    val enc = gpt2Encoder

    val fixture = s.range(1)
      .select(posexplode(
        Bpe.bpeTokenize(enc)(lit("Hello World!, how are you?")))
        .as(Seq("pos", "id")))

    val docs = Tables(s, dir, "documents")
    val counts = Bpe.bpeDocTokenCounts(docs, "doc_id", "text", enc)
      .localCheckpoint() // feeds both checks; don't re-run the dict join
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

  // ---- q272: TFrame rank family (rankExact + denseRankExact), hashed --------

  /** The funnel-free rank primitives on the USER surface (the
    * round-17 verdict's ask: the reference-style fluent API is the
    * declared product surface, and rankInOrder was reachable only
    * through the operators package): [[TFrame.rankExact]] (exact
    * 0-based global rank in (qty, lk) order — two-phase prefix count,
    * q266/q268 machinery) and [[TFrame.denseRankExact]] (equal keys
    * share a gapless rank — distinct keys ranked by the same
    * two-phase count via each group's min-id representative, joined
    * back) chained on the q269 money-key frame with quantities.
    * DuckDB replays both as row_number()-1 / dense_rank()-1 over the
    * same total order — a green hash proves the pair of wrappers
    * equals the declarative global-sort spelling exactly, while the
    * executed plan (pinned window-free in TFrameSpec) never funnels
    * the corpus through one task. */
  def q272RankFamily(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
      .select(($"l_orderkey" * 8 + $"l_linenumber").cast(LongType)
        .as("lk"),
        when($"l_quantity" =!= floor($"l_quantity"), raise_error(lit(
          "q272: non-integer l_quantity — Spark truncates and DuckDB " +
            "rounds on the long cast, the ranks would diverge")))
          .otherwise($"l_quantity").cast(LongType).as("q"))
      .groupBy($"lk")
      .agg(sum($"q").as("qty"))
    val ranked = TFrame(li)
      .rankExact(Seq("qty"), "lk", parts = 32, outCol = "rk")
      .denseRankExact(Seq("qty"), "lk", parts = 32, outCol = "drank")
    ranked.df.select($"lk", $"qty", $"rk", $"drank")
  }

  val q272Sql: String =
    """WITH d AS (
      |  SELECT l_orderkey * 8 + l_linenumber AS lk,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      |  FROM lineitem GROUP BY 1)
      |SELECT lk, qty,
      |  CAST(row_number() OVER (ORDER BY qty, lk) - 1 AS BIGINT) AS rk,
      |  CAST(dense_rank() OVER (ORDER BY qty) - 1 AS BIGINT) AS drank
      |FROM d""".stripMargin

  // ---- q273: signed running balance (negative-weight cumsum), hashed --------

  /** End-to-end witness for the round-18 relaxed prefix-sum contract
    * (negatives are exact — long addition is sign-agnostic): a
    * running NET-revenue balance where returned lineitems
    * (l_returnflag = 'R') post as refunds — the sign-mixed delta
    * column the >= 0 guard used to reject for no algorithmic reason
    * (the reference cumsum supports negatives,
    * numerical_column_cpu.py accumulate via operator.add). Cents are
    * exact longs via the q269 DECIMAL(18,2) mediation; the running
    * sum is [[TFrame.cumsumExact]]'s two-phase prefix sum in key
    * order — no window at any corpus size. DuckDB replays the signed
    * window sum over the same total order. */
  def q273SignedBalance(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
      .select(($"l_orderkey" * 8 + $"l_linenumber").cast(LongType)
        .as("lk"),
        (when($"l_returnflag" === "R", -1L).otherwise(1L) *
          ($"l_extendedprice".cast(DecimalType(18, 2)) * lit(100))
            .cast(LongType)).as("sc"))
      .groupBy($"lk")
      .agg(sum($"sc").cast(LongType).as("delta"))
    TFrame(li)
      .cumsumExact("delta", order = Seq.empty, idCol = "lk", parts = 32)
      .df.select($"lk", $"delta",
        col("`delta.cumsum`").as("run_cents"))
  }

  val q273Sql: String =
    """WITH d AS (
      |  SELECT l_orderkey * 8 + l_linenumber AS lk,
      |    (CASE WHEN l_returnflag = 'R' THEN -1 ELSE 1 END) *
      |      CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS sc
      |  FROM lineitem),
      |g AS (SELECT lk, CAST(sum(sc) AS BIGINT) AS delta FROM d GROUP BY lk)
      |SELECT lk, delta,
      |  CAST(sum(delta) OVER (ORDER BY lk) AS BIGINT) AS run_cents
      |FROM g""".stripMargin

  // ---- q274: exact NTILE without the window funnel, hashed ------------------

  /** [[TFrame.ntileExact]] proven against the SQL function it
    * replaces: every unique lineitem key's ntile(7) bucket in (qty,
    * lk) order — 7 deliberately not dividing the row count, so the
    * ANSI remainder rule (first n mod k buckets take the extra row;
    * NOT the (rank*k) div n equal-width cut, which places boundary
    * rows differently) is what the hash certifies. The executed plan
    * is the two-phase rank + a broadcast 1-row count + integer
    * arithmetic — `ntile(k) OVER (ORDER BY ...)` is THE textbook
    * one-task global funnel, and this gate pins its replacement
    * window-free (TFrameSpec). DuckDB replays the native ntile(7). */
  def q274Ntile(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
      .select(($"l_orderkey" * 8 + $"l_linenumber").cast(LongType)
        .as("lk"),
        when($"l_quantity" =!= floor($"l_quantity"), raise_error(lit(
          "q274: non-integer l_quantity — Spark truncates and DuckDB " +
            "rounds on the long cast, the order would diverge")))
          .otherwise($"l_quantity").cast(LongType).as("q"))
      .groupBy($"lk")
      .agg(sum($"q").as("qty"))
    TFrame(li)
      .ntileExact(7, Seq("qty"), "lk", parts = 32, outCol = "bucket")
      .df.select($"lk", $"qty", $"bucket")
  }

  val q274Sql: String =
    """WITH d AS (
      |  SELECT l_orderkey * 8 + l_linenumber AS lk,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      |  FROM lineitem GROUP BY 1)
      |SELECT lk, qty,
      |  CAST(ntile(7) OVER (ORDER BY qty, lk) AS BIGINT) AS bucket
      |FROM d""".stripMargin

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q269_money_cumsum" -> (q269MoneyCumsum _),
    "q270_bpe_dict_distributed" -> (q270BpeDictDistributed _),
    "q271_gpt2_corpus" -> (q271Gpt2Corpus _),
    "q272_rank_family" -> (q272RankFamily _),
    "q273_signed_balance" -> (q273SignedBalance _),
    "q274_ntile" -> (q274Ntile _)
  )

  val oracles: Map[String, String] = Map(
    "q269_money_cumsum" -> q269Sql,
    "q270_bpe_dict_distributed" -> Queries36.q265Sql,
    "q271_gpt2_corpus" -> q271Sql,
    "q272_rank_family" -> q272Sql,
    "q273_signed_balance" -> q273Sql,
    "q274_ntile" -> q274Sql
  )
}
