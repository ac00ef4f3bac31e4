package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.frame.TFrame
import graft.frame.namespaces._
import graft.functions.{Bpe, BpeEncoder, Functional}

/** Round-3 queries: oracled gate entries for the operator families that
  * were previously ScalaTest-only — the compute_score kernels, the
  * reference's arithmetic semantics (§2.9), deterministic mode, flatmap,
  * grouped.select, add_tokens/fixed-size, set ops, partitioned
  * cumulatives, isin dict/frame forms, the sequential reduce, and BPE.
  * Naming/oracle/float conventions as in [[Queries]].
  */
object Queries4 {

  // ---- §2.14 compute_score family, fully oracled -----------------------

  /** Every compute_score kernel (reference functional.py:366-564,
    * rec/compute_score.h) over per-order multisets of ids/scores vs a
    * literal match multiset. Float32 safety: ids counts and score sums
    * are small integers / multiples of 0.25, so every f32 accumulation
    * in the kernels is EXACT and order-independent; the oracle restates
    * each kernel from row-level counts and reproduces the final f32
    * rounding with CAST(... AS REAL) at each non-exact step (division,
    * sqrt), making the compare bit-exact with no tolerance. */
  def q37ComputeScores(s: SparkSession, dir: String): DataFrame = {
    // match multiset: ids [1,2,2,5], scores [0.5, 1.0, 2.0, 0.25]
    //   count map {1:1, 2:2, 5:1}; score-sum map {1:0.5, 2:3.0, 5:0.25}
    //   min map {1:0.5, 2:1.0, 5:0.25}; max map {1:0.5, 2:2.0, 5:0.25}
    val matchIds = array(Seq(1L, 2L, 2L, 5L).map(lit): _*)
    val matchScores = array(Seq(0.5f, 1.0f, 2.0f, 0.25f).map(lit): _*)
    Tables(s, dir, "lineitem")
      .where($"l_orderkey" < 2000)
      .select($"l_orderkey",
        ($"l_partkey" % 8).cast(LongType).as("id"),
        $"l_linenumber".cast(FloatType).as("score"))
      .groupBy($"l_orderkey")
      // the two collect_lists consume rows in the same order, so
      // ids(i)/scores(i) stay pairwise aligned
      .agg(collect_list($"id").as("ids"),
        collect_list($"score").as("scores"))
      .select($"l_orderkey",
        Functional.hasIdOverlap($"ids", matchIds).cast(DoubleType)
          .as("has_ov"),
        Functional.idOverlapCount($"ids", matchIds).cast(DoubleType)
          .as("ov_cnt"),
        Functional.getMaxCount($"ids", matchIds).cast(DoubleType)
          .as("max_cnt"),
        Functional.getJaccardSimilarity($"ids", matchIds).cast(DoubleType)
          .as("jac"),
        Functional.getCosineSimilarity($"ids", $"scores", matchIds,
          matchScores).cast(DoubleType).as("cos"),
        Functional.getScoreSum($"ids", $"scores", matchIds, matchScores)
          .cast(DoubleType).as("s_sum"),
        Functional.getScoreMin($"ids", matchIds, matchScores)
          .cast(DoubleType).as("s_min"),
        Functional.getScoreMax($"ids", matchIds, matchScores)
          .cast(DoubleType).as("s_max"))
      .orderBy($"l_orderkey")
  }

  val q37Sql: String =
    """WITH g AS (
      |  SELECT l_orderkey,
      |    CAST(COUNT(*) AS DOUBLE) AS n,
      |    COUNT(*) FILTER (WHERE l_partkey % 8 = 1) AS c1,
      |    COUNT(*) FILTER (WHERE l_partkey % 8 = 2) AS c2,
      |    COUNT(*) FILTER (WHERE l_partkey % 8 = 5) AS c5,
      |    CAST(COALESCE(SUM(l_linenumber) FILTER (WHERE l_partkey % 8 = 0), 0) AS DOUBLE) AS s0,
      |    CAST(COALESCE(SUM(l_linenumber) FILTER (WHERE l_partkey % 8 = 1), 0) AS DOUBLE) AS s1,
      |    CAST(COALESCE(SUM(l_linenumber) FILTER (WHERE l_partkey % 8 = 2), 0) AS DOUBLE) AS s2,
      |    CAST(COALESCE(SUM(l_linenumber) FILTER (WHERE l_partkey % 8 = 3), 0) AS DOUBLE) AS s3,
      |    CAST(COALESCE(SUM(l_linenumber) FILTER (WHERE l_partkey % 8 = 4), 0) AS DOUBLE) AS s4,
      |    CAST(COALESCE(SUM(l_linenumber) FILTER (WHERE l_partkey % 8 = 5), 0) AS DOUBLE) AS s5,
      |    CAST(COALESCE(SUM(l_linenumber) FILTER (WHERE l_partkey % 8 = 6), 0) AS DOUBLE) AS s6,
      |    CAST(COALESCE(SUM(l_linenumber) FILTER (WHERE l_partkey % 8 = 7), 0) AS DOUBLE) AS s7
      |  FROM lineitem WHERE l_orderkey < 2000 GROUP BY l_orderkey)
      |SELECT l_orderkey,
      |  CASE WHEN c1 + c2 + c5 > 0 THEN 1.0 ELSE 0.0 END AS has_ov,
      |  CAST(LEAST(c1,1) + LEAST(c2,2) + LEAST(c5,1) AS DOUBLE) AS ov_cnt,
      |  CAST(CASE WHEN c1 > 0 THEN GREATEST(c1,1) ELSE 0 END
      |     + CASE WHEN c2 > 0 THEN GREATEST(c2,2) ELSE 0 END
      |     + CASE WHEN c5 > 0 THEN GREATEST(c5,1) ELSE 0 END AS DOUBLE) AS max_cnt,
      |  CAST(CAST(CAST(LEAST(c1,1)+LEAST(c2,2)+LEAST(c5,1) AS REAL)
      |    / CAST(n + 4 - (LEAST(c1,1)+LEAST(c2,2)+LEAST(c5,1)) AS REAL) AS REAL) AS DOUBLE) AS jac,
      |  CAST(CAST(CAST(CAST(s1*0.5 + s2*3.0 + s5*0.25 AS REAL)
      |    / CAST(sqrt(s0*s0+s1*s1+s2*s2+s3*s3+s4*s4+s5*s5+s6*s6+s7*s7) AS REAL) AS REAL)
      |    / CAST(sqrt(9.3125) AS REAL) AS REAL) AS DOUBLE) AS cos,
      |  CAST(CAST(CASE WHEN c1 > 0 THEN 0.5 ELSE 0 END
      |     + CASE WHEN c2 > 0 THEN 3.0 ELSE 0 END
      |     + CASE WHEN c5 > 0 THEN 0.25 ELSE 0 END AS REAL) AS DOUBLE) AS s_sum,
      |  CAST(CASE WHEN c1 + c2 + c5 > 0 THEN LEAST(
      |      CASE WHEN c1 > 0 THEN 0.5 ELSE 1e30 END,
      |      CASE WHEN c2 > 0 THEN 1.0 ELSE 1e30 END,
      |      CASE WHEN c5 > 0 THEN 0.25 ELSE 1e30 END) ELSE 0.0 END AS DOUBLE) AS s_min,
      |  CAST(CASE WHEN c1 + c2 + c5 > 0 THEN GREATEST(
      |      CASE WHEN c1 > 0 THEN 0.5 ELSE -1e30 END,
      |      CASE WHEN c2 > 0 THEN 2.0 ELSE -1e30 END,
      |      CASE WHEN c5 > 0 THEN 0.25 ELSE -1e30 END) ELSE 0.0 END AS DOUBLE) AS s_max
      |FROM g ORDER BY l_orderkey""".stripMargin

  // ---- §2.9 arithmetic semantics, fully oracled ------------------------

  /** The reference's arithmetic where it differs from Spark defaults:
    * truediv ÷0 → ±inf (numerical_column_cpu.py:387-401), floordiv
    * toward −∞ (numeric_functions.h:28-101), Python-sign floormod,
    * int**int stays int (numeric_functions.h:103-138), rint-half-even
    * round (numeric_functions.h:139-160 — DuckDB round_even verified
    * bit-identical on 200k samples), unary neg/abs/invert/ceil/floor,
    * natural log and sigmoid (round(4) absorbs last-ulp libm noise),
    * and if_else with null-condition → null (icolumn.py:100-119).
    * The one excluded case is 0.0/0.0 → NaN (reference semantics are
    * implemented and spec-tested; NaN is not portable through the
    * driver's hash compare). */
  def q38ArithSemantics(s: SparkSession, dir: String): DataFrame = {
    val a = $"l_quantity" - 25.0
    val b = ($"l_linenumber" - 3).cast(DoubleType)
    val p = $"l_partkey" - 100L
    Tables(s, dir, "lineitem")
      .where(!($"l_quantity" === 25.0 && $"l_linenumber" === 3))
      .select($"l_orderkey", $"l_linenumber",
        a.arith.truediv(b).as("td"),
        a.arith.floordiv(b).as("fd"),
        p.arith.floordivInt($"l_linenumber".cast(LongType)).as("fdi"),
        p.arith.floormod(lit(7L)).as("fm"),
        $"l_linenumber".arith.powInt(lit(3)).as("pw"),
        ($"l_extendedprice" / 7.0).arith.round(2).as("rr"),
        abs(a).as("av"),
        (-a).as("ng"),
        bitwise_not($"l_linenumber").as("bn"),
        ceil(a / 7.0).as("cl"),
        floor(a / 7.0).as("fl"),
        round($"l_quantity".arith.logNat, 4).as("lg"),
        round((a / 10.0).arith.sigmoid, 4).as("sg"),
        Functional.ifElse(
          when($"l_linenumber" === 1, lit(null).cast(BooleanType))
            .otherwise($"l_quantity" > 25.0),
          lit("hi"), lit("lo")).as("ie"))
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  val q38Sql: String =
    """SELECT l_orderkey, l_linenumber,
      |  CASE WHEN ln3 = 0 THEN (CASE WHEN q25 > 0 THEN CAST('inf' AS DOUBLE)
      |    ELSE CAST('-inf' AS DOUBLE) END) ELSE q25 / ln3 END AS td,
      |  CASE WHEN ln3 = 0 THEN (CASE WHEN q25 > 0 THEN CAST('inf' AS DOUBLE)
      |    ELSE CAST('-inf' AS DOUBLE) END) ELSE floor(q25 / ln3) END AS fd,
      |  CAST(floor(CAST(p100 AS DOUBLE) / CAST(l_linenumber AS DOUBLE))
      |    AS BIGINT) AS fdi,
      |  ((p100 % 7) + 7) % 7 AS fm,
      |  CAST(pow(l_linenumber, 3) AS BIGINT) AS pw,
      |  round_even(l_extendedprice / 7.0, 2) AS rr,
      |  abs(q25) AS av, -q25 AS ng,
      |  CAST(-l_linenumber - 1 AS INT) AS bn,
      |  CAST(ceil(q25 / 7.0) AS BIGINT) AS cl,
      |  CAST(floor(q25 / 7.0) AS BIGINT) AS fl,
      |  round(ln(l_quantity), 4) AS lg,
      |  round(1.0 / (1.0 + exp(-(q25 / 10.0))), 4) AS sg,
      |  CASE WHEN l_linenumber = 1 THEN NULL
      |    WHEN l_quantity > 25.0 THEN 'hi' ELSE 'lo' END AS ie
      |FROM (SELECT *, l_quantity - 25.0 AS q25,
      |        CAST(l_linenumber - 3 AS DOUBLE) AS ln3,
      |        l_partkey - 100 AS p100 FROM lineitem
      |      WHERE NOT (l_quantity = 25.0 AND l_linenumber = 3))
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---- §2.4 deterministic grouped mode ---------------------------------

  /** Grouped mode with a deterministic tie-break (smallest most-frequent
    * value — inumerical_column.py:417-429 semantics made total-order
    * safe): the two-level aggregate in TGrouped.modeDet shuffles counts,
    * never rows, and the same definition is restated in the oracle. */
  def q39Mode(s: SparkSession, dir: String): DataFrame =
    TFrame(Tables(s, dir, "lineitem").select($"l_returnflag", $"l_quantity"))
      .groupby("l_returnflag")
      .modeDet("l_quantity")
      .pipe(f => TFrame(f.df.select($"l_returnflag",
        f.df("`l_quantity.mode`").as("qty_mode"))))
      .sort(Seq("l_returnflag"))
      .df

  val q39Sql: String =
    """SELECT l_returnflag, qty_mode FROM (
      |  SELECT l_returnflag, l_quantity AS qty_mode,
      |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
      |      ORDER BY COUNT(*) DESC, l_quantity ASC) AS rn
      |  FROM lineitem GROUP BY l_returnflag, l_quantity)
      |WHERE rn = 1 ORDER BY l_returnflag""".stripMargin

  // ---- §2.13 flatmap at the gate ---------------------------------------

  /** flatmapRows (icolumn.py:646-675): each document explodes into one
    * row per leading token (up to 3); oracle restates via UNION ALL. */
  def q45Flatmap(s: SparkSession, dir: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("pos", IntegerType, nullable = false),
      StructField("tok", StringType, nullable = false)))
    TFrame(Tables(s, dir, "documents").select($"doc_id", $"text"))
      .flatmapRows(schema, Seq("doc_id", "text")) { case Seq(id, text) =>
        text.asInstanceOf[String].trim.split("\\s+").take(3).toSeq
          .zipWithIndex.map { case (tk, i) =>
            Seq[Any](id.asInstanceOf[Long], i + 1, tk)
          }
      }
      .sort(Seq("doc_id", "pos"))
      .df
  }

  val q45Sql: String =
    """WITH d AS (SELECT doc_id,
      |  string_split_regex(trim(text), '\s+') AS toks FROM documents)
      |SELECT doc_id, pos, tok FROM (
      |  SELECT doc_id, 1 AS pos, toks[1] AS tok FROM d WHERE len(toks) >= 1
      |  UNION ALL
      |  SELECT doc_id, 2, toks[2] FROM d WHERE len(toks) >= 2
      |  UNION ALL
      |  SELECT doc_id, 3, toks[3] FROM d WHERE len(toks) >= 3)
      |ORDER BY doc_id, pos""".stripMargin

  // ---- §2.4 grouped.select (computed aggregation exprs) ----------------

  def q46GroupedSelect(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
    TFrame(li)
      .groupby("l_returnflag")
      .select(
        "rev" -> dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")),
        "avg_disc" -> round(avg($"l_discount"), 6),
        "n" -> count(lit(1)))
      .sort(Seq("l_returnflag"))
      .df
  }

  val q46Sql: String =
    """SELECT l_returnflag,
      |CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |  AS DECIMAL(25,4))) AS DOUBLE) AS rev,
      |ROUND(AVG(l_discount), 6) AS avg_disc, COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

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

  // ---- §2.7 set ops: intersect / except --------------------------------

  def q48SetOps(s: SparkSession, dir: String): DataFrame = {
    val bld = TFrame(Tables(s, dir, "customer")
      .where($"c_mktsegment" === "BUILDING")
      .select($"c_custkey".as("k")))
    val ordered = TFrame(Tables(s, dir, "orders").select($"o_custkey".as("k")))
    bld.intersect(ordered).withCol("op", lit("with_orders"))
      .concat(bld.except(ordered).withCol("op", lit("no_orders")))
      .sort(Seq("op", "k"))
      .df
  }

  val q48Sql: String =
    """SELECT k, op FROM (
      |  SELECT k, 'with_orders' AS op FROM (
      |    SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
      |    INTERSECT SELECT o_custkey FROM orders)
      |  UNION ALL
      |  SELECT k, 'no_orders' FROM (
      |    SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
      |    EXCEPT SELECT o_custkey FROM orders))
      |ORDER BY op, k""".stripMargin

  // ---- §2.4 partitioned cumulative min/max/prod ------------------------

  /** cummin/cummax/cumprod through the TFrame API with an explicit
    * partition key (`by`) — the scale-safe form: one shuffle on the
    * key, no global window. cumprod uses Catalyst's exact Product
    * aggregate; values ≤ 7! per group keep doubles exact. */
  def q53Cumulatives(s: SparkSession, dir: String): DataFrame =
    // pre-aggregate to one row per (order, linenumber): the synthetic
    // lineitem has duplicate keys, and a running computation needs a
    // TOTAL order to be engine-deterministic
    TFrame(Tables(s, dir, "lineitem")
      .groupBy($"l_orderkey", $"l_linenumber")
      .agg(min($"l_quantity").as("l_quantity"))
      .select($"l_orderkey", $"l_linenumber", $"l_quantity",
        $"l_linenumber".cast(DoubleType).as("ln_d")))
      .cummin(Seq("l_quantity"), order = Seq("l_linenumber"),
        by = Seq("l_orderkey"))
      .cummax(Seq("l_quantity"), order = Seq("l_linenumber"),
        by = Seq("l_orderkey"))
      .cumprod(Seq("ln_d"), order = Seq("l_linenumber"),
        by = Seq("l_orderkey"))
      .pipe(f => TFrame(f.df.select($"l_orderkey", $"l_linenumber",
        f.df("`l_quantity.cummin`").as("cmin"),
        f.df("`l_quantity.cummax`").as("cmax"),
        f.df("`ln_d.cumprod`").as("cprod"))))
      .sort(Seq("l_orderkey", "l_linenumber"))
      .df

  val q53Sql: String =
    """SELECT l_orderkey, l_linenumber,
      |  MIN(l_quantity) OVER w AS cmin,
      |  MAX(l_quantity) OVER w AS cmax,
      |  product(CAST(l_linenumber AS DOUBLE)) OVER w AS cprod
      |FROM (SELECT l_orderkey, l_linenumber, MIN(l_quantity) AS l_quantity
      |      FROM lineitem GROUP BY 1, 2)
      |WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---- §2.7 isin dict / frame forms ------------------------------------

  /** DataFrame.isin dict and frame forms (dataframe_cpu.py:1496-1531):
    * per-column membership flags, aggregated to counts. The frame form
    * is the distributed-safe set-membership reading (broadcast semi
    * join per shared column). */
  def q54IsinForms(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
    val dictFlags = TFrame(o.select($"o_orderstatus", $"o_orderpriority"))
      .isinDict(Map(
        "o_orderstatus" -> Seq("F"),
        "o_orderpriority" -> Seq("1-URGENT", "2-HIGH")))
    val frameFlags = TFrame(o.select($"o_custkey".as("c_custkey")))
      .isinFrame(TFrame(Tables(s, dir, "customer")
        .where($"c_mktsegment" === "BUILDING").select($"c_custkey")))
    val d = dictFlags.df.agg(
      sum($"o_orderstatus".cast(LongType)).as("n_status"),
      sum($"o_orderpriority".cast(LongType)).as("n_prio"))
    val f = frameFlags.df.agg(
      sum($"c_custkey".cast(LongType)).as("n_cust"))
    d.crossJoin(f)
  }

  val q54Sql: String =
    """SELECT
      |CAST(COUNT(*) FILTER (WHERE o_orderstatus IN ('F')) AS BIGINT)
      |  AS n_status,
      |CAST(COUNT(*) FILTER (WHERE o_orderpriority IN ('1-URGENT','2-HIGH'))
      |  AS BIGINT) AS n_prio,
      |CAST(COUNT(*) FILTER (WHERE o_custkey IN (
      |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'))
      |  AS BIGINT) AS n_cust
      |FROM orders""".stripMargin

  // ---- §2.13 reduce (ordered sequential fold) --------------------------

  /** reduceCol — the reference's non-parallel fold (icolumn.py:729-770),
    * run over a 3-row aggregate: a numeric fold (sum) and an
    * order-sensitive fold (string concat in key order) prove the
    * sequential left-fold contract. */
  def q55Reduce(s: SparkSession, dir: String): DataFrame = {
    val counts = TFrame(Tables(s, dir, "lineitem")
      .groupBy($"l_returnflag").agg(count(lit(1)).as("n")))
    val total = counts.reduceCol[Long]("n", Seq("l_returnflag"))(0L)(
      (acc, v) => acc + v.asInstanceOf[Long])
    val flags = counts.reduceCol[String]("l_returnflag",
      Seq("l_returnflag"))("")((acc, v) =>
      if (acc.isEmpty) v.toString else acc + "|" + v)
    s.createDataFrame(
      java.util.Arrays.asList(Row(total, flags)),
      StructType(Seq(StructField("total", LongType, nullable = false),
        StructField("flags", StringType, nullable = false))))
  }

  val q55Sql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS total,
      |(SELECT string_agg(f, '|' ORDER BY f) FROM
      |  (SELECT DISTINCT l_returnflag AS f FROM lineitem)) AS flags
      |FROM lineitem""".stripMargin

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

  // ---- §2.1 Arrow interop at the gate ----------------------------------

  /** to_arrow / from_arrow as a first-class source/sink (reference
    * interop.py:17-34): aggregate orders, serialize the result through
    * Arrow IPC record batches (Shim.toArrowBatches), rebuild a
    * DataFrame from the bytes (fromArrowBatches), and emit that — the
    * oracle computes the same aggregate directly, so a green row proves
    * the wire format round-trips values, nulls, and types exactly.
    * Driver-side by design, like the reference's to_arrow; the payload
    * is the bounded 3-row aggregate, never base-table rows. */
  def q71ArrowRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftshim.Shim
    val agg = Tables(s, dir, "orders")
      .groupBy($"o_orderstatus")
      .agg(
        dsum($"o_totalprice").as("sum_price"),
        count(lit(1)).as("n"))
    val roundTripped =
      Shim.fromArrowBatches(s, agg.schema, Shim.toArrowBatches(agg))
    roundTripped.orderBy($"o_orderstatus")
  }

  val q71Sql: String =
    """SELECT o_orderstatus,
      |CAST(SUM(CAST(o_totalprice AS DECIMAL(25,4))) AS DOUBLE) AS sum_price,
      |COUNT(*) AS n
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q36_bpe" -> (q36Bpe _),
    "q71_arrow_roundtrip" -> (q71ArrowRoundtrip _),
    "q37_compute_scores" -> (q37ComputeScores _),
    "q38_arith_semantics" -> (q38ArithSemantics _),
    "q39_mode" -> (q39Mode _),
    "q45_flatmap" -> (q45Flatmap _),
    "q46_grouped_select" -> (q46GroupedSelect _),
    "q47_add_tokens" -> (q47AddTokens _),
    "q48_set_ops" -> (q48SetOps _),
    "q53_cumulatives" -> (q53Cumulatives _),
    "q54_isin_forms" -> (q54IsinForms _),
    "q55_reduce" -> (q55Reduce _)
  )

  val oracles: Map[String, String] = Map(
    "q36_bpe" -> q36Sql,
    "q37_compute_scores" -> q37Sql,
    "q71_arrow_roundtrip" -> q71Sql,
    "q38_arith_semantics" -> q38Sql,
    "q39_mode" -> q39Sql,
    "q45_flatmap" -> q45Sql,
    "q46_grouped_select" -> q46Sql,
    "q47_add_tokens" -> q47Sql,
    "q48_set_ops" -> q48Sql,
    "q53_cumulatives" -> q53Sql,
    "q54_isin_forms" -> q54Sql,
    "q55_reduce" -> q55Sql
  )
}
