package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.frame.{TFrame, TGrouped}
import graft.functions.Functional
import graft.operators.{Dedup, Sampling, TextAnalysis}

/** Round-6 queries: oracled gate entries for the TFrame surface that
  * was previously ScalaTest-only — rename/reorder/append, construction
  * with dtype inference, is_unique / is_monotonic, the Presto-style
  * name dispatch, describe(include/exclude), grouped[col],
  * functional.rand, and grouped iteration. Naming/oracle/float
  * conventions as in [[Queries]].
  */
object Queries5 {

  // ---- §2.1/2.2/2.6 TFrame surface sweep -------------------------------

  /** rename → reorder → append(literal row) → computed columns via the
    * generic name dispatch (functional.__getattr__ analog), a joined
    * frame CONSTRUCTED from Scala values (dtype inference path), and
    * the is_unique / is_monotonic scalar predicates as literal output
    * columns. nation is 25 rows at every SF — the driver actions behind
    * the scalar predicates are bounded, and the constructed tag frame
    * broadcasts. */
  def q72TframeSurface(s: SparkSession, dir: String): DataFrame = {
    val nat = TFrame(Tables(s, dir, "nation"))
      .rename(Map("n_name" -> "name"))
      .reorder(Seq("name", "n_nationkey", "n_regionkey"))
      .append(Seq(Row("NATION_99", 99, 4)))
    val tags = TFrame(s, Seq(
      "n_regionkey" -> Seq(0, 1, 2, 3, 4),
      "region_tag" -> Seq("T0", "T1", "T2", "T3", "T4")))
    val unique = nat.isUnique("name")
    // NATION_xx string order interleaves 19 before 2 → not monotonic
    val mono = nat.isMonotonicIncreasing("n_nationkey", Seq("name"))
    nat.df
      .join(broadcast(tags.df), "n_regionkey")
      .select($"name", $"n_nationkey", $"n_regionkey",
        Functional("lower", $"name").as("name_lower"),
        $"region_tag",
        lit(unique).as("name_unique"),
        lit(mono).as("key_mono"))
      .orderBy($"name")
  }

  val q72Sql: String =
    """WITH nat AS (
      |  SELECT n_name AS name, n_nationkey, n_regionkey FROM nation
      |  UNION ALL SELECT 'NATION_99', 99, 4
      |)
      |SELECT name, n_nationkey, n_regionkey, LOWER(name) AS name_lower,
      |  'T' || CAST(n_regionkey AS VARCHAR) AS region_tag,
      |  (SELECT COUNT(DISTINCT name) = COUNT(*) FROM nat) AS name_unique,
      |  (SELECT NOT EXISTS (SELECT 1 FROM (
      |     SELECT n_nationkey,
      |            LAG(n_nationkey) OVER (ORDER BY name) AS prev FROM nat)
      |     WHERE n_nationkey < prev)) AS key_mono
      |FROM nat ORDER BY name""".stripMargin

  // ---- §2.4 describe(include/exclude) at the gate -----------------------

  /** describe with dtype-family selection (dataframe_cpu.py:1786-1838):
    * include="numeric" minus exclude="int" leaves exactly the float
    * column s_acctbal. Only the deterministic metric rows are compared
    * (count/mean/min/max — the percentile rows are sketch-based by
    * design); mean is rounded per the float convention. */
  def q73DescribeForms(s: SparkSession, dir: String): DataFrame =
    TFrame(Tables(s, dir, "supplier"))
      .describe(include = Seq("numeric"), exclude = Seq("int"))
      .where(col("metric").isin("count", "mean", "min", "max"))
      .withCol("s_acctbal", round(col("s_acctbal"), 4))
      .sort(Seq("metric")).df

  val q73Sql: String =
    """SELECT * FROM (
      |  SELECT 'count' AS metric,
      |         ROUND(CAST(COUNT(s_acctbal) AS DOUBLE), 4) AS s_acctbal
      |  FROM supplier
      |  UNION ALL SELECT 'mean', ROUND(AVG(s_acctbal), 4) FROM supplier
      |  UNION ALL SELECT 'min', ROUND(MIN(s_acctbal), 4) FROM supplier
      |  UNION ALL SELECT 'max', ROUND(MAX(s_acctbal), 4) FROM supplier
      |) ORDER BY metric""".stripMargin

  // ---- §2.4 grouped[col] + functional.rand -------------------------------

  /** grouped[col] (per-group value lists, dataframe_cpu.py:2304-2321)
    * scalarized via sorted join for the hash compare, cross-joined with
    * a one-row functional.rand range proof: rand() values are fresh per
    * run (like the reference), so the oracle checks the [0,1) contract
    * and row count, not values. */
  def q74GroupedColRand(s: SparkSession, dir: String): DataFrame = {
    val byRegion =
      TGrouped(Tables(s, dir, "nation"), Seq("n_regionkey"))("n_name")
    val randProof = Tables(s, dir, "supplier")
      .select(Functional.randCol().as("r"))
      .agg(count(lit(1)).as("n_sup"),
        (min($"r") >= 0.0 && max($"r") < 1.0).as("rand_ok"))
    byRegion.df
      .select($"n_regionkey",
        array_join(sort_array($"n_name"), ",").as("names"))
      .crossJoin(randProof)
      .orderBy($"n_regionkey")
  }

  val q74Sql: String =
    """SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS names,
      |  (SELECT COUNT(*) FROM supplier) AS n_sup, TRUE AS rand_ok
      |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin

  // ---- §2.4 grouped iteration at the gate --------------------------------

  /** `for (key, subframe) <- grouped` (dataframe_cpu.py:2227-2245):
    * iterate region groups of nation (bounded: 5 keys), aggregate each
    * LAZY subframe independently, and reassemble the per-group results
    * into one frame. Driver-side by nature, like the reference's
    * grouped iteration; each subframe aggregate is its own pushed-down
    * Spark job. */
  def q75IterGroups(s: SparkSession, dir: String): DataFrame = {
    val groups = TFrame(Tables(s, dir, "nation"))
      .groupby("n_regionkey").iterGroups(maxGroups = 16)
    val rows = groups.map { case (kr, sub) =>
      val agg = sub.df.agg(count(lit(1)).as("n_nations"),
        min(col("n_name")).as("min_name")).head()
      Row(kr.getInt(0), agg.getLong(0), agg.getString(1))
    }
    val schema = StructType(Seq(
      StructField("n_regionkey", IntegerType),
      StructField("n_nations", LongType),
      StructField("min_name", StringType)))
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .orderBy($"n_regionkey")
  }

  val q75Sql: String =
    """SELECT n_regionkey, COUNT(*) AS n_nations, MIN(n_name) AS min_name
      |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin

  // ---- §2.1 collect / to_pylist at the gate ---------------------------

  /** The driver-side export path (reference collect/to_pylist,
    * icolumn.py:1104-1125): aggregate customer per market segment,
    * export the bounded result through TFrame.toPylist (name → value
    * maps via the capped collectRows), rebuild a DataFrame from the
    * exported maps, and emit THAT — a green oracle row proves the
    * export round-trips names, values, nulls and types exactly. The
    * collected payload is the 5-row aggregate, never base-table rows. */
  def q76CollectExport(s: SparkSession, dir: String): DataFrame = {
    val agg = TFrame(Tables(s, dir, "customer")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum($"c_acctbal".cast(DecimalType(25, 2))).cast(DoubleType)
          .as("bal_sum")))
    val exported = agg.toPylist(maxRows = 100)
    val rows = exported.map(m =>
      Row(m("c_mktsegment"), m("n"), m("bal_sum")))
    val schema = StructType(Seq(
      StructField("c_mktsegment", StringType),
      StructField("n", LongType),
      StructField("bal_sum", DoubleType)))
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .orderBy($"c_mktsegment")
  }

  val q76Sql: String =
    """SELECT c_mktsegment, COUNT(*) AS n,
      |CAST(SUM(CAST(c_acctbal AS DECIMAL(25,2))) AS DOUBLE) AS bal_sum
      |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ---- LLM-pipeline: winnowing fingerprints at the gate -----------------

  /** Winnowing (rolling-hash) document fingerprints — Schleimer,
    * Wilkerson & Aiken, SIGMOD'03 — self-checking in the q61/q36
    * pinned-fixture discipline. The literal fixture asserts the paper's
    * guarantees at run time, raise_error on violation: (1) two docs
    * sharing a run of >= w + k - 1 bytes share at least one
    * fingerprint; (2) disjoint-alphabet docs share none (deterministic
    * on this fixture); (3) selection density: at least one fingerprint
    * per w windows, never more than one per k-gram. Output is the
    * per-document fingerprint-set profile over `documents` — at scale a
    * fingerprint-join dedup shuffles this bounded set (expected density
    * 2/(w+1) per k-gram), never the text. */
  def q77Winnow(s: SparkSession, dir: String): DataFrame = {
    val k = 8; val w = 16
    // strictly distinct ascending tokens: every byte k-gram spans a
    // token boundary and is unique, so the density lower bound on
    // selected POSITIONS transfers to distinct VALUES
    val base = (0 until 60).map(i => s"tok${i}x").mkString(" ")
    // shares the long base prefix (>> w+k-1 bytes), then diverges
    val near = base.substring(0, base.length - 25) + "@@divergent tail body"
    // disjoint byte alphabet: no k-gram can be shared with `base`
    val other = (0 until 60).map(i => s"QQ${i * 5 % 29}!").mkString("_")
    def wf(text: String) = Functional.winnow(lit(text), k, w)
    val mBase = base.getBytes("UTF-8").length - (k - 1) // k-gram count
    val minSel = (mBase - w + 1 + w - 1) / w // >= 1 pick per w windows
    val stats = s.range(1).select(
      size(array_intersect(wf(base), wf(near))).as("shared_bn"),
      size(array_intersect(wf(base), wf(other))).as("shared_bo"),
      size(wf(base)).as("n_base"))
    val ok = when($"shared_bn" >= 1 && $"shared_bo" === 0 &&
        $"n_base".between(minSel, mBase), lit(true))
      .otherwise(raise_error(concat(
        lit("q77: winnowing self-check failed (shared_bn="),
        $"shared_bn".cast(StringType),
        lit(" shared_bo="), $"shared_bo".cast(StringType),
        lit(" n_base="), $"n_base".cast(StringType),
        lit(s" bounds=[$minSel,$mBase])"))))
    val check = stats.select(ok.as("winnow_ok"))
    Tables(s, dir, "documents")
      .select($"doc_id", Functional.winnow($"text", k, w).as("fp"))
      .select($"doc_id", size($"fp").as("n_fp"),
        // the set is sorted -> element 1 is the (signed) min fingerprint
        coalesce(element_at($"fp", 1), lit(0L)).as("fp_min"))
      .crossJoin(broadcast(check))
      .orderBy($"doc_id")
  }

  // ---- LLM-pipeline: repetition signals (Gopher) -----------------------

  /** Gopher repetition signals (Rae et al. 2021, Table A1 family) at
    * the gate. Self-checking in the q61/q36 pinned-fixture discipline:
    * three hand-computed documents exercise every signal family —
    * duplicated lines, blank-line-separated duplicate paragraphs, a
    * dominant 2-gram, and an 11-word text whose repeated 5-gram covers
    * 10/11 word bytes (with its 2/3/4-gram shadows) — plus the empty
    * document (all-zero) edge. raise_error unless every one of the
    * 4×13 kernel slots matches its hand-derived value within 1e-12.
    * Output: per-document signals + the Gopher threshold verdict over
    * `documents` — a single fused kernel scan, no shuffle, the
    * 100 TB-relevant shape (signals are computed where the text lives;
    * only doc_id + 13 doubles ever leave the scan). */
  def q79Repetition(s: SparkSession, dir: String): DataFrame = {
    val third = 1.0 / 3
    // slots: dupLine, dupLineChar, dupPara, dupParaChar, top2, top3,
    // top4, dup5..dup10 — see Kernels.repetitionSignals
    val fixture: Seq[(String, Seq[Double])] = Seq(
      // lines "x y","x y","z w": 1 of 3 repeats, 3 of 9 bytes; one
      // paragraph; words x y x y z w: top 2-gram "x y" ×2 → 4/6
      ("x y\nx y\nz w",
        Seq(third, third, 0, 0, 4.0 / 6, 0, 0, 0, 0, 0, 0, 0, 0)),
      // same shape through the paragraph splitter ("\n\n"); the line
      // splitter sees the same 3 non-empty lines
      ("p q\n\np q\n\nr s",
        Seq(third, third, third, third, 4.0 / 6, 0, 0, 0, 0, 0, 0, 0, 0)),
      // 11 unit-length words; "a b c d e" repeats at 0 and 5: top2
      // (any of ab/bc/cd/de ×2) → 4/11, top3 → 6/11, top4 → 8/11,
      // dup5 covers word positions 0-9 → 10/11; no 6..10-gram repeats
      ("a b c d e a b c d e f",
        Seq(0, 0, 0, 0, 4.0 / 11, 6.0 / 11, 8.0 / 11, 10.0 / 11,
          0, 0, 0, 0, 0)),
      ("", Seq.fill(13)(0.0)))
    val bad = s.createDataFrame(fixture).toDF("ftext", "expected")
      .select(Functional.repetitionSignals($"ftext").as("got"), $"expected")
      .select(aggregate(
        zip_with($"got", $"expected",
          (g, e) => when(abs(g - e) > 1e-12, 1).otherwise(0)),
        lit(0), (acc, x) => acc + x).as("nbad"))
      .agg(sum($"nbad").as("nbad"))
    val ok = bad.select(when($"nbad" === 0, lit(true))
      .otherwise(raise_error(concat(
        lit("q79: repetition fixture mismatch ("),
        $"nbad".cast(StringType), lit(" slots)")))).as("rep_ok"))
    Tables(s, dir, "documents")
      .select($"doc_id", TextAnalysis.repetitionSignals($"text").as("r"),
        TextAnalysis.gopherRepetitionOk($"text").as("gopher_ok"))
      .select($"doc_id",
        round($"r.dup_line_frac", 4).as("dup_line_frac"),
        round($"r.top_2gram_char_frac", 4).as("top_2gram_char_frac"),
        round($"r.dup_5gram_char_frac", 4).as("dup_5gram_char_frac"),
        round($"r.dup_10gram_char_frac", 4).as("dup_10gram_char_frac"),
        $"gopher_ok")
      .crossJoin(broadcast(ok))
      // (b) one narrow row per document from repetitionSignals
      .orderByInOnePartition($"doc_id")
  }

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

  // ---- end-to-end training-data pipeline -------------------------------

  private val q84Weights = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)

  /** End-to-end pipeline gate, the shape a real corpus run takes
    * (reference analog: test/integration/test_criteo.py, a
    * scan→transform→split flow): scan documents → quality filter
    * (the q30/q32-oracled token-count and alpha-ratio kernels) → exact
    * dedup keep-first (q33's operator) → deterministic train/val/test
    * split (q83's operator, seed 99) → per-split doc counts, token
    * sums, and id checksums. Every stage is SQL-expressible, so the
    * WHOLE pipeline is oracled — this catches cross-operator interface
    * drift (filter-then-dedup ordering, dedup keep-first tie-breaks
    * feeding the split hash) that per-operator gates cannot. */
  def q84Pipeline(s: SparkSession, dir: String): DataFrame = {
    val scored = Tables(s, dir, "documents")
      .select($"doc_id", $"text",
        TextAnalysis.tokenCount($"text").cast(LongType).as("n_tokens"),
        Functional.asciiAlphaRatio($"text").as("alpha_ratio"))
    val kept = scored.where($"alpha_ratio" >= 0.5 && $"n_tokens" >= 5)
    val deduped = Dedup.exact(kept, "text", "doc_id")
    deduped
      .select($"doc_id", $"n_tokens",
        Sampling.splitLabel($"doc_id", q84Weights, 99L).as("split"))
      .groupBy($"split")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("token_sum"),
        sum($"doc_id").as("id_sum"))
      .orderBy($"split")
  }

  // thresholds: floor(0.9*8192)=7372, floor(0.95*8192)=7782. Dedup via
  // PARTITION BY text (Dedup.exact's fingerprint64 is collision-free at
  // this cardinality and keeps min id — same keep-first row).
  val q84Sql: String =
    s"""WITH scored AS (
       |  SELECT doc_id, text,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
       |      AS n_tokens,
       |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
       |      AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE)
       |      AS alpha_ratio
       |  FROM documents),
       |kept AS (
       |  SELECT * FROM scored WHERE alpha_ratio >= 0.5 AND n_tokens >= 5),
       |dedup AS (
       |  SELECT doc_id, n_tokens FROM (
       |    SELECT doc_id, n_tokens, ROW_NUMBER() OVER (
       |      PARTITION BY text ORDER BY doc_id) AS rn FROM kept)
       |  WHERE rn = 1),
       |${bucketCtes("pp", 99L, "dedup", "doc_id")}
       |SELECT CASE WHEN b.bucket < 7372 THEN 'train'
       |            WHEN b.bucket < 7782 THEN 'val' ELSE 'test' END AS split,
       |  COUNT(*) AS n_docs, CAST(SUM(d.n_tokens) AS BIGINT) AS token_sum,
       |  CAST(SUM(d.doc_id) AS BIGINT) AS id_sum
       |FROM dedup d JOIN ppb b ON d.doc_id = b.k
       |GROUP BY 1 ORDER BY split""".stripMargin

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q72_tframe_surface" -> (q72TframeSurface _),
    "q73_describe_forms" -> (q73DescribeForms _),
    "q74_grouped_col_rand" -> (q74GroupedColRand _),
    "q75_iter_groups" -> (q75IterGroups _),
    "q76_collect_export" -> (q76CollectExport _),
    "q77_winnow" -> (q77Winnow _),
    "q79_repetition" -> (q79Repetition _),
    "q83_sample" -> (q83Sample _),
    "q84_pipeline" -> (q84Pipeline _)
  )

  val oracles: Map[String, String] = Map(
    "q72_tframe_surface" -> q72Sql,
    "q73_describe_forms" -> q73Sql,
    "q74_grouped_col_rand" -> q74Sql,
    "q75_iter_groups" -> q75Sql,
    "q76_collect_export" -> q76Sql,
    "q83_sample" -> q83Sql,
    "q84_pipeline" -> q84Sql
  )
}
