package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Functional
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.streaming.EventsStream

/** Phase-2 queries: sessionization, scaling ops, text analysis, dedup
  * family, similarity search, domain kernels, multimodal plumbing and
  * streaming. Naming/oracle conventions as in [[Queries]].
  */
object Queries2 {

  // ---- sessionization (window lag over event time) --------------------

  def q15Sessionize(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables(s, dir, "events")
      .withColumn("new_session",
        when($"ts" - lag($"ts", 1).over(w) > 1800000000000L, 1).otherwise(0))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        (sum($"new_session") + 1).cast(LongType).as("n_sessions"))
      .orderBy($"user_id")
  }

  val q15Sql: String =
    """SELECT user_id, COUNT(*) AS n_events,
      |CAST(1 + SUM(new_session) AS BIGINT) AS n_sessions FROM (
      |  SELECT user_id, CASE WHEN epoch_ns(ts) - LAG(epoch_ns(ts)) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id) > 1800000000000
      |    THEN 1 ELSE 0 END AS new_session
      |  FROM events)
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---- high-cardinality aggregation (shuffle-heavy scale probe) -------

  def q16HighcardAgg(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .groupBy($"l_partkey")
      .agg(count(lit(1)).as("n"),
        dsum($"l_quantity").as("qty_sum"),
        max($"l_extendedprice").as("price_max"))
      .orderBy($"l_partkey")

  val q16Sql: String =
    """SELECT l_partkey, COUNT(*) AS n,
      |CAST(SUM(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) AS qty_sum,
      |MAX(l_extendedprice) AS price_max
      |FROM lineitem GROUP BY l_partkey ORDER BY l_partkey""".stripMargin

  // ---- scale_to_0_1 (two-pass min-max, functional.py:568-579) ---------

  def q17MinmaxScale(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
    val mm = li.agg(min($"l_extendedprice").as("__mn"),
      max($"l_extendedprice").as("__mx"))
    li.crossJoin(broadcast(mm))
      .select($"l_orderkey", $"l_linenumber",
        (($"l_extendedprice" - $"__mn") / ($"__mx" - $"__mn")).as("scaled"))
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  val q17Sql: String =
    """SELECT l_orderkey, l_linenumber,
      |(l_extendedprice - (SELECT MIN(l_extendedprice) FROM lineitem)) /
      |((SELECT MAX(l_extendedprice) FROM lineitem) -
      | (SELECT MIN(l_extendedprice) FROM lineitem)) AS scaled
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---- scale_to_z_score (functional.py:582-596; biased std) -----------
  // mean/std rounded to 6 digits on BOTH sides before the per-row IEEE
  // arithmetic, so aggregate fp noise cannot leak into row values.

  def q18Zscore(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
    val st = li.agg(round(avg($"l_quantity"), 6).as("__m"),
      round(stddev_pop($"l_quantity"), 6).as("__s"))
    li.crossJoin(broadcast(st))
      .select($"l_orderkey", $"l_linenumber",
        (($"l_quantity" - $"__m") / $"__s").as("z"))
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  val q18Sql: String =
    """SELECT l_orderkey, l_linenumber,
      |(l_quantity - (SELECT ROUND(AVG(l_quantity),6) FROM lineitem)) /
      |(SELECT ROUND(STDDEV_POP(l_quantity),6) FROM lineitem) AS z
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---- text analysis --------------------------------------------------

  def q30TokenStats(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select($"doc_id",
        TextAnalysis.tokenCount($"text").cast(LongType).as("n_tokens"),
        (length(regexp_replace($"text", "\\s+", "")).cast(DoubleType) /
          TextAnalysis.tokenCount($"text").cast(DoubleType))
          .as("mean_token_len"))
      .orderBy($"doc_id")

  val q30Sql: String =
    """SELECT doc_id,
      |CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
      |CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) /
      |CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE)
      |  AS mean_token_len
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Language ID, DRIVER-HASHABLE (round 12 recorded this gate
    * `no_oracle`): the output is one row per supported stopword
    * profile (en/de/fr/es/zh) plus the no-hit case (→ "und"), each
    * classifying a fixed sentence through the real distributed
    * kernel — the driver's DuckDB compare falsifies the whole profile
    * table against a VALUES literal instead of trusting an in-gate
    * raise. The corpus scan stays as oracle-restatable invariants:
    * n_docs crosses engines, dist_ok raises in-query unless every
    * document classifies into a known profile or "und". */
  def q31LangId(s: SparkSession, dir: String): DataFrame = {
    val casesRaw = { // scoped: s.implicits' $ clashes with graft's
      import s.implicits._
      Seq(
        ("case_en", "the cat sat on the mat and it is warm"),
        ("case_de", "der hund und die katze sind nicht im haus"),
        ("case_fr", "le chat est dans la maison et il dort pour le moment"),
        ("case_es",
          "el perro es un animal que vive en la casa con una familia"),
        ("case_zh", "我 是 中 文 的 人 他 们 不 在 这 个"),
        ("case_und", "zzz qqq xxx")).toDF("case_id", "sentence")
    }
    val cases = casesRaw
      .select($"case_id", TextAnalysis.langId($"sentence").as("lang_pred"))
    val known = Seq("en", "de", "fr", "es", "zh", "und")
    val dist = Tables(s, dir, "documents")
      .select(TextAnalysis.langId($"text").as("p"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"p".isin(known: _*), 0L).otherwise(1L)).as("__bad"))
      .select($"n_docs",
        when($"__bad" === 0L, lit(true))
          .otherwise(raise_error(lit(
            "q31: langId produced a label outside the profile table")))
          .as("dist_ok"))
    cases.crossJoin(broadcast(dist))
      .select($"case_id", $"lang_pred", $"n_docs", $"dist_ok")
      .orderBy($"case_id")
  }

  val q31Sql: String =
    """SELECT case_id, lang_pred,
      |  (SELECT count(*) FROM documents) AS n_docs, true AS dist_ok
      |FROM (VALUES ('case_de','de'),('case_en','en'),('case_es','es'),
      |  ('case_fr','fr'),('case_und','und'),('case_zh','zh'))
      |  AS t(case_id, lang_pred)
      |ORDER BY case_id""".stripMargin

  /** Quality ratios as fused single-scan kernels (asciiAlphaRatio /
    * stopwordRatioEn) — numerators/denominators are the same integers
    * the regex formulation counts, so the divisions are bit-identical
    * to the DuckDB oracle's regex restatement. */
  def q32Quality(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select($"doc_id",
        Functional.asciiAlphaRatio($"text").as("alpha_ratio"),
        Functional.stopwordRatioEn($"text").as("stopword_ratio"))
      .orderBy($"doc_id")

  val q32Sql: String = {
    val en = TextAnalysis.stopwordProfiles("en")
      .map(w => s"'$w'").mkString(", ")
    s"""SELECT doc_id,
       |CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) /
       |CAST(greatest(length(text), 1) AS DOUBLE) AS alpha_ratio,
       |CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
       |  x -> x IN ($en))) AS DOUBLE) /
       |CAST(greatest(len(string_split_regex(trim(lower(text)), '\\s+')), 1)
       |  AS DOUBLE) AS stopword_ratio
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // ---- dedup family ---------------------------------------------------

  /** Exact dedup keep-first on a prefix key (synthesizes dup groups). */
  def q33ExactDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
      .withColumn("__key", substring($"text", 1, 80))
    Dedup.exact(docs, "__key", "doc_id").select($"doc_id").orderBy($"doc_id")
  }

  val q33Sql: String =
    """SELECT doc_id FROM (
      |  SELECT doc_id, ROW_NUMBER() OVER (
      |    PARTITION BY substring(text, 1, 80) ORDER BY doc_id) AS rn
      |  FROM documents) WHERE rn = 1 ORDER BY doc_id""".stripMargin

  // ---- LSH self-check machinery --------------------------------------
  //
  // The LSH family has no SQL oracle (hash-defined), so each gate query
  // proves itself: an exact kernel (the same ones q44/q50 oracle) scores
  // a bounded fixture, and the query raises unless the LSH candidate set
  // CONTAINS every pair the exact kernel rates above a high threshold
  // (containment, not equality — LSH may over-generate). Three planted
  // near-dup docs / two planted twin-vector pairs make the check
  // non-vacuous at every SF regardless of corpus content; planted ids
  // sit far above any corpus id (and sort last inside every LSH bucket,
  // so the bucket cap can never displace corpus rows) and are filtered
  // from the emitted rows. Mirrors the reference's pinned-output
  // discipline (test/transformation/test_sigrid_hash.py:48-66).

  private[graft] val plantBase = 1000000000L

  /** P0 == P1 verbatim (Jaccard 1.0, SimHash Hamming 0); P2 appends one
    * trailing token to P0 (word-3-shingle Jaccard 78/79 ≈ 0.987). */
  private def plantedDocs(s: SparkSession): DataFrame = {
    import s.implicits._
    val base = (0 until 80).map(i => s"planted$i").mkString(" ")
    Seq((plantBase, base), (plantBase + 1, base),
        (plantBase + 2, base + " plantedtail"))
      .toDF("doc_id", "text")
  }

  /** Two twin pairs of identical 64-dim vectors (cosine exactly 1.0,
    * identical hyperplane bucket by construction); cross-pair cosine is
    * far from 1 (alternating signs). */
  private[graft] def plantedVecs(s: SparkSession): DataFrame = {
    import s.implicits._
    val v1 = (0 until 64).map(i => ((i % 7) + 1) / 10.0f)
    val v2 = (0 until 64).map(i =>
      (if (i % 2 == 0) 1 else -1) * ((i % 5) + 1) / 10.0f)
    Seq((plantBase, v1), (plantBase + 1, v1),
        (plantBase + 2, v2), (plantBase + 3, v2))
      .toDF("vec_id", "embedding")
  }

  /** 1-row TRUE frame (to cross-join onto the emitted result) when
    * `exact` has at least `minExpected` pairs and every one appears in
    * `cands`; raises otherwise. Both inputs are bounded (fixture
    * all-pairs / candidate keys). */
  private[graft] def containmentCheck(exact: DataFrame, cands: DataFrame,
      what: String, minExpected: Int): DataFrame = {
    val stats = exact
      .join(cands.select($"id_a", $"id_b"), Seq("id_a", "id_b"), "left_semi")
      .agg(count(lit(1)).as("__found"))
      .crossJoin(exact.agg(count(lit(1)).as("__exact")))
    val ok = when($"__exact" >= minExpected && $"__found" === $"__exact",
        lit(true))
      .otherwise(raise_error(concat(
        lit(s"$what: exact-kernel containment self-check failed (found="),
        $"__found".cast(StringType),
        lit(" of exact="), $"__exact".cast(StringType),
        lit(s", min expected $minExpected)"))))
    stats.select(ok.as("recall_ok"))
  }

  /** Word-3-shingle sets (the exact-Jaccard unit minHashText estimates
    * — same tokenization/windowing, Kernels.shingleSet) over the
    * bounded fixture: corpus doc_id < 200 plus the planted docs. */
  private def shingleFixture(corpus: DataFrame): DataFrame =
    corpus.where($"doc_id" < 200 || $"doc_id" >= plantBase)
      .select($"doc_id", Functional.shingleSet($"text", 3).as("sh"))

  private def fixturePairs(fix: DataFrame, scoreCol: Column,
      keep: Column): DataFrame = {
    val a = fix.select($"doc_id".as("id_a"), $"sh".as("sh_a"))
    val b = fix.select($"doc_id".as("id_b"), $"sh".as("sh_b"))
    a.join(broadcast(b), $"id_a" < $"id_b")
      .select($"id_a", $"id_b", scoreCol.as("__score"))
      .where(keep)
      .select($"id_a", $"id_b")
  }

  /** MinHash-LSH near-dup candidate pairs. Self-checking: every fixture
    * pair with exact shingle Jaccard ≥ 0.80 must be an LSH candidate
    * (16 bands × 4 rows: per-pair miss odds < 1e-3 at j=0.8, and the
    * planted j≈0.99/1.0 pairs are near-certain — deterministic per
    * dataset, verified green at sf0.001/0.01/0.1). */
  def q40MinhashLsh(s: SparkSession, dir: String): DataFrame = {
    val corpus = Tables(s, dir, "documents").select($"doc_id", $"text")
      .unionByName(plantedDocs(s))
    val cand = Dedup.minHashLsh(corpus, "text", "doc_id",
      k = 64, bands = 16, shingleSize = 3, threshold = 0.30)
    val exact = fixturePairs(shingleFixture(corpus),
      Functional.jaccardSorted($"sh_a", $"sh_b"), $"__score" >= 0.80)
    cand.where($"id_a" < plantBase && $"id_b" < plantBase)
      .crossJoin(broadcast(containmentCheck(exact, cand, "q40", 3)))
      .orderBy($"id_a", $"id_b")
  }

  /** SimHash near-dup pairs. Self-checking with a pigeonhole GUARANTEE:
    * any pair at Hamming ≤ 3 differs in at most 3 of the 4 16-bit
    * chunks, so it must share a chunk bucket and surface as a candidate
    * (the planted identical pair is at distance 0). */
  def q41Simhash(s: SparkSession, dir: String): DataFrame = {
    val corpus = Tables(s, dir, "documents").select($"doc_id", $"text")
      .unionByName(plantedDocs(s))
    // maxHamming = 8 deliberately over-generates vs the <= 3 the
    // self-check guarantees: the pigeonhole argument (4 chunks) is
    // airtight only to distance 3, and the extra margin keeps recall
    // headroom for near-misses. Do NOT "optimize" the 8 down to 3 —
    // that would silently narrow the candidate set the check rides on.
    val cand = Dedup.simHash(corpus, "text", "doc_id", maxHamming = 8)
    val fix = corpus.where($"doc_id" < 200 || $"doc_id" >= plantBase)
      .select($"doc_id",
        Functional.simhash64(TextAnalysis.tokens($"text")).as("sh"))
    val exact = fixturePairs(fix,
      Functional.hamming64($"sh_a", $"sh_b").cast(DoubleType),
      $"__score" <= 3.0)
    cand.where($"id_a" < plantBase && $"id_b" < plantBase)
      .crossJoin(broadcast(containmentCheck(exact, cand, "q41", 1)))
      .orderBy($"id_a", $"id_b")
  }

  /** Exact n-gram Jaccard verification of LSH candidates.
    * Self-checking: fixture pairs at exact Jaccard ≥ 0.80 survive the
    * ≥ 0.30 verify filter by definition, so they must appear in the
    * output unless LSH (threshold 0.20) missed the candidate. */
  def q42NgramJaccard(s: SparkSession, dir: String): DataFrame = {
    val corpus = Tables(s, dir, "documents").select($"doc_id", $"text")
      .unionByName(plantedDocs(s))
    val cands = Dedup.minHashLsh(corpus, "text", "doc_id",
      k = 64, bands = 16, shingleSize = 3, threshold = 0.20)
    val verified = Dedup.ngramJaccard(
        cands.select($"id_a", $"id_b"), corpus, "text", "doc_id", n = 3)
      .where($"jaccard" >= 0.30)
    val exact = fixturePairs(shingleFixture(corpus),
      Functional.jaccardSorted($"sh_a", $"sh_b"), $"__score" >= 0.80)
    verified.where($"id_a" < plantBase && $"id_b" < plantBase)
      .select($"id_a", $"id_b", round($"jaccard", 4).as("jaccard"))
      .crossJoin(broadcast(containmentCheck(exact, verified, "q42", 3)))
      .orderBy($"id_a", $"id_b")
  }

  /** Embedding cosine near-dup pairs via hyperplane LSH.
    * Self-checking: fixture pairs at exact cosine ≥ 0.999 must be
    * candidates — the planted twins are bit-identical vectors, which
    * hash to the same bucket by construction. */
  def q43EmbedDedup(s: SparkSession, dir: String): DataFrame = {
    val corpus = Tables(s, dir, "embeddings").select($"vec_id", $"embedding")
      .unionByName(plantedVecs(s))
    val cand = Dedup.embeddingCosine(corpus, "embedding", "vec_id",
      threshold = 0.30, bits = 8)
    val fix = corpus.where($"vec_id" < 200 || $"vec_id" >= plantBase)
      .select($"vec_id".as("doc_id"), $"embedding".as("sh"))
    val exact = fixturePairs(fix,
      Functional.cosineSim($"sh_a", $"sh_b"), $"__score" >= 0.999)
    cand.where($"id_a" < plantBase && $"id_b" < plantBase)
      .select($"id_a", $"id_b", round($"cosine", 4).as("cosine"),
        $"dropped_candidates")
      .crossJoin(broadcast(containmentCheck(exact, cand, "q43", 2)))
      .orderBy($"id_a", $"id_b")
  }

  /** Winnowing fingerprint-join partial-overlap candidates (MOSS
    * pattern, Dedup.winnowOverlap). Self-checking on two ANALYTIC
    * guarantees, no probability involved: (1) identical docs have
    * identical winnow sets, so every identical-text pair long enough to
    * select >= minShared fingerprints (len >= 100 bytes => m = 77
    * k-grams, 62 windows, >= 4 window picks at k=24/w=16) must be a
    * candidate — identical pairs are found with a fingerprint64
    * self-join, the q33 exact-dedup unit; (2) the planted doc sharing
    * only a long PREFIX with its two twins must pair with both — the
    * partial-overlap case no whole-doc hash can see. k=24 (~4 words)
    * per the operator's selectivity note. */
  def q78WinnowOverlap(s: SparkSession, dir: String): DataFrame = {
    val corpus = Tables(s, dir, "documents").select($"doc_id", $"text")
      .unionByName(plantedDocs(s))
    val cand = Dedup.winnowOverlap(corpus, "text", "doc_id",
      k = 24, w = 16, minShared = 2)
    val fp = corpus.where(length($"text") >= 100)
      .select(Functional.fingerprint64($"text").as("fp"), $"doc_id")
    val identical = fp.select($"fp", $"doc_id".as("id_a"))
      .join(fp.select($"fp", $"doc_id".as("id_b")), Seq("fp"))
      .where($"id_a" < $"id_b").select($"id_a", $"id_b").distinct()
    val prefixPairs = s.range(1)
      .select(lit(plantBase).as("id_a"), lit(plantBase + 2).as("id_b"))
      .unionByName(s.range(1)
        .select(lit(plantBase + 1).as("id_a"), lit(plantBase + 2).as("id_b")))
    val exact = identical.unionByName(prefixPairs).distinct()
    cand.where($"id_a" < plantBase && $"id_b" < plantBase)
      .select($"id_a", $"id_b", $"shared_fps", $"dropped_candidates")
      .crossJoin(broadcast(containmentCheck(exact, cand, "q78", 3)))
      .orderBy($"id_a", $"id_b")
  }

  // ---- similarity search ----------------------------------------------

  /** Brute-force cosine top-k for 5 probe vectors; oracle re-derives the
    * ranking with DuckDB's own cosine (fp-independent rank compare). */
  def q50KnnBrute(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val probes = emb.where($"vec_id" < 5)
    Similarity.bruteForceTopK(emb, probes, "embedding", "vec_id", "vec_id",
        k = 10)
      .select($"probe_id", $"id", $"rank")
      .orderBy($"probe_id", $"rank")
  }

  val q50Sql: String =
    """SELECT probe_id, id, rank FROM (
      |  SELECT p.vec_id AS probe_id, c.vec_id AS id,
      |  ROW_NUMBER() OVER (PARTITION BY p.vec_id ORDER BY
      |    list_cosine_similarity(c.embedding, p.embedding) DESC,
      |    c.vec_id ASC) AS rank
      |  FROM embeddings c, embeddings p
      |  WHERE p.vec_id < 5 AND c.vec_id <> p.vec_id)
      |WHERE rank <= 10 ORDER BY probe_id, rank""".stripMargin

  /** recall@k scalar: |approx ∩ exact| / |exact| over the fixed probe
    * set, as a 1-row frame raising below `floor`. The brute-force side
    * is q50's exact plan — one broadcast-probe scan, linear in the
    * corpus, constant-bounded output (|probes| × k). */
  private[graft] def annRecallCheck(approx: DataFrame, exact: DataFrame,
      what: String, floor: Double): DataFrame = {
    val stats = approx.select($"probe_id", $"id")
      .join(exact.select($"probe_id", $"id"), Seq("probe_id", "id"),
        "left_semi")
      .agg(count(lit(1)).as("__hits"))
      .crossJoin(exact.agg(count(lit(1)).as("__total")))
    val recall = $"__hits".cast(DoubleType) / $"__total".cast(DoubleType)
    val ok = when($"__total" > 0 && recall >= floor, round(recall, 4))
      .otherwise(raise_error(concat(
        lit(s"$what: recall@10 "), round(recall, 4).cast(StringType),
        lit(s" below pinned floor $floor"))))
    stats.select(ok.as("recall_at10"))
  }

  /** GUARANTEED ANN correctness check: plant an exact twin of each
    * probe vector into the corpus (id = probe_id + plantBase). A
    * correct ANN must return the twin at rank 1 — it lands in the
    * probe's own LSH bucket / IVF cell by construction (identical
    * input, identical hash/cell), and cosine 1.0 beats every other
    * corpus vector. Raises unless all `nProbes` twins rank first.
    * Complements the recall floor: recall on near-uniform vectors is
    * data-limited, but finding a planted true nearest neighbor is
    * not. */
  private[graft] def annTwinCheck(
      run: DataFrame => DataFrame, emb: DataFrame, probes: DataFrame,
      what: String, nProbes: Int): DataFrame = {
    val twins = probes.select(($"vec_id" + plantBase).as("vec_id"),
      $"embedding")
    val planted = run(emb.select($"vec_id", $"embedding")
      .unionByName(twins))
    val stats = planted
      .where($"rank" === 1 && $"id" === $"probe_id" + plantBase)
      .agg(count(lit(1)).as("__nn"))
    val ok = when($"__nn" === nProbes, lit(true))
      .otherwise(raise_error(concat(
        lit(s"$what: planted-twin check failed ("),
        $"__nn".cast(StringType),
        lit(s" of $nProbes probes ranked their exact twin first)"))))
    stats.select(ok.as("nn_ok"))
  }

  /** LSH-bucketed ANN. Approximate by construction — no SQL oracle —
    * but doubly self-checking: (a) the planted-twin guarantee
    * (annTwinCheck) and (b) recall@10 vs q50's exact brute-force
    * ranking, raise_error below the pinned floor. The floor is what
    * the fixed seed deterministically achieves on this synthetic
    * corpus (measured 0.10/0.16/0.14 at sf0.001/0.01/0.1): the
    * vectors are near-uniform (max corpus cosine ≈ 0.48, no cluster
    * structure), the worst case for locality hashing — 1-bit
    * multiprobe over 256 buckets scans ~3.5% of the corpus, and on
    * structureless data recall tracks scan fraction. The twin check
    * is the correctness proof; the floor is drift detection. */
  def q51KnnLsh(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val probes = emb.where($"vec_id" < 5)
    def run(corpus: DataFrame): DataFrame =
      Similarity.lshTopK(corpus, probes, "embedding", "vec_id", "vec_id",
        k = 10, bits = 8)
    val lsh = run(emb)
    val brute = Similarity.bruteForceTopK(emb, probes, "embedding", "vec_id",
      "vec_id", k = 10)
    lsh.select($"probe_id", $"id", $"rank")
      .crossJoin(broadcast(annRecallCheck(lsh, brute, "q51", 0.08)))
      .crossJoin(broadcast(annTwinCheck(run, emb, probes, "q51", 5)))
      .orderBy($"probe_id", $"rank")
  }

  // ---- domain kernels -------------------------------------------------

  def q60Bucketize(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .select(Functional.bucketize($"l_quantity", Seq(10, 20, 30, 40))
        .as("bucket"))
      .groupBy($"bucket").agg(count(lit(1)).as("n"))
      // (a) 5 buckets
      .orderByInOnePartition($"bucket")

  val q60Sql: String =
    """SELECT CASE WHEN l_quantity <= 10 THEN 0 WHEN l_quantity <= 20 THEN 1
      |WHEN l_quantity <= 30 THEN 2 WHEN l_quantity <= 40 THEN 3
      |ELSE 4 END AS bucket, COUNT(*) AS n
      |FROM lineitem GROUP BY 1 ORDER BY bucket""".stripMargin

  /** sigrid_hash, DRIVER-HASHABLE (round 12 recorded this gate
    * `no_oracle`): the output IS the reference's pinned fixture
    * (test_sigrid_hash.py:48-56 — range(16), salt 0, max 100),
    * computed through the real distributed kernel over spark.range,
    * one row per input, so the driver's DuckDB compare falsifies
    * bit-exactness directly against a VALUES literal. The lineitem
    * distribution scan stays in the gate as invariants the oracle CAN
    * restate: n_rows (= count(*)) crosses engines, and dist_ok raises
    * in-query unless every hashed bucket lands in [0, 1000). */
  def q61SigridHash(s: SparkSession, dir: String): DataFrame = {
    val fixture = s.range(16).toDF("i")
      .select($"i", Functional.sigridHash($"i", 0L, 100L).as("h"))
    val dist = Tables(s, dir, "lineitem")
      .select(Functional.sigridHash($"l_partkey", 0L, 1000L).as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min($"bucket").as("__mn"), max($"bucket").as("__mx"))
      .select($"n_rows",
        when($"__mn" >= 0L && $"__mx" < 1000L, lit(true))
          .otherwise(raise_error(lit(
            "q61: sigrid_hash bucket escaped [0, max)"))).as("dist_ok"))
    fixture.crossJoin(broadcast(dist))
      .select($"i", $"h", $"n_rows", $"dist_ok")
      .orderBy($"i")
  }

  val q61Sql: String =
    """SELECT CAST(i AS BIGINT) AS i, CAST(h AS BIGINT) AS h,
      |  (SELECT count(*) FROM lineitem) AS n_rows, true AS dist_ok
      |FROM (VALUES (0,6),(1,60),(2,54),(3,54),(4,9),(5,4),(6,91),
      |  (7,11),(8,67),(9,79),(10,2),(11,25),(12,92),(13,98),(14,83),
      |  (15,66)) AS t(i, h)
      |ORDER BY i""".stripMargin

  /** firstx over per-order sorted quantity arrays (array ops path). */
  def q62Firstx(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .groupBy($"l_orderkey")
      .agg(sort_array(collect_list($"l_quantity")).as("arr"))
      .select($"l_orderkey",
        aggregate(Functional.firstx($"arr", 2), lit(0.0d),
          (acc, x) => acc + x).as("first2_sum"))
      .orderBy($"l_orderkey")

  val q62Sql: String =
    """SELECT l_orderkey, SUM(l_quantity) AS first2_sum FROM (
      |  SELECT l_orderkey, l_quantity, ROW_NUMBER() OVER (
      |    PARTITION BY l_orderkey ORDER BY l_quantity) AS rn
      |  FROM lineitem) WHERE rn <= 2
      |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin

  /** clamp_list over per-order arrays (transform HOF path). */
  def q63ClampList(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .groupBy($"l_orderkey")
      .agg(collect_list($"l_quantity").as("arr"))
      .select($"l_orderkey",
        aggregate(Functional.clampList($"arr", lit(5.0), lit(40.0)),
          lit(0.0d), (acc, x) => acc + x).as("clamped_sum"))
      .orderBy($"l_orderkey")

  val q63Sql: String =
    """SELECT l_orderkey,
      |SUM(LEAST(GREATEST(l_quantity, 5.0), 40.0)) AS clamped_sum
      |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin

  /** Python-semantics string predicates (ASCII slice is oracle-able). */
  def q64StrPredicates(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "part")
      .select($"p_partkey",
        Functional.isalpha(regexp_replace($"p_name", " ", ""))
          .as("name_alpha"),
        Functional.isalnum($"p_brand").as("brand_alnum"),
        Functional.isdigit(regexp_extract($"p_brand", "[0-9]+", 0))
          .as("brandnum_digit"))
      .orderBy($"p_partkey")

  val q64Sql: String =
    """SELECT p_partkey,
      |regexp_matches(replace(p_name, ' ', ''), '^[A-Za-z]+$') AS name_alpha,
      |regexp_matches(p_brand, '^[A-Za-z0-9]+$') AS brand_alnum,
      |regexp_matches(regexp_extract(p_brand, '[0-9]+', 0), '^[0-9]+$')
      |  AS brandnum_digit
      |FROM part ORDER BY p_partkey""".stripMargin

  /** str namespace built-ins (§2.10): length/upper/slice/find/replace. */
  def q65StringFuncs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "part")
      .select($"p_partkey",
        length($"p_name").as("name_len"),
        upper($"p_brand").as("brand_upper"),
        substring($"p_name", 1, 8).as("name_slice"),
        (instr($"p_name", "a") - 1).as("find_a"),
        regexp_replace($"p_name", " ", "_").as("name_snake"),
        $"p_type".startsWith("STANDARD").as("is_standard"))
      .orderBy($"p_partkey")

  val q65Sql: String =
    """SELECT p_partkey, length(p_name) AS name_len,
      |upper(p_brand) AS brand_upper, substring(p_name, 1, 8) AS name_slice,
      |CAST(strpos(p_name, 'a') - 1 AS BIGINT) AS find_a,
      |replace(p_name, ' ', '_') AS name_snake,
      |starts_with(p_type, 'STANDARD') AS is_standard
      |FROM part ORDER BY p_partkey""".stripMargin

  /** list namespace (§2.11): split → join round-trip + element access. */
  def q66SplitJoin(s: SparkSession, dir: String): DataFrame = {
    val toks = split($"p_name", " ")
    Tables(s, dir, "part")
      .select($"p_partkey",
        array_join(toks, "|").as("joined"),
        toks.getItem(0).as("first_tok"),
        element_at(toks, -1).as("last_tok"),
        size(toks).as("n_toks"))
      .orderBy($"p_partkey")
  }

  val q66Sql: String =
    """SELECT p_partkey, replace(p_name, ' ', '|') AS joined,
      |string_split(p_name, ' ')[1] AS first_tok,
      |string_split(p_name, ' ')[-1] AS last_tok,
      |CAST(len(string_split(p_name, ' ')) AS INT) AS n_toks
      |FROM part ORDER BY p_partkey""".stripMargin

  /** maps namespace over JSON-parsed props (§2.12): from_json → map →
    * element_at, grouped. */
  def q67MapOps(s: SparkSession, dir: String): DataFrame = {
    val k = element_at(
      from_json($"props", MapType(StringType, LongType)), "k")
    Tables(s, dir, "events")
      .select((k.cast(LongType)).as("k"))
      .groupBy(expr("k div 10").as("kb"))
      .agg(count(lit(1)).as("n"), sum($"k").cast(LongType).as("sum_k"))
      .orderBy($"kb")
  }

  val q67Sql: String =
    """SELECT CAST(props->>'k' AS BIGINT) // 10 AS kb, COUNT(*) AS n,
      |CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k
      |FROM events GROUP BY 1 ORDER BY kb""".stripMargin

  /** q01 re-expressed through the TFrame API end-to-end: proves the
    * pandas-style surface (where → select computed → groupby → agg
    * dict form → rename → sort) against the same DuckDB oracle. */
  def q21TframePipeline(s: SparkSession, dir: String): DataFrame = {
    import graft.frame.TFrame
    val li = TFrame(Tables(s, dir, "lineitem"))
    li.where(li("l_quantity") < 24)
      .select("l_returnflag", "l_quantity")(
        "disc_price" -> (li("l_extendedprice") * (lit(1.0) - li("l_discount")))
          .cast(DecimalType(25, 4)))
      .groupby("l_returnflag")
      .agg(Map("l_quantity" -> Seq("sum", "mean"),
        "disc_price" -> Seq("sum")))
      .pipe(f => TFrame(f.df.select(
        f("l_returnflag"),
        f.df("`l_quantity.sum`").cast(DecimalType(25, 4)).cast(DoubleType)
          .as("qty_sum"),
        round(f.df("`l_quantity.mean`"), 4).as("qty_mean"),
        f.df("`disc_price.sum`").cast(DoubleType).as("disc_sum"))))
      .sort(Seq("l_returnflag"))
      .df
  }

  val q21Sql: String =
    """SELECT l_returnflag,
      |CAST(SUM(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) AS qty_sum,
      |ROUND(AVG(l_quantity), 4) AS qty_mean,
      |CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |  AS DECIMAL(25,4))) AS DOUBLE) AS disc_sum
      |FROM lineitem WHERE l_quantity < 24
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Cleaning pipeline through TFrame: dedup keep-first + fillNull +
    * sort, oracle-checked. */
  def q22TframeClean(s: SparkSession, dir: String): DataFrame = {
    import graft.frame.TFrame
    val o = TFrame(Tables(s, dir, "orders"))
    o.dropDuplicates(Seq("o_custkey"), order = Seq("o_orderkey"))
      .select("o_custkey", "o_orderkey")(
        "status_filled" -> coalesce(nullif(o("o_orderstatus"), lit("O")),
          lit("OPEN")))
      .sort(Seq("o_custkey"))
      .df
  }

  val q22Sql: String =
    """SELECT o_custkey, o_orderkey,
      |COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status_filled
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderkey) AS rn FROM orders)
      |WHERE rn = 1 ORDER BY o_custkey""".stripMargin

  /** Sessionization re-expressed through mapGroupsWithState (stateful-
    * operator path); same oracle as the window-lag q15. */
  def q23StatefulSessions(s: SparkSession, dir: String): DataFrame =
    EventsStream.sessionizeStateful(s, dir, gapMinutes = 30)
      .orderBy($"user_id")

  val q23Sql: String = q15Sql

  /** Grouped exact median (continuous interpolation in both engines). */
  def q20Median(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(median($"l_quantity").as("qty_median"),
        count(lit(1)).as("n"))
      .orderBy($"l_returnflag")

  val q20Sql: String =
    """SELECT l_returnflag, MEDIAN(l_quantity) AS qty_median, COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Approximate sketches: HLL distinct + approx quantiles. Sketch
    * values are engine-specific by construction, so (round-13 change,
    * ending this gate's `no_oracle` status) the VERIFY output carries
    * what DuckDB can restate — exact_parts and n — while the sketch
    * bound checks stay in-gate: sketch_ok raises unless every sketch
    * lands inside its published error bound (HLL rsd 0.05 → 15%
    * generous bound; percentile_approx accuracy 1000 → rank error
    * 0.001, checked against exact ±0.015-rank brackets). The exact
    * countDistinct + 4-point exact percentile cost ~7× the sketches
    * themselves, so the bench (graft.sketch.selfcheck=false, set only
    * by Bench) runs the sketch-only plan — the thing whose cost is
    * the point. */
  def q19ApproxSketch(s: SparkSession, dir: String): DataFrame = {
    val selfCheck =
      s.conf.get("graft.sketch.selfcheck", "true").toBoolean
    val sketches = Tables(s, dir, "lineitem").groupBy($"l_returnflag")
    if (!selfCheck)
      sketches.agg(
        approx_count_distinct($"l_partkey").as("approx_parts"),
        percentile_approx($"l_extendedprice", lit(0.5), lit(1000))
          .as("p50_price"),
        percentile_approx($"l_extendedprice", lit(0.99), lit(1000))
          .as("p99_price"))
        .select($"l_returnflag", $"approx_parts", $"p50_price",
          $"p99_price",
          // the caveat is IN the schema: in bench mode the bound-check
          // does not run, and the column name says so — a consumer
          // cannot mistake this for the verified sketch_ok the gate
          // (Verify, selfcheck=true) emits.
          lit(true).as("sketch_unchecked"))
        .orderBy($"l_returnflag")
    else sketches
      .agg(
        approx_count_distinct($"l_partkey").as("__approx_parts"),
        percentile_approx($"l_extendedprice", lit(0.5), lit(1000))
          .as("__p50"),
        percentile_approx($"l_extendedprice", lit(0.99), lit(1000))
          .as("__p99"),
        countDistinct($"l_partkey").as("exact_parts"),
        count(lit(1)).as("n"),
        percentile($"l_extendedprice",
          array(lit(0.485), lit(0.515), lit(0.975), lit(0.9999)))
          .as("__pb"))
      .select($"l_returnflag", $"exact_parts", $"n",
        when(
          abs($"__approx_parts" - $"exact_parts").cast(DoubleType) /
            $"exact_parts" <= 0.15 &&
          $"__p50".between(element_at($"__pb", 1), element_at($"__pb", 2)) &&
          $"__p99".between(element_at($"__pb", 3), element_at($"__pb", 4)),
          lit(true))
          .otherwise(raise_error(lit(
            "q19: sketch outside its error bound vs exact"))).as("sketch_ok"))
      .orderBy($"l_returnflag")
  }

  val q19Sql: String =
    """SELECT l_returnflag,
      |  count(DISTINCT l_partkey) AS exact_parts,
      |  count(*) AS n, true AS sketch_ok
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- multimodal: REAL header decode, fully oracled -------------------

  /** Real PNG-IHDR / JPEG-SOF byte parsing end-to-end: each doc gets a
    * synthesized VALID image header (seeded dimensions), decodeMeta
    * parses the actual bytes back in a partition-wise batch pass, and
    * the oracle predicts format/width/height/size arithmetically from
    * the seed — a green row proves the byte-level parser is exact. */
  def q70Multimodal(s: SparkSession, dir: String): DataFrame = {
    val synth = udf((id: Long) =>
      Multimodal.synthesizeBlob(id * 1048573L + 11L))
    val docs = Tables(s, dir, "documents")
      .select($"doc_id", synth($"doc_id").as("blob"))
    Multimodal.decodeMeta(docs)
      .select($"media_meta.format".as("format"),
        $"media_meta.width".as("width"), $"media_meta.height".as("height"),
        $"media_meta.n_bytes".as("n_bytes"))
      .groupBy($"format")
      .agg(count(lit(1)).as("n"),
        sum($"width").cast(LongType).as("sum_w"),
        sum($"height").cast(LongType).as("sum_h"),
        sum($"n_bytes").cast(LongType).as("total_bytes"))
      .orderBy($"format")
  }

  val q70Sql: String =
    """WITH d AS (SELECT doc_id * 1048573 + 11 AS seed FROM documents)
      |SELECT CASE WHEN seed % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
      |COUNT(*) AS n,
      |CAST(SUM(64 + ((seed // 16) % 1857)) AS BIGINT) AS sum_w,
      |CAST(SUM(64 + ((seed // 16777216) % 1017)) AS BIGINT) AS sum_h,
      |CAST(SUM(CASE WHEN seed % 2 = 0 THEN 61 ELSE 44 END) AS BIGINT)
      |  AS total_bytes
      |FROM d GROUP BY 1 ORDER BY format""".stripMargin

  // ---- structured streaming -------------------------------------------

  /** Streaming hourly window agg; oracle = the equivalent batch SQL. */
  def q80StreamWindow(s: SparkSession, dir: String): DataFrame =
    EventsStream.hourlyWindow(s, dir)

  val q80Sql: String =
    """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS bucket_ts,
      |event_type, COUNT(*) AS n,
      |CAST(SUM(CAST(value AS DECIMAL(25,4))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY bucket_ts, event_type""".stripMargin

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q15_sessionize" -> (q15Sessionize _),
    "q16_highcard_agg" -> (q16HighcardAgg _),
    "q17_minmax_scale" -> (q17MinmaxScale _),
    "q18_zscore" -> (q18Zscore _),
    "q30_token_stats" -> (q30TokenStats _),
    "q31_lang_id" -> (q31LangId _),
    "q32_quality" -> (q32Quality _),
    "q33_exact_dedup" -> (q33ExactDedup _),
    "q40_minhash_lsh" -> (q40MinhashLsh _),
    "q41_simhash" -> (q41Simhash _),
    "q42_ngram_jaccard" -> (q42NgramJaccard _),
    "q43_embed_dedup" -> (q43EmbedDedup _),
    "q78_winnow_overlap" -> (q78WinnowOverlap _),
    "q50_knn_brute" -> (q50KnnBrute _),
    "q51_knn_lsh" -> (q51KnnLsh _),
    "q60_bucketize" -> (q60Bucketize _),
    "q61_sigrid_hash" -> (q61SigridHash _),
    "q62_firstx" -> (q62Firstx _),
    "q63_clamp_list" -> (q63ClampList _),
    "q64_str_predicates" -> (q64StrPredicates _),
    "q65_string_funcs" -> (q65StringFuncs _),
    "q66_split_join" -> (q66SplitJoin _),
    "q67_map_ops" -> (q67MapOps _),
    "q19_approx_sketch" -> (q19ApproxSketch _),
    "q20_median" -> (q20Median _),
    "q21_tframe_pipeline" -> (q21TframePipeline _),
    "q22_tframe_clean" -> (q22TframeClean _),
    "q23_stateful_sessions" -> (q23StatefulSessions _),
    "q70_multimodal" -> (q70Multimodal _),
    "q80_stream_window" -> (q80StreamWindow _)
  )

  val oracles: Map[String, String] = Map(
    "q15_sessionize" -> q15Sql,
    "q16_highcard_agg" -> q16Sql,
    "q17_minmax_scale" -> q17Sql,
    "q18_zscore" -> q18Sql,
    "q30_token_stats" -> q30Sql,
    "q31_lang_id" -> q31Sql,
    "q61_sigrid_hash" -> q61Sql,
    "q19_approx_sketch" -> q19Sql,
    "q32_quality" -> q32Sql,
    "q33_exact_dedup" -> q33Sql,
    "q50_knn_brute" -> q50Sql,
    "q60_bucketize" -> q60Sql,
    "q62_firstx" -> q62Sql,
    "q63_clamp_list" -> q63Sql,
    "q64_str_predicates" -> q64Sql,
    "q65_string_funcs" -> q65Sql,
    "q66_split_join" -> q66Sql,
    "q67_map_ops" -> q67Sql,
    "q20_median" -> q20Sql,
    "q21_tframe_pipeline" -> q21Sql,
    "q22_tframe_clean" -> q22Sql,
    "q23_stateful_sessions" -> q23Sql,
    "q70_multimodal" -> q70Sql,
    "q80_stream_window" -> q80Sql
  )
}
