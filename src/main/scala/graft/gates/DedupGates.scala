package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Functional
import graft.operators.{Clustering, Dedup, TextAnalysis}

/** Deduplication gates: exact, MinHash, SimHash, n-gram and embedding
  * near-duplicates, span and paragraph dedup, similarity joins, and the
  * LSH self-check fixtures the other families plant their near-dups
  * with.
  */
object DedupGates extends GateFamily("dedup") {

  lazy val gates: Seq[Gate] = Seq(
    Gate("q33_exact_dedup", q33ExactDedup, Some(q33Sql)),
    Gate("q40_minhash_lsh", q40MinhashLsh),
    Gate("q41_simhash", q41Simhash),
    Gate("q42_ngram_jaccard", q42NgramJaccard),
    Gate("q43_embed_dedup", q43EmbedDedup),
    Gate("q44_jaccard_exact", q44JaccardExact, Some(q44Sql)),
    Gate("q77_winnow", q77Winnow),
    Gate("q78_winnow_overlap", q78WinnowOverlap),
    Gate("q88_dup_groups", q88DupGroups, Some(q88Sql),
      eager = Some("localCheckpoint connected-components loop")),
    Gate("q91_semdedup", q91SemDedup,
      eager = Some("k-means training pulls centroids to the driver")),
    Gate("q94_keep_best", q94KeepBest, Some(q94Sql),
      eager = Some("localCheckpoint connected-components loop")),
    Gate("q96_sem_pipeline", q96SemPipeline,
      eager = Some("checkpointed pairs, connected-components loop")),
    Gate("q107_para_dedup", q107ParaDedup, Some(q107Sql)),
    Gate("q113_span_dedup", q113SpanDedup, Some(q113Sql)),
    Gate("q129_simjoin_prefix", q129SimJoinPrefix, Some(q129Sql)),
    Gate("q135_incremental_ingest", q135IncrementalIngest, Some(q135Sql)),
    Gate("q147_contain_join", q147ContainJoin, Some(q147Sql)),
    Gate("q152_edit_join", q152EditJoin, Some(q152Sql)),
    Gate("q250_dup_segments", q250DupSegments, Some(q250Sql),
      eager = Some("checkpoints the repetition signals of two checks")),
    Gate("q263_sem_survivors", q263SemSurvivors, Some(q263Sql),
      eager = Some("checkpointed pairs, connected-components loop")),
    Gate("q292_winnow_density", q292WinnowDensity, Some(q292Sql))
  )

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

  // ---- exact n-gram Jaccard, fully oracled ----------------------------

  /** Character-3-gram Jaccard over a bounded doc subset, every value
    * DuckDB-verified: the pairs of [[DedupGates.jaccardPairFixture]] with
    * their jaccard rounded to 4 places. The oracle computes it from
    * first principles (substr(text, i, 3) for i in 1..len-2, distinct,
    * list intersect). Unlike q42 (hash-based LSH pipeline, rows-only
    * check) this is exact; the subset bound keeps the all-pairs step
    * at 19,900 pairs, and at corpus scale the same jaccard runs on LSH
    * candidates only (q42 path). */
  def q44JaccardExact(s: SparkSession, dir: String): DataFrame =
    DedupGates.jaccardPairFixture(s, dir)
      .select($"id_a", $"id_b", round($"j", 4).as("jaccard"))
      // one narrow row per pair from the jaccardSorted kernel; doc_id <
      // 200 bounds the pairs at 19 900
      .orderByInOnePartition($"id_a", $"id_b")

  val q44Sql: String =
    """WITH d AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    range(1, length(text) - 1),
      |    i -> substr(text, CAST(i AS INT), 3))) AS sh
      |  FROM documents WHERE doc_id < 200 AND length(text) >= 3),
      |p AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS i,
      |    len(a.sh) AS na, len(b.sh) AS nb
      |  FROM d a, d b WHERE a.doc_id < b.doc_id)
      |SELECT id_a, id_b,
      |  ROUND(CAST(i AS DOUBLE) / CAST(na + nb - i AS DOUBLE), 4) AS jaccard
      |FROM p WHERE CAST(i AS DOUBLE) / CAST(na + nb - i AS DOUBLE) >= 0.60
      |ORDER BY id_a, id_b""".stripMargin

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

  // ---- dup-group resolution (connected components) ---------------------

  /** The exact char-3-gram Jaccard ≥ 0.60 pairs (id_a < id_b, with
    * their jaccard `j`) over the bounded doc_id < 200 subset — ONE
    * definition for q44 (which reports `j`) and q88, q94 and q282
    * (which resolve the pair graph under three policies). A doc's
    * shingles are the distinct 64-bit hashes of its 3-code-point
    * substrings ([[Functional.charShingleSet]]), so the per-pair
    * jaccard is ONE merge scan ([[Functional.jaccardSorted]]) instead
    * of a string-array intersect per pair. |∩|/|∪| is unchanged up to
    * 64-bit collisions (~1e-12 at these set sizes); the oracle computes
    * the same ratio over the raw shingle strings. */
  private[graft] def jaccardPairFixture(s: SparkSession, dir: String): DataFrame = {
    // length >= 3 mirrors the oracle's filter: a doc with no 3-gram is
    // in no pair on either side
    val d = Tables(s, dir, "documents")
      .where($"doc_id" < 200 && length($"text") >= 3)
      .select($"doc_id", $"text")
      // (a) charShingleSet, (b) the pair loop over its streamed side
      .spreadOverCores
      // coalesce: a non-null sh gets no inferred isnotnull(sh) filter,
      // which Catalyst would push below the spread, running the kernel
      // a second time in the one-task scan stage
      .select($"doc_id", coalesce(Functional.charShingleSet($"text", 3),
        typedLit(Seq.empty[Long])).as("sh"))
    val a = d.select($"doc_id".as("id_a"), $"sh".as("sh_a"))
    val b = d.select($"doc_id".as("id_b"), $"sh".as("sh_b"))
    a.join(broadcast(b), $"id_a" < $"id_b")
      .select($"id_a", $"id_b",
        Functional.jaccardSorted($"sh_a", $"sh_b").as("j"))
      .where($"j" >= 0.60)
  }

  /** SQL half of [[jaccardPairFixture]] + transitive closure, shared
    * by q88Sql/q94Sql: CTEs d/p/e/edges/nodes/reach (d keeps text for
    * q94's scoring CTE). */
  private[graft] val closureCtes: String =
    """d AS (
      |  SELECT doc_id, text, list_distinct(list_transform(
      |    range(1, length(text) - 1),
      |    i -> substr(text, CAST(i AS INT), 3))) AS sh
      |  FROM documents WHERE doc_id < 200 AND length(text) >= 3),
      |p AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS i,
      |    len(a.sh) AS na, len(b.sh) AS nb
      |  FROM d a, d b WHERE a.doc_id < b.doc_id),
      |e AS (SELECT id_a, id_b FROM p
      |  WHERE CAST(i AS DOUBLE) / CAST(na + nb - i AS DOUBLE) >= 0.60),
      |edges AS (SELECT id_a AS a, id_b AS b FROM e
      |  UNION SELECT id_b, id_a FROM e),
      |nodes AS (SELECT DISTINCT a AS id FROM edges),
      |reach AS (
      |  SELECT id AS src, id AS dst FROM nodes
      |  UNION
      |  SELECT r.src, e2.b FROM reach r JOIN edges e2 ON r.dst = e2.a)""".stripMargin

  /** Near-dup pipeline completion: candidate pairs (the q44-oracled
    * exact-Jaccard set over the bounded doc_id < 200 subset) resolved
    * into duplicate GROUPS via min-label connected components — the
    * step that turns pairwise similarity into one-keeper-per-group at
    * corpus scale. component = min reachable id = the deterministic
    * keep-id. The DuckDB oracle computes the same components by
    * recursive transitive closure; both sides emit only ids that
    * appear in at least one pair. */
  def q88DupGroups(s: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(
      jaccardPairFixture(s, dir).select($"id_a", $"id_b"))
      .select($"id", $"component")
      .orderBy($"id")

  val q88Sql: String =
    s"""WITH RECURSIVE $closureCtes
       |SELECT src AS id, MIN(dst) AS component
       |FROM reach GROUP BY src ORDER BY id""".stripMargin

  // ---- semantic dedup (k-means + within-cluster cosine) ----------------

  /** SemDeDup (Abbas et al. 2023): full-data spherical k-means over the
    * embeddings (Clustering.fit — distributed Lloyd, decimal-exact
    * centroid sums), then exact-cosine pairs within each cluster cell.
    * Self-checking on three analytic guarantees, no oracle possible
    * (k-means is not SQL-expressible):
    * 1. Lloyd monotonicity — the spherical objective must be
    *    non-decreasing across iterations, asserted INSIDE
    *    Clustering.fit (a decrease throws, so this gate being green
    *    proves 4 iterations of assign+update behaved);
    * 2. planted-twin containment — bit-identical vectors get identical
    *    cell assignments BY CONSTRUCTION (assignment is a deterministic
    *    function of the vector), so both planted twin pairs (exact
    *    cosine 1.0) must be candidates — the analytic recall floor the
    *    hyperplane-LSH variant (q43) only gets probabilistically;
    * 3. coverage — every corpus row lands in exactly one cell in
    *    [0, nCells), checked with a count + range aggregate.
    * Determinism: decimal-mediated sums make the fitted centroids (and
    * so the emitted pair set) identical across runs and
    * repartitionings — same discipline as q89's DECIMAL log-prob mean.
    */
  def q91SemDedup(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val corpus = emb.select($"vec_id", $"embedding")
      .unionByName(DedupGates.plantedVecs(s))
    val nCells = 10
    val cents = Clustering.fit(
      corpus, "embedding", "vec_id", nCells, iters = 4)
    val dim = cents.length / nCells
    val sig = corpus.select($"vec_id".as("id"), $"embedding".as("v"),
      Clustering.assignment($"embedding", cents, dim)
        .as("bucket"))
    val cand = Dedup.cosinePairsWithin(sig, threshold = 0.35,
      maxBucket = 2000)

    val twins = s.range(1)
      .select(lit(DedupGates.plantBase).as("id_a"),
        lit(DedupGates.plantBase + 1).as("id_b"))
      .unionByName(s.range(1)
        .select(lit(DedupGates.plantBase + 2).as("id_a"),
          lit(DedupGates.plantBase + 3).as("id_b")))
    val coverage = sig.agg(count(lit(1)).as("__n"),
        min($"bucket").as("__lo"), max($"bucket").as("__hi"))
      .crossJoin(corpus.agg(count(lit(1)).as("__total")))
      .select(when($"__n" === $"__total" && $"__lo" >= 0 &&
          $"__hi" < nCells, lit(true))
        .otherwise(raise_error(lit(
          "q91: k-means assignment not total / cell out of range")))
        .as("coverage_ok"))

    cand.where($"id_a" < DedupGates.plantBase && $"id_b" < DedupGates.plantBase)
      .select($"id_a", $"id_b", round($"cosine", 4).as("cosine"),
        $"dropped_candidates")
      .crossJoin(broadcast(DedupGates.containmentCheck(twins, cand, "q91", 2)))
      .crossJoin(broadcast(coverage))
      .orderBy($"id_a", $"id_b")
  }

  // ---- quality-aware keeper resolution ---------------------------------

  /** Dup-group resolution with a quality policy (Dedup.resolveKeepBest):
    * q88's exact-Jaccard pair graph resolved to components, keeping the
    * highest-token-count member per group (ties → lowest id) — the
    * policy step a real corpus applies (keep the longest copy), versus
    * q88's structural min-id. Fully oracled: DuckDB recomputes the
    * components by transitive closure and the keeper by a window
    * argmax with the identical tie-break. */
  def q94KeepBest(s: SparkSession, dir: String): DataFrame = {
    val scores = Tables(s, dir, "documents")
      .where($"doc_id" < 200 && length($"text") >= 3)
      .select($"doc_id".as("id"),
        TextAnalysis.tokenCount($"text").cast(LongType).as("score"))
    Dedup.resolveKeepBest(
      jaccardPairFixture(s, dir).select($"id_a", $"id_b"), scores)
      .select($"id", $"component", $"keep_id")
      .orderBy($"id")
  }

  val q94Sql: String =
    s"""WITH RECURSIVE $closureCtes,
       |comp AS (SELECT src AS id, MIN(dst) AS component
       |  FROM reach GROUP BY src),
       |sc AS (SELECT doc_id AS id,
       |  CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
       |    AS score FROM d),
       |k AS (
       |  SELECT DISTINCT component,
       |    FIRST_VALUE(c.id) OVER (PARTITION BY component
       |      ORDER BY sc.score DESC, c.id ASC) AS keep_id
       |  FROM comp c JOIN sc ON c.id = sc.id)
       |SELECT c.id, c.component, k.keep_id
       |FROM comp c JOIN k USING (component) ORDER BY c.id""".stripMargin

  // ---- SemDeDup end-to-end pipeline ------------------------------------

  /** The embedding-dedup product shape, end to end: k-means cluster →
    * within-cluster cosine pairs (threshold 0.95 — only near-identical
    * vectors; the corpus's max pairwise cosine is ~0.6, measured at all
    * three SFs, so the margin is wide) → resolveKeepBest with the
    * vector norm as the quality score → surviving corpus. The q84
    * analog for the embedding side: catches cross-operator drift
    * (cluster assignment feeding pair generation feeding component
    * resolution) that the per-operator gates q91/q94 cannot.
    * Self-checks, raise_error on violation:
    * 1. twin survival — EXACTLY one member of each planted
    *    identical-vector pair survives (both dropped or both kept
    *    means resolution or pair generation broke);
    * 2. conservation — kept + dropped = total corpus;
    * 3. every dropped id appears in the pair graph (nothing outside a
    *    dup group may be removed). */
  /** The q96 pipeline frames (emb with planted twins, resolved pair
    * graph, dropped ids), shared with the oracled survivor-accounting
    * companion gate q263 so both run the IDENTICAL cluster → pair →
    * resolve chain. Returns (emb, pairs, dropped); pairs and dropped
    * are localCheckpointed because every caller fans multiple
    * consumers off them. */
  private[graft] def q96Frames(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val emb = Tables(s, dir, "embeddings").select($"vec_id", $"embedding")
      .unionByName(DedupGates.plantedVecs(s))
    // localCheckpoint: the pair frame feeds the CC loop, the orphan
    // check, and (via resolved) three stat branches — without it every
    // branch re-runs the k-means assignment + within-cell self-join
    val pairs = Dedup.semantic(emb, "embedding", "vec_id",
      nCells = 10, threshold = 0.95, iters = 4)
      .select($"id_a", $"id_b")
      .localCheckpoint()
    val scores = emb.select($"vec_id".as("id"),
      Functional.normF($"embedding").as("score"))
    val resolved = Dedup.resolveKeepBest(pairs, scores)
    // checkpointed for the same reason as pairs: consumed by the kept
    // anti-join, the n_dropped count, and the orphan check
    val dropped = resolved.where($"id" =!= $"keep_id")
      .select($"id".as("vec_id"))
      .localCheckpoint()
    (emb, pairs, dropped)
  }

  def q96SemPipeline(s: SparkSession, dir: String): DataFrame = {
    val (emb, pairs, dropped) = q96Frames(s, dir)
    val kept = emb.join(dropped, Seq("vec_id"), "left_anti")

    val pb = DedupGates.plantBase
    val stats = kept.agg(count(lit(1)).as("n_kept"),
        sum(when($"vec_id" === pb || $"vec_id" === pb + 1, 1)
          .otherwise(0)).as("twin1_kept"),
        sum(when($"vec_id" === pb + 2 || $"vec_id" === pb + 3, 1)
          .otherwise(0)).as("twin2_kept"))
      .crossJoin(emb.agg(count(lit(1)).as("n_total")))
      .crossJoin(dropped.agg(count(lit(1)).as("n_dropped")))
      .crossJoin(broadcast(dropped.join(
          pairs.select($"id_a".as("vec_id"))
            .unionByName(pairs.select($"id_b".as("vec_id"))).distinct(),
          Seq("vec_id"), "left_anti")
        .agg(count(lit(1)).as("__orphans"))))
    stats.select($"n_total", $"n_kept", $"n_dropped",
      when($"twin1_kept" === 1 && $"twin2_kept" === 1 &&
          $"n_kept" + $"n_dropped" === $"n_total" && $"__orphans" === 0,
        lit(true))
        .otherwise(raise_error(concat(
          lit("q96: pipeline invariant failed (twin1="),
          $"twin1_kept".cast(StringType),
          lit(" twin2="), $"twin2_kept".cast(StringType),
          lit(" orphans="), $"__orphans".cast(StringType), lit(")"))))
        .as("pipeline_ok"))
  }

  // ---- paragraph-level dedup (CCNet) -----------------------------------

  /** Cross-corpus paragraph dedup (Dedup.dedupParagraphs — the CCNet
    * §3 step): documents split into 8-word paragraphs, every repeated
    * paragraph dropped except its first (doc_id, pos) occurrence, docs
    * rebuilt from survivors. Fully oracled: DuckDB re-derives the
    * paragraphs with identical list slicing, picks winners with a
    * window over paragraph CONTENT (the hash-free formulation — a
    * green row also witnesses xxhash64 collision-freedom on this
    * corpus), and rebuilds kept_text with the same order. */
  def q107ParaDedup(s: SparkSession, dir: String): DataFrame = {
    val words = split(trim($"text"), "\\s+")
    val nPara = ceil(size(words).cast(DoubleType) / 8.0).cast(IntegerType)
    val paras = transform(
      sequence(lit(0), greatest(nPara, lit(1)) - 1),
      i => array_join(slice(words, i * 8 + 1, lit(8)), " "))
    val pdf = Tables(s, dir, "documents").select($"doc_id", paras.as("paras"))
    Dedup.dedupParagraphs(pdf, "doc_id", "paras")
      .select($"id".as("doc_id"),
        array_join($"kept", "\n").as("kept_text"),
        $"n_kept".cast(LongType).as("n_kept"))
      .orderBy($"doc_id")
  }

  val q107Sql: String =
    raw"""WITH w AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
       |  FROM documents),
       |p AS (
       |  SELECT doc_id, i.i AS pos,
       |    array_to_string(words[(i.i*8+1):(i.i*8+8)], ' ') AS para
       |  FROM w, LATERAL (SELECT UNNEST(range(0,
       |    CAST(ceil(len(words) / 8.0) AS BIGINT)))) AS i(i)),
       |r AS (
       |  SELECT doc_id, pos, para,
       |    ROW_NUMBER() OVER (PARTITION BY para ORDER BY doc_id, pos)
       |      AS rk
       |  FROM p),
       |k AS (
       |  SELECT doc_id, string_agg(para, chr(10) ORDER BY pos)
       |      AS kept_text,
       |    COUNT(*) AS n_kept
       |  FROM r WHERE rk = 1 GROUP BY doc_id)
       |SELECT d.doc_id, COALESCE(k.kept_text, '') AS kept_text,
       |  COALESCE(k.n_kept, 0) AS n_kept
       |FROM documents d LEFT JOIN k USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // ---- exact-substring span dedup --------------------------------------

  /** Exact-substring dedup at k = 8 words (Lee et al., ACL 2022; see
    * Dedup.dedupSpans for semantics and the triplets-only shuffle
    * story). The synthetic corpus genuinely contains ~1k duplicated
    * 8-word spans at sf0.01, so removal is exercised, not vacuous.
    * Fully oracled: DuckDB picks winners by span CONTENT (which also
    * witnesses xxhash64 collision-freedom, as in q107), expands loser
    * positions, and rebuilds kept_text from the uncovered words. */
  def q113SpanDedup(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.dedupSpans(Tables(s, dir, "documents"),
        "doc_id", "text", k = 8)
      .select($"id".as("doc_id"), $"kept_text", $"n_removed")
      .orderBy($"doc_id")

  val q113Sql: String =
    """WITH w AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, i - 1 AS pos,
      |    array_to_string(words[(i):(i+7)], ' ') AS gram
      |  FROM w, UNNEST(range(1, len(words) - 8 + 2)) AS t(i)),
      |r AS (
      |  SELECT doc_id, pos,
      |    ROW_NUMBER() OVER (PARTITION BY gram ORDER BY doc_id, pos)
      |      AS rk
      |  FROM g),
      |cov AS (
      |  SELECT DISTINCT doc_id, pos + j.j AS cp
      |  FROM r, UNNEST(range(0, 8)) AS j(j) WHERE rk > 1),
      |wp AS (
      |  SELECT doc_id, i - 1 AS wpos, words[i] AS word
      |  FROM w, UNNEST(range(1, len(words) + 1)) AS t(i)),
      |kept AS (
      |  SELECT wp.doc_id,
      |    string_agg(word, ' ' ORDER BY wpos) AS kept_text
      |  FROM wp LEFT JOIN cov
      |    ON wp.doc_id = cov.doc_id AND wp.wpos = cov.cp
      |  WHERE cov.doc_id IS NULL GROUP BY wp.doc_id),
      |nrem AS (SELECT doc_id, count(*) AS n_removed FROM cov GROUP BY 1)
      |SELECT w.doc_id, coalesce(kept_text, '') AS kept_text,
      |  coalesce(n_removed, 0) AS n_removed
      |FROM w LEFT JOIN kept USING (doc_id) LEFT JOIN nrem USING (doc_id)
      |ORDER BY w.doc_id""".stripMargin

  // ---- q129: exact similarity join via prefix filtering -----------------

  /** EXACT word-set Jaccard self-join at threshold 0.7 WITHOUT an
    * all-pairs plan — the AllPairs/PPJoin prefix-filter pattern
    * (Bayardo et al., WWW'07; Xiao et al., WWW'08): order every
    * token set by ascending global document frequency (rare tokens
    * first), keep only the first |x| − ⌈θ·|x|⌉ + 1 tokens as the
    * PREFIX, and generate candidates by equi-joining on prefix tokens.
    * Soundness: J(x,y) ≥ θ forces |x∩y| ≥ ⌈θ·max(|x|,|y|)⌉, and two
    * sets overlapping that much under a common total order must share
    * a prefix token — so the equi-join provably misses NO qualifying
    * pair, which the all-pairs DuckDB oracle certifies value-for-value.
    * ⌈θn⌉ is computed in exact integer arithmetic ((7n+9) div 10) so
    * the soundness bound carries no floating-point rounding question
    * (a double ceil is only right while 0.7·n rounds the right way). Unlike q40/q42 (MinHash LSH: probabilistic recall,
    * containment-checked) this join is exact by construction.
    *
    * Scale shape: the corpus shuffles as (prefix_token, id) pairs —
    * O(0.3·Σ|x|) rows — then candidate pairs join back to the
    * token-set table by id; the executed plan is asserted free of
    * cartesian/nested-loop joins. Pruning power tracks corpus
    * redundancy (this synthetic corpus is near-replica-dense, so most
    * pairs genuinely qualify); on a real corpus the df-ascending
    * prefix is the difference between |candidates| and n². */
  def q129SimJoinPrefix(s: SparkSession, dir: String): DataFrame = {
    val toks = array_distinct(filter(
      split(lower($"text"), "[^a-z]+"), x => x =!= ""))
    val d = Tables(s, dir, "documents")
      .where($"doc_id" < 200)
      .select($"doc_id", toks.as("tok"))
      .where(size($"tok") > 0)
    val tf = d.select($"doc_id", explode($"tok").as("token"))
    val dfreq = tf.groupBy($"token").agg(count(lit(1)).as("df"))
    val ranked = tf.join(dfreq, "token")
      .groupBy($"doc_id")
      .agg(sort_array(collect_list(struct($"df", $"token"))).as("ts"))
      .select($"doc_id",
        transform($"ts", st => st.getField("token")).as("stok"))
    val prefLen = greatest(lit(1),
      size($"stok") - expr("(7 * size(stok) + 9) div 10") + lit(1))
    val pref = ranked
      .select($"doc_id", explode(slice($"stok", lit(1), prefLen))
        .as("ptok"))
    val cand = pref.as("a").join(pref.as("b"),
        $"a.ptok" === $"b.ptok" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("ia"), $"b.doc_id".as("ib"))
      .distinct()
    val sets = d
    val result = cand
      .join(sets.select($"doc_id".as("ia"), $"tok".as("ta")), "ia")
      .join(sets.select($"doc_id".as("ib"), $"tok".as("tb")), "ib")
      .select($"ia", $"ib",
        size(array_intersect($"ta", $"tb")).as("i"),
        size($"ta").as("na"), size($"tb").as("nb"))
      .withColumn("j", $"i".cast(DoubleType) /
        ($"na" + $"nb" - $"i").cast(DoubleType))
      .where($"j" >= 0.7)
      .select($"ia".as("id_a"), $"ib".as("id_b"),
        round($"j", 4).as("jaccard"))
      .orderBy($"id_a", $"id_b")
    val plan = result.queryExecution.executedPlan.toString()
    require(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"q129: similarity join fell back to an all-pairs plan:\n" +
        plan.take(600))
    result
  }

  val q129Sql: String =
    """WITH d AS (
      |  SELECT doc_id, list_distinct(list_filter(
      |    regexp_split_to_array(lower(text), '[^a-z]+'),
      |    x -> x <> '')) AS tok
      |  FROM documents WHERE doc_id < 200),
      |d2 AS (SELECT * FROM d WHERE len(tok) > 0),
      |p AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    len(list_filter(a.tok, x -> list_contains(b.tok, x))) AS i,
      |    len(a.tok) AS na, len(b.tok) AS nb
      |  FROM d2 a, d2 b WHERE a.doc_id < b.doc_id)
      |SELECT id_a, id_b,
      |  ROUND(CAST(i AS DOUBLE) / (na + nb - i), 4) AS jaccard
      |FROM p WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.7
      |ORDER BY id_a, id_b""".stripMargin

  // ---- q135: incremental corpus ingestion (dedup vs a store) ----------

  /** The shape every continuously-crawled corpus takes: a NEW batch of
    * documents is deduplicated against the fingerprint store of
    * everything already ingested, WITHOUT touching historical text —
    * the store holds 8-byte xxhash64 fingerprints only. New-batch
    * survivors = anti-join against the store on fingerprint, then
    * keep-first (min doc_id) within the batch for content the batch
    * itself repeats. The DuckDB oracle picks survivors by raw CONTENT,
    * so a green row also witnesses fingerprint collision-freedom
    * (the q107/q113 discipline). Scale shape: the store shuffles as
    * 8-byte hashes, the incoming batch as (hash, id) pairs; text
    * never moves, and the anti-join + min-agg are both map-side
    * partial-friendly. */
  def q135IncrementalIngest(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val store = docs.where($"doc_id" < 250)
      .select(xxhash64($"text").as("fp")).distinct()
    val incoming = docs.where($"doc_id" >= 250)
    val keep = incoming.select($"doc_id", xxhash64($"text").as("fp"))
      .join(store, Seq("fp"), "left_anti")
      .groupBy($"fp").agg(min($"doc_id").as("doc_id"))
    keep.join(docs.select($"doc_id", $"lang", $"n_chars"), "doc_id")
      .select($"doc_id", $"lang", $"n_chars")
      .orderBy($"doc_id")
  }

  val q135Sql: String =
    """WITH store AS (
      |  SELECT DISTINCT text FROM documents WHERE doc_id < 250),
      |inc AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id >= 250),
      |unseen AS (
      |  SELECT i.* FROM inc i WHERE NOT EXISTS (
      |    SELECT 1 FROM store st WHERE st.text = i.text)),
      |keep AS (
      |  SELECT min(doc_id) AS doc_id FROM unseen GROUP BY text)
      |SELECT d.doc_id, d.lang, d.n_chars
      |FROM documents d JOIN keep USING (doc_id)
      |ORDER BY doc_id""".stripMargin

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

  // ---- q152: edit-distance-1 similarity join (FastSS) -------------------

  /** Exact Levenshtein-distance-≤1 self-join over distinct-ified part
    * names plus planted single-character deletions — short-text fuzzy
    * dedup (product names, titles, queries). Candidates come from
    * [[Functional.editNeighborhood1]]: |s|+1 deletion keys per string,
    * equi-joined — provably complete for ed≤1 (see the kernel's proof
    * sketch), verified by the exact levenshtein on candidates only,
    * no cross product in the plan (asserted). The corpus shuffles as
    * (key, id) pairs — ~|s| per string — and the verify join touches
    * candidate pairs only; at 100 TB this is the same inverted-pair
    * shape as q129/q147. The oracle replays the same mutation and an
    * UNPRUNED all-pairs levenshtein — green certifies completeness. */
  def q152EditJoin(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir, "part").where($"p_partkey" < 300)
      .select($"p_partkey".as("id"),
        concat($"p_name", lit(" #"), $"p_partkey".cast(StringType))
          .as("s"))
    // single-character deletion at position len div 2 (1-based), the
    // same integer arithmetic the oracle replays
    val mut = base.select(($"id" + 1000000L).as("id"),
      concat(
        expr("substr(s, 1, CAST(length(s) div 2 AS INT) - 1)"),
        expr("substr(s, CAST(length(s) div 2 AS INT) + 1)")).as("s"))
    val all = base.unionByName(mut)
    val keys = all.select($"id",
      explode(Functional.editNeighborhood1($"s")).as("k"))
    val cand = keys.as("a").join(keys.as("b"),
        $"a.k" === $"b.k" && $"a.id" < $"b.id")
      .select($"a.id".as("id_a"), $"b.id".as("id_b")).distinct()
    val result = cand
      .join(all.select($"id".as("id_a"), $"s".as("sa")), Seq("id_a"))
      .join(all.select($"id".as("id_b"), $"s".as("sb")), Seq("id_b"))
      .select($"id_a", $"id_b", levenshtein($"sa", $"sb").as("dist"))
      .where($"dist" <= 1)
      .orderBy($"id_a", $"id_b")
    val plan = result.queryExecution.executedPlan.toString()
    require(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"q152: edit join fell back to an all-pairs plan:\n${plan.take(600)}")
    result
  }

  val q152Sql: String =
    """WITH base AS (
      |  SELECT p_partkey AS id,
      |    p_name || ' #' || CAST(p_partkey AS VARCHAR) AS s
      |  FROM part WHERE p_partkey < 300),
      |mut AS (
      |  SELECT id + 1000000 AS id,
      |    substr(s, 1, CAST(len(s) // 2 AS INT) - 1) ||
      |    substr(s, CAST(len(s) // 2 AS INT) + 1) AS s
      |  FROM base),
      |a AS (SELECT * FROM base UNION ALL SELECT * FROM mut)
      |SELECT a.id AS id_a, b.id AS id_b,
      |  levenshtein(a.s, b.s) AS dist
      |FROM a, a b
      |WHERE a.id < b.id AND levenshtein(a.s, b.s) <= 1
      |ORDER BY id_a, id_b""".stripMargin

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

  // ---- q263: SemDeDup survivor accounting, hashed ---------------------------

  /** The oracle-restatable half of q96's SemDeDup pipeline: run the
    * SAME cluster → within-cell cosine pairs → keep-best resolution
    * chain ([[DedupGates.q96Frames]]) and emit the survivor accounting
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
    val (emb, _, dropped) = DedupGates.q96Frames(s, dir)
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
    * [[DedupGates.plantedVecs]] twins, whose construction formula is
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

  // ---- q292: winnowing density/coverage, hashed companion --------------------

  /** Hashed companion to the q77/q78 winnowing gates (the q250
    * pattern): the fingerprint VALUES are rolling-hash-defined, but the
    * selection COUNTS obey integer bounds derivable from text length
    * alone — Schleimer et al.'s coverage guarantee gives, per document
    * with m byte k-grams and win = min(w, m):
    *   n_windows/win ≤ nSel ≤ n_windows   (n_windows = m − win + 1)
    * and the paper's expected density is 2/(w+1) selections per k-gram
    * on random input. The gate counts bound VIOLATIONS (raise unless
    * zero — cross-multiplied integer comparisons, no division) and
    * checks the corpus-wide realized density lands in the generous
    * [1/w, 4/(w+1)] band around that expectation; DuckDB restates
    * every emitted integer from octet_length(text) and pins the
    * violation count at its only legal value. Takes the q77/q78 pair
    * from "rows-only" to "rows-only with a hashed integer companion". */
  def q292WinnowDensity(s: SparkSession, dir: String): DataFrame = {
    val k = 8; val w = 16
    val per = Tables(s, dir, "documents").select(
      greatest(octet_length($"text") - (k - 1), lit(0))
        .cast(LongType).as("m"),
      Functional.winnowSelCount($"text", k, w).as("nsel"))
      .select($"m", $"nsel",
        when($"m" > 0L, least(lit(w.toLong), $"m")).otherwise(lit(0L))
          .as("win"))
      .select($"m", $"nsel", $"win",
        when($"m" > 0L, $"m" - $"win" + 1L).otherwise(lit(0L)).as("nw"))
    val agg = per.agg(
      count(lit(1)).as("n_docs"),
      sum($"m").cast(LongType).as("total_kgrams"),
      sum($"nw").cast(LongType).as("total_windows"),
      // coverage: nsel*win >= nw (at least one pick per window) and
      // nsel <= nw (at most one pick per window index) — exact
      // integers, no ceil/division
      sum(when($"m" > 0L &&
          ($"nsel" * $"win" < $"nw" || $"nsel" > $"nw"), 1L)
        .otherwise(0L)).cast(LongType).as("viol"),
      sum($"nsel").cast(LongType).as("total_sel"))
    agg.select(
      $"n_docs", $"total_kgrams", $"total_windows",
      when($"viol" =!= 0L, raise_error(lit(
        "q292: a document violated the winnowing coverage bounds " +
          "(picks per window outside [n_windows/win, n_windows]) — " +
          "the selection loop broke the SIGMOD'03 guarantee")))
        .otherwise(lit(0L)).as("coverage_violations"),
      // density band via cross-multiplication: sel/kgrams in
      // [1/w, 4/(w+1)] around the paper's 2/(w+1) expectation
      when($"total_sel" * w < $"total_kgrams" ||
          $"total_sel" * (w + 1) > $"total_kgrams" * 4L, raise_error(lit(
        "q292: corpus-wide winnowing density left the [1/w, 4/(w+1)] " +
          "band around the 2/(w+1) expectation — the fingerprint set " +
          "is mis-sized for join dedup")))
        .otherwise(lit(true)).as("density_in_band"))
  }

  val q292Sql: String = {
    val k = 8
    s"""WITH d AS (SELECT greatest(strlen(text) - ${k - 1}, 0) AS m
       |  FROM documents),
       |s AS (SELECT m, least(16, m) AS win FROM d),
       |agg AS (SELECT
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(m) AS BIGINT) AS total_kgrams,
       |  CAST(SUM(CASE WHEN m > 0 THEN m - win + 1 ELSE 0 END) AS BIGINT)
       |    AS total_windows
       |  FROM s)
       |SELECT n_docs, total_kgrams, total_windows,
       |  CAST(0 AS BIGINT) AS coverage_violations,
       |  true AS density_in_band
       |FROM agg""".stripMargin
  }
}
