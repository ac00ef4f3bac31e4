package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{BpeEncoder, BpeTrain, Functional}
import graft.operators.{Clustering, Dedup, Packing, Salting, Sampling, TextAnalysis}

/** Round-10 queries: the LLM-pipeline operators a 100 TB training-data
  * run needs beyond pair generation — decontamination, dup-group
  * resolution and keeper policy, PII scrubbing, TF-IDF, perplexity,
  * deterministic shuffle/stratification, k-means/SemDeDup, bucketed
  * co-located joins, sequence packing, chunking, salted joins, DSIR,
  * and vocabulary building. Naming/oracle/float conventions as in
  * [[Queries]]. Gates are fully DuckDB-oracled wherever the semantics
  * are SQL-expressible; the rest (q91 k-means, q95 DSIR hashing,
  * q96 pipeline, q97 packing) are self-checking via in-query
  * raise_error on analytic invariants.
  */
object Queries6 {

  // ---- benchmark decontamination ---------------------------------------

  /** Eval-overlap decontamination (GPT-3 Appendix C / Gopher pattern):
    * documents with doc_id % 20 == 0 stand in for the benchmark suite;
    * every other document sharing a word n-gram with them is flagged
    * with its distinct-contaminating-gram count. n = 3 here because the
    * synthetic corpus draws from a ~30-word vocabulary (production runs
    * use 8-13); the plan shape — distinct benchmark grams BROADCAST,
    * corpus probed map-side, no corpus shuffle — is the 100 TB design
    * and is independent of n. The oracle recomputes grams as raw
    * strings; Spark joins on xxhash64 of the gram (collision odds
    * ~1e-12 at these cardinalities). */
  def q85Decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val evalSet = docs.where($"doc_id" % 20 === 0)
    val train = docs.where($"doc_id" % 20 =!= 0)
    Dedup.decontaminate(train, evalSet, "text", "doc_id", n = 3)
      .orderBy($"doc_id")
  }

  // tokenization matches the Spark kernel exactly: regex \s+ over the
  // trimmed text (NOT single-space split — double spaces/tabs would
  // diverge), plus the whole-text gram for docs shorter than n tokens
  // (TextAnalysis.shingles' n<k fallback)
  val q85Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id, array_to_string(w[i:i+2], ' ') AS g
      |  FROM tok, UNNEST(range(1, len(w) - 1)) AS t(i)
      |  WHERE len(w) >= 3
      |  UNION ALL
      |  SELECT doc_id, array_to_string(w, ' ') AS g FROM tok
      |  WHERE len(w) < 3),
      |ev AS (SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 0)
      |SELECT g.doc_id, COUNT(DISTINCT g.g) AS n_hits
      |FROM grams g JOIN ev ON g.g = ev.g
      |WHERE g.doc_id % 20 != 0
      |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin

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

  // ---- PII scrubbing ---------------------------------------------------

  /** PII redaction gate: the synthetic corpus carries no PII, so both
    * engines deterministically plant the same email/phone/IPv4 spans
    * (derived from doc_id; docs with doc_id % 3 == 0 stay clean, a
    * second email lands on doc_id % 5 == 0) and then redact. The green
    * hash row proves pattern semantics, replace-all behavior, and
    * pass ordering are engine-portable. Single codegen'd scan — the
    * 100 TB shape for scrubbing. */
  def q86PiiRedact(s: SparkSession, dir: String): DataFrame = {
    val planted = when($"doc_id" % 3 =!= 0, concat(
        lit("contact user"), $"doc_id".cast(StringType),
        lit("@mail.example.com or +1-"),
        lpad(($"doc_id" % 1000).cast(StringType), 3, "0"), lit("-"),
        lpad(($"doc_id" % 10000).cast(StringType), 4, "0"),
        lit(" from 10.0."), ($"doc_id" % 256).cast(StringType),
        lit(".77 "))).otherwise(lit(""))
    val extra = when($"doc_id" % 5 === 0,
      lit(" also admin@example.org")).otherwise(lit(""))
    val ptext = concat(planted, $"text", extra)
    Tables(s, dir, "documents")
      .select($"doc_id", ptext.as("ptext"))
      .select($"doc_id",
        TextAnalysis.piiRedact($"ptext").as("redacted"),
        TextAnalysis.piiCounts($"ptext").as("c"))
      .select($"doc_id", $"redacted",
        $"c.n_email".as("n_email"), $"c.n_phone".as("n_phone"),
        $"c.n_ipv4".as("n_ipv4"))
      .orderBy($"doc_id")
  }

  val q86Sql: String =
    """WITH planted AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 3 != 0 THEN
      |      'contact user' || CAST(doc_id AS VARCHAR) ||
      |      '@mail.example.com or +1-' ||
      |      lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
      |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
      |      ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.77 '
      |    ELSE '' END || text ||
      |    CASE WHEN doc_id % 5 = 0 THEN ' also admin@example.org'
      |    ELSE '' END AS ptext
      |  FROM documents)
      |SELECT doc_id,
      |  regexp_replace(regexp_replace(regexp_replace(ptext,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |    '\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}|\+1-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
      |    '\b([0-9]{1,3}\.)([0-9]{1,3}\.)([0-9]{1,3})\.[0-9]{1,3}\b',
      |    '<IPV4>', 'g') AS redacted,
      |  len(regexp_extract_all(ptext,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
      |  len(regexp_extract_all(ptext,
      |    '\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}|\+1-[0-9]{3}-[0-9]{4}')) AS n_phone,
      |  len(regexp_extract_all(ptext,
      |    '\b([0-9]{1,3}\.)([0-9]{1,3}\.)([0-9]{1,3})\.[0-9]{1,3}\b'))
      |    AS n_ipv4
      |FROM planted ORDER BY doc_id""".stripMargin

  // ---- TF-IDF ----------------------------------------------------------

  /** TF-IDF top-3 terms per document (raw tf × ln(N/df), ties broken by
    * term) — the frequency-analysis building block for vocab pruning
    * and keyword extraction. Both engines compute the score as the
    * same double expression over identical integer (tf, df, N), so the
    * rounded values hash-match exactly. */
  def q87Tfidf(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tfIdfTopTerms(Tables(s, dir, "documents"), "text", "doc_id", 3)
      .select($"doc_id", $"term", round($"score", 4).as("score"), $"rk")
      .orderBy($"doc_id", $"rk")

  val q87Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, UNNEST(string_split_regex(trim(text), '\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
      |ranked AS (
      |  SELECT tf.doc_id, tf.term,
      |    tf.tf * ln(CAST(n.n AS DOUBLE) / CAST(df.df AS DOUBLE)) AS score,
      |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
      |      ORDER BY tf.tf * ln(CAST(n.n AS DOUBLE) / CAST(df.df AS DOUBLE))
      |        DESC, tf.term) AS rk
      |  FROM tf JOIN df USING (term) CROSS JOIN n)
      |SELECT doc_id, term, ROUND(score, 4) AS score, rk
      |FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  // ---- bigram-LM perplexity (CCNet-style quality filter) ---------------

  /** Per-document perplexity under an add-alpha bigram LM estimated
    * from the corpus itself — the self-contained equivalent of the
    * CCNet/C4 KenLM quality filter. Fully oracled: per-bigram
    * log-probs go through DECIMAL(25,12) before the per-doc mean so
    * both engines sum exactly (double summation would be
    * partition-order-sensitive), and q87 already proved ln() is
    * bit-identical across engines. */
  def q89Perplexity(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bigramPerplexity(Tables(s, dir, "documents"), "text", "doc_id")
      .select($"doc_id", $"n_bigrams", round($"ppl", 4).as("ppl"))
      .orderBy($"doc_id")

  val q89Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
      |  FROM documents),
      |uni AS (SELECT doc_id, UNNEST(w) AS term FROM tok),
      |c1 AS (SELECT term, COUNT(*) AS c1 FROM uni GROUP BY 1),
      |v AS (SELECT COUNT(DISTINCT term) AS v FROM uni),
      |big AS (
      |  SELECT doc_id, array_to_string(w[i:i+1], ' ') AS g, w[i] AS w1
      |  FROM tok, UNNEST(range(1, len(w))) AS t(i) WHERE len(w) >= 2),
      |c2 AS (SELECT g, COUNT(*) AS c2 FROM big GROUP BY 1),
      |lp AS (
      |  SELECT b.doc_id,
      |    CAST(ln((c2.c2 + 0.5) / (c1.c1 + 0.5 * v.v)) AS DECIMAL(25,12))
      |      AS lp
      |  FROM big b JOIN c2 USING (g) JOIN c1 ON b.w1 = c1.term
      |  CROSS JOIN v)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |  ROUND(exp(-(CAST(SUM(lp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))), 4)
      |    AS ppl
      |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin

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
    s"""WITH ${Queries5.hashCtes("sh", 17L, "documents", "doc_id")}
       |SELECT k AS doc_id, h FROM shh ORDER BY h, k LIMIT 100""".stripMargin

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
      .unionByName(Queries2.plantedVecs(s))
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
      .select(lit(Queries2.plantBase).as("id_a"),
        lit(Queries2.plantBase + 1).as("id_b"))
      .unionByName(s.range(1)
        .select(lit(Queries2.plantBase + 2).as("id_a"),
          lit(Queries2.plantBase + 3).as("id_b")))
    val coverage = sig.agg(count(lit(1)).as("__n"),
        min($"bucket").as("__lo"), max($"bucket").as("__hi"))
      .crossJoin(corpus.agg(count(lit(1)).as("__total")))
      .select(when($"__n" === $"__total" && $"__lo" >= 0 &&
          $"__hi" < nCells, lit(true))
        .otherwise(raise_error(lit(
          "q91: k-means assignment not total / cell out of range")))
        .as("coverage_ok"))

    cand.where($"id_a" < Queries2.plantBase && $"id_b" < Queries2.plantBase)
      .select($"id_a", $"id_b", round($"cosine", 4).as("cosine"),
        $"dropped_candidates")
      .crossJoin(broadcast(Queries2.containmentCheck(twins, cand, "q91", 2)))
      .crossJoin(broadcast(coverage))
      .orderBy($"id_a", $"id_b")
  }

  // ---- bucketed co-located join ----------------------------------------

  /** Bucketed-layout co-located join: orders and lineitem are written
    * once as bucketed parquet tables on their join key (the write-time
    * shuffle), then joined WITHOUT any exchange — the gate walks the
    * physical plan and raises if a single ShuffleExchange appears under
    * the join, so `colocated_ok` is a verified plan property, not an
    * assumption. This is the at-rest layout story for 100 TB: the
    * dominant join key becomes a physical property paid once, and every
    * downstream join/agg on it is shuffle-free. Result values are fully
    * DuckDB-oracled (bucketing must not change semantics — same rows,
    * same sums). */
  def q92BucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders").select($"o_orderkey", $"o_orderstatus")
    val l = Tables(s, dir, "lineitem")
      .select($"l_orderkey", $"l_quantity", $"l_extendedprice")
    graft.sources.Bucketed.writeTable(s, o, "graft_bkt_orders",
      "o_orderkey", 8)
    graft.sources.Bucketed.writeTable(s, l, "graft_bkt_lineitem",
      "l_orderkey", 8)
    // merge hint: on small inputs Spark would otherwise broadcast (no
    // shuffle either, but proves nothing about the layout) — the gate
    // asserts the SHUFFLE-join path specifically needs no exchange
    val j = s.table("graft_bkt_orders").hint("merge")
      .join(s.table("graft_bkt_lineitem"),
        $"o_orderkey" === $"l_orderkey")
    graft.sources.Bucketed.requireColocated(j, "q92")
    j.groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n"),
        dsum($"l_quantity").as("qty_sum"),
        dsum($"l_extendedprice").as("price_sum"))
      .withColumn("colocated_ok", lit(true)) // requireColocated RAN above
      .orderBy($"o_orderstatus")
  }

  val q92Sql: String =
    """SELECT o_orderstatus, COUNT(*) AS n,
      |CAST(SUM(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) AS qty_sum,
      |CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,4))) AS DOUBLE)
      |  AS price_sum,
      |true AS colocated_ok
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

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
    s"""WITH ${Queries5.bucketCtes("st", 21L, "orders", "o_orderkey")},
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
    Seq((Queries2.plantBase, vocab.mkString(" ")),
      (Queries2.plantBase + 1,
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
        min(when($"doc_id" >= Queries2.plantBase, $"score")).as("__minP"),
        max(when($"doc_id" < Queries2.plantBase, $"score")).as("__maxC"))
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
      .unionByName(Queries2.plantedVecs(s))
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

    val pb = Queries2.plantBase
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

  // ---- salted skew join ------------------------------------------------

  /** Salted join under manufactured skew (Salting.saltedJoin): a
    * synthetic hot key absorbs every lineitem row with
    * l_orderkey % 2 = 0 (~half the table — the boilerplate-bucket
    * shape), the rest spread over 100 keys; the 101-key dimension is
    * joined with 8 salts. Fully oracled: DuckDB runs the PLAIN join on
    * the same synthetic key — a green hash row proves salting changed
    * the distribution of work and nothing else. */
  def q99SaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val skewKey = when($"l_orderkey" % 2 === 0, 0L)
      .otherwise($"l_partkey" % 100 + 1)
    val big = Tables(s, dir, "lineitem")
      .select($"l_orderkey", $"l_linenumber", $"l_quantity",
        skewKey.as("k"))
    val small = s.range(0, 101)
      .select($"id".as("k"), ($"id" * 7 % 13).as("weight"))
    Salting.saltedJoin(big, small, "k",
      struct($"l_orderkey", $"l_linenumber"), nSalts = 8)
      .groupBy($"k")
      .agg(count(lit(1)).as("n"),
        dsum($"l_quantity").as("qty_sum"),
        max($"weight").as("weight"))
      .orderBy($"k")
  }

  val q99Sql: String =
    """WITH big AS (
      |  SELECT CASE WHEN l_orderkey % 2 = 0 THEN 0
      |    ELSE l_partkey % 100 + 1 END AS k, l_quantity
      |  FROM lineitem),
      |small AS (
      |  SELECT range AS k, range * 7 % 13 AS weight FROM range(0, 101))
      |SELECT k, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) AS qty_sum,
      |  MAX(weight) AS weight
      |FROM big JOIN small USING (k)
      |GROUP BY k ORDER BY k""".stripMargin

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

  // ---- text-format round trips (JSONL / CSV sinks+sources) ------------

  /** JSONL round trip: the documents table written as JSON-lines (the
    * standard training-corpus interchange format) and read back with
    * an explicit schema, emitted row-for-row. The DuckDB oracle reads
    * the ORIGINAL parquet — a green hash row proves every byte of
    * every document survived JSON encoding/decoding (escapes, unicode)
    * and nothing was dropped or duplicated. Write = one pass, read =
    * splittable scan; JSONL at rest is the 100 TB corpus landing
    * format this engine must ingest losslessly. */
  def q102JsonlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val path = "/tmp/graft_formats/jsonl_docs"
    Tables(s, dir, "documents").select($"doc_id", $"text")
      .write.mode("overwrite").json(path)
    s.read.schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType))))
      .json(path)
      .orderBy($"doc_id")
  }

  val q102Sql: String =
    "SELECT doc_id, text FROM documents ORDER BY doc_id"

  /** CSV round trip, same contract as q102 for the CSV sink/source.
    * The options are part of the contract: `escape "` for RFC-4180
    * quote doubling, `multiLine` so embedded newlines survive the
    * read, and a sentinel nullValue on BOTH sides so empty strings
    * round-trip as empty strings instead of Spark's default
    * empty→NULL collapse. */
  def q103CsvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val path = "/tmp/graft_formats/csv_docs"
    Tables(s, dir, "documents").select($"doc_id", $"text")
      .write.mode("overwrite")
      .option("header", "true").option("escape", "\"")
      .option("nullValue", "\\N")
      .csv(path)
    s.read.schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType))))
      .option("header", "true").option("escape", "\"")
      .option("multiLine", "true").option("nullValue", "\\N")
      .csv(path)
      .orderBy($"doc_id")
  }

  val q103Sql: String = q102Sql

  // ---- frame-level broadcast arithmetic --------------------------------

  /** Frame-level operator lifting at the gate (frame/TFrameArith.scala —
    * the reference's DataFrame op surface, dataframe_cpu.py:624-1490):
    * a scalar chain `(df * 2).radd(1)` over a 4-column numeric
    * projection of lineitem, a POSITIONAL frame-frame `+` against the
    * original frame, then int-width-preserving floordiv and the
    * always-float truediv. Result dtypes follow the reference promotion
    * — l_linenumber stays int32 through the int ops, int/int truediv
    * lands float32 — which the oracle mirrors with explicit casts; the
    * double columns mirror the exact IEEE op order ((1 + 2x) + x).
    * Both zip sides sort on the unique (l_orderkey, l_linenumber) key,
    * making the positional alignment deterministic. */
  def q104FrameArith(s: SparkSession, dir: String): DataFrame = {
    // no pre-sort: the arithmetic is row-local, and the final orderBy
    // (kept for the oracle's deterministic row order) is the only sort
    // the plan needs — the earlier extra global sort was pure waste
    val base = Tables(s, dir, "lineitem")
      .select($"l_orderkey", $"l_linenumber", $"l_quantity",
        $"l_extendedprice")
    val a = graft.frame.TFrame(base)
    val out = ((a * 2L).radd(1L) + a).floordiv(7L) / 2L
    out.df.orderBy($"l_orderkey", $"l_linenumber")
  }

  val q104Sql: String =
    """SELECT
      |  CAST((((1 + 2*l_orderkey) + l_orderkey) // 7) / 2 AS REAL)
      |    AS l_orderkey,
      |  CAST((((1 + 2*l_linenumber) + l_linenumber) // 7) / 2 AS REAL)
      |    AS l_linenumber,
      |  FLOOR(((1 + 2*l_quantity) + l_quantity) / 7) / 2 AS l_quantity,
      |  FLOOR(((1 + 2*l_extendedprice) + l_extendedprice) / 7) / 2
      |    AS l_extendedprice
      |FROM lineitem ORDER BY 1, 2""".stripMargin

  // ---- stream-stream interval join --------------------------------------

  /** Stream-stream interval join at the gate
    * (EventsStream.streamStreamJoin): clicks × same-user purchases
    * within the following hour, both sides real watermarked streams;
    * oracle = the batch inequality join in µs. */
  def q105StreamStreamJoin(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventsStream.streamStreamJoin(s, dir)

  val q105Sql: String =
    """SELECT c.event_id AS c_id, p.event_id AS p_id
      |FROM events c JOIN events p
      |  ON p.user_id = c.user_id
      | AND epoch_us(p.ts) >= epoch_us(c.ts)
      | AND epoch_us(p.ts) <= epoch_us(c.ts) + 3600000000
      |WHERE c.event_type = 'click' AND p.event_type = 'purchase'
      |ORDER BY c_id, p_id""".stripMargin

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
    s"""WITH ${Queries5.bucketCtes("mx", 33L, "documents", "doc_id")},
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

  // ---- product-quantization ANN ----------------------------------------

  /** PQ/ADC ANN with exact refine (Similarity.pqTopK — Jégou et al.,
    * TPAMI 2011; refine = FAISS IndexRefineFlat): the
    * memory-compression scale path beside q51's LSH pruning and q52's
    * IVF cell pruning. The corpus embedding column is stored as 8 byte
    * codes per vector (32× compression at dim 64), probes score by
    * table lookup, and the ADC top-40 re-ranks by exact cosine (the
    * second pass reads only |probes|·40 original vectors through a
    * broadcast candidate filter). Approximate by construction — no SQL
    * oracle — but doubly self-checking like q51/q52: (a) planted
    * exact twins must rank first — pure ADC cannot force this on a
    * near-replica corpus (sf1.0's one-element-shifted replicas
    * quantize identically to the twin; pre-refine it read 0/5 there),
    * exact refine restores the guarantee for any twin surviving the
    * ADC cut (measured 5/5 at every SF incl. the sf1.0 replica
    * corpus) — and (b) recall@10 vs q50's exact brute force above the
    * pinned floor (deterministic measured 0.96 / 1.00 / 0.78 / 0.92
    * at sf0.001/0.01/0.1/sf1.0 with m=8, 256 codes, refine 4, trained
    * on a hash-ordered 4096-sample; floor 0.70). */
  def q109KnnPq(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val probes = emb.where($"vec_id" < 5)
    def run(corpus: DataFrame): DataFrame =
      graft.operators.Similarity.pqTopK(corpus, probes, "embedding",
        "vec_id", "vec_id", k = 10)
    val pq = run(emb)
    val brute = graft.operators.Similarity.bruteForceTopK(emb, probes,
      "embedding", "vec_id", "vec_id", k = 10)
    pq.select($"probe_id", $"id", $"rank")
      .crossJoin(broadcast(Queries2.annRecallCheck(pq, brute, "q109", 0.70)))
      .crossJoin(broadcast(Queries2.annTwinCheck(run, emb, probes,
        "q109", 5)))
      .orderBy($"probe_id", $"rank")
  }

  // ---- stream-stream LEFT OUTER interval join --------------------------

  /** The outer variant of q105: clicks with no purchase in the hour
    * emit a NULL p_id — the append-mode semantics where unmatched rows
    * only surface on watermark-driven state eviction (see
    * EventsStream.streamStreamOuterJoin for the sentinel that forces
    * the final flush in a bounded run). Fully oracled: DuckDB batch
    * LEFT JOIN over the same µs arithmetic. */
  def q110StreamOuterJoin(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventsStream.streamStreamOuterJoin(s, dir)

  val q110Sql: String =
    """WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
      |p AS (SELECT * FROM events WHERE event_type = 'purchase')
      |SELECT c.event_id AS c_id, p.event_id AS p_id
      |FROM c LEFT JOIN p
      |  ON p.user_id = c.user_id
      | AND epoch_us(p.ts) >= epoch_us(c.ts)
      | AND epoch_us(p.ts) <= epoch_us(c.ts) + 3600000000
      |ORDER BY c_id, p_id""".stripMargin

  // ---- IVF-ADC (IVF + PQ + refine) -------------------------------------

  /** The composed ANN production shape (Similarity.ivfPqTopK — FAISS
    * IndexIVFPQ + RefineFlat): q52's coarse cells prune WHAT is
    * scanned, q109's byte codes compress HOW, exact refine re-ranks
    * the survivors. Recall is bounded by the nProbe/nCells scan
    * fraction, not quantization (deterministic measured
    * 0.52 / 0.52 / 0.54 at sf0.001/0.01/0.1 and 0.66 on the sf1.0
    * replica corpus — the q52 band, floor 0.50); planted twins rank
    * first at every SF (same cell by construction + exact refine). */
  def q111KnnIvfPq(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val probes = emb.where($"vec_id" < 5)
    def run(corpus: DataFrame): DataFrame =
      graft.operators.Similarity.ivfPqTopK(corpus, probes, "embedding",
        "vec_id", "vec_id", k = 10)
    val got = run(emb)
    val brute = graft.operators.Similarity.bruteForceTopK(emb, probes,
      "embedding", "vec_id", "vec_id", k = 10)
    got.select($"probe_id", $"id", $"rank")
      .crossJoin(broadcast(Queries2.annRecallCheck(got, brute, "q111", 0.50)))
      .crossJoin(broadcast(Queries2.annTwinCheck(run, emb, probes,
        "q111", 5)))
      .orderBy($"probe_id", $"rank")
  }

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q85_decontaminate" -> (q85Decontaminate _),
    "q86_pii_redact" -> (q86PiiRedact _),
    "q87_tfidf" -> (q87Tfidf _),
    "q88_dup_groups" -> (q88DupGroups _),
    "q89_perplexity" -> (q89Perplexity _),
    "q90_shuffle_order" -> (q90ShuffleOrder _),
    "q91_semdedup" -> (q91SemDedup _),
    "q92_bucketed_join" -> (q92BucketedJoin _),
    "q93_stratified" -> (q93Stratified _),
    "q94_keep_best" -> (q94KeepBest _),
    "q95_dsir" -> (q95Dsir _),
    "q96_sem_pipeline" -> (q96SemPipeline _),
    "q97_packing" -> (q97Packing _),
    "q98_chunk" -> (q98Chunk _),
    "q99_salted_join" -> (q99SaltedJoin _),
    "q101_build_vocab" -> (q101BuildVocab _),
    "q102_jsonl_roundtrip" -> (q102JsonlRoundtrip _),
    "q103_csv_roundtrip" -> (q103CsvRoundtrip _),
    "q104_frame_arith" -> (q104FrameArith _),
    "q105_stream_stream_join" -> (q105StreamStreamJoin _),
    "q106_mix_to_target" -> (q106MixToTarget _),
    "q107_para_dedup" -> (q107ParaDedup _),
    "q108_bpe_train" -> (q108BpeTrain _),
    "q109_knn_pq" -> (q109KnnPq _),
    "q110_stream_outer_join" -> (q110StreamOuterJoin _),
    "q111_knn_ivfpq" -> (q111KnnIvfPq _)
  )

  val oracles: Map[String, String] = Map(
    "q85_decontaminate" -> q85Sql,
    "q86_pii_redact" -> q86Sql,
    "q87_tfidf" -> q87Sql,
    "q88_dup_groups" -> q88Sql,
    "q89_perplexity" -> q89Sql,
    "q90_shuffle_order" -> q90Sql,
    "q92_bucketed_join" -> q92Sql,
    "q93_stratified" -> q93Sql,
    "q94_keep_best" -> q94Sql,
    "q98_chunk" -> q98Sql,
    "q99_salted_join" -> q99Sql,
    "q101_build_vocab" -> q101Sql,
    "q102_jsonl_roundtrip" -> q102Sql,
    "q103_csv_roundtrip" -> q103Sql,
    "q104_frame_arith" -> q104Sql,
    "q105_stream_stream_join" -> q105Sql,
    "q106_mix_to_target" -> q106Sql,
    "q107_para_dedup" -> q107Sql,
    "q110_stream_outer_join" -> q110Sql
  )
}
