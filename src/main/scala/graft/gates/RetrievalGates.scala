package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Functional
import graft.operators.{GroupTopK, Retrieval, Similarity}

/** Retrieval gates: exact and approximate nearest neighbours (LSH,
  * IVF, product quantization), BM25 and the inverted index, hybrid
  * rank fusion and retrieval evaluation.
  */
object RetrievalGates extends GateFamily("retrieval") {

  import DedupGates.plantBase

  lazy val gates: Seq[Gate] = Seq(
    Gate("q50_knn_brute", q50KnnBrute, Some(q50Sql)),
    Gate("q51_knn_lsh", q51KnnLsh),
    Gate("q52_knn_ivf", q52KnnIvf,
      eager = Some("driver pull of the k-means IVF centroids")),
    Gate("q109_knn_pq", q109KnnPq,
      eager = Some("driver pull of the trained PQ codebooks")),
    Gate("q111_knn_ivfpq", q111KnnIvfPq,
      eager = Some("driver pull of IVF centroids and PQ codebooks")),
    Gate("q146_bm25", q146Bm25, Some(q146Sql),
      eager = Some("driver pull of the corpus term statistics")),
    Gate("q151_inverted_index", q151InvertedIndex, Some(q151Sql)),
    Gate("q278_bm25_topk", q278Bm25, Some(q278Sql)),
    Gate("q279_hybrid_rrf", q279HybridRrf, Some(q279Sql)),
    Gate("q280_retrieval_eval", q280RetrievalEval, Some(q280Sql)),
    Gate("q283_prf_expansion", q283PrfExpansion, Some(q283Sql),
      eager = Some("driver pull of top feedback terms per query")),
    Gate("q285_hard_negatives", q285HardNegatives, Some(q285Sql)),
    Gate("q303_pq_adc", q303PqAdc, Some(q303Sql))
  )

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

  // ---- IVF ANN (the second scale path beside LSH; rows-only:
  //      approximate by construction) --------------------------------

  /** Self-checking (round 8): (a) planted-twin guarantee — an exact
    * copy of each probe in the corpus must rank first (same IVF cell
    * by construction) — and (b) recall@10 vs the exact brute-force
    * ranking, raise_error below the pinned floor. The floor is the
    * deterministic measured result on this synthetic corpus
    * (0.52/0.52/0.56 at sf0.001/0.01/0.1 with the hash-ordered
    * quantizer sample, round 11): near-uniform vectors have no cluster
    * structure for the coarse quantizer to exploit, so nProbe/nCells =
    * 4/16 recall tracks the 25% scan fraction. On data WITH cluster
    * structure the sampling discipline is what separates working IVF
    * from noise — SimilaritySpec pins 1.00-vs-0.53 hash-vs-first-N.
    * See RetrievalGates.annTwinCheck/annRecallCheck. */
  def q52KnnIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val probes = emb.where($"vec_id" < 5)
    def run(corpus: DataFrame): DataFrame =
      graft.operators.Similarity.ivfTopK(corpus, probes, "embedding",
        "vec_id", "vec_id", k = 10, nCells = 16, nProbe = 4)
    val ivf = run(emb)
    val brute = graft.operators.Similarity.bruteForceTopK(emb, probes,
      "embedding", "vec_id", "vec_id", k = 10)
    ivf.select($"probe_id", $"id", $"rank")
      .crossJoin(broadcast(RetrievalGates.annRecallCheck(ivf, brute, "q52", 0.50)))
      .crossJoin(broadcast(RetrievalGates.annTwinCheck(run, emb, probes, "q52", 5)))
      .orderBy($"probe_id", $"rank")
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
      .crossJoin(broadcast(RetrievalGates.annRecallCheck(pq, brute, "q109", 0.70)))
      .crossJoin(broadcast(RetrievalGates.annTwinCheck(run, emb, probes,
        "q109", 5)))
      .orderBy($"probe_id", $"rank")
  }

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
      .crossJoin(broadcast(RetrievalGates.annRecallCheck(got, brute, "q111", 0.50)))
      .crossJoin(broadcast(RetrievalGates.annTwinCheck(run, emb, probes,
        "q111", 5)))
      .orderBy($"probe_id", $"rank")
  }

  // ---- q146: BM25 lexical retrieval scoring -----------------------------

  /** The fixed query-term set scored against every document. Small by
    * construction (a user query), so its per-term statistics collect to
    * the driver and embed as literals — the corpus is scanned, never
    * shuffled. */
  private val bm25Terms = Seq("merge", "window", "hash", "scan")

  /** BM25 retrieval scoring of the whole corpus against a fixed query —
    * the lexical half of every RAG / data-selection stack (Robertson &
    * Zaragoza 2009). Two scans, zero corpus shuffles:
    *
    *  1. stats scan: one tiny aggregate (N docs, total tokens, per-term
    *     document frequencies — |query|+2 numbers) collects to the
    *     driver;
    *  2. score scan: per-doc term frequencies are row-local array ops,
    *     the BM25 formula is a codegen'd expression over driver-embedded
    *     literal idf/avgdl, and the top-20 survives via TakeOrdered
    *     (orderBy+limit — no full sort, no window).
    *
    * Engine-exact scoring: the classic formula's `ln` is replaced by the
    * rational idf (N − df + ½)/(df + ½) — order-preserving in df, and
    * every operation in the whole score is IEEE +,·,/ on doubles derived
    * from exact integers, evaluated in the same textual order the oracle
    * replays, so the doubles match bit-for-bit (same discipline as
    * q128's percent_rank). k1 = 1.2, b = 0.75 (the standard defaults).
    * At 100 TB the plan is unchanged: the stats aggregate is map-side
    * partial, the score scan is embarrassingly parallel, TakeOrdered
    * keeps 20 rows per partition. */
  def q146Bm25(s: SparkSession, dir: String): DataFrame = {
    val toks = split(trim($"text"), "\\s+")
    val d = Tables(s, dir, "documents")
      .select($"doc_id" +: size(toks).cast(LongType).as("dl") +:
        bm25Terms.zipWithIndex.map { case (w, i) =>
          size(filter(toks, x => x === w)).cast(LongType).as(s"tf_$i")
        }: _*)
    val aggs = count(lit(1)).as("n") +: sum($"dl").as("tot") +:
      bm25Terms.indices.map(i =>
        sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i"))
    val stats = d.agg(aggs.head, aggs.tail: _*).head()
    val nD = stats.getLong(0).toDouble
    val avgdl = stats.getLong(1).toDouble / nD
    val score = bm25Terms.indices.map { i =>
      val dfD = stats.getLong(2 + i).toDouble
      val idf = (nD - dfD + 0.5) / (dfD + 0.5)
      val tf = col(s"tf_$i").cast(DoubleType)
      lit(idf) * ((tf * lit(2.2)) /
        (tf + lit(1.2) * (lit(0.25) +
          lit(0.75) * ($"dl".cast(DoubleType) / lit(avgdl)))))
    }.reduce(_ + _)
    d.select($"doc_id", score.as("score"))
      .orderBy($"score".desc, $"doc_id")
      .limit(20)
  }

  /** DuckDB replays the identical arithmetic: rational idf from the
    * same integer stats, the same left-associated term sum, the same
    * double divisions — bit-equality is the contract, not closeness. */
  val q146Sql: String = {
    val selTf = bm25Terms.zipWithIndex.map { case (w, i) =>
      s"CAST(len(list_filter(w, x -> x = '$w')) AS DOUBLE) AS tf_$i"
    }.mkString(", ")
    val selDf = bm25Terms.indices.map(i =>
      s"CAST(sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_$i")
      .mkString(", ")
    val score = bm25Terms.indices.map(i =>
      s"((CAST(g.n AS DOUBLE) - df_$i + 0.5) / (df_$i + 0.5)) * " +
        s"((tf_$i * 2.2) / (tf_$i + 1.2 * (0.25 + 0.75 * (dl / avgdl))))")
      .mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
       |  FROM documents),
       |d AS (
       |  SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl, $selTf FROM tok),
       |g AS (
       |  SELECT count(*) AS n, $selDf,
       |    CAST(sum(CAST(dl AS BIGINT)) AS DOUBLE) /
       |      CAST(count(*) AS DOUBLE) AS avgdl
       |  FROM d)
       |SELECT doc_id, $score AS score
       |FROM d, g
       |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
  }

  // ---- q151: inverted index with bounded posting lists ------------------

  /** Term → (document frequency, first-k postings) — the retrieval
    * index build that feeds q146's BM25 at scale. The corpus explodes
    * to distinct (term, doc_id) pairs once; df is a plain count, and
    * the posting list is [[GroupTopK.minKByKey]] — the partial-merging
    * bounded k-heap aggregator, so only k·|terms| rows shuffle for the
    * lists and NO WindowExec appears anywhere (asserted). A full
    * production index keeps all postings doc_id-sorted per term via
    * repartitionByRange(term) + sortWithinPartitions — the bounded
    * variant here is the skew-safe head every query path touches
    * first. */
  def q151InvertedIndex(s: SparkSession, dir: String): DataFrame = {
    val td = Tables(s, dir, "documents")
      .select($"doc_id",
        explode(array_distinct(split(trim($"text"), "\\s+"))).as("term"))
    val stats = td.groupBy($"term").agg(count(lit(1)).as("df"))
    val posts = GroupTopK.minKByKey(td, Seq("term"), "doc_id",
        $"doc_id", 8)
      .groupBy($"term")
      .agg(sort_array(collect_list(struct($"rank", $"id"))).as("ps"))
      // array_join to a flat string: the driver's hasher handles only
      // scalar columns (round-12 q151 ERRORED on the raw array), and
      // the joined form carries the same information
      .select($"term",
        array_join(
          transform($"ps", p => p.getField("id").cast(StringType)),
          " ").as("postings"))
    val result = stats.join(posts, "term").orderBy($"term")
    val plan = result.queryExecution.executedPlan.toString()
    require(!plan.contains("WindowExec"),
      s"q151: posting lists fell back to a window sort:\n${plan.take(600)}")
    result
  }

  val q151Sql: String =
    """WITH td AS (
      |  SELECT DISTINCT doc_id, term FROM (
      |    SELECT doc_id,
      |      unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      |    FROM documents))
      |SELECT term, count(*) AS df,
      |  array_to_string((list(doc_id ORDER BY doc_id))[1:8], ' ')
      |    AS postings
      |FROM td GROUP BY term ORDER BY term""".stripMargin

  // ---- q278: BM25 top-k lexical retrieval, hashed ----------------------------

  /** [[Retrieval.bm25TopK]] over the documents corpus for four fixed
    * queries: the full chain — whitespace postings, vocabulary-sized
    * df/broadcast, per-term Lucene-form idf × tf-norm as the identical
    * IEEE double expression on both engines, DECIMAL(20,12) mediation
    * before the per-doc sum (partition-order-independent), and the
    * window-free partial-merging k-heap per query — restated from
    * first principles in DuckDB, including the ×10¹² integer score
    * witness the top-k orders on. A green hash certifies scores AND
    * the selected/ranked sets bit-for-bit. */
  def q278Bm25(s: SparkSession, dir: String): DataFrame = {
    val queries = retrievalQueries
    Retrieval.bm25TopK(Tables(s, dir, "documents"), "doc_id", "text",
        queries, k = 5)
      .orderBy($"qid", $"rank")
  }

  val q278Sql: String =
    s"""WITH $bm25CorpusCtes,
      |${bm25ScoreCtes("q", "")},
      |r AS (SELECT qid, doc_id, score_units,
      |  row_number() OVER (PARTITION BY qid
      |    ORDER BY score_units DESC, doc_id) AS rk FROM u)
      |SELECT CAST(qid AS BIGINT) AS qid, CAST(rk AS BIGINT) AS rank,
      |  doc_id, score_units,
      |  CAST(score_units AS DOUBLE) / 1e12 AS score
      |FROM r WHERE rk <= 5 ORDER BY qid, rank""".stripMargin

  // ---- q279: hybrid retrieval via reciprocal-rank fusion, hashed -------------

  /** [[Retrieval.rrfFuse]] over two real sides — the q278 BM25 chain
    * (lexical, k=20 over documents) and the q50 brute-cosine chain
    * (dense, k=20 over embeddings; probe vectors = embeddings of ids
    * 0..3, qid = probe id) — fused per query into top-10 by the exact
    * packed integer key. Fusion is rank-only, so the dense side's
    * doubles never enter the hash; what DuckDB must reproduce is the
    * RANKINGS (the q50 fp-independent rank-compare precedent) and then
    * pure integer arithmetic: u = 10¹² div (60+rank), packed = Σ(8u+1),
    * rrf_units = packed div 8, sides_hit = packed mod 8, top-10 by
    * (packed desc, id asc). Ids present on one side only (a doc with
    * no embedding, a vector whose doc shares no query term) fuse with
    * sides_hit = 1 — the realistic hybrid case — and the doc-id/vec-id
    * spaces are the shared entity-id space by corpus construction. */
  def q279HybridRrf(s: SparkSession, dir: String): DataFrame = {
    val queries = retrievalQueries
    val lex = Retrieval.bm25TopK(Tables(s, dir, "documents"), "doc_id", "text",
        queries, k = 20)
      .select($"qid", $"doc_id".as("id"), $"rank")
    val emb = Tables(s, dir, "embeddings")
    val den = Similarity.bruteForceTopK(emb, emb.where($"vec_id" < 4),
        "embedding", "vec_id", "vec_id", k = 20)
      .select($"probe_id".as("qid"), $"id", $"rank")
    Retrieval.rrfFuse(Seq(lex, den), "qid", "id", "rank", k = 10)
      .orderBy($"qid", $"rank")
  }

  val q279Sql: String =
    s"""WITH $bm25CorpusCtes,
      |${bm25ScoreCtes("q", "")},
      |lex AS (SELECT qid, doc_id AS id, rk AS rnk FROM (
      |  SELECT qid, doc_id, row_number() OVER (PARTITION BY qid
      |    ORDER BY score_units DESC, doc_id) AS rk FROM u)
      |  WHERE rk <= 20),
      |den AS (SELECT probe_id AS qid, id, rank AS rnk FROM (
      |  SELECT p.vec_id AS probe_id, c.vec_id AS id,
      |    ROW_NUMBER() OVER (PARTITION BY p.vec_id ORDER BY
      |      list_cosine_similarity(c.embedding, p.embedding) DESC,
      |      c.vec_id ASC) AS rank
      |  FROM embeddings c, embeddings p
      |  WHERE p.vec_id < 4 AND c.vec_id <> p.vec_id)
      |  WHERE rank <= 20),
      |pk AS (SELECT qid, id,
      |  CAST(SUM((1000000000000 // (60 + rnk)) * 8 + 1) AS BIGINT)
      |    AS packed
      |  FROM (SELECT * FROM lex UNION ALL SELECT * FROM den)
      |  GROUP BY 1, 2),
      |r AS (SELECT qid, id, packed, row_number() OVER (PARTITION BY qid
      |  ORDER BY packed DESC, id) AS rank FROM pk)
      |SELECT CAST(qid AS BIGINT) AS qid, CAST(rank AS BIGINT) AS rank, id,
      |  CAST(packed // 8 AS BIGINT) AS rrf_units,
      |  CAST(packed % 8 AS BIGINT) AS sides_hit
      |FROM r WHERE rank <= 10 ORDER BY qid, rank""".stripMargin

  /** The fixed retrieval query set shared by q278-q285. */
  private val retrievalQueries = Seq(
    0L -> "hash join",
    1L -> "sort merge join",
    2L -> "window agg stream",
    3L -> "vector scan fast")

  /** The q280/q285 shared judgment set: grade = number of distinct
    * query terms the document contains, kept at grade >= 2 so the
    * judgment is STRICTER than BM25's any-term match condition. ONE
    * definition, so the evaluation gate and the hard-negative gate
    * provably consume the identical relevance set. */
  private def gradedRel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val qterms = retrievalQueries
      .flatMap { case (qid, q) =>
        q.trim.split("\\s+").filter(_.nonEmpty).distinct
          .map(tm => (qid, tm))
      }
      .toDF("qid", "term")
    Tables(s, dir, "documents")
      .select($"doc_id", explode(split(trim($"text"), "\\s+")).as("term"))
      .distinct()
      .join(broadcast(qterms), "term")
      .groupBy($"qid", $"doc_id")
      .agg(count(lit(1)).as("grade"))
      .where($"grade" >= 2L)
      .select($"qid", $"doc_id".as("id"), $"grade")
  }

  // ---- q280: judged retrieval evaluation (nDCG/MRR/P/R @10), hashed ----------

  /** [[Retrieval.evalAtK]] grading the q278 BM25 run (k=20) against a
    * relevance set DERIVED FROM DATA: grade = number of distinct query
    * terms a document contains, kept at grade >= 2 so the judgment is
    * STRICTER than the retriever's match condition (single-term docs
    * score BM25 points but count as non-relevant) — precision, MRR and
    * nDCG are then real measurements, not tautologies. DCG uses the
    * natural-log discount so both engines evaluate the identical IEEE
    * chain; every term passes DECIMAL(20,12) before the per-query sum;
    * mrr_units is pure integer division; each ratio is one double
    * division of exact integers. The ideal ranking is the k-heap over
    * the relevance set (grade desc, id asc), window-free. */
  def q280RetrievalEval(s: SparkSession, dir: String): DataFrame = {
    val run = Retrieval.bm25TopK(Tables(s, dir, "documents"), "doc_id", "text",
        retrievalQueries, k = 20)
      .select($"qid", $"doc_id".as("id"), $"rank")
    Retrieval.evalAtK(run, gradedRel(s, dir), k = 10).orderBy($"qid")
  }

  val q280Sql: String =
    s"""WITH $bm25CorpusCtes,
      |${bm25ScoreCtes("q", "")},
      |run AS (SELECT qid, doc_id AS id, rk AS rank FROM (
      |  SELECT qid, doc_id, row_number() OVER (PARTITION BY qid
      |    ORDER BY score_units DESC, doc_id) AS rk FROM u)
      |  WHERE rk <= 20),
      |rel AS (
      |  SELECT qid, doc_id AS id, COUNT(*) AS grade FROM (
      |    SELECT DISTINCT q.qid, q.term, tok.doc_id FROM tok
      |    JOIN q USING (term))
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |hits AS (SELECT run.qid, run.id, run.rank, rel.grade
      |  FROM run JOIN rel USING (qid, id) WHERE run.rank <= 10),
      |dcg AS (SELECT qid,
      |  CAST(SUM(CAST(CAST((1 << grade) - 1 AS DOUBLE) / ln(CAST(rank AS DOUBLE) + 1.0)
      |    AS DECIMAL(20,12))) * 1000000000000 AS BIGINT) AS dcg_units,
      |  CAST(COUNT(*) AS BIGINT) AS hits,
      |  CAST(1000000000000 // MIN(rank) AS BIGINT) AS mrr_units
      |  FROM hits GROUP BY 1),
      |ideal AS (SELECT qid, grade, row_number() OVER (PARTITION BY qid
      |  ORDER BY grade DESC, id) AS rank FROM rel),
      |idcg AS (SELECT qid,
      |  CAST(SUM(CAST(CAST((1 << grade) - 1 AS DOUBLE) / ln(CAST(rank AS DOUBLE) + 1.0)
      |    AS DECIMAL(20,12))) * 1000000000000 AS BIGINT) AS idcg_units
      |  FROM ideal WHERE rank <= 10 GROUP BY 1),
      |relt AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS rel_total
      |  FROM rel GROUP BY 1),
      |base AS (SELECT DISTINCT qid FROM run
      |  INTERSECT SELECT DISTINCT qid FROM rel)
      |SELECT CAST(qid AS BIGINT) AS qid,
      |  CAST(coalesce(hits, 0) AS BIGINT) AS hits, rel_total,
      |  CAST(coalesce(dcg_units, 0) AS BIGINT) AS dcg_units,
      |  idcg_units,
      |  round(CAST(coalesce(dcg_units, 0) AS DOUBLE)
      |    / CAST(idcg_units AS DOUBLE), 6) AS ndcg,
      |  CAST(coalesce(mrr_units, 0) AS BIGINT) AS mrr_units,
      |  round(CAST(coalesce(hits, 0) AS DOUBLE) / 10.0, 6) AS "precision",
      |  round(CAST(coalesce(hits, 0) AS DOUBLE)
      |    / CAST(rel_total AS DOUBLE), 6) AS recall
      |FROM base JOIN idcg USING (qid) JOIN relt USING (qid)
      |  LEFT JOIN dcg USING (qid)
      |ORDER BY qid""".stripMargin

  // ---- q283: BM25 with pseudo-relevance-feedback expansion, hashed -----------

  /** The shared DuckDB corpus/query CTE prefix for the BM25 oracles
    * (q278/q279/q280/q283/q285): postings, lengths, document
    * frequencies, corpus totals, and the fixed [[retrievalQueries]] as
    * a VALUES relation — ONE definition, so a tweak to the corpus
    * statistics cannot silently diverge one gate's oracle from the
    * operator. */
  // a def, not a val: the q278/q279/q280 oracle vals above initialize
  // BEFORE this point in object-init order — a val here would
  // interpolate as null into them
  private def bm25CorpusCtes: String =
    """tok AS (
      |  SELECT doc_id, UNNEST(string_split_regex(trim(text), '\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      |dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
      |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
      |tot AS (SELECT SUM(dl) AS tot FROM dl),
      |q(qid, term) AS (VALUES
      |  (0,'hash'),(0,'join'),
      |  (1,'sort'),(1,'merge'),(1,'join'),
      |  (2,'window'),(2,'agg'),(2,'stream'),
      |  (3,'vector'),(3,'scan'),(3,'fast'))""".stripMargin

  /** DuckDB BM25 scoring CTEs against query relation `qRel(qid, term)`
    * — the q278 chain parameterized so q283 can run it twice (original
    * and expanded query sets) in one statement. Emits `u$tag(qid,
    * doc_id, score_units)`. */
  private def bm25ScoreCtes(qRel: String, tag: String): String =
    s"""sc$tag AS (
       |  SELECT qq.qid, tf.doc_id,
       |    CAST(
       |      ln(1.0 + (CAST(n.n AS DOUBLE) - CAST(dfreq.df AS DOUBLE) + 0.5)
       |        / (CAST(dfreq.df AS DOUBLE) + 0.5))
       |      * ((CAST(tf.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0)) /
       |         (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
       |          ((1.0 - CAST(0.75 AS DOUBLE)) + CAST(0.75 AS DOUBLE) *
       |           (CAST(dl.dl AS DOUBLE) /
       |            (CAST(tot.tot AS DOUBLE) / CAST(n.n AS DOUBLE))))))
       |      AS DECIMAL(20,12)) AS s
       |  FROM tf JOIN $qRel qq USING (term) JOIN dfreq USING (term)
       |    JOIN dl USING (doc_id) CROSS JOIN n CROSS JOIN tot),
       |agg$tag AS (SELECT qid, doc_id, CAST(SUM(s) AS DECIMAL(20,12))
       |    AS score FROM sc$tag GROUP BY 1, 2),
       |u$tag AS (SELECT qid, doc_id,
       |  CAST(score * 1000000000000 AS BIGINT) AS score_units
       |  FROM agg$tag)""".stripMargin

  /** [[Retrieval.bm25PrfTopK]] end-to-end: BM25 feedback run (top-5
    * docs per query), RM1 term weights Σ tf/dl over the feedback set
    * (each division one IEEE expression, DECIMAL-mediated,
    * ×10¹²-witnessed), the 3 heaviest terms (weight desc, term asc)
    * appended to the query, and the expanded BM25 re-run — DuckDB
    * replays BOTH scoring passes, the feedback selection, the RM1
    * arithmetic, and the expansion pick in one statement. A green hash
    * certifies the full two-stage chain, including that both engines
    * chose the SAME expansion vocabulary. */
  def q283PrfExpansion(s: SparkSession, dir: String): DataFrame = {
    val queries = retrievalQueries
    Retrieval.bm25PrfTopK(Tables(s, dir, "documents"), "doc_id", "text",
        queries, k = 5, fbDocs = 5, fbTerms = 3)
      .orderBy($"qid", $"rank")
  }

  val q283Sql: String =
    s"""WITH $bm25CorpusCtes,
       |${bm25ScoreCtes("q", "1")},
       |fb AS (SELECT qid, doc_id FROM (
       |  SELECT qid, doc_id, row_number() OVER (PARTITION BY qid
       |    ORDER BY score_units DESC, doc_id) AS rk FROM u1)
       |  WHERE rk <= 5),
       |rm1 AS (SELECT fb.qid, tf.term,
       |  CAST(SUM(CAST(CAST(tf.tf AS DOUBLE) / CAST(dl.dl AS DOUBLE)
       |    AS DECIMAL(20,12))) * 1000000000000 AS BIGINT) AS wu
       |  FROM fb JOIN tf USING (doc_id) JOIN dl USING (doc_id)
       |  GROUP BY 1, 2),
       |ex AS (SELECT qid, term FROM (
       |  SELECT qid, term, row_number() OVER (PARTITION BY qid
       |    ORDER BY wu DESC, term) AS rk FROM rm1)
       |  WHERE rk <= 3),
       |q2 AS (SELECT qid, term FROM q UNION
       |  SELECT qid, term FROM ex),
       |${bm25ScoreCtes("q2", "2")},
       |r AS (SELECT qid, doc_id, score_units,
       |  row_number() OVER (PARTITION BY qid
       |    ORDER BY score_units DESC, doc_id) AS rk FROM u2)
       |SELECT CAST(qid AS BIGINT) AS qid, CAST(rk AS BIGINT) AS rank,
       |  doc_id, score_units,
       |  CAST(score_units AS DOUBLE) / 1e12 AS score
       |FROM r WHERE rk <= 5 ORDER BY qid, rank""".stripMargin

  // ---- q285: hard-negative mining for contrastive training, hashed -----------

  /** Contrastive-training data prep: per query, the highest-BM25-scored
    * documents that are NOT in the judgment set — hard negatives, the
    * examples that teach an embedding model the decision boundary
    * (random negatives are trivially separable). Mined from the FULL
    * scored set ([[Retrieval.bm25Scores]]) rather than a fixed-depth
    * run: BM25 correctly puts multi-term matches first, so the
    * non-relevant band starts BELOW the judgment set at a corpus-
    * dependent depth — any top-k prefix deep enough at one SF is
    * all-relevant at another (measured: k=1000 mines 12 negatives at
    * sf0.01 and ZERO on the 10× replica). judgments = the SAME
    * gradedRel set q280 evaluates against (one definition, two
    * gates); negatives = scored ANTI-JOIN judgments, top-3 per query
    * by (score desc, id asc) via the window-free k-heap. */
  def q285HardNegatives(s: SparkSession, dir: String): DataFrame = {
    val queries = retrievalQueries
    val scored = Retrieval.bm25Scores(Tables(s, dir, "documents"), "doc_id",
        "text", queries)
      .select($"qid", $"doc_id".as("id"), $"score_units")
    val negs = scored.join(gradedRel(s, dir).select($"qid", $"id"),
      Seq("qid", "id"), "left_anti")
    graft.operators.GroupTopK.minKByKey(negs, Seq("qid"), "id",
        key = -$"score_units", k = 3)
      .select($"qid", col("rank").cast(LongType).as("neg_rank"),
        $"id", (-$"key").as("score_units"))
      .orderBy($"qid", $"neg_rank")
  }

  val q285Sql: String =
    s"""WITH $bm25CorpusCtes,
      |${bm25ScoreCtes("q", "")},
      |rel AS (
      |  SELECT qid, doc_id AS id FROM (
      |    SELECT DISTINCT q.qid, q.term, tok.doc_id FROM tok
      |    JOIN q USING (term))
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |negs AS (SELECT u.qid, u.doc_id AS id, u.score_units FROM u
      |  WHERE NOT EXISTS (SELECT 1 FROM rel
      |    WHERE rel.qid = u.qid AND rel.id = u.doc_id)),
      |nr AS (SELECT qid, id, score_units,
      |  row_number() OVER (PARTITION BY qid
      |    ORDER BY score_units DESC, id) AS neg_rank
      |  FROM negs)
      |SELECT CAST(qid AS BIGINT) AS qid, CAST(neg_rank AS BIGINT)
      |    AS neg_rank, id, score_units
      |FROM nr WHERE neg_rank <= 3 ORDER BY qid, neg_rank""".stripMargin

  // ---- q303: PQ asymmetric-distance tables, hashed companion -----------------

  private val PqSeed = 6067L

  private val PqCbSeed = 6079L

  private val PqDim = 16

  private val PqM = 4

  private val PqCodes = 8

  private val PqSub = PqDim / PqM

  /** Pinned INTEGER-valued codebook (splitmix64-derived, ±10): with
    * integer centroids and integer vectors every PQ distance, LUT
    * entry, and ADC score is exact integer arithmetic inside IEEE
    * doubles — order-free, so DuckDB can restate it bit-for-bit. */
  private def pqCodebook: Array[Double] =
    Array.tabulate(PqM * PqCodes * PqSub) { x =>
      ((graft.functions.Kernels.sampleHash(x + 1L, PqCbSeed) >>> 8)
        % 21L - 10L).toDouble
    }

  /** Hashed companion to the q109/q111 ANN recall gates (the q292/q250
    * pattern): the TRAINED codebooks are engine-defined (driver
    * k-means over IEEE doubles — summation-order-sensitive, not
    * restatable), but the PQ DISTANCE MACHINERY under both gates —
    * [[graft.functions.Kernels#pqEncode]] (argmin code assignment,
    * earliest-code tie rule), pqLut (per-probe dot tables), pqScore
    * (m-lookup ADC sum) — is pure arithmetic. This gate runs exactly
    * those kernels over an integer-valued synthetic embedding corpus
    * and a PINNED integer codebook, emitting every vector's packed
    * code word and every (probe, vector) ADC score; DuckDB re-derives
    * all of it (argmin with the same d2-then-code ordering, exact
    * integer sums). Takes the q109/q111 ledger rows from "self-check
    * only" to "self-check + hashed companion on the distance tables";
    * only the k-means trainer itself stays engine-defined. */
  def q303PqAdc(s: SparkSession, dir: String): DataFrame = {
    val synthVec = udf((id: Long) => Array.tabulate(PqDim)(i =>
      (((graft.functions.Kernels.sampleHash(id * 256L + i, PqSeed)
        >>> 8) % 41L) - 20L).toFloat))
    val p0 = DedupGates.plantBase
    val corpus = Tables(s, dir, "documents")
      .select($"doc_id", synthVec($"doc_id").as("vec"))
    val probes = s.range(4)
      .select(($"id" + p0).as("probe_id"))
      .select($"probe_id", synthVec($"probe_id").as("vec"))
    val cbLit = lit(pqCodebook)
    val codes = corpus.select($"doc_id",
      Functional.pqEncode($"vec", cbLit, PqM, PqCodes).as("codes"))
    // base-8 packing of the m byte codes — one BIGINT per vector the
    // oracle can restate without array semantics
    val packed = (0 until PqM).map(mi =>
        element_at($"codes", mi + 1).cast(LongType) * (1L << (3 * mi)))
      .reduce(_ + _)
    val luts = broadcast(probes.select($"probe_id",
      Functional.pqLut($"vec", cbLit, PqM, PqCodes).as("lut")))
    // the production ADC scan shape: probe LUTs broadcast over the
    // code column, m table lookups per (probe, vector) — no original
    // vectors touched
    codes.crossJoin(luts)
      .select($"probe_id", $"doc_id", packed.as("code_packed"),
        Functional.pqScore($"codes", $"lut", PqCodes)
          .cast(LongType).as("adc"))
      .orderBy($"probe_id", $"doc_id")
  }

  val q303Sql: String = {
    val p0 = DedupGates.plantBase
    s"""WITH pvk AS (
       |  SELECT g.id, CAST(r.range AS BIGINT) AS i,
       |    g.id * 256 + r.range AS bkey
       |  FROM (SELECT doc_id AS id FROM documents
       |        UNION ALL SELECT $p0 + rr.range FROM range(4) rr) g
       |  CROSS JOIN range($PqDim) r),
       |pvkeys AS (SELECT DISTINCT bkey FROM pvk),
       |${LmPrepGates.hashCtes("pv", PqSeed, "pvkeys", "bkey")},
       |pvu AS (SELECT k, CAST(CASE WHEN h < 0
       |    THEN CAST(h AS HUGEINT) + 18446744073709551616
       |    ELSE CAST(h AS HUGEINT) END AS UBIGINT) AS u FROM pvh),
       |vec AS (SELECT p.id, p.i,
       |    CAST((pvu.u >> 8) % 41 AS BIGINT) - 20 AS c
       |  FROM pvk p JOIN pvu ON p.bkey = pvu.k),
       |cbk AS (SELECT CAST(r.range AS BIGINT) AS x,
       |    r.range + 1 AS bkey
       |  FROM range(${PqM * PqCodes * PqSub}) r),
       |cbkeys AS (SELECT DISTINCT bkey FROM cbk),
       |${LmPrepGates.hashCtes("cv", PqCbSeed, "cbkeys", "bkey")},
       |cvu AS (SELECT k, CAST(CASE WHEN h < 0
       |    THEN CAST(h AS HUGEINT) + 18446744073709551616
       |    ELSE CAST(h AS HUGEINT) END AS UBIGINT) AS u FROM cvh),
       |cb AS (SELECT b.x // ${PqCodes * PqSub} AS mi,
       |    (b.x // $PqSub) % $PqCodes AS j, b.x % $PqSub AS i,
       |    CAST((cvu.u >> 8) % 21 AS BIGINT) - 10 AS w
       |  FROM cbk b JOIN cvu ON b.bkey = cvu.k),
       |d2 AS (SELECT v.id, c.mi, c.j,
       |    SUM((c.w - v.c) * (c.w - v.c)) AS d2
       |  FROM vec v JOIN cb c ON v.i = c.mi * $PqSub + c.i
       |  WHERE v.id < $p0
       |  GROUP BY 1, 2, 3),
       |code AS (SELECT id, mi, j FROM (
       |    SELECT id, mi, j, ROW_NUMBER() OVER (
       |      PARTITION BY id, mi ORDER BY d2, j) AS rn FROM d2)
       |  WHERE rn = 1),
       |packed AS (SELECT id, CAST(SUM(j * (CASE mi WHEN 0 THEN 1
       |    WHEN 1 THEN 8 WHEN 2 THEN 64 ELSE 512 END)) AS BIGINT)
       |      AS code_packed
       |  FROM code GROUP BY 1),
       |lut AS (SELECT v.id AS probe_id, c.mi, c.j, SUM(c.w * v.c) AS l
       |  FROM vec v JOIN cb c ON v.i = c.mi * $PqSub + c.i
       |  WHERE v.id >= $p0 GROUP BY 1, 2, 3),
       |adc AS (SELECT l.probe_id, k.id, CAST(SUM(l.l) AS BIGINT) AS adc
       |  FROM code k JOIN lut l ON l.mi = k.mi AND l.j = k.j
       |  GROUP BY 1, 2)
       |SELECT a.probe_id, a.id AS doc_id, p.code_packed, a.adc
       |FROM adc a JOIN packed p ON a.id = p.id
       |ORDER BY probe_id, doc_id""".stripMargin
  }
}
