package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** ANN top-k tail (operators/Similarity.scala; gates q50/q51/q52).
  * Pins (a) exact rank parity between the bounded partial-merging
  * TopKAggregator and the WindowExec row_number it replaced — ties
  * included, (b) the in-plan guarantee that no WindowExec sorts the
  * scored set, and (c) the quantizer sampling discipline: first-N-by-id
  * sampling on an id-ordered clustered corpus collapses IVF recall
  * where the hash-ordered sample keeps it. */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("bounded top-k matches the window ranking exactly, ties included") {
    // engineered ties: cosine depends only on id % 4, so every rank
    // past the exact duplicates is decided by the id-asc tie-break
    val corpus = (0L until 64L)
      .map(i => (i, Seq(1.0f, (i % 4).toFloat / 100f, 0.0f)))
      .toDF("vec_id", "embedding")
    val probes = corpus.where(col("vec_id") === 0)
    val got = Similarity.bruteForceTopK(corpus, probes, "embedding",
        "vec_id", "vec_id", k = 12)
      .orderBy("rank")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Int]("rank"))).toSeq
    // reference ranking computed independently with a window
    val scored = corpus.where(col("vec_id") =!= 0)
      .select(col("vec_id").as("id"),
        graft.functions.Functional.cosineSim(col("embedding"),
          typedLit(Seq(1.0f, 0.0f, 0.0f))).as("cosine"))
    val w = Window.orderBy(col("cosine").desc, col("id").asc)
    val want = scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 12).orderBy("rank")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Int]("rank"))).toSeq
    assert(got === want)
  }

  test("null scores rank last but still fill ranks below k " +
      "(WindowExec desc-nulls-last parity)") {
    // 3 non-null-scored candidates + 4 null-vector candidates, k=6:
    // the old window emitted ranks 4-6 with null cosine; the bounded
    // aggregator must do the same instead of shrinking the output
    val rows = Seq[(Long, Seq[Float])](
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(0.5f, 0.5f)),
      (4L, null), (5L, null), (6L, null), (7L, null))
    val corpus = rows.toDF("vec_id", "embedding")
    val probes = Seq((0L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val got = Similarity.bruteForceTopK(corpus, probes, "embedding",
        "vec_id", "vec_id", k = 6)
      .orderBy("rank")
      .collect().map(r => (r.getAs[Long]("id"),
        if (r.isNullAt(r.fieldIndex("cosine"))) null
        else r.getAs[Double]("cosine"))).toSeq
    assert(got.map(_._1) === Seq(1L, 2L, 3L, 4L, 5L, 6L))
    assert(got.take(3).forall(_._2 != null))
    assert(got.drop(3).forall(_._2 == null))
  }

  test("requireBoundedTopK rejects a window-tail plan") {
    val df = (0L until 10L).map(i => (i % 2, i, i * 0.1)).toDF(
      "probe_id", "id", "cosine")
    val windowed = df.withColumn("rank", row_number().over(
      Window.partitionBy("probe_id").orderBy(col("cosine").desc)))
    val e = intercept[IllegalStateException] {
      Similarity.requireBoundedTopK(windowed, "spec")
    }
    assert(e.getMessage.contains("windows=1"))
  }

  test("top-k survives partial merge across many partitions") {
    val corpus = (0L until 2000L)
      .map(i => (i, Seq(1.0f, i.toFloat / 2000f, 0.0f)))
      .toDF("vec_id", "embedding").repartition(16)
    val probes = Seq((9999L, Seq(1.0f, 1.0f, 0.0f))).toDF(
      "vec_id", "embedding")
    val got = Similarity.bruteForceTopK(corpus, probes, "embedding",
        "vec_id", "vec_id", k = 5)
      .orderBy("rank").collect().map(_.getAs[Long]("id")).toSeq
    // highest second component wins: ids 1999, 1998, ...
    assert(got === Seq(1999L, 1998L, 1997L, 1996L, 1995L))
  }

  // ---- product quantization --------------------------------------------

  test("PQ: ADC score equals the sum of per-subspace codeword dots, " +
      "and an exact twin of a probe gets the probe's own score") {
    // corpus on 2 subspaces of 2 dims; codebooks trained on the corpus
    // itself so encode() is exact for corpus points
    val corpus = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 1.0f)),
      (1L, Seq(0.0f, 1.0f, 1.0f, 0.0f)),
      (2L, Seq(1.0f, 0.0f, 1.0f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val probes = corpus.where(col("vec_id") === 0)
    val got = graft.operators.Similarity.pqTopK(corpus, probes,
        "embedding", "vec_id", "vec_id", k = 3, m = 2, nCodes = 2,
        sampleSize = 4, iters = 8, refine = 0)
      .orderBy("rank")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Double]("cosine")))
    // subvectors of the corpus are exactly {(1,0),(0,1)} per subspace,
    // so 2-code codebooks reconstruct exactly and ADC == exact dot:
    // dot(v0, v2) = 1, dot(v0, v3) = 1, dot(v0, v1) = 0; ties id-asc
    assert(got.map(_._1).toSeq === Seq(2L, 3L, 1L))
    assert(got.map(_._2).toSeq === Seq(1.0, 1.0, 0.0))
  }

  test("PQ refine re-ranks ADC candidates by exact cosine: an exact " +
      "twin beats a near-replica that quantizes identically") {
    // 16 base vectors + a probe, its exact twin, and a near-replica one
    // element off: with 2 codes per subspace the twin and replica get
    // the same codes (ADC tie), but exact refine must put the twin
    // first
    val base = (10L until 26L).map(i =>
      (i, Seq.tabulate(4)(d => if (d == (i % 4).toInt) 1.0f else 0.0f)))
    val probeVec = Seq(0.6f, 0.8f, 0.0f, 0.0f)
    val twin = (1L, probeVec)
    val nearRep = (2L, Seq(0.6f, 0.79f, 0.02f, 0.0f))
    val corpus = (base :+ twin :+ nearRep :+ (0L -> probeVec))
      .toDF("vec_id", "embedding")
    val probes = corpus.where(col("vec_id") === 0)
    val got = graft.operators.Similarity.pqTopK(corpus, probes,
        "embedding", "vec_id", "vec_id", k = 2, m = 2, nCodes = 4,
        sampleSize = 32, iters = 8, refine = 3)
      .orderBy("rank")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Double]("cosine")))
    assert(got.head._1 === 1L, s"twin must rank first: ${got.toSeq}")
    assert(math.abs(got.head._2 - 1.0) < 1e-12) // exact cosine, not ADC
  }

  test("IVF-ADC composes cell pruning with code scanning: neighbors " +
      "inside probed cells come back exactly ranked via refine") {
    // clusteredCorpus's structure: a probe's true neighbors share its
    // cluster; a trained coarse quantizer keeps them in probed cells,
    // and the refine tail must order the survivors by exact cosine
    val corpus = clusteredCorpus
    val probes = corpus.where(col("vec_id").isin(450L))
    val ivfpq = graft.operators.Similarity.ivfPqTopK(corpus, probes,
      "embedding", "vec_id", "vec_id", k = 10, nCells = 8, nProbe = 2,
      m = 4, nCodes = 64, sampleSize = 256, iters = 5, refine = 4)
    val brute = graft.operators.Similarity.bruteForceTopK(corpus, probes,
      "embedding", "vec_id", "vec_id", k = 10)
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.select("probe_id", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = hits(brute)
    val recall = hits(ivfpq).intersect(exact).size.toDouble / exact.size
    info(f"IVF-ADC recall@10 on clustered corpus: $recall%.3f")
    assert(recall >= 0.8, s"recall $recall")
    // refine means survivor scores are EXACT cosines (<= 1 + eps and
    // monotonically non-increasing by rank)
    val scores = ivfpq.orderBy("rank").collect()
      .map(_.getAs[Double]("cosine"))
    assert(scores.forall(_ <= 1.0 + 1e-9))
    assert(scores.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
  }

  test("PQ codes are m bytes and the plan carries the bounded top-k " +
      "(no window tail)") {
    val corpus = (0L until 200L)
      .map(i => (i, Seq.tabulate(8)(d => ((i + d) % 7).toFloat / 7f)))
      .toDF("vec_id", "embedding")
    val cb = graft.operators.Similarity.trainPqCodebooks(corpus,
      "embedding", "vec_id", m = 4, nCodes = 8, sampleSize = 128,
      iters = 3)
    assert(cb.length === 4 * 8 * 2) // m * nCodes * subDim
    val codes = corpus.select(graft.functions.Functional.pqEncode(
      col("embedding"), lit(cb), 4, 8).as("c")).head().getSeq[Byte](0)
    assert(codes.length === 4)
    assert(codes.forall(c => c >= 0 && c < 8))
  }

  // ---- quantizer sampling discipline -----------------------------------

  /** 4 orthogonal clusters of 300 vectors each, ids ORDERED BY CLUSTER —
    * the common at-rest layout (ids assigned by ingest batch).
    *
    * The geometry is engineered so the quantizer's training coverage is
    * what decides recall: cluster c sits on axis e_c (dims 0-3) and its
    * WITHIN-cluster similarity structure is a smooth coordinate s on a
    * PER-CLUSTER axis e_{4+c} (dims 4-7) — so a probe's true nearest
    * neighbors are its closest-s cluster-mates. Dims 8-11 carry iid
    * hash noise shared by all clusters. A quantizer trained only on
    * cluster 0 never sees axes e5..e7, so for clusters 1-3 its cell
    * assignment keys on the noise dims alone — scattering closest-s
    * neighbors across cells — while a quantizer trained on a
    * hash-ordered (all-cluster) sample builds cells aligned with
    * (cluster, s-range) and keeps them together. */
  private def clusteredCorpus: DataFrame = {
    def vec(cluster: Int, id: Long): Seq[Float] = {
      val v = new Array[Double](12)
      v(cluster) = 1.0
      v(4 + cluster) = ((id % 300L).toDouble / 300.0 - 0.5) * 1.5
      var x = id
      for (i <- 8 until 12) {
        x = (x + 0x9E3779B97F4A7C15L) * 0xBF58476D1CE4E5B9L
        x ^= x >>> 31
        v(i) = ((x >>> 11).toDouble / (1L << 53).toDouble - 0.5) * 0.5
      }
      val n = math.sqrt(v.map(d => d * d).sum)
      v.map(d => (d / n).toFloat).toSeq
    }
    (0L until 1200L).map(i => (i, vec((i / 300L).toInt, i)))
      .toDF("vec_id", "embedding")
  }

  test("IVF: hash-ordered quantizer sample keeps recall on an " +
      "id-ordered clustered corpus; first-N-by-id collapses it") {
    val corpus = clusteredCorpus
    // mid-s members of clusters 1-3 (cluster 0 is what the biased
    // sample sees — it stays well-served either way)
    val probes = corpus.where(col("vec_id").isin(450L, 750L, 1050L))
    val ivf = Similarity.ivfTopK(corpus, probes, "embedding", "vec_id",
      "vec_id", k = 10, nCells = 8, nProbe = 2, sampleSize = 256, iters = 5)
    val brute = Similarity.bruteForceTopK(corpus, probes, "embedding",
      "vec_id", "vec_id", k = 10)
    def hits(df: DataFrame) = df.select("probe_id", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = hits(brute)
    val recall = hits(ivf).intersect(exact).size.toDouble / exact.size
    info(f"recall@10: hash-ordered $recall%.3f")
    // hash-ordered: every cluster lands in the sample, cells align with
    // clusters, probes find their neighborhoods
    assert(recall >= 0.8, s"hash-ordered recall $recall")
    // the corpus is adversarial for a first-N sample: the 256 lowest
    // vec_ids all lie in cluster 0 (unit weight on axis e_0, none on
    // e_1..e_3), so a first-256-by-id sample trains cells on cluster 0
    // alone, and the probes' clusters 1-3 would scatter across them
    def cluster(v: Seq[Float]): Int = (0 until 4).maxBy(v(_))
    val firstN = corpus.orderBy("vec_id").limit(256).collect()
      .map(r => cluster(r.getSeq[Float](1)))
    assert(firstN.length == 256 && firstN.forall(_ == 0),
      "a first-N sample sees more than cluster 0; corpus construction " +
        "drifted")
    assert(probes.collect().forall(r => cluster(r.getSeq[Float](1)) > 0))
  }
}
