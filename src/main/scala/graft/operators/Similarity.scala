package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.aggregate.{ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Functional

/** Bounded-size top-k buffer: a binary min-heap under the "goodness"
  * order (cosine desc NULLS LAST, id asc), so the root is always the
  * WEAKEST kept element and a stronger candidate replaces it in
  * O(log k). Arrays are fixed at k so the serialized partial is
  * k-bounded regardless of how many rows a partition scored. A null
  * score is tracked explicitly (`nulls`) and ranks below every real
  * score — the ordering of the descending sort this buffer replaces,
  * so a probe with fewer than k non-null candidates still fills its
  * ranks with the null-scored rows exactly like the WindowExec did. */
case class TopKBuf(
    var size: Int, ids: Array[Long], scores: Array[Double],
    nulls: Array[Boolean]) {

  /** true when (s1,id1) is strictly weaker than (s2,id2) under
    * (cosine desc nulls-last, id asc); NaN compares greatest
    * (java.lang.Double total order — matches Spark's descending sort,
    * which is what the WindowExec this replaces used). */
  private def weaker(s1: Double, n1: Boolean, id1: Long,
      s2: Double, n2: Boolean, id2: Long): Boolean = {
    if (n1 != n2) n1 // null is weaker than any real score
    else {
      val c = if (n1) 0 else java.lang.Double.compare(s1, s2)
      c < 0 || (c == 0 && id1 > id2)
    }
  }

  private def swap(i: Int, j: Int): Unit = {
    val ti = ids(i); ids(i) = ids(j); ids(j) = ti
    val ts = scores(i); scores(i) = scores(j); scores(j) = ts
    val tn = nulls(i); nulls(i) = nulls(j); nulls(j) = tn
  }

  private def siftUp(start: Int): Unit = {
    var i = start
    while (i > 0 && weaker(scores(i), nulls(i), ids(i),
        scores((i - 1) / 2), nulls((i - 1) / 2), ids((i - 1) / 2))) {
      swap(i, (i - 1) / 2); i = (i - 1) / 2
    }
  }

  private def siftDown(): Unit = {
    var i = 0
    var done = false
    while (!done) {
      val l = 2 * i + 1; val r = 2 * i + 2
      var m = i
      if (l < size && weaker(scores(l), nulls(l), ids(l),
        scores(m), nulls(m), ids(m))) m = l
      if (r < size && weaker(scores(r), nulls(r), ids(r),
        scores(m), nulls(m), ids(m))) m = r
      if (m == i) done = true else { swap(i, m); i = m }
    }
  }

  def insert(id: Long, score: Double, isNull: Boolean): Unit =
    if (size < ids.length) {
      ids(size) = id; scores(size) = score; nulls(size) = isNull
      size += 1; siftUp(size - 1)
    } else if (ids.length > 0 &&
        weaker(scores(0), nulls(0), ids(0), score, isNull, id)) {
      ids(0) = id; scores(0) = score; nulls(0) = isNull; siftDown()
    }
}

/** Partial-merging bounded top-k per group: the typed `Aggregator`
  * replacement for `row_number().over(Window.partitionBy(probe))` —
  * which shuffles and sorts EVERY scored row into |probes| partitions.
  * As a TypedImperativeAggregate it combines map-side: each task
  * reduces its partition to ≤k entries per probe, and only those
  * k-bounded partials shuffle, so the tail is constant-size per probe
  * no matter the corpus. Output is the top k as a sorted array
  * (cosine desc NULLS LAST, id asc — the exact WindowExec ordering, so
  * ranks are bit-identical, including a probe with fewer than k
  * non-null-scored candidates, whose remaining ranks carry the
  * null-scored rows). */
class TopKAggregator(k: Int)
    extends Aggregator[(Long, java.lang.Double), TopKBuf,
      Array[(Long, Option[Double])]] {
  require(k > 0, s"k=$k")

  def zero: TopKBuf = TopKBuf(0, new Array[Long](k), new Array[Double](k),
    new Array[Boolean](k))

  def reduce(b: TopKBuf, in: (Long, java.lang.Double)): TopKBuf = {
    if (in._2 != null) b.insert(in._1, in._2, isNull = false)
    else b.insert(in._1, 0.0, isNull = true)
    b
  }

  def merge(b1: TopKBuf, b2: TopKBuf): TopKBuf = {
    var i = 0
    while (i < b2.size) {
      b1.insert(b2.ids(i), b2.scores(i), b2.nulls(i)); i += 1
    }
    b1
  }

  def finish(b: TopKBuf): Array[(Long, Option[Double])] =
    (0 until b.size).map(i =>
      (b.ids(i), b.scores(i), b.nulls(i))).sortWith {
      case ((id1, s1, n1), (id2, s2, n2)) =>
        if (n1 != n2) n2 // non-null before null
        else {
          val c = if (n1) 0 else java.lang.Double.compare(s2, s1) // desc
          c < 0 || (c == 0 && id1 < id2)
        }
    }.map { case (id, s, n) => (id, if (n) None else Some(s)) }.toArray

  def bufferEncoder: Encoder[TopKBuf] = ExpressionEncoder[TopKBuf]()
  def outputEncoder: Encoder[Array[(Long, Option[Double])]] =
    ExpressionEncoder[Array[(Long, Option[Double])]]()
}

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Scale design: the probe set is assumed small (queries) and is
  * broadcast — the corpus is never shuffled for brute force; each
  * partition scores its rows against the broadcast probes and a
  * k-bounded partial top-k per probe ([[TopKAggregator]]) survives to
  * one final per-probe merge — the plan is ASSERTED to contain that
  * bounded aggregate and no WindowExec ([[Similarity.requireBoundedTopK]]).
  * The LSH variant prunes the scan to matching buckets first and is
  * the 100 TB path (bucket column can be a partition/bucketing key of
  * the stored corpus, turning the probe into partition pruning).
  *
  * ID-NAMESPACE CONTRACT: every entry point (brute/LSH/IVF/PQ/IVF-PQ)
  * treats probe ids and corpus ids as ONE namespace and excludes the
  * corpus row whose id equals the probe's id — the standard
  * "a vector is not its own neighbor" rule for probes drawn from the
  * corpus. If your probes come from a SEPARATE table whose ids may
  * collide with corpus ids, remap one side (e.g. negate or offset the
  * probe ids) first, or an id-colliding corpus row will be silently
  * excluded from that probe's neighbors.
  */
object Similarity {

  /** Raises unless `df`'s physical plan computes top-k through the
    * bounded partial-merging aggregate: at least one aggregate exec
    * hosting the TypedImperativeAggregate (ObjectHashAggregate
    * normally; SortAggregate when
    * spark.sql.execution.useObjectHashAggregateExec=false — both run
    * the same partial-merging buffer, so both satisfy the invariant)
    * and ZERO WindowExec — a window tail would re-shuffle every scored
    * row into |probes| partitions, the straggler pattern this module
    * exists to avoid. Same in-gate discipline as
    * Bucketed.requireColocated. */
  def requireBoundedTopK(df: DataFrame, what: String): Unit = {
    val ns = graft.planNodes(df.queryExecution.executedPlan)
    val windows = ns.count(_.isInstanceOf[WindowExec])
    val aggs = ns.count(p => p.isInstanceOf[ObjectHashAggregateExec] ||
      p.isInstanceOf[SortAggregateExec])
    if (windows != 0 || aggs == 0)
      throw new IllegalStateException(
        s"$what: expected a bounded top-k aggregate (no WindowExec over " +
          s"the scored set), found windows=$windows aggregates=$aggs:\n" +
          df.queryExecution.executedPlan.toString)
  }

  /** Shared tail of all three variants: fold `scored` (probe_id, id,
    * cosine) down to k rows per probe with the partial-merging
    * aggregator, then explode back to (probe_id, id, cosine, rank).
    * Requires a long (or narrower integral) id — the heap buffer is
    * primitive-typed on purpose: no boxing in the per-row hot path. */
  private def topKPerProbe(scored: DataFrame, k: Int, what: String)
      : DataFrame = {
    val topk = udaf(new TopKAggregator(k),
      Encoders.tuple(Encoders.scalaLong, Encoders.DOUBLE))
    val out = scored
      .groupBy("probe_id")
      .agg(topk(col("id"), col("cosine")).as("__top"))
      .select(col("probe_id"), posexplode(col("__top")))
      .select(col("probe_id"), col("col._1").as("id"),
        col("col._2").as("cosine"), (col("pos") + 1).as("rank"))
    requireBoundedTopK(out, what)
    out
  }

  private def asLongId(df: DataFrame, idCol: String, out: String): Column = {
    val dt = df.schema(idCol).dataType
    require(dt == LongType || dt == IntegerType || dt == ShortType ||
      dt == ByteType,
      s"Similarity: id column $idCol must be integral, got $dt")
    col(idCol).cast(LongType).as(out)
  }

  /** Brute-force cosine top-k: corpus × broadcast(probes), bounded
    * partial top-k per probe. Exact baseline. */
  def bruteForceTopK(
      corpus: DataFrame,
      probes: DataFrame,
      vecCol: String,
      idCol: String,
      probeIdCol: String,
      k: Int = 10): DataFrame = {
    val p = broadcast(probes.select(
      asLongId(probes, probeIdCol, "probe_id"), col(vecCol).as("probe_vec")))
    val scored = corpus.select(asLongId(corpus, idCol, "id"),
        col(vecCol).as("v"))
      .join(p, col("id") =!= col("probe_id")) // broadcast nested loop
      .select(col("probe_id"), col("id"),
        Functional.cosineSim(col("v"), col("probe_vec")).as("cosine"))
    topKPerProbe(scored, k, "bruteForceTopK")
  }

  /** Coarse-quantizer training for [[ivfTopK]]: driver-side spherical
    * Lloyd on a bounded sample (standard IVF practice — centroids are
    * nCells×dim, tiny). The sample is HASH-ordered (sampleHash — the
    * same discipline as Clustering.fit): a first-N-by-id sample of an
    * id-ordered corpus is one corner of the distribution and trains a
    * quantizer whose cells are noise for the rest, collapsing recall.
    * SimilaritySpec's clustered corpus is built so that a first-N
    * sample would see one cluster only. */
  private[graft] def trainCentroids(
      corpus: DataFrame,
      vecCol: String,
      idCol: String,
      nCells: Int,
      sampleSize: Int,
      iters: Int): Array[Array[Double]] = {
    val sample = corpus.select(col(idCol), col(vecCol))
      .where(col(vecCol).isNotNull) // null vectors never train centroids
      .orderBy(Functional.sampleHash(col(idCol), 9L), col(idCol))
      .limit(sampleSize)
      .collect().map(_.getSeq[Float](1).toArray)
    require(sample.length >= nCells, "sample smaller than nCells")
    val dim = sample.head.length
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) v else v.map(_ / n)
    }
    var centroids = Array.tabulate(nCells)(i =>
      normalize(sample(i * (sample.length / nCells)).map(_.toDouble)))
    for (_ <- 0 until iters) {
      val sums = Array.fill(nCells)(new Array[Double](dim))
      val counts = new Array[Int](nCells)
      sample.foreach { v =>
        var bi = 0; var best = Double.NegativeInfinity
        for (c <- 0 until nCells) {
          var dot = 0.0
          for (i <- 0 until dim) dot += centroids(c)(i) * v(i)
          if (dot > best) { best = dot; bi = c }
        }
        for (i <- 0 until dim) sums(bi)(i) += v(i)
        counts(bi) += 1
      }
      centroids = Array.tabulate(nCells)(c =>
        if (counts(c) == 0) centroids(c) else normalize(sums(c)))
    }
    centroids
  }

  /** IVF (inverted-file) ANN: a spherical k-means coarse quantizer
    * assigns every corpus vector to a cell; probes scan only their
    * `nProbe` nearest cells. The FAISS-style alternative scale path to
    * hyperplane LSH: cells adapt to the data distribution, and the
    * cell id is the natural partition/bucketing key for the stored
    * corpus (probing = partition pruning).
    *
    * Training runs driver-side on a bounded hash-ordered sample
    * ([[trainCentroids]]) and the result is shipped to executors as a
    * literal; assignment is a single codegen'd kernel pass over the
    * corpus. */
  def ivfTopK(
      corpus: DataFrame,
      probes: DataFrame,
      vecCol: String,
      idCol: String,
      probeIdCol: String,
      k: Int = 10,
      nCells: Int = 16,
      nProbe: Int = 4,
      sampleSize: Int = 2048,
      iters: Int = 5): DataFrame = {
    val centroids = trainCentroids(corpus, vecCol, idCol, nCells,
      sampleSize, iters)
    val dim = centroids.head.length
    val centLit = lit(centroids.flatten)

    // --- assign corpus cells (one kernel pass; at rest this column is
    // the partitioning key) and explode probes to their nProbe cells
    val cb = corpus.select(asLongId(corpus, idCol, "id"),
      col(vecCol).as("v"),
      Functional.nearestCell(col(vecCol), centLit, dim).as("cell"))
    val pb = broadcast(probes.select(
        asLongId(probes, probeIdCol, "probe_id"),
        col(vecCol).as("probe_vec"),
        explode(Functional.nearestCells(col(vecCol), centLit, dim, nProbe))
          .as("cell")))
    val scored = cb.join(pb, Seq("cell"))
      .where(col("id") =!= col("probe_id"))
      .select(col("probe_id"), col("id"),
        Functional.cosineSim(col("v"), col("probe_vec")).as("cosine"))
    topKPerProbe(scored, k, "ivfTopK")
  }

  /** Per-subspace L2 k-means codebooks for [[pqTopK]], trained
    * driver-side on a hash-ordered sample — the [[trainCentroids]]
    * sampling discipline (first-N-by-id trains on one corner of an
    * id-ordered corpus). Plain L2 Lloyd, NOT spherical: PQ minimizes
    * subvector reconstruction error (Jégou et al., TPAMI 2011, §II).
    * Returns flat [subspace][code][subdim] doubles, the layout
    * Kernels.pqEncode/pqLut consume. */
  private[graft] def trainPqCodebooks(
      corpus: DataFrame,
      vecCol: String,
      idCol: String,
      m: Int,
      nCodes: Int,
      sampleSize: Int,
      iters: Int): Array[Double] = {
    val sample = corpus.select(col(idCol), col(vecCol))
      .where(col(vecCol).isNotNull) // null vectors never train codebooks
      .orderBy(Functional.sampleHash(col(idCol), 11L), col(idCol))
      .limit(sampleSize)
      .collect().map(_.getSeq[Float](1).toArray)
    require(sample.length >= nCodes,
      s"PQ sample (${sample.length}) smaller than nCodes=$nCodes")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val sub = dim / m
    val flat = new Array[Double](m * nCodes * sub)
    for (mi <- 0 until m) {
      var cents = Array.tabulate(nCodes) { j =>
        sample(j * (sample.length / nCodes))
          .slice(mi * sub, (mi + 1) * sub).map(_.toDouble)
      }
      for (_ <- 0 until iters) {
        val sums = Array.fill(nCodes)(new Array[Double](sub))
        val counts = new Array[Int](nCodes)
        sample.foreach { v =>
          var bi = 0; var best = Double.MaxValue
          for (j <- 0 until nCodes) {
            var d2 = 0.0
            for (i <- 0 until sub) {
              val d = cents(j)(i) - v(mi * sub + i); d2 += d * d
            }
            if (d2 < best) { best = d2; bi = j }
          }
          for (i <- 0 until sub) sums(bi)(i) += v(mi * sub + i)
          counts(bi) += 1
        }
        cents = Array.tabulate(nCodes)(j =>
          if (counts(j) == 0) cents(j) else sums(j).map(_ / counts(j)))
      }
      for (j <- 0 until nCodes; i <- 0 until sub)
        flat((mi * nCodes + j) * sub + i) = cents(j)(i)
    }
    flat
  }

  /** Product-quantization ANN (Jégou, Douze & Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011): the
    * corpus is stored as m byte codes per vector — a 4·dim/m at-rest
    * compression (64-dim float → 8 bytes = 32×) that turns a 100 TB
    * embedding column into an in-memory-scannable code column — and
    * probes score candidates with an asymmetric-distance (ADC) scan:
    * dot(probe, x) ≈ Σ_subspace LUT[code], m table reads per
    * candidate, no float math over original vectors.
    *
    * The ADC score approximates the raw INNER PRODUCT; on
    * unit-normalized embeddings that is the cosine (normalize upstream
    * otherwise). Unlike LSH/IVF, an exact twin of a probe is not
    * STRUCTURALLY guaranteed rank 1 under pure ADC — quantization
    * error can reorder candidates that sit within distortion of each
    * other (a corpus of near-replicas is exactly that). `refine` is
    * the standard PQ answer (FAISS IndexRefineFlat): re-score the ADC
    * top k·refine candidates EXACTLY against the original vectors and
    * re-rank — the second pass reads only |probes|·k·refine original
    * vectors via a broadcast candidate filter, so the 100 TB scan
    * still happens over codes. With refine on, a surviving exact twin
    * ranks first by exact cosine; q109 pins it. refine=0 is the pure
    * ADC baseline. Composable with [[ivfTopK]]'s cell pruning
    * (IVF-ADC) — here the code scan is exhaustive, the canonical PQ
    * baseline. */
  def pqTopK(
      corpus: DataFrame,
      probes: DataFrame,
      vecCol: String,
      idCol: String,
      probeIdCol: String,
      k: Int = 10,
      m: Int = 8,
      nCodes: Int = 256,
      sampleSize: Int = 4096,
      iters: Int = 5,
      refine: Int = 4): DataFrame = {
    require(nCodes >= 1 && nCodes <= 256, s"PQ codes are bytes: $nCodes")
    require(refine >= 0, s"refine=$refine")
    val cb = trainPqCodebooks(corpus, vecCol, idCol, m, nCodes,
      sampleSize, iters)
    val cbLit = lit(cb)
    val codes = corpus.select(asLongId(corpus, idCol, "id"),
      Functional.pqEncode(col(vecCol), cbLit, m, nCodes).as("codes"))
    val pb = broadcast(probes.select(
      asLongId(probes, probeIdCol, "probe_id"),
      Functional.pqLut(col(vecCol), cbLit, m, nCodes).as("lut")))
    val scored = codes.join(pb, col("id") =!= col("probe_id"))
      .select(col("probe_id"), col("id"),
        Functional.pqScore(col("codes"), col("lut"), nCodes).as("cosine"))
    if (refine == 0) topKPerProbe(scored, k, "pqTopK")
    else refineExact(corpus, probes, scored, vecCol, idCol, probeIdCol,
      k, refine, "pqTopK")
  }

  /** Shared exact-refine tail (FAISS IndexRefineFlat): bound the
    * approximate `scored` set to the per-probe ADC top k·refine, then
    * re-score those candidates EXACTLY against the original vectors
    * and re-rank. The candidate set is |probes|·k·refine rows —
    * broadcastable — so the original-vector read is a broadcast-
    * filtered scan, never a shuffle of the corpus. */
  private def refineExact(
      corpus: DataFrame,
      probes: DataFrame,
      scored: DataFrame,
      vecCol: String,
      idCol: String,
      probeIdCol: String,
      k: Int,
      refine: Int,
      what: String): DataFrame = {
    val cand = topKPerProbe(scored, k * refine, s"$what/adc")
      .select(col("probe_id"), col("id"))
    val pv = broadcast(probes.select(
      asLongId(probes, probeIdCol, "probe_id"),
      col(vecCol).as("probe_vec")))
    val exact = corpus
      .select(asLongId(corpus, idCol, "id"), col(vecCol).as("v"))
      .join(broadcast(cand), Seq("id"))
      .join(pv, Seq("probe_id"))
      .select(col("probe_id"), col("id"),
        Functional.cosineSim(col("v"), col("probe_vec")).as("cosine"))
    topKPerProbe(exact, k, s"$what/refine")
  }

  /** IVF-ADC (+refine): the full FAISS IndexIVFPQ production shape and
    * the composition of this module's two scale axes — [[ivfTopK]]'s
    * coarse cells prune WHAT is scanned (nProbe/nCells of the corpus),
    * [[pqTopK]]'s byte codes compress HOW it is scanned (m bytes per
    * candidate, ADC table lookups), and the exact-refine tail restores
    * top-k fidelity over the survivors. The at-rest layout is
    * (cell, codes): partition or bucket by cell and a probe reads
    * nProbe partitions of 8-byte codes; only refine touches original
    * vectors, through a broadcast candidate filter. Recall is bounded
    * by the cell pruning (the q52 discipline), not the quantization —
    * refine removes the ADC ordering error inside the scanned set. */
  def ivfPqTopK(
      corpus: DataFrame,
      probes: DataFrame,
      vecCol: String,
      idCol: String,
      probeIdCol: String,
      k: Int = 10,
      nCells: Int = 16,
      nProbe: Int = 4,
      m: Int = 8,
      nCodes: Int = 256,
      sampleSize: Int = 4096,
      iters: Int = 5,
      refine: Int = 4): DataFrame = {
    require(nCodes >= 1 && nCodes <= 256, s"PQ codes are bytes: $nCodes")
    require(refine >= 0, s"refine=$refine")
    val centroids = trainCentroids(corpus, vecCol, idCol, nCells,
      sampleSize, iters)
    val cb = trainPqCodebooks(corpus, vecCol, idCol, m, nCodes,
      sampleSize, iters)
    val dim = centroids.head.length
    val centLit = lit(centroids.flatten)
    val cbLit = lit(cb)
    val codes = corpus.select(asLongId(corpus, idCol, "id"),
      Functional.nearestCell(col(vecCol), centLit, dim).as("cell"),
      Functional.pqEncode(col(vecCol), cbLit, m, nCodes).as("codes"))
    val pb = broadcast(probes.select(
      asLongId(probes, probeIdCol, "probe_id"),
      Functional.pqLut(col(vecCol), cbLit, m, nCodes).as("lut"),
      explode(Functional.nearestCells(col(vecCol), centLit, dim, nProbe))
        .as("cell")))
    val scored = codes.join(pb, Seq("cell"))
      .where(col("id") =!= col("probe_id"))
      .select(col("probe_id"), col("id"),
        Functional.pqScore(col("codes"), col("lut"), nCodes).as("cosine"))
    if (refine == 0) topKPerProbe(scored, k, "ivfPqTopK")
    else refineExact(corpus, probes, scored, vecCol, idCol, probeIdCol,
      k, refine, "ivfPqTopK")
  }

  /** LSH-bucketed ANN: only corpus rows whose hyperplane bucket matches
    * a probe bucket (or a 1-bit neighbor, for recall) are scored. */
  def lshTopK(
      corpus: DataFrame,
      probes: DataFrame,
      vecCol: String,
      idCol: String,
      probeIdCol: String,
      k: Int = 10,
      bits: Int = 8): DataFrame = {
    val cb = corpus.select(asLongId(corpus, idCol, "id"),
      col(vecCol).as("v"),
      Functional.hyperplaneLsh(col(vecCol), bits).as("bucket"))
    // probe explodes to its own bucket + all 1-bit-flip neighbors
    val pb = broadcast(probes.select(
        asLongId(probes, probeIdCol, "probe_id"),
        col(vecCol).as("probe_vec"),
        Functional.hyperplaneLsh(col(vecCol), bits).as("b0"))
      .select(col("probe_id"), col("probe_vec"),
        explode(concat(array(col("b0")),
          transform(sequence(lit(0), lit(bits - 1)),
            i => col("b0").bitwiseXOR(call_function("shiftleft", lit(1L), i)))))
          .as("bucket")))
    val scored = cb.join(pb, Seq("bucket"))
      .where(col("id") =!= col("probe_id"))
      .select(col("probe_id"), col("id"),
        Functional.cosineSim(col("v"), col("probe_vec")).as("cosine"))
    topKPerProbe(scored, k, "lshTopK")
  }
}
