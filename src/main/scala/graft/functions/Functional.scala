package graft.functions

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types._

/** The `functional` surface: every domain operator of the reference
  * (torcharrow/functional.py:116-596) re-expressed over Catalyst.
  *
  * Spark built-ins are used wherever they match the reference semantics
  * (firstx → slice, clamp_list → transform, has_id_overlap →
  * arrays_overlap, add_tokens → concat, ...); the genuinely custom
  * kernels (sigrid_hash, bucketize, multiset scores, Python string
  * predicates) are static Java methods dispatched through
  * `StaticInvoke`, which inlines the call into whole-stage codegen —
  * no UDF serialization, null handling handled by `propagateNull`.
  */
object Functional {

  private val K = classOf[Kernels]

  private def invoke(
      name: String,
      dt: DataType,
      args: Seq[Column],
      inputTypes: Seq[DataType] = Nil): Column =
    Shim.staticInvoke(K, dt, name, args, inputTypes)

  // ---- recsys ---------------------------------------------------------

  /** Bit-exact sigrid_hash (reference rec/sigrid_hash.h:21-93). */
  def sigridHash(value: Column, salt: Column, maxValue: Column): Column =
    invoke("sigridHash", LongType,
      Seq(value.cast(LongType), salt.cast(LongType), maxValue.cast(LongType)))

  def sigridHash(value: Column, salt: Long, maxValue: Long): Column =
    sigridHash(value, lit(salt), lit(maxValue))

  /** sigrid_hash over each element of an array<long> column. */
  def sigridHashList(values: Column, salt: Long, maxValue: Long): Column =
    invoke("sigridHashList", ArrayType(LongType, containsNull = false),
      Seq(values, lit(salt), lit(maxValue)))

  /** Right-open bucketize with the reference's border semantics
    * (rec/bucketize.h:42-50); returns int32 bucket ids. */
  def bucketize(value: Column, borders: Seq[Double]): Column =
    invoke("bucketize", IntegerType,
      Seq(value.cast(DoubleType), lit(borders.toArray)))

  def bucketizeList(values: Column, borders: Seq[Double]): Column =
    invoke("bucketizeList", ArrayType(IntegerType, containsNull = false),
      Seq(values.cast(ArrayType(DoubleType)), lit(borders.toArray)))

  /** First n elements of each list (rec/firstX.h) — pure built-in. */
  def firstx(c: Column, n: Int): Column = slice(c, 1, n)

  /** Clamp each list element (rec/clamp_list.h) — transform HOF. */
  def clampList(c: Column, lo: Column, hi: Column): Column =
    transform(c, x => least(greatest(x, lo), hi))

  /** 1.0/0.0 whether id lists intersect (rec/compute_score.h:80-100). */
  def hasIdOverlap(a: Column, b: Column): Column =
    arrays_overlap(a, b).cast(FloatType)

  /** Multiset intersection count (compute_score.h:58-78) — NOT
    * array_intersect, which dedups. */
  def idOverlapCount(a: Column, b: Column): Column =
    invoke("idOverlapCount", FloatType, Seq(a, b))

  def getMaxCount(a: Column, b: Column): Column =
    invoke("getMaxCount", FloatType, Seq(a, b))

  def getJaccardSimilarity(a: Column, b: Column): Column =
    invoke("getJaccardSimilarity", FloatType, Seq(a, b))

  def getCosineSimilarity(ids: Column, scores: Column, matchIds: Column,
      matchScores: Column): Column =
    invoke("getCosineSimilarity", FloatType,
      Seq(ids, scores, matchIds, matchScores))

  def getScoreSum(ids: Column, scores: Column, matchIds: Column,
      matchScores: Column): Column =
    invoke("getScoreSum", FloatType, Seq(ids, scores, matchIds, matchScores))

  def getScoreMin(ids: Column, matchIds: Column, matchScores: Column): Column =
    invoke("getScoreMin", FloatType, Seq(ids, matchIds, matchScores))

  def getScoreMax(ids: Column, matchIds: Column, matchScores: Column): Column =
    invoke("getScoreMax", FloatType, Seq(ids, matchIds, matchScores))

  // ---- text -----------------------------------------------------------

  /** Prepend or append a token to every list (text/add_tokens.h). */
  def addTokens(c: Column, tokens: Seq[Any], begin: Boolean): Column = {
    val lits = array(tokens.map(lit): _*)
    if (begin) concat(lits, c) else concat(c, lits)
  }

  /** Vocabulary lookup with default index: broadcast map built once,
    * applied per token via transform over a map literal. */
  def lookupIndices(vocab: Map[String, Long], defaultIndex: Long)(
      c: Column): Column = {
    val m = typedLit(vocab)
    transform(c, t => coalesce(element_at(m, t), lit(defaultIndex)))
  }

  // ---- scaling --------------------------------------------------------

  /** (c - mean) / stddev_pop as window-free two-pass: caller supplies the
    * aggregated mean/std (scale_to_z_score, functional.py:582-596). */
  def zScore(c: Column, mean: Column, stdPop: Column): Column =
    (c - mean) / stdPop

  /** min-max scale to [0,1]; degenerate range → sigmoid
    * (scale_to_0_1, functional.py:568-579). */
  def minMaxScale(c: Column, min: Column, max: Column): Column =
    when(max > min, (c - min) / (max - min))
      .otherwise(lit(1.0) / (lit(1.0) + exp(-c)))

  // ---- python string predicates (string_functions.h:69-473) -----------

  private def strPred(name: String)(c: Column): Column =
    invoke(name, BooleanType, Seq(c), Seq(StringType))

  val isalpha: Column => Column = strPred("isAlpha")
  val isalnum: Column => Column = strPred("isAlnum")
  val isdigit: Column => Column = strPred("isDigit")
  val isdecimal: Column => Column = strPred("isDecimal")
  val isnumeric: Column => Column = strPred("isNumeric")
  val isspace: Column => Column = strPred("isSpace")
  val islower: Column => Column = strPred("isLower")
  val isupper: Column => Column = strPred("isUpper")
  val istitle: Column => Column = strPred("isTitle")

  // ---- dedup / fingerprint / embedding kernels ------------------------

  /** Stable 64-bit document fingerprint (FNV-1a over UTF-8). */
  def fingerprint64(c: Column): Column =
    invoke("fingerprint64", LongType, Seq(c), Seq(StringType))

  /** Winnowing fingerprint set over raw text (Schleimer et al.,
    * SIGMOD'03): byte k-gram rolling hash, per-window rightmost-minimum
    * selection. Sorted distinct array<long>, composable with
    * [[jaccardSorted]]. Any two docs sharing >= w + k - 1 consecutive
    * bytes share at least one fingerprint; no match under k bytes is
    * detected. */
  /** Selected-position count of [[winnow]] — the density witness the
    * q292 companion oracle bounds from text length alone. */
  def winnowSelCount(text: Column, k: Int, w: Int): Column =
    invoke("winnowSelCount", LongType, Seq(text, lit(k), lit(w)))

  def winnow(text: Column, k: Int, w: Int): Column =
    invoke("winnow", ArrayType(LongType, containsNull = false),
      Seq(text, lit(k), lit(w)),
      Seq(StringType, IntegerType, IntegerType))

  /** Deterministic multiply-shift sample bucket in [0, 8192) — the
    * hash behind [[graft.operators.Sampling]]. Java kernel because
    * wrap-around multiply is the point (ANSI-mode Column arithmetic
    * would raise on the intended overflow). */
  def sampleBucket(key: Column, seed: Long): Column =
    invoke("sampleBucket", IntegerType,
      Seq(key.cast(LongType), lit(seed)), Seq(LongType, LongType))

  /** Full 64-bit splitmix64 value behind [[sampleBucket]] — the
    * deterministic global-shuffle sort key (signed comparison order). */
  def sampleHash(key: Column, seed: Long): Column =
    invoke("sampleHash", LongType,
      Seq(key.cast(LongType), lit(seed)), Seq(LongType, LongType))

  /** Single-pass stopword-profile language ID over a token array. */
  def langId(tokens: Column): Column =
    invoke("langId", StringType, Seq(tokens))

  /** Fused language ID over raw text: one byte scan, no token-array
    * materialization — same predictions as langId(split(lower(text))). */
  def langIdText(text: Column): Column =
    invoke("langIdText", StringType, Seq(text), Seq(StringType))

  /** k-permutation MinHash signature of an array<string> of shingles. */
  def minhash(shingles: Column, k: Int, seed: Long = 42L): Column =
    invoke("minHash", ArrayType(LongType, containsNull = false),
      Seq(shingles, lit(k), lit(seed)))

  /** Fused tokenize→shingle→minhash over the raw text (fast path: no
    * intermediate token/shingle arrays). */
  def minhashText(text: Column, shingleSize: Int, k: Int,
      seed: Long = 42L): Column =
    invoke("minHashText", ArrayType(LongType, containsNull = false),
      Seq(text, lit(shingleSize), lit(k), lit(seed)),
      Seq(StringType, IntegerType, IntegerType, LongType))

  /** Distinct hashed word-shingles (sorted array<long>) of a text. */
  def shingleSet(text: Column, shingleSize: Int): Column =
    invoke("shingleSet", ArrayType(LongType, containsNull = false),
      Seq(text, lit(shingleSize)), Seq(StringType, IntegerType))

  /** Distinct hashed character k-grams (sorted array<long>): the
    * `xxhash64` of every k-code-point substring, in one pass. */
  def charShingleSet(text: Column, k: Int): Column =
    invoke("charShingleSet", ArrayType(LongType, containsNull = false),
      Seq(text, lit(k)), Seq(StringType, IntegerType))

  /** Word k-shingles as strings, fused (the kernel behind
    * [[graft.operators.TextAnalysis.shingles]]). */
  def wordShingles(text: Column, k: Int): Column =
    invoke("wordShingles", ArrayType(StringType, containsNull = false),
      Seq(text, lit(k)), Seq(StringType, IntegerType))

  /** FastSS ed≤1 candidate keys: the string plus every single-codepoint
    * deletion (provably complete for Levenshtein distance 1). */
  def editNeighborhood1(text: Column): Column =
    invoke("editNeighborhood1",
      ArrayType(StringType, containsNull = false), Seq(text))

  /** Unicode NFC canonical composition (engine-portable: java.text
    * .Normalizer and DuckDB's utf8proc agree on the Unicode NFC
    * algorithm; ASCII fast-path never allocates). */
  def nfcNormalize(text: Column): Column =
    invoke("nfcNormalize", StringType, Seq(text))

  /** MinHash signature match ratio (estimated Jaccard), fused. */
  def sigMatchRatio(a: Column, b: Column): Column =
    invoke("sigMatchRatio", DoubleType, Seq(a, b))

  /** Exact Jaccard of two sorted hashed-shingle sets. */
  def jaccardSorted(a: Column, b: Column): Column =
    invoke("jaccardSorted", DoubleType, Seq(a, b))

  /** 64-bit SimHash of an array<string> of tokens. */
  def simhash64(tokens: Column): Column =
    invoke("simHash64", LongType, Seq(tokens))

  def hamming64(a: Column, b: Column): Column =
    invoke("hamming64", IntegerType, Seq(a, b))

  /** 64-bit perceptual dHash of an encoded image blob (decode + 9×8
    * box-filter + gradient bits, all integer — Kernels.dhash64). */
  def dhash64(blob: Column): Column =
    invoke("dhash64", LongType, Seq(blob))

  /** 64-bit gain-invariant audio fingerprint of a RIFF/WAVE blob
    * (LE chunk walk + 65-frame integer energies + gradient bits —
    * Kernels.audioFp64). */
  def audioFp64(blob: Column): Column =
    invoke("audioFp64", LongType, Seq(blob))

  /** Per-frame dHashes of an ISO-BMFF (MP4) blob via the real
    * stsz/stco sample-table walk (Kernels.videoFrameHashes). */
  def videoFrameHashes(blob: Column): Column =
    invoke("videoFrameHashes", ArrayType(LongType, containsNull = false),
      Seq(blob))

  /** Cosine similarity between two array<float> embeddings — native
    * Catalyst expression with hand-written doGenCode
    * (graft.expressions.CosineSimF); Kernels.cosineF stays as the
    * interpreted fallback and SQL-registered form. */
  def cosineSim(a: Column, b: Column): Column =
    Shim.column(graft.expressions.CosineSimF(
      Shim.expression(a), Shim.expression(b)))

  def dotF(a: Column, b: Column): Column =
    invoke("dotF", DoubleType, Seq(a, b))

  def normF(a: Column): Column = invoke("normF", DoubleType, Seq(a))

  /** Per-document repetition signals (Gopher, Rae et al. 2021, Table A1
    * family) as a fixed 13-slot array<double> — see
    * Kernels.repetitionSignals for slot layout and the exact
    * definitions. One fused byte pass + one word pass per n. */
  def repetitionSignals(text: Column): Column =
    invoke("repetitionSignals", ArrayType(DoubleType, containsNull = false),
      Seq(text), Seq(StringType))

  /** Single-scan ASCII letter ratio (quality scoring fast path). */
  def asciiAlphaRatio(text: Column): Column =
    invoke("asciiAlphaRatio", DoubleType, Seq(text), Seq(StringType))

  /** Single-scan English stopword-token ratio (quality fast path). */
  def stopwordRatioEn(text: Column): Column =
    invoke("stopwordRatioEn", DoubleType, Seq(text), Seq(StringType))

  /** IVF cell assignment against flattened normalized centroids. */
  def nearestCell(v: Column, centroidsFlat: Column, dim: Int): Column =
    invoke("nearestCell", IntegerType,
      Seq(v, centroidsFlat, lit(dim)))

  /** The nProbe nearest IVF cells for a probe vector. */
  def nearestCells(v: Column, centroidsFlat: Column, dim: Int,
      nProbe: Int): Column =
    invoke("nearestCells", ArrayType(IntegerType, containsNull = false),
      Seq(v, centroidsFlat, lit(dim), lit(nProbe)))

  /** Random-hyperplane LSH bucket for an array<float> embedding. */
  def hyperplaneLsh(v: Column, bits: Int, seed: Long = 42L): Column =
    invoke("hyperplaneLsh", LongType, Seq(v, lit(bits), lit(seed)))

  /** PQ encode: m byte codes per vector (Kernels.pqEncode). */
  def pqEncode(v: Column, codebooksFlat: Column, m: Int, k: Int): Column =
    invoke("pqEncode", ArrayType(ByteType, containsNull = false),
      Seq(v, codebooksFlat, lit(m), lit(k)))

  /** PQ per-probe lookup table (Kernels.pqLut). */
  def pqLut(probe: Column, codebooksFlat: Column, m: Int, k: Int): Column =
    invoke("pqLut", ArrayType(DoubleType, containsNull = false),
      Seq(probe, codebooksFlat, lit(m), lit(k)))

  /** PQ asymmetric-distance score (Kernels.pqScore). */
  def pqScore(codes: Column, lut: Column, k: Int): Column =
    invoke("pqScore", DoubleType, Seq(codes, lut, lit(k)))

  /** Reference round semantics (torcharrow_round: rint half-even on
    * the scaled double) — NOT Spark round/bround. */
  def roundRef(c: Column, decimals: Int): Column =
    invoke("roundRef", DoubleType, Seq(c.cast(DoubleType), lit(decimals)),
      Seq(DoubleType, IntegerType))

  /** functional.rand (velox_rt/functional.py:47-63): uniform [0,1) per
    * row. The seeded form is deterministic for a fixed partition
    * layout (per-partition XOR-shift streams — Spark semantics); the
    * unseeded form is fresh per run, like the reference. */
  def randCol(): Column = org.apache.spark.sql.functions.rand()

  def randCol(seed: Long): Column = org.apache.spark.sql.functions.rand(seed)

  /** Vectorized ternary (icolumn.py:100-119): null cond → null result,
    * result type = LUB (Catalyst coercion). */
  def ifElse(cond: Column, a: Column, b: Column): Column =
    when(cond.isNull, lit(null)).when(cond, a).otherwise(b)

  /** The dict form of the reference's `col.map(arg, na_action)`
    * (icolumn.py:420-518; pinned examples :456-476): values without a
    * dict entry become null; `default` (the defaultdict analog) fills
    * both non-mapped values AND null inputs; naAction="ignore" keeps
    * null inputs null without consulting the dict (so they dodge the
    * default too). One literal map + element_at — codegen'd, no UDF;
    * the map ships in the plan like the reference's closed-over dict. */
  def mapDict[K: TypeTag, V: TypeTag](
      c: Column,
      dict: Map[K, V],
      default: Option[V] = None,
      naAction: Option[String] = None): Column = {
    require(dict.nonEmpty, "mapDict: empty dict")
    require(naAction.forall(_ == "ignore"),
      s"mapDict: na_action must be None or 'ignore', got $naAction")
    val looked = element_at(typedLit(dict), c)
    val mapped = default.fold(looked)(d => coalesce(looked, typedLit(d)))
    if (naAction.contains("ignore"))
      when(c.isNull, lit(null)).otherwise(mapped)
    else mapped
  }

  /** Fixed-size list constraint (dtypes_core.py:218): Spark has no
    * fixed-size arrays; this check fails the job on violation, the
    * analog of the reference's append-time size check
    * (list_column_cpu.py:96-102). */
  def assertFixedSize(c: Column, n: Int): Column =
    when(size(c) === n, c).otherwise(
      raise_error(concat(lit(s"fixed_size list expects $n elements, got "),
        size(c).cast(StringType))))

  /** Register every kernel as a SQL-callable function in the session
    * (spark.sql("SELECT sigrid_hash(x, 0, 100) ...") works after this)
    * — the SQL face of the reference's functional registry. */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    import org.apache.spark.sql.{types => T}
    val long = T.LongType; val int = T.IntegerType
    val longs = T.ArrayType(long, containsNull = false)
    val ints = T.ArrayType(int, containsNull = false)
    val floats = T.ArrayType(T.FloatType, containsNull = false)
    val doubles = T.ArrayType(T.DoubleType, containsNull = false)
    val str = T.StringType
    val entries: Seq[(String, String, T.DataType, Seq[T.DataType])] = Seq(
      ("sigrid_hash", "sigridHash", long, Seq(long, long, long)),
      ("sigrid_hash_list", "sigridHashList", longs, Seq(longs, long, long)),
      ("bucketize", "bucketize", int, Seq(T.DoubleType, doubles)),
      ("bucketize_list", "bucketizeList", ints, Seq(doubles, doubles)),
      ("id_overlap_count", "idOverlapCount", T.FloatType, Seq(longs, longs)),
      ("get_max_count", "getMaxCount", T.FloatType, Seq(longs, longs)),
      ("get_jaccard_similarity", "getJaccardSimilarity", T.FloatType,
        Seq(longs, longs)),
      ("get_cosine_similarity", "getCosineSimilarity", T.FloatType,
        Seq(longs, floats, longs, floats)),
      ("get_score_sum", "getScoreSum", T.FloatType,
        Seq(longs, floats, longs, floats)),
      ("get_score_min", "getScoreMin", T.FloatType, Seq(longs, longs, floats)),
      ("get_score_max", "getScoreMax", T.FloatType, Seq(longs, longs, floats)),
      ("isalpha", "isAlpha", T.BooleanType, Seq(str)),
      ("isalnum", "isAlnum", T.BooleanType, Seq(str)),
      ("isdigit", "isDigit", T.BooleanType, Seq(str)),
      ("isdecimal", "isDecimal", T.BooleanType, Seq(str)),
      ("isnumeric", "isNumeric", T.BooleanType, Seq(str)),
      ("isspace", "isSpace", T.BooleanType, Seq(str)),
      ("islower", "isLower", T.BooleanType, Seq(str)),
      ("isupper", "isUpper", T.BooleanType, Seq(str)),
      ("istitle", "isTitle", T.BooleanType, Seq(str)),
      ("fingerprint64", "fingerprint64", long, Seq(str)),
      ("winnow", "winnow", longs, Seq(str, int, int)),
      ("lang_id", "langId", str,
        Seq(T.ArrayType(str, containsNull = false))),
      ("lang_id_text", "langIdText", str, Seq(str)),
      ("simhash64", "simHash64", long,
        Seq(T.ArrayType(str, containsNull = false))),
      ("hamming64", "hamming64", int, Seq(long, long)),
      ("minhash_text", "minHashText", longs, Seq(str, int, int, long)),
      ("shingle_set", "shingleSet", longs, Seq(str, int)),
      ("jaccard_sorted", "jaccardSorted", T.DoubleType, Seq(longs, longs)),
      ("cosine_f", "cosineF", T.DoubleType, Seq(floats, floats)),
      ("hyperplane_lsh", "hyperplaneLsh", long, Seq(floats, int, long)),
      ("repetition_signals", "repetitionSignals", doubles, Seq(str)),
      ("sample_bucket", "sampleBucket", int, Seq(long, long)),
      ("sample_hash", "sampleHash", long, Seq(long, long)),
      ("word_shingles", "wordShingles",
        T.ArrayType(str, containsNull = false), Seq(str, int)),
      ("nfc_normalize", "nfcNormalize", str, Seq(str)),
      ("edit_neighborhood_1", "editNeighborhood1",
        T.ArrayType(str, containsNull = false), Seq(str)),
      ("round_ref", "roundRef", T.DoubleType, Seq(T.DoubleType, int)))
    entries.foreach { case (sqlName, method, dt, params) =>
      Shim.registerKernel(spark, sqlName, K, method, dt, params)
    }
  }

  // ---- generic name dispatch (functional.__getattr__ analog) ----------

  /** Resolve any Spark built-in by name, mirroring the reference's
    * "any Presto scalar function" dispatch (functional.py:105-113):
    * unknown names raise an analysis error, like column.cpp:411-426. */
  def apply(name: String, args: Column*): Column = name match {
    case "sigrid_hash"           => sigridHash(args(0), args(1), args(2))
    case "has_id_overlap"        => hasIdOverlap(args(0), args(1))
    case "id_overlap_count"      => idOverlapCount(args(0), args(1))
    case "get_max_count"         => getMaxCount(args(0), args(1))
    case "get_jaccard_similarity" => getJaccardSimilarity(args(0), args(1))
    case "get_cosine_similarity" =>
      getCosineSimilarity(args(0), args(1), args(2), args(3))
    case "get_score_sum" => getScoreSum(args(0), args(1), args(2), args(3))
    case "get_score_min" => getScoreMin(args(0), args(1), args(2))
    case "get_score_max" => getScoreMax(args(0), args(1), args(2))
    case other           => call_function(other, args: _*)
  }
}
