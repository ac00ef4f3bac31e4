package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{Functional, Kernels}

/** Pinned-contract tests for the domain kernels, with expected values
  * lifted from the reference test suite (cited per test). */
class KernelsSpec extends SparkSpec {
  import spark.implicits._

  test("sigrid_hash pinned values (test_sigrid_hash.py:48-56)") {
    val got = spark.range(16)
      .select(Functional.sigridHash(col("id"), 0L, 100L))
    assert(col0(got) === Seq(6L, 60L, 54L, 54L, 9L, 4L, 91L, 11L, 67L, 79L,
      2L, 25L, 92L, 98L, 83L, 66L))
  }

  test("sigrid_hash list form (test_sigrid_hash.py:58-66)") {
    val df = Seq(Seq(0L, 1L, 2L, 3L), Seq(4L, 5L, 6L), Seq(7L, 8L, 9L))
      .toDF("a")
    val got = df.select(Functional.sigridHashList(col("a"), 0L, 100L))
    assert(col0(got).map(_.asInstanceOf[Seq[Long]]) ===
      Seq(Seq(6L, 60L, 54L, 54L), Seq(9L, 4L, 91L), Seq(11L, 67L, 79L)))
  }

  test("sigrid_hash maxValue=1 returns 0") {
    assert(Kernels.sigridHash(42L, 0L, 1L) === 0L)
  }

  test("bucketize pinned values (test_bucketize.py:71-110)") {
    val df = Seq(1.0, 2.0, 3.0, 5.0, 8.0, 10.0, 11.0).toDF("a")
    val got = df.select(Functional.bucketize(col("a"), Seq(2.0, 5.0, 10.0)))
    assert(col0(got) === Seq(0, 0, 1, 1, 2, 2, 3))
  }

  test("bucketize list form (test_bucketize.py:113-123)") {
    val df = Seq(Seq(1.0, 2.0, 3.0)).toDF("a")
    val got = df.select(Functional.bucketizeList(col("a"), Seq(2.0)))
    assert(col0(got).map(_.asInstanceOf[Seq[Int]]) === Seq(Seq(0, 0, 1)))
  }

  test("bucketize reads repeated borders and rejects bad ones in place") {
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    def forms(b: Double*): Seq[ArrayData] = Seq(
      new GenericArrayData(b.toArray), UnsafeArrayData.fromPrimitiveArray(b.toArray))
    val vals = Seq(0.0, 1.0, 1.5, 2.0, 2.5, 3.0, 4.0)
    for (b <- forms(1.0, 2.0, 2.0, 3.0)) {
      assert(vals.map(Kernels.bucketize(_, b)) === Seq(0, 0, 1, 2, 3, 3, 4))
      assert(Kernels.bucketizeList(new GenericArrayData(vals.toArray), b)
        .toIntArray.toSeq === Seq(0, 0, 1, 2, 3, 3, 4))
    }
    for ((borders, message) <- Seq(
        Seq.empty[Double] -> "Borders should not be empty.",
        Seq(2.0, 1.0) -> "Borders should have non-decreasing sequence.",
        Seq(0.0, 1.0, 1.0, 1.0) ->
          "Borders should not have more than 2 repeated values, at 3");
        b <- forms(borders: _*)) {
      val e = intercept[IllegalArgumentException](Kernels.bucketize(1.0, b))
      assert(e.getMessage === message)
      val l = intercept[IllegalArgumentException](
        Kernels.bucketizeList(new GenericArrayData(Array(1.0)), b))
      assert(l.getMessage === message)
    }
  }

  // compute_score fixture (test_compute_score.py:18-45)
  private lazy val scoreDf = Seq(
    (Seq(1L, 2L, 3L), Seq(1.0f, 2.0f, 3.0f), Seq(1L, 2L, 3L),
      Seq(1.0f, 2.0f, 3.0f)),
    (Seq(4L, 5L, 6L), Seq(4.0f, 5.0f, 6.0f), Seq(0L, 10L),
      Seq(0.0f, 10.0f)),
    (Seq(7L, 8L, 9L), Seq(7.0f, 8.0f, 9.0f), Seq(7L, 10L, 10L),
      Seq(7.0f, 10.0f, 10.0f)),
    (Seq(10L, 10L, 11L, 12L), Seq(10.0f, 10.0f, 11.0f, 12.0f),
      Seq(10L, 10L, 11L, 13L), Seq(10.0f, 10.0f, 11.0f, 13.0f)))
    .toDF("input_ids", "input_id_scores", "matching_ids",
      "matching_id_scores")

  private def floats(df: org.apache.spark.sql.DataFrame): Seq[Float] =
    col0(df).map(_.asInstanceOf[Float])

  private def approx(got: Seq[Float], want: Seq[Double]): Unit = {
    assert(got.length === want.length)
    got.zip(want).foreach { case (g, w) =>
      assert(math.abs(g - w) < 1e-6, s"$g vs $w")
    }
  }

  test("has_id_overlap (test_compute_score.py:60-66)") {
    approx(floats(scoreDf.select(Functional.hasIdOverlap(
      col("input_ids"), col("matching_ids")))), Seq(1.0, 0.0, 1.0, 1.0))
  }

  test("id_overlap_count — multiset (test_compute_score.py:68-74)") {
    approx(floats(scoreDf.select(Functional.idOverlapCount(
      col("input_ids"), col("matching_ids")))), Seq(3.0, 0.0, 1.0, 3.0))
  }

  test("get_max_count (test_compute_score.py:76-82)") {
    approx(floats(scoreDf.select(Functional.getMaxCount(
      col("input_ids"), col("matching_ids")))), Seq(3.0, 0.0, 1.0, 3.0))
  }

  test("get_jaccard_similarity (test_compute_score.py:84-93)") {
    approx(floats(scoreDf.select(Functional.getJaccardSimilarity(
      col("input_ids"), col("matching_ids")))),
      Seq(1.0, 0.0, 1.0 / 5.0, 3.0 / 5.0))
  }

  test("get_cosine_similarity (test_compute_score.py:94-119)") {
    approx(floats(scoreDf.select(Functional.getCosineSimilarity(
      col("input_ids"), col("input_id_scores"), col("matching_ids"),
      col("matching_id_scores")))),
      Seq(
        14.0 / math.sqrt(14.0) / math.sqrt(14.0),
        0.0,
        49.0 / math.sqrt(49.0 + 64.0 + 81.0) / math.sqrt(49.0 + 400.0),
        (400.0 + 121.0) / math.sqrt(400.0 + 121.0 + 144.0) /
          math.sqrt(400.0 + 121.0 + 169.0)))
  }

  test("get_score_sum/min/max (test_compute_score.py:121-158)") {
    approx(floats(scoreDf.select(Functional.getScoreSum(
      col("input_ids"), col("input_id_scores"), col("matching_ids"),
      col("matching_id_scores")))), Seq(6.0, 0.0, 7.0, 31.0))
    approx(floats(scoreDf.select(Functional.getScoreMin(
      col("input_ids"), col("matching_ids"), col("matching_id_scores")))),
      Seq(1.0, 0.0, 7.0, 10.0))
    approx(floats(scoreDf.select(Functional.getScoreMax(
      col("input_ids"), col("matching_ids"), col("matching_id_scores")))),
      Seq(3.0, 0.0, 7.0, 11.0))
  }

  test("python string predicates (test_functional_cpu.py:24-36)") {
    val df = Seq(Some(""), Some("abc"), Some("XYZ"), Some("123"),
      Some("xyz123"), None).toDF("s")
    assert(col0(df.select(Functional.isalpha(col("s")))) ===
      Seq(false, true, true, false, false, null))
    assert(col0(df.select(upper(col("s")))) ===
      Seq("", "ABC", "XYZ", "123", "XYZ123", null))
    assert(col0(df.select(Functional.isalnum(col("s")))) ===
      Seq(false, true, true, true, true, null))
    assert(col0(df.select(Functional.isdigit(col("s")))) ===
      Seq(false, false, false, true, false, null))
    assert(col0(df.select(Functional.islower(col("s")))) ===
      Seq(false, true, false, false, true, null))
    assert(col0(df.select(Functional.isupper(col("s")))) ===
      Seq(false, false, true, false, false, null))
  }

  test("python istitle/isspace/isdecimal semantics") {
    // expectations = CPython str.is* results
    val df = Seq("Hello World", "Hello world", "  ", "½", "7").toDF("s")
    assert(col0(df.select(Functional.istitle(col("s")))) ===
      Seq(true, false, false, false, false))
    assert(col0(df.select(Functional.isspace(col("s")))) ===
      Seq(false, false, true, false, false))
    assert(col0(df.select(Functional.isdecimal(col("s")))) ===
      Seq(false, false, false, false, true))
    assert(col0(df.select(Functional.isnumeric(col("s")))) ===
      Seq(false, false, false, true, true))
  }

  test("digit predicates use the reference's Unicode categories") {
    // string_functions.h:28-41: isdecimal=Nd, isdigit=Nd|No,
    // isnumeric=Nd|Nl|No. Pins: "7"=Nd, "²"(superscript)=No,
    // "½"(fraction)=No, "Ⅴ"(Roman numeral)=Nl
    val df = Seq("7", "²", "½", "Ⅴ", "7a").toDF("s")
    assert(col0(df.select(Functional.isdecimal(col("s")))) ===
      Seq(true, false, false, false, false))
    assert(col0(df.select(Functional.isdigit(col("s")))) ===
      Seq(true, true, true, false, false))
    assert(col0(df.select(Functional.isnumeric(col("s")))) ===
      Seq(true, true, true, true, false))
    // isalnum admits every Number category (letter or Nd|Nl|No)
    assert(col0(df.select(Functional.isalnum(col("s")))) ===
      Seq(true, true, true, true, true))
  }

  test("firstx / clamp_list / add_tokens compose correctly") {
    val df = Seq(Seq(1L, 2L, 3L), Seq(5L, 8L), Seq(13L)).toDF("a")
    assert(col0(df.select(Functional.firstx(col("a"), 3)))
      .map(_.asInstanceOf[Seq[Long]]) ===
      Seq(Seq(1L, 2L, 3L), Seq(5L, 8L), Seq(13L)))
    assert(col0(df.select(Functional.clampList(col("a"), lit(2L), lit(8L))))
      .map(_.asInstanceOf[Seq[Long]]) ===
      Seq(Seq(2L, 2L, 3L), Seq(5L, 8L), Seq(8L)))
    assert(col0(df.select(Functional.addTokens(col("a"), Seq(0L), begin = true)))
      .map(_.asInstanceOf[Seq[Long]]) ===
      Seq(Seq(0L, 1L, 2L, 3L), Seq(0L, 5L, 8L), Seq(0L, 13L)))
  }

  test("lookup_indices with default index") {
    val df = Seq(Seq("hello", "world", "unk")).toDF("t")
    val got = df.select(Functional.lookupIndices(
      Map("hello" -> 1L, "world" -> 2L), 0L)(col("t")))
    assert(col0(got).map(_.asInstanceOf[Seq[Long]]) === Seq(Seq(1L, 2L, 0L)))
  }

  test("simhash/hamming/minhash determinism and identity") {
    assert(Kernels.hamming64(0L, -1L) === 64)
    val df = Seq(Seq("a", "b", "c"), Seq("a", "b", "c"), Seq("x", "y"))
      .toDF("t")
    val hs = col0(df.select(Functional.simhash64(col("t"))))
      .map(_.asInstanceOf[Long])
    assert(hs(0) === hs(1))
    assert(hs(0) !== hs(2))
  }

  test("kernels are SQL-callable after registerAll") {
    Functional.registerAll(spark)
    val got = spark.sql(
      """SELECT sigrid_hash(id, 0, 100) AS h,
        |bucketize(CAST(id AS DOUBLE), array(2.0D, 5.0D, 10.0D)) AS b,
        |isalpha('abc') AS a,
        |fingerprint64('x') = fingerprint64('x') AS f
        |FROM range(3)""".stripMargin).collect().toSeq
    assert(got.map(_.getLong(0)) === Seq(6L, 60L, 54L))
    assert(got.map(_.getInt(1)) === Seq(0, 0, 0))
    assert(got.forall(_.getBoolean(2)))
    assert(got.forall(_.getBoolean(3)))
    val jac = spark.sql(
      "SELECT get_jaccard_similarity(array(1L,2L,3L), array(1L)) AS j")
      .head().getFloat(0)
    assert(math.abs(jac - 1.0f / 3.0f) < 1e-6)
  }

  // ---- winnowing fingerprints (Schleimer et al., SIGMOD'03 §4-5) ------

  private def winnowSet(s: String, k: Int, w: Int): Seq[Long] = {
    val a = Kernels.winnow(
      org.apache.spark.unsafe.types.UTF8String.fromString(s), k, w)
    (0 until a.numElements()).map(a.getLong)
  }

  test("winnow: shared run of w+k-1 bytes => shared fingerprint") {
    val k = 8; val w = 16
    for (seed <- 1 to 8) {
      val rnd = new scala.util.Random(seed)
      def junk(n: Int) = (0 until n)
        .map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
      val shared = (0 until (w + k - 1))
        .map(_ => ('A' + rnd.nextInt(26)).toChar).mkString
      val a = junk(40) + shared + junk(40)
      val b = junk(40) + shared + junk(40)
      assert(winnowSet(a, k, w).intersect(winnowSet(b, k, w)).nonEmpty,
        s"seed $seed: no shared fingerprint for a planted ${w + k - 1}-byte run")
    }
  }

  test("winnow: disjoint alphabets share nothing; identical docs everything") {
    val a = (0 until 50).map(i => s"tok${i}x").mkString(" ")
    val b = (0 until 50).map(i => s"QQ${i}!").mkString("_")
    assert(winnowSet(a, 8, 16).intersect(winnowSet(b, 8, 16)).isEmpty)
    assert(winnowSet(a, 8, 16) === winnowSet(a, 8, 16))
  }

  test("winnow: output is sorted distinct; density within [ceil(W/w), m]") {
    val k = 8; val w = 16
    val rnd = new scala.util.Random(7)
    val doc = (0 until 500).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val fp = winnowSet(doc, k, w)
    assert(fp === fp.distinct.sorted)
    val m = doc.length - k + 1 // k-gram count
    val windows = m - w + 1
    // one selection serves at most w windows => >= ceil(windows/w) picks
    assert(fp.size >= (windows + w - 1) / w && fp.size <= m,
      s"density ${fp.size} outside [${(windows + w - 1) / w}, $m]")
  }

  test("winnow: edge lengths") {
    assert(winnowSet("abc", 8, 16).isEmpty) // shorter than one k-gram
    assert(winnowSet("abcdefgh", 8, 16).size === 1) // exactly one k-gram
    // fewer k-grams than a window: min over all of them, one fingerprint
    assert(winnowSet("abcdefghij", 8, 16).size === 1)
  }

  test("winnowSelCount: >= distinct-value count, obeys the coverage " +
      "bounds, and zeroes on sub-k-gram text (the q292 companion)") {
    val k = 8; val w = 16
    def cnt(s: String) = Kernels.winnowSelCount(
      org.apache.spark.unsafe.types.UTF8String.fromString(s), k, w)
    assert(cnt("abc") === 0L)
    assert(cnt("abcdefgh") === 1L)
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 6) {
      val doc = (0 until 300 + rnd.nextInt(300))
        .map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
      val n = cnt(doc)
      val m = doc.length - k + 1
      val win = math.min(w, m)
      val nw = m - win + 1
      assert(n * win >= nw && n <= nw,
        s"position count $n outside the coverage bounds for m=$m")
      assert(n >= winnowSet(doc, k, w).size.toLong,
        "positions selected can never be fewer than distinct values")
    }
  }

  /** Naive winnowing reference: from-scratch k-gram hashes (no rolling
    * update) + a plain scan for the RIGHTMOST unsigned window minimum
    * + record-on-position-change + sorted distinct — the documented
    * kernel semantics, re-derived without the incremental machinery.
    * Pins the rolling-hash subtract-oldest update and the monotonic
    * deque against brute force on randomized inputs. */
  private def naiveWinnow(s: String, k: Int, w: Int): Seq[Long] = {
    val b = s.getBytes("UTF-8")
    val m = b.length - k + 1
    if (m <= 0) return Seq.empty
    val B = 0x100000001b3L
    val grams = (0 until m).map { i =>
      var h = 0L
      for (j <- i until i + k) h = h * B + (b(j) & 0xffL)
      Kernels.twangMix64(h)
    }
    val win = math.min(w, m)
    var lastPick = -1
    val sel = scala.collection.mutable.ArrayBuffer.empty[Long]
    for (i <- (win - 1) until m) {
      var best = i - win + 1
      for (j <- (i - win + 1) to i) { // rightmost min: >= moves it right
        if (java.lang.Long.compareUnsigned(grams(j), grams(best)) <= 0)
          best = j
      }
      if (best != lastPick) { lastPick = best; sel += grams(best) }
    }
    sel.distinct.sorted.toSeq
  }

  test("winnow: property — kernel equals the naive reference on " +
      "300 randomized (text, k, w) cases") {
    val rnd = new scala.util.Random(0x5EED15L)
    for (case_ <- 0 until 300) {
      val n = rnd.nextInt(120)
      // small alphabet forces k-gram hash ties inside windows — the
      // rightmost-min tie-break is exactly what naive must replicate
      val text = (0 until n).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
      val k = 1 + rnd.nextInt(6)
      val w = 1 + rnd.nextInt(10)
      assert(winnowSet(text, k, w) === naiveWinnow(text, k, w),
        s"case $case_: k=$k w=$w n=$n text=$text")
    }
  }

  // ---- character k-gram shingle sets -----------------------------------

  private def longs(a: ArrayData): Seq[Long] =
    (0 until a.numElements()).map(a.getLong)

  test("charShingleSet: property — equals the sorted distinct xxhash64 of " +
      "every 3-code-point substring on 200 random UTF-8 texts") {
    val rnd = new scala.util.Random(0xC4A25L)
    // code point ranges by UTF-8 width: 1, 2, 3 (no surrogates), 4 bytes
    val widths = Seq((0x20, 0x7f), (0x80, 0x800), (0x800, 0xd800),
      (0x10000, 0x110000))
    val texts = (0 until 200).map { i =>
      // one width per text, every fifth text mixed; a small pool of code
      // points so that windows repeat and the set has to drop them
      val pool = Seq.fill(2 + rnd.nextInt(6)) {
        val (lo, hi) = widths(if (i % 5 < 4) i % 5 else rnd.nextInt(4))
        lo + rnd.nextInt(hi - lo)
      }
      val sb = new java.lang.StringBuilder
      for (_ <- 0 until 3 + rnd.nextInt(398))
        sb.appendCodePoint(pool(rnd.nextInt(pool.size)))
      sb.toString
    }
    val spark3grams = sort_array(array_distinct(transform(
      sequence(lit(1), length(col("t")) - 2),
      i => xxhash64(col("t").substr(i, lit(3))))))
    val rows = texts.toDF("t")
      .select(col("t"), spark3grams,
        Functional.charShingleSet(col("t"), 3))
      .collect()
    assert(rows.length === texts.size)
    for (r <- rows)
      assert(r.getSeq[Long](2) === r.getSeq[Long](1), s"text: ${r.getString(0)}")
  }

  test("charShingleSet: a text shorter than k has no k-grams; a malformed " +
      "trailing byte neither throws nor reads past the string") {
    for (t <- Seq("", "a", "ab", "é", "日本", "\uD83D\uDE00x"))
      assert(longs(Kernels.charShingleSet(UTF8String.fromString(t), 3))
        .isEmpty, t)
    assert(col0(Seq("ab").toDF("t")
      .select(Functional.charShingleSet(col("t"), 3))) === Seq(Nil))
    // "abcd" and a 4-byte lead byte with nothing after it, at the start
    // of a longer buffer: the last 3-gram is clamped to the 5 bytes
    val bytes = "abcd".getBytes("UTF-8") :+ 0xf0.toByte
    val buf = bytes ++ "XYZ".getBytes("UTF-8")
    def h(from: Int, until: Int): Long = XXH64.hashUnsafeBytes(
      bytes, Platform.BYTE_ARRAY_OFFSET + from, until - from, 42L)
    val got = Kernels.charShingleSet(
      UTF8String.fromBytes(buf, 0, bytes.length), 3)
    assert(longs(got) === Seq(h(0, 3), h(1, 4), h(2, 5)).sorted)
  }

  test("winnow is SQL-callable after registerAll") {
    Functional.registerAll(spark)
    val got = spark.sql(
      "SELECT size(winnow('the quick brown fox jumps over it', 4, 4)) AS n")
      .head().getInt(0)
    assert(got >= 1)
  }

  test("cosine kernel") {
    val df = Seq((Seq(1.0f, 0.0f), Seq(1.0f, 0.0f), Seq(0.0f, 2.0f)))
      .toDF("a", "b", "c")
    val got = df.select(Functional.cosineSim(col("a"), col("b")),
      Functional.cosineSim(col("a"), col("c")))
    val r = got.head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1)) < 1e-12)
  }

  test("roundRef: reference rint semantics, not Spark round") {
    // torcharrow_round = rint on the scaled double: ties go to even
    // (2.5→2, 3.5→4); 2.675*100 is EXACTLY 267.5 in IEEE → even → 2.68;
    // 1250/100 = 12.5 → even → 12 → 1200
    assert(Kernels.roundRef(2.5, 0) === 2.0)
    assert(Kernels.roundRef(3.5, 0) === 4.0)
    assert(Kernels.roundRef(-2.5, 0) === -2.0)
    assert(Kernels.roundRef(2.675, 2) === 2.68)
    assert(Kernels.roundRef(1250.0, -2) === 1200.0)
    assert(Kernels.roundRef(Double.NaN, 2).isNaN)
    assert(Kernels.roundRef(Double.PositiveInfinity, 2)
      === Double.PositiveInfinity)
    // column path + SQL registration + divergence from Spark's half-up
    Functional.registerAll(spark)
    val r = spark.sql(
      "SELECT round_ref(CAST(2.5 AS DOUBLE), 0) AS a, " +
        "round(CAST(2.5 AS DOUBLE), 0) AS b").head()
    assert(r.getDouble(0) === 2.0 && r.getDouble(1) === 3.0)
    import graft.frame.namespaces._
    val viaNs = Seq(2.5, 3.5).toDF("x")
      .select(col("x").arith.round(0)).collect().map(_.getDouble(0)).toSeq
    assert(viaNs === Seq(2.0, 4.0))
  }

  test("decimal4Unscaled: property — equals the unscaled value of Spark's " +
      "CAST(x AS DECIMAL(25,4)) on 1.25 M fuzzed doubles and on every " +
      "double column of the committed sf0.01 tables") {
    val rnd = new scala.util.Random(20261019L)
    val n = 250000
    def signed(x: Double) = if (rnd.nextBoolean()) x else -x
    def price = (rnd.nextInt(10000000) + 1) / 100.0
    def disc = 1.0 - rnd.nextInt(11) / 100.0
    def tax = 1.0 + rnd.nextInt(9) / 100.0
    // halfway between two 4-place decimals, as literals would parse
    // (k + 0.5) / 10^4 and as sums would land (k / 10^4 ± 0.00005):
    // the inputs the fast path must hand to the exact one
    def tie =
      if (rnd.nextBoolean()) (2.0 * rnd.nextInt(1 << 30) + 1) / 2e4
      else rnd.nextInt(1 << 30) / 1e4 + signed(0.00005)
    def magnitude = signed(math.pow(10, -8 + 21 * rnd.nextDouble()))
    val fuzz = Seq(() => price, () => price * disc,
      () => price * disc * tax, () => signed(tie), () => magnitude)
      .flatMap(gen => Seq.fill(n)(gen()))
    val dir = "perfbench/data/sf0.01"
    val tableCols = new java.io.File(dir).list().toSeq.sorted
      .map(_.stripSuffix(".parquet")).flatMap { t =>
        val df = Tables(spark, dir, t)
        df.schema.fields.filter(_.dataType == DoubleType)
          .map(f => df.select(col(f.name).as("x")))
      }
    assert(tableCols.size >= 8)
    val xs = (fuzz.toDF("x") +: tableCols).reduce(_ union _)
    val cast = (col("x").cast(DecimalType(25, 4)) * 10000).cast(LongType)
    val bad = xs
      .select(col("x"), Functional.decimal4Unscaled(col("x")).as("got"),
        cast.as("want"))
      .where(!(col("got") <=> col("want"))).limit(10).collect()
    assert(bad.isEmpty, bad.mkString("mismatches (x, kernel, cast): ", ", ", ""))
    assert(xs.count() >= fuzz.size + 60000)
  }

  test("decimal4Unscaled: ties round half up, -0.0 is 0, null stays null, " +
      "and NaN, ±Inf and 1e15 fail naming the value") {
    assert(Kernels.decimal4Unscaled(1.00005) === 10001L)
    assert(Kernels.decimal4Unscaled(-1.00005) === -10001L)
    assert(Kernels.decimal4Unscaled(0.00005) === 1L)
    assert(Kernels.decimal4Unscaled(2.675) === 26750L)
    assert(Kernels.decimal4Unscaled(-0.0) === 0L)
    assert(Kernels.decimal4Unscaled(922337203685477.5) ===
      9223372036854775000L)
    Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
        1e15).foreach { x =>
      val e = intercept[ArithmeticException](Kernels.decimal4Unscaled(x))
      assert(e.getMessage.contains(x.toString), e.getMessage)
    }
    val got = Seq(Some(1.5), None).toDF("x")
      .select(Functional.decimal4Unscaled(col("x")))
    assert(col0(got) === Seq(15000L, null))
  }
}
