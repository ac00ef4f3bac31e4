package graft.functions;

import java.util.concurrent.ConcurrentHashMap;
import java.math.BigDecimal;
import java.math.BigInteger;
import java.math.RoundingMode;

import org.apache.spark.sql.catalyst.expressions.XXH64;
import org.apache.spark.sql.catalyst.util.ArrayData;
import org.apache.spark.sql.catalyst.util.GenericArrayData;
import org.apache.spark.unsafe.Platform;
import org.apache.spark.unsafe.types.UTF8String;

/**
 * Scalar kernels for the ML-domain operators, exposed to Catalyst via
 * {@code StaticInvoke} so they participate in whole-stage codegen.
 *
 * <p>Semantics re-implemented from the reference's public behavior
 * (facebookresearch/torcharrow): sigrid_hash
 * (csrc/velox/functions/rec/sigrid_hash.h:21-93), bucketize
 * (rec/bucketize.h:42-75), overlap/similarity scores
 * (rec/compute_score.h:23-280), and the Python-semantics string
 * predicates (csrc/velox/functions/string_functions.h:69-473). The hash
 * primitives (twang_mix64, hash_128_to_64) are the well-known public
 * folly/CityHash mixers.
 */
public final class Kernels {
  private Kernels() {}

  // ---------------------------------------------------------------------
  // sigrid_hash — bit-exact contract (test/transformation/test_sigrid_hash.py)
  // ---------------------------------------------------------------------

  /** Tom Wang's 64-bit integer mixer (public domain; folly twang_mix64). */
  public static long twangMix64(long key) {
    key = (~key) + (key << 21);
    key = key ^ (key >>> 24);
    key = key + (key << 3) + (key << 8); // key * 265
    key = key ^ (key >>> 14);
    key = key + (key << 2) + (key << 4); // key * 21
    key = key ^ (key >>> 28);
    key = key + (key << 31);
    return key;
  }

  /** CityHash Hash128to64 mixer (public; used by folly::hash::hash_combine). */
  public static long hash128to64(long upper, long lower) {
    final long kMul = 0x9ddfea08eb382d69L;
    long a = (lower ^ upper) * kMul;
    a ^= (a >>> 47);
    long b = (upper ^ a) * kMul;
    b ^= (b >>> 47);
    b *= kMul;
    return b;
  }

  /** High 64 bits of the unsigned 128-bit product x*y (JDK17 has no
   * unsignedMultiplyHigh). */
  public static long unsignedMulHigh(long x, long y) {
    return Math.multiplyHigh(x, y) + ((x >> 63) & y) + ((y >> 63) & x);
  }

  /** Granlund-Montgomery magic multiplier+shift for signed division by a
   * runtime constant, precision 63 (round toward negative infinity). */
  private static final ConcurrentHashMap<Long, long[]> MULT_SHIFT_CACHE =
      new ConcurrentHashMap<>();

  static long[] multiplierAndShift(long divisor, int precision) {
    final int n = 64;
    int l = 64 - Long.numberOfLeadingZeros(divisor - 1); // ceil(log2(divisor))
    if (divisor == 1) l = 0;
    BigInteger d = BigInteger.valueOf(divisor);
    BigInteger low = BigInteger.ONE.shiftLeft(n + l).divide(d);
    BigInteger high = BigInteger.ONE.shiftLeft(n + l)
        .add(BigInteger.ONE.shiftLeft(n + l - precision)).divide(d);
    while (low.shiftRight(1).compareTo(high.shiftRight(1)) < 0 && l > 0) {
      low = low.shiftRight(1);
      high = high.shiftRight(1);
      --l;
    }
    return new long[] {high.longValue(), l};
  }

  public static long sigridHash(long value, long salt, long maxValue) {
    if (maxValue <= 0) {
      throw new IllegalArgumentException("maxValue must be larger than 0.");
    }
    if (maxValue == 1) return 0L;
    long hashed = hash128to64(salt, twangMix64(value));
    long[] ms = MULT_SHIFT_CACHE.computeIfAbsent(
        maxValue, d -> multiplierAndShift(d, 63));
    long sign = hashed >> 63; // arithmetic: all-ones if negative
    long q = sign ^ (unsignedMulHigh(ms[0], sign ^ hashed) >>> (int) ms[1]);
    return hashed - q * maxValue;
  }

  /** List form: hash every element of an int64 array. */
  public static ArrayData sigridHashList(ArrayData values, long salt,
      long maxValue) {
    int n = values.numElements();
    long[] out = new long[n];
    for (int i = 0; i < n; i++) {
      out[i] = sigridHash(values.getLong(i), salt, maxValue);
    }
    return new GenericArrayData(out);
  }

  // ---------------------------------------------------------------------
  // bucketize — reference semantics: lower_bound with right-open buckets,
  // up to 2 repeated borders allowed (rec/bucketize.h:42-50).
  // ---------------------------------------------------------------------

  // The borders are read in place: a per-row copy to double[] cost more
  // than the search it fed.
  private static int bucketId(ArrayData borders, int n, double val) {
    int lo = 0, hi = n; // lower_bound: first i with borders[i] >= val
    while (lo < hi) {
      int mid = (lo + hi) >>> 1;
      if (borders.getDouble(mid) < val) lo = mid + 1; else hi = mid;
    }
    int index = lo;
    if (index >= n - 1) return index;
    return val < borders.getDouble(index + 1) ? index : index + 1;
  }

  /** The border count, after checking that the borders are a valid
   * non-decreasing sequence. */
  private static int validateBorders(ArrayData borders) {
    int n = borders.numElements();
    if (n == 0) {
      throw new IllegalArgumentException("Borders should not be empty.");
    }
    double prev2 = 0, prev = borders.getDouble(0);
    for (int i = 1; i < n; i++) {
      double b = borders.getDouble(i);
      if (b < prev) {
        throw new IllegalArgumentException(
            "Borders should have non-decreasing sequence.");
      }
      if (i > 1 && b == prev && !(prev2 < b)) {
        throw new IllegalArgumentException(
            "Borders should not have more than 2 repeated values, at " + i);
      }
      prev2 = prev;
      prev = b;
    }
    return n;
  }

  public static int bucketize(double val, ArrayData borders) {
    return bucketId(borders, validateBorders(borders), val);
  }

  public static ArrayData bucketizeList(ArrayData values, ArrayData borders) {
    int nb = validateBorders(borders);
    int n = values.numElements();
    int[] out = new int[n];
    for (int i = 0; i < n; i++) {
      out[i] = bucketId(borders, nb, values.getDouble(i));
    }
    return new GenericArrayData(out);
  }

  // ---------------------------------------------------------------------
  // overlap / similarity scores (rec/compute_score.h) — float results,
  // multiset semantics where the reference uses them.
  // ---------------------------------------------------------------------

  /** Multiset intersection size over sorted copies (set_intersection). */
  private static int overlapCount(long[] a, long[] b) {
    java.util.Arrays.sort(a);
    java.util.Arrays.sort(b);
    int i = 0, j = 0, c = 0;
    while (i < a.length && j < b.length) {
      if (a[i] < b[j]) i++;
      else if (b[j] < a[i]) j++;
      else { c++; i++; j++; }
    }
    return c;
  }

  public static float hasIdOverlap(ArrayData inputIds, ArrayData matchingIds) {
    java.util.HashSet<Long> set = new java.util.HashSet<>();
    for (int i = 0; i < inputIds.numElements(); i++) set.add(inputIds.getLong(i));
    for (int j = 0; j < matchingIds.numElements(); j++) {
      if (set.contains(matchingIds.getLong(j))) return 1.0f;
    }
    return 0.0f;
  }

  public static float idOverlapCount(ArrayData inputIds, ArrayData matchingIds) {
    return overlapCount(inputIds.toLongArray(), matchingIds.toLongArray());
  }

  /** id -> count map (idToScoreSumMap without scores: each id counts 1.0f). */
  private static java.util.HashMap<Long, Float> countMap(ArrayData ids) {
    java.util.HashMap<Long, Float> m = new java.util.HashMap<>();
    for (int i = 0; i < ids.numElements(); i++) {
      m.merge(ids.getLong(i), 1.0f, Float::sum);
    }
    return m;
  }

  private static java.util.HashMap<Long, Float> scoreSumMap(ArrayData ids,
      ArrayData scores) {
    if (ids.numElements() != scores.numElements()) {
      throw new IllegalArgumentException(
          "ids and scores should have the same len");
    }
    java.util.HashMap<Long, Float> m = new java.util.HashMap<>();
    for (int i = 0; i < ids.numElements(); i++) {
      m.merge(ids.getLong(i), scores.getFloat(i), Float::sum);
    }
    return m;
  }

  public static float getMaxCount(ArrayData inputIds, ArrayData matchingIds) {
    java.util.HashMap<Long, Float> m0 = countMap(inputIds);
    java.util.HashMap<Long, Float> m1 = countMap(matchingIds);
    float r = 0.0f;
    for (java.util.Map.Entry<Long, Float> e : m0.entrySet()) {
      Float match = m1.get(e.getKey());
      if (match != null) r += Math.max(e.getValue(), match);
    }
    return r;
  }

  public static float getJaccardSimilarity(ArrayData inputIds,
      ArrayData matchingIds) {
    float c = overlapCount(inputIds.toLongArray(), matchingIds.toLongArray());
    return c / (inputIds.numElements() + matchingIds.numElements() - c);
  }

  private static float scoreNorm(java.util.HashMap<Long, Float> m) {
    float ip = 0.0f;
    for (float v : m.values()) ip += v * v;
    if (ip == 0.0f) throw new IllegalArgumentException(
        "inner product should not be zero");
    return (float) Math.sqrt(ip);
  }

  public static float getCosineSimilarity(ArrayData inputIds,
      ArrayData inputScores, ArrayData matchingIds, ArrayData matchingScores) {
    java.util.HashMap<Long, Float> m0 = scoreSumMap(inputIds, inputScores);
    java.util.HashMap<Long, Float> m1 = scoreSumMap(matchingIds, matchingScores);
    float sum = 0.0f;
    for (java.util.Map.Entry<Long, Float> e : m0.entrySet()) {
      Float match = m1.get(e.getKey());
      if (match != null) sum += e.getValue() * match;
    }
    return sum / scoreNorm(m0) / scoreNorm(m1);
  }

  public static float getScoreSum(ArrayData inputIds, ArrayData inputScores,
      ArrayData matchingIds, ArrayData matchingScores) {
    java.util.HashMap<Long, Float> m0 = scoreSumMap(inputIds, inputScores);
    java.util.HashMap<Long, Float> m1 = scoreSumMap(matchingIds, matchingScores);
    float sum = 0.0f;
    for (Long k : m0.keySet()) {
      Float match = m1.get(k);
      if (match != null) sum += match;
    }
    return sum;
  }

  /** min-dedup of matching (id,score), then min over matches of inputIds;
   * 0 when no overlap. */
  public static float getScoreMin(ArrayData inputIds, ArrayData matchingIds,
      ArrayData matchingScores) {
    java.util.HashMap<Long, Float> m = minMaxMap(matchingIds, matchingScores, true);
    float min = Float.MAX_VALUE;
    boolean found = false;
    for (int i = 0; i < inputIds.numElements(); i++) {
      Float match = m.get(inputIds.getLong(i));
      if (match != null) { min = Math.min(min, match); found = true; }
    }
    return found ? min : 0.0f;
  }

  public static float getScoreMax(ArrayData inputIds, ArrayData matchingIds,
      ArrayData matchingScores) {
    java.util.HashMap<Long, Float> m = minMaxMap(matchingIds, matchingScores, false);
    float max = -Float.MAX_VALUE;
    boolean found = false;
    for (int i = 0; i < inputIds.numElements(); i++) {
      Float match = m.get(inputIds.getLong(i));
      if (match != null) { max = Math.max(max, match); found = true; }
    }
    return found ? max : 0.0f;
  }

  private static java.util.HashMap<Long, Float> minMaxMap(ArrayData ids,
      ArrayData scores, boolean min) {
    if (ids.numElements() != scores.numElements()) {
      throw new IllegalArgumentException(
          "matching ids and scores should have the same len");
    }
    java.util.HashMap<Long, Float> m = new java.util.HashMap<>();
    for (int i = 0; i < ids.numElements(); i++) {
      float s = scores.getFloat(i);
      m.merge(ids.getLong(i), s, min ? Float::min : Float::max);
    }
    return m;
  }

  // ---------------------------------------------------------------------
  // Python-semantics string predicates (string_functions.h:69-473).
  // Implemented over Unicode code points with java.lang.Character, which
  // exposes the same Unicode categories Python's str.is* rules use.
  // ---------------------------------------------------------------------

  private interface CpPredicate { boolean test(int cp); }

  private static boolean allCodePoints(UTF8String s, CpPredicate p) {
    String str = s.toString();
    if (str.isEmpty()) return false;
    int i = 0;
    while (i < str.length()) {
      int cp = str.codePointAt(i);
      if (!p.test(cp)) return false;
      i += Character.charCount(cp);
    }
    return true;
  }

  public static boolean isAlpha(UTF8String s) {
    return allCodePoints(s, Character::isLetter);
  }

  /** Alpha (Lu∪Ll∪Lt∪Lm∪Lo = Character.isLetter) or Number
   * (Nd∪Nl∪No), per string_functions.h:131-132. */
  public static boolean isAlnum(UTF8String s) {
    return allCodePoints(s, cp -> {
      int t = Character.getType(cp);
      return Character.isLetter(cp)
          || t == Character.DECIMAL_DIGIT_NUMBER
          || t == Character.LETTER_NUMBER
          || t == Character.OTHER_NUMBER;
    });
  }

  /** Reference isdigit is Unicode-category based: Nd ∪ No
   * (string_functions.h:34-37) — superscripts and vulgar fractions
   * count, Roman numerals (Nl) do not. NOT Character.isDigit (Nd
   * only) and not CPython's Numeric_Type rules. */
  public static boolean isDigit(UTF8String s) {
    return allCodePoints(s, cp -> {
      int t = Character.getType(cp);
      return t == Character.DECIMAL_DIGIT_NUMBER
          || t == Character.OTHER_NUMBER;
    });
  }

  /** Nd only (string_functions.h:39-41). */
  public static boolean isDecimal(UTF8String s) {
    return allCodePoints(s,
        cp -> Character.getType(cp) == Character.DECIMAL_DIGIT_NUMBER);
  }

  /** Nd ∪ Nl ∪ No (string_functions.h:28-32). */
  public static boolean isNumeric(UTF8String s) {
    return allCodePoints(s, cp -> {
      int t = Character.getType(cp);
      return t == Character.DECIMAL_DIGIT_NUMBER
          || t == Character.LETTER_NUMBER
          || t == Character.OTHER_NUMBER;
    });
  }

  public static boolean isSpace(UTF8String s) {
    return allCodePoints(s, cp -> Character.isWhitespace(cp)
        || Character.getType(cp) == Character.SPACE_SEPARATOR);
  }

  /** Python islower: at least one cased char and no uppercase/titlecase. */
  public static boolean isLower(UTF8String s) {
    String str = s.toString();
    boolean cased = false;
    int i = 0;
    while (i < str.length()) {
      int cp = str.codePointAt(i);
      if (Character.isUpperCase(cp) || Character.isTitleCase(cp)) return false;
      if (Character.isLowerCase(cp)) cased = true;
      i += Character.charCount(cp);
    }
    return cased;
  }

  public static boolean isUpper(UTF8String s) {
    String str = s.toString();
    boolean cased = false;
    int i = 0;
    while (i < str.length()) {
      int cp = str.codePointAt(i);
      if (Character.isLowerCase(cp) || Character.isTitleCase(cp)) return false;
      if (Character.isUpperCase(cp)) cased = true;
      i += Character.charCount(cp);
    }
    return cased;
  }

  /** Python istitle: cased runs start upper/title, rest lower. */
  public static boolean isTitle(UTF8String s) {
    String str = s.toString();
    boolean prevCased = false;
    boolean sawCased = false;
    int i = 0;
    while (i < str.length()) {
      int cp = str.codePointAt(i);
      boolean upperish = Character.isUpperCase(cp) || Character.isTitleCase(cp);
      boolean lower = Character.isLowerCase(cp);
      if (upperish) {
        if (prevCased) return false;
        sawCased = true;
        prevCased = true;
      } else if (lower) {
        if (!prevCased) return false;
        sawCased = true;
        prevCased = true;
      } else {
        prevCased = false;
      }
      i += Character.charCount(cp);
    }
    return sawCased;
  }

  // ---------------------------------------------------------------------
  // Dedup / fingerprint kernels (LLM-pipeline extensions)
  // ---------------------------------------------------------------------

  /** 64-bit FNV-1a over UTF-8 bytes — stable rolling document fingerprint. */
  public static long fingerprint64(UTF8String s) {
    byte[] bytes = s.getBytes();
    long h = 0xcbf29ce484222325L;
    for (byte b : bytes) {
      h ^= (b & 0xffL);
      h *= 0x100000001b3L;
    }
    return h;
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, "Winnowing:
   * Local Algorithms for Document Fingerprinting", SIGMOD 2003):
   * polynomial rolling hash over byte k-grams, then the minimum hash of
   * each window of w consecutive k-gram hashes is selected, taking the
   * RIGHTMOST minimum on ties (the paper's robust tie rule). Guarantee
   * (paper §3): two documents sharing a substring of at least
   * w + k - 1 bytes share at least one fingerprint, and no match
   * shorter than k bytes is ever detected. A document with fewer than
   * w k-grams contributes the minimum over all of them. Returns the
   * distinct selected fingerprints as a sorted array&lt;long&gt;,
   * directly consumable by {@link #jaccardSorted}. O(n) per document:
   * one rolling-hash pass plus a monotonic-deque sliding minimum. */
  /** Twang-mixed polynomial rolling hashes of the byte k-grams of
   * {@code b} — the gram stream both winnowing entry points select
   * from. Caller guarantees b.length >= k. */
  private static long[] winnowGrams(byte[] b, int k) {
    int m = b.length - k + 1;
    final long B = 0x100000001b3L; // odd -> invertible multiplier mod 2^64
    long bk = 1L;
    for (int i = 1; i < k; i++) bk *= B; // B^(k-1), weight of the oldest byte
    long h = 0L;
    for (int i = 0; i < k; i++) h = h * B + (b[i] & 0xffL);
    long[] grams = new long[m];
    grams[0] = twangMix64(h);
    for (int i = 1; i < m; i++) {
      h = (h - (b[i - 1] & 0xffL) * bk) * B + (b[i + k - 1] & 0xffL);
      grams[i] = twangMix64(h);
    }
    return grams;
  }

  /** The winnowing selection loop — sliding unsigned minimum via a
   * monotonic index deque; popping the back on `>=` makes the front
   * the RIGHTMOST minimum of the window (the paper's robust tie
   * rule), and a position is recorded whenever the winning index
   * changes (one record per selection, not per window). Returns the
   * selected POSITIONS in pick order. The ONE implementation both
   * {@link #winnow} (values) and {@link #winnowSelCount} (count)
   * consume, so the q292 coverage-bound oracle can never drift from
   * the fingerprint values. */
  private static int[] winnowPositions(long[] grams, int w) {
    int m = grams.length;
    int win = Math.min(w, m);
    int[] deque = new int[m];
    int head = 0, tail = 0; // candidates live in [head, tail)
    int[] picks = new int[m];
    int nSel = 0;
    int lastPick = -1;
    for (int i = 0; i < m; i++) {
      while (tail > head
          && grams[deque[tail - 1]] + Long.MIN_VALUE
              >= grams[i] + Long.MIN_VALUE) {
        tail--;
      }
      deque[tail++] = i;
      if (deque[head] <= i - win) head++;
      if (i >= win - 1 && deque[head] != lastPick) {
        lastPick = deque[head];
        picks[nSel++] = lastPick;
      }
    }
    return java.util.Arrays.copyOf(picks, nSel);
  }

  public static ArrayData winnow(UTF8String text, int k, int w) {
    if (k < 1 || w < 1) {
      throw new IllegalArgumentException("winnow: need k >= 1 and w >= 1");
    }
    byte[] b = text.getBytes();
    if (b.length - k + 1 <= 0) return new GenericArrayData(new long[0]);
    long[] grams = winnowGrams(b, k);
    int[] picks = winnowPositions(grams, w);
    long[] sel = new long[picks.length];
    for (int i = 0; i < picks.length; i++) sel[i] = grams[picks[i]];
    java.util.Arrays.sort(sel);
    int d = 0;
    for (int s = 0; s < sel.length; s++) {
      if (d == 0 || sel[s] != sel[d - 1]) sel[d++] = sel[s];
    }
    return new GenericArrayData(java.util.Arrays.copyOf(sel, d));
  }

  /** 64-bit audio content fingerprint of a RIFF/WAVE byte stream:
   * parse the container (real LE chunk walk — PCM, 1-2 channels,
   * 8/16/24-bit; anything else raises), downmix each sample frame to
   * one integer by CHANNEL SUM (division-free, so exactly restatable
   * by any engine; mono is the identity), frame the values into 65
   * equal spans by floor division, sum |value| per frame (integer
   * energy), and set bit f (MSB-first) when frame f is quieter than
   * frame f+1 — the audio analog of {@link #dhash64}'s gradient bits.
   * Energy ratios are GAIN-INVARIANT: scaling every sample by a
   * constant scales all frame energies together, so comparisons are
   * unchanged (exact for even samples halved); duplicating every
   * sample (2x upsample) doubles every frame energy when frame
   * boundaries align, also a no-op; swapping stereo channels leaves
   * the per-frame channel sums untouched. 8-bit WAV PCM is unsigned
   * and recentered at -128 per the spec; 16/24-bit are signed LE.
   * Every step is integer arithmetic over the decoded samples, so the
   * q293/q299 oracles re-derive the fingerprint from the generator
   * arithmetic in DuckDB — WAV is uncompressed, so encode->decode is
   * the identity.
   *
   * <p>The chunk walk validates every declared size: a negative or
   * stream-overrunning chunk size raises instead of wedging the walk
   * (this kernel sees arbitrary corpus blobs, so a malformed file must
   * fail the row, never spin an executor task). */
  public static long audioFp64(byte[] b) {
    if (b.length < 44 || b[0] != 'R' || b[1] != 'I' || b[2] != 'F'
        || b[3] != 'F' || b[8] != 'W' || b[9] != 'A' || b[10] != 'V'
        || b[11] != 'E') {
      throw new IllegalArgumentException(
          "audioFp64: bytes are not a RIFF/WAVE stream");
    }
    int pos = 12;
    int dataOff = -1, dataLen = -1, fmt = -1, channels = -1, bits = -1;
    int subFmt = -1, validBits = -1;
    while (pos + 8 <= b.length) {
      int size = (b[pos + 4] & 0xff) | ((b[pos + 5] & 0xff) << 8)
          | ((b[pos + 6] & 0xff) << 16) | ((b[pos + 7] & 0xff) << 24);
      if (size < 0) {
        throw new IllegalArgumentException("audioFp64: negative RIFF "
            + "chunk size " + size + " at offset " + pos
            + " — corrupt container");
      }
      if (b[pos] == 'f' && b[pos + 1] == 'm' && b[pos + 2] == 't'
          && b[pos + 3] == ' ' && pos + 8 + 16 <= b.length) {
        fmt = (b[pos + 8] & 0xff) | ((b[pos + 9] & 0xff) << 8);
        channels = (b[pos + 10] & 0xff) | ((b[pos + 11] & 0xff) << 8);
        bits = (b[pos + 22] & 0xff) | ((b[pos + 23] & 0xff) << 8);
        // WAVE_FORMAT_EXTENSIBLE (0xFFFE): the real-world container
        // for stereo/>16-bit PCM — the actual format code lives in
        // the first two bytes of the SubFormat GUID, alongside the
        // valid-bits-per-sample field
        if (fmt == 0xFFFE && size >= 40 && pos + 8 + 34 <= b.length) {
          validBits = (b[pos + 26] & 0xff) | ((b[pos + 27] & 0xff) << 8);
          subFmt = (b[pos + 32] & 0xff) | ((b[pos + 33] & 0xff) << 8);
        }
      } else if (b[pos] == 'd' && b[pos + 1] == 'a' && b[pos + 2] == 't'
          && b[pos + 3] == 'a') {
        dataOff = pos + 8;
        dataLen = size;
      }
      // advance in long: size is validated >= 0, so progress is strict
      // and pos + 8 + size + pad cannot overflow into a negative read
      long next = pos + 8L + size + (size & 1); // RIFF word alignment
      if (next + 8 > b.length) break;
      pos = (int) next;
    }
    if (fmt == 0xFFFE && subFmt == 1 && validBits == bits) {
      fmt = 1; // extensible-wrapped PCM at full container depth
    }
    if (fmt != 1 || channels < 1 || channels > 2
        || (bits != 8 && bits != 16 && bits != 24)) {
      throw new IllegalArgumentException(
          "audioFp64: need PCM with 1-2 channels at 8/16/24-bit "
              + "(plain or extensible-wrapped), got fmt=" + fmt
              + " subFormat=" + subFmt + " channels=" + channels
              + " bits=" + bits + " validBits=" + validBits);
    }
    int bytesPerSample = bits / 8;
    int blockAlign = channels * bytesPerSample;
    if (dataOff < 0 || dataLen < 0
        || dataOff + (long) dataLen > b.length) {
      throw new IllegalArgumentException(
          "audioFp64: missing or truncated data chunk");
    }
    int n = dataLen / blockAlign; // sample FRAMES (one value per channel)
    if (n < 65) {
      throw new IllegalArgumentException(
          "audioFp64: " + n + " samples < the 65-frame grid");
    }
    long[] energy = new long[65];
    for (int i = 0; i < n; i++) {
      int base = dataOff + i * blockAlign;
      long v = 0L;
      for (int c = 0; c < channels; c++) {
        int o = base + c * bytesPerSample;
        int sVal;
        if (bits == 8) {
          sVal = (b[o] & 0xff) - 128; // 8-bit WAV PCM is unsigned
        } else if (bits == 16) {
          sVal = (b[o] & 0xff) | (b[o + 1] << 8); // hi byte sign-extends
        } else {
          sVal = (b[o] & 0xff) | ((b[o + 1] & 0xff) << 8)
              | (b[o + 2] << 16); // 24-bit signed LE
        }
        v += sVal;
      }
      int f = (int) ((long) i * 65L / n);
      energy[f] += Math.abs(v);
    }
    long out = 0L;
    for (int f = 0; f < 64; f++) {
      if (energy[f] < energy[f + 1]) {
        out |= 1L << (63 - f);
      }
    }
    return out;
  }

  private static int be32At(byte[] b, int i) {
    return ((b[i] & 0xff) << 24) | ((b[i + 1] & 0xff) << 16)
        | ((b[i + 2] & 0xff) << 8) | (b[i + 3] & 0xff);
  }

  /** Extent (in bytes) of the ISO-BMFF box at {@code pos}, resolving
   * the spec's three size encodings: a plain 32-bit size, size == 1
   * (64-bit `largesize` follows the type), and size == 0 (box runs to
   * the end of the enclosing space). Returned as long so a >2 GiB
   * declared size can be range-checked instead of wrapping. */
  private static long boxSize(byte[] b, int pos, int hi) {
    long size = be32At(b, pos) & 0xffffffffL;
    if (size == 1L) {
      if (pos + 16 > hi) return -1L;
      size = ((long) be32At(b, pos + 8) << 32)
          | (be32At(b, pos + 12) & 0xffffffffL);
    } else if (size == 0L) {
      size = hi - pos;
    }
    return size;
  }

  /** Header length of the box at {@code pos}: 16 when the size field
   * is the largesize marker, 8 otherwise. Content starts after it. */
  private static int boxHeader(byte[] b, int pos) {
    return be32At(b, pos) == 1 ? 16 : 8;
  }

  /** Offset of the first ISO-BMFF box named {@code id} in
   * {@code [lo, hi)}, or -1 — the standard size-prefixed box walk,
   * understanding largesize and to-end-of-space encodings. */
  private static int findBox(byte[] b, int lo, int hi, String id) {
    int pos = lo;
    byte c0 = (byte) id.charAt(0), c1 = (byte) id.charAt(1);
    byte c2 = (byte) id.charAt(2), c3 = (byte) id.charAt(3);
    while (pos + 8 <= hi) {
      long size = boxSize(b, pos, hi);
      if (size < 8 || pos + size > hi) return -1;
      if (b[pos + 4] == c0 && b[pos + 5] == c1 && b[pos + 6] == c2
          && b[pos + 7] == c3) {
        return pos;
      }
      pos += (int) size; // pos + size <= hi <= Integer.MAX_VALUE
    }
    return -1;
  }

  /** End offset of the box at {@code pos} (its extent was already
   * validated against {@code hi} by the {@link #findBox} that found
   * it). */
  private static int boxEnd(byte[] b, int pos, int hi) {
    return pos + (int) boxSize(b, pos, hi);
  }

  /** Per-frame 64-bit perceptual hashes of an ISO-BMFF (MP4) stream:
   * walk the REAL nested box structure (moov/trak/mdia/minf/stbl),
   * read the sample table — `stsz` per-sample sizes, `stco`/`co64`
   * chunk offsets, and the `stsc` sample-to-chunk map, the genuine
   * ISO 14496-12 frame addressing (single-chunk tables may omit
   * `stsc`) — slice each stored frame out of the addressed chunks,
   * and {@link #dhash64} it. Handles `largesize` boxes in the sibling
   * walk, multi-chunk layouts, and 64-bit chunk offsets bounded by the
   * in-memory stream. The video face of the content-level dedup
   * family: a video is its frame fingerprint set, and near-dup videos
   * share frames. Every declared count and size is validated against
   * the enclosing box extent and the stream length BEFORE any
   * allocation or read — a malformed container raises
   * IllegalArgumentException (never an array overrun or OOM), because
   * this kernel sees arbitrary corpus blobs and a broken file must
   * fail its row, not its executor. */
  public static ArrayData videoFrameHashes(byte[] b) {
    if (b.length < 16 || findBox(b, 0, b.length, "ftyp") != 0) {
      throw new IllegalArgumentException(
          "videoFrameHashes: bytes are not an ISO-BMFF stream");
    }
    int moov = findBox(b, 0, b.length, "moov");
    if (moov < 0) {
      throw new IllegalArgumentException("videoFrameHashes: no moov box");
    }
    int moovEnd = boxEnd(b, moov, b.length);
    // walk ALL traks and pick the first whose hdlr handler_type is
    // 'vide' — real containers interleave audio/subtitle traks before
    // the video one, and hashing an audio sample table would be
    // silently wrong. A trak with no hdlr counts as video only if no
    // explicit 'vide' trak exists (legacy single-trak synth streams).
    int stbl = -1;
    int fallbackStbl = -1;
    int scan = moov + boxHeader(b, moov);
    while (scan + 8 <= moovEnd) {
      int trak = findBox(b, scan, moovEnd, "trak");
      if (trak < 0) break;
      int trakEnd = boxEnd(b, trak, moovEnd);
      int mdia = findBox(b, trak + boxHeader(b, trak), trakEnd, "mdia");
      if (mdia >= 0) {
        int mdiaEnd = boxEnd(b, mdia, trakEnd);
        int hdlr = findBox(b, mdia + boxHeader(b, mdia), mdiaEnd, "hdlr");
        boolean isVide = hdlr >= 0 && hdlr + boxHeader(b, hdlr) + 12 <= mdiaEnd
            && b[hdlr + boxHeader(b, hdlr) + 8] == 'v'
            && b[hdlr + boxHeader(b, hdlr) + 9] == 'i'
            && b[hdlr + boxHeader(b, hdlr) + 10] == 'd'
            && b[hdlr + boxHeader(b, hdlr) + 11] == 'e';
        int minf = findBox(b, mdia + boxHeader(b, mdia), mdiaEnd, "minf");
        int st = minf < 0 ? -1
            : findBox(b, minf + boxHeader(b, minf),
                boxEnd(b, minf, mdiaEnd), "stbl");
        if (st >= 0) {
          if (isVide) {
            stbl = st;
            break;
          }
          if (hdlr < 0 && fallbackStbl < 0) fallbackStbl = st;
        }
      }
      scan = trakEnd;
    }
    if (stbl < 0) stbl = fallbackStbl;
    if (stbl < 0) {
      throw new IllegalArgumentException("videoFrameHashes: no video "
          + "trak with an mdia/minf/stbl path");
    }
    int stblEnd = boxEnd(b, stbl, moovEnd);
    int stblLo = stbl + boxHeader(b, stbl);
    int stsz = findBox(b, stblLo, stblEnd, "stsz");
    int stco = findBox(b, stblLo, stblEnd, "stco");
    int co64 = findBox(b, stblLo, stblEnd, "co64");
    int stsc = findBox(b, stblLo, stblEnd, "stsc");
    if (stsz < 0 || (stco < 0 && co64 < 0)) {
      throw new IllegalArgumentException(
          "videoFrameHashes: sample table missing stsz or stco/co64");
    }
    // stsz: uniform size or per-entry table; bound the declared count
    // by the box extent (per-entry mode) and the stream length (every
    // sample is at least one byte) before allocating anything
    int szHdr = stsz + boxHeader(b, stsz);
    long stszEnd = boxEnd(b, stsz, stblEnd);
    int uniform = be32At(b, szHdr + 4);
    int n = be32At(b, szHdr + 8);
    if (n <= 0 || n > b.length
        || (uniform == 0 && n > (stszEnd - (szHdr + 12)) / 4)) {
      throw new IllegalArgumentException("videoFrameHashes: stsz "
          + "declares " + n + " samples, outside the box/stream extent");
    }
    // chunk offsets: stco (32-bit) or co64 (64-bit), count bounded by
    // the box extent
    long[] chunkOff;
    if (stco >= 0) {
      int h = stco + boxHeader(b, stco);
      long end = boxEnd(b, stco, stblEnd);
      int chunks = be32At(b, h + 4);
      if (chunks <= 0 || chunks > (end - (h + 8)) / 4) {
        throw new IllegalArgumentException("videoFrameHashes: stco "
            + "declares " + chunks + " chunks, outside the box extent");
      }
      chunkOff = new long[chunks];
      for (int c = 0; c < chunks; c++) {
        chunkOff[c] = be32At(b, h + 8 + 4 * c) & 0xffffffffL;
      }
    } else {
      int h = co64 + boxHeader(b, co64);
      long end = boxEnd(b, co64, stblEnd);
      int chunks = be32At(b, h + 4);
      if (chunks <= 0 || chunks > (end - (h + 8)) / 8) {
        throw new IllegalArgumentException("videoFrameHashes: co64 "
            + "declares " + chunks + " chunks, outside the box extent");
      }
      chunkOff = new long[chunks];
      for (int c = 0; c < chunks; c++) {
        chunkOff[c] = ((long) be32At(b, h + 8 + 8 * c) << 32)
            | (be32At(b, h + 12 + 8 * c) & 0xffffffffL);
      }
    }
    int chunks = chunkOff.length;
    // samples-per-chunk: expand the stsc run-length map (first_chunk is
    // 1-based and strictly increasing; each entry covers chunks up to
    // the next entry's first_chunk). A single-chunk table may omit
    // stsc entirely — all samples live in chunk 1.
    int[] spc = new int[chunks];
    if (stsc >= 0) {
      int h = stsc + boxHeader(b, stsc);
      long end = boxEnd(b, stsc, stblEnd);
      int ec = be32At(b, h + 4);
      if (ec <= 0 || ec > (end - (h + 8)) / 12) {
        throw new IllegalArgumentException("videoFrameHashes: stsc "
            + "declares " + ec + " entries, outside the box extent");
      }
      int prevFirst = 0, prevSpc = -1;
      for (int e = 0; e < ec; e++) {
        int fc = be32At(b, h + 8 + 12 * e);
        int v = be32At(b, h + 8 + 12 * e + 4);
        if (fc <= prevFirst || fc > chunks || v <= 0
            || (e == 0 && fc != 1)) {
          throw new IllegalArgumentException("videoFrameHashes: stsc "
              + "entry " + e + " (first_chunk=" + fc + ", samples="
              + v + ") is out of order or out of range");
        }
        // the previous entry covers 1-based chunks [prevFirst, fc)
        for (int c = prevFirst - 1; e > 0 && c < fc - 1; c++) {
          spc[c] = prevSpc;
        }
        prevFirst = fc;
        prevSpc = v;
      }
      for (int c = prevFirst - 1; c < chunks; c++) spc[c] = prevSpc;
    } else {
      if (chunks != 1) {
        throw new IllegalArgumentException("videoFrameHashes: " + chunks
            + "-chunk sample table has no stsc sample-to-chunk map");
      }
      spc[0] = n;
    }
    long[] hashes = new long[n];
    int i = 0;
    for (int c = 0; c < chunks && i < n; c++) {
      long off = chunkOff[c];
      for (int s = 0; s < spc[c] && i < n; s++, i++) {
        long size = uniform != 0 ? uniform & 0xffffffffL
            : be32At(b, szHdr + 12 + 4 * i) & 0xffffffffL;
        if (size <= 0 || off < 0 || off + size > b.length) {
          throw new IllegalArgumentException(
              "videoFrameHashes: sample " + i + " overruns the stream");
        }
        hashes[i] = dhash64(java.util.Arrays.copyOfRange(
            b, (int) off, (int) (off + size)));
        off += size;
      }
    }
    if (i != n) {
      throw new IllegalArgumentException("videoFrameHashes: the stsc "
          + "chunk map addresses only " + i + " of " + n + " samples");
    }
    return new GenericArrayData(hashes);
  }

  /** Number of SELECTED POSITIONS of {@link #winnow} (before the
   * value-level distinct): the quantity the winnowing guarantees bound
   * — at least one per window of win = min(w, m) k-grams (so
   * nSel * win &gt;= n_windows) and at most one per window index (so
   * nSel &lt;= n_windows), with expected density 2/(w+1) per k-gram on
   * random input (Schleimer et al. §3). Integer-bounded by text length
   * alone, which is what makes the q292 companion oracle possible
   * while the fingerprint VALUES stay engine-defined. Delegates to
   * the SAME {@link #winnowPositions} loop winnow uses — the bound
   * and the values cannot drift apart. */
  public static long winnowSelCount(UTF8String text, int k, int w) {
    if (k < 1 || w < 1) {
      throw new IllegalArgumentException(
          "winnowSelCount: need k >= 1 and w >= 1");
    }
    byte[] b = text.getBytes();
    if (b.length - k + 1 <= 0) return 0L;
    return winnowPositions(winnowGrams(b, k), w).length;
  }

  /** Affine permutation coefficients per (seed, k), derived
   * deterministically and cached — they are shingle-invariant. */
  private static final ConcurrentHashMap<Long, long[][]> MINHASH_COEF =
      new ConcurrentHashMap<>();

  private static long[][] minhashCoef(int k, long seed) {
    return MINHASH_COEF.computeIfAbsent(seed * 31L + k, key -> {
      long[] a = new long[k];
      long[] b = new long[k];
      for (int j = 0; j < k; j++) {
        a[j] = twangMix64(seed + 2L * j + 1L) | 1L; // odd multiplier
        b[j] = twangMix64(seed ^ (0x9e3779b97f4a7c15L * (j + 1)));
      }
      return new long[][] {a, b};
    });
  }

  /** MinHash signature: k permutations h_i(x) = a_i*x + b_i over the
   * base-hashed shingles; single pass over the shingle array. */
  public static ArrayData minHash(ArrayData shingles, int k, long seed) {
    long[][] coef = minhashCoef(k, seed);
    long[] a = coef[0], b = coef[1];
    long[] sig = new long[k];
    java.util.Arrays.fill(sig, Long.MAX_VALUE);
    int n = shingles.numElements();
    for (int i = 0; i < n; i++) {
      long base = fingerprint64(shingles.getUTF8String(i));
      for (int j = 0; j < k; j++) {
        long h = a[j] * base + b[j];
        if (h + Long.MIN_VALUE < sig[j] + Long.MIN_VALUE) sig[j] = h; // unsigned min
      }
    }
    return new GenericArrayData(sig);
  }

  /** Fused tokenize → word-shingle → MinHash over raw UTF-8 bytes: no
   * token/shingle string materialization. Tokens split on ASCII
   * whitespace runs; each token FNV-hashed in place; shingle hash is an
   * order-sensitive hash128to64 chain over the window. Semantics match
   * minHash(shingles(text)) up to the (internal) hash values. */
  public static ArrayData minHashText(UTF8String text, int shingleSize,
      int k, long seed) {
    byte[] bytes = text.getBytes();
    // collect token fingerprints
    long[] tokHash = new long[16];
    int nTok = 0;
    int i = 0;
    int len = bytes.length;
    while (i < len) {
      while (i < len && isWs(bytes[i])) i++;
      if (i >= len) break;
      long h = 0xcbf29ce484222325L;
      while (i < len && !isWs(bytes[i])) {
        h ^= (bytes[i] & 0xffL);
        h *= 0x100000001b3L;
        i++;
      }
      if (nTok == tokHash.length) {
        tokHash = java.util.Arrays.copyOf(tokHash, nTok * 2);
      }
      tokHash[nTok++] = h;
    }
    long[][] coef = minhashCoef(k, seed);
    long[] a = coef[0], b = coef[1];
    long[] sig = new long[k];
    java.util.Arrays.fill(sig, Long.MAX_VALUE);
    int nShingles = Math.max(nTok - shingleSize + 1, 1);
    int win = Math.min(shingleSize, nTok);
    for (int s = 0; s < nShingles; s++) {
      long h = 0L;
      for (int j = 0; j < win; j++) h = hash128to64(h, tokHash[s + j]);
      for (int j = 0; j < k; j++) {
        long p = a[j] * h + b[j];
        if (p + Long.MIN_VALUE < sig[j] + Long.MIN_VALUE) sig[j] = p;
      }
    }
    return new GenericArrayData(sig);
  }

  /** Word k-shingles as strings — the fused kernel behind
   * TextAnalysis.shingles. Exact semantics of
   * {@code transform(sequence(...), i -> array_join(slice(split(trim(
   * text), "\\s+"), i, k), " "))}: 0x20 spaces trimmed at the ends,
   * tokens split on ASCII-whitespace RUNS (Java regex \s class), a
   * leading non-space whitespace run yields an empty first token and a
   * trailing run an empty last token (split limit -1), windows of k
   * tokens joined by single spaces, and fewer than k tokens yield ONE
   * shingle of all tokens. One byte scan + one allocation per shingle
   * versus the HOF chain's regex split and per-window slice +
   * array_join — ~3-5x on the dedup/decontamination explode paths. */
  public static ArrayData wordShingles(UTF8String text, int k) {
    // SQL-reachable (word_shingles): guard before the window math,
    // which would otherwise allocate a negative-length array for k < 1
    if (k < 1)
      throw new IllegalArgumentException(
          "word_shingles: k must be >= 1, got " + k);
    byte[] b = text.trim().getBytes();
    int n = b.length;
    // token segments [start, end) between whitespace runs
    int[] starts = new int[16];
    int[] ends = new int[16];
    int m = 0;
    int segStart = 0;
    int i = 0;
    while (i < n) {
      if (isWs(b[i])) {
        if (m == starts.length) {
          starts = java.util.Arrays.copyOf(starts, m * 2);
          ends = java.util.Arrays.copyOf(ends, m * 2);
        }
        starts[m] = segStart;
        ends[m++] = i;
        while (i < n && isWs(b[i])) i++;
        segStart = i;
      } else {
        i++;
      }
    }
    if (m == starts.length) {
      starts = java.util.Arrays.copyOf(starts, m + 1);
      ends = java.util.Arrays.copyOf(ends, m + 1);
    }
    starts[m] = segStart;
    ends[m++] = n;
    int count = m < k ? 1 : m - k + 1;
    int win = Math.min(k, m);
    UTF8String[] out = new UTF8String[count];
    for (int s = 0; s < count; s++) {
      int len = win - 1;
      for (int j = 0; j < win; j++) len += ends[s + j] - starts[s + j];
      byte[] buf = new byte[len];
      int p = 0;
      for (int j = 0; j < win; j++) {
        if (j > 0) buf[p++] = ' ';
        int sl = ends[s + j] - starts[s + j];
        System.arraycopy(b, starts[s + j], buf, p, sl);
        p += sl;
      }
      out[s] = UTF8String.fromBytes(buf);
    }
    return new GenericArrayData(out);
  }

  /** Distinct hashed word-shingles of a text (sorted array<long>) — the
   * exact-Jaccard unit without materializing shingle strings. Same
   * tokenization/windowing as minHashText. */
  public static ArrayData shingleSet(UTF8String text, int shingleSize) {
    byte[] bytes = text.getBytes();
    long[] tokHash = new long[16];
    int nTok = 0;
    int i = 0;
    int len = bytes.length;
    while (i < len) {
      while (i < len && isWs(bytes[i])) i++;
      if (i >= len) break;
      long h = 0xcbf29ce484222325L;
      while (i < len && !isWs(bytes[i])) {
        h ^= (bytes[i] & 0xffL);
        h *= 0x100000001b3L;
        i++;
      }
      if (nTok == tokHash.length) {
        tokHash = java.util.Arrays.copyOf(tokHash, nTok * 2);
      }
      tokHash[nTok++] = h;
    }
    int nShingles = Math.max(nTok - shingleSize + 1, 1);
    int win = Math.min(shingleSize, nTok);
    long[] out = new long[nShingles];
    for (int s = 0; s < nShingles; s++) {
      long h = 0L;
      for (int j = 0; j < win; j++) h = hash128to64(h, tokHash[s + j]);
      out[s] = h;
    }
    java.util.Arrays.sort(out);
    int m = 0;
    for (int s = 0; s < nShingles; s++) {
      if (m == 0 || out[s] != out[m - 1]) out[m++] = out[s];
    }
    return new GenericArrayData(java.util.Arrays.copyOf(out, m));
  }

  /** Distinct hashed character k-grams of a text (sorted array<long>):
   * Spark's `xxhash64` (seed 42) of every window of k code points, the
   * same values as `xxhash64(substr(text, i, k))` for i in 1..len-k+1,
   * in one pass over the bytes with no substring copies. Code points are
   * walked by their UTF-8 lead byte, clamped to the string's bytes, so a
   * malformed trailing byte ends the string rather than reading past it.
   * A text of fewer than k code points has no k-grams. */
  public static ArrayData charShingleSet(UTF8String text, int k) {
    Object base = text.getBaseObject();
    long off = text.getBaseOffset();
    int nb = text.numBytes();
    // starts[c] = byte offset of code point c; starts[n] = nb ends the
    // last code point even when its lead byte claims more bytes
    int[] starts = new int[nb + 1];
    int n = 0;
    for (int i = 0; i < nb; n++) {
      starts[n] = i;
      i += UTF8String.numBytesForFirstByte(Platform.getByte(base, off + i));
    }
    starts[n] = nb;
    if (k < 1 || n < k) return new GenericArrayData(new long[0]);
    int count = n - k + 1;
    long[] out = new long[count];
    for (int c = 0; c < count; c++) {
      out[c] = XXH64.hashUnsafeBytes(base, off + starts[c],
          starts[c + k] - starts[c], 42L);
    }
    java.util.Arrays.sort(out);
    int m = 0;
    for (int s = 0; s < count; s++) {
      if (m == 0 || out[s] != out[m - 1]) out[m++] = out[s];
    }
    return new GenericArrayData(java.util.Arrays.copyOf(out, m));
  }

  /** Fraction of equal positions between two equal-length minhash
   * signatures — the MinHash Jaccard estimate, one fused pass
   * (replaces a zip_with + aggregate HOF chain per candidate pair). */
  public static double sigMatchRatio(ArrayData a, ArrayData b) {
    int n = Math.min(a.numElements(), b.numElements());
    if (n == 0) return 0.0;
    int eq = 0;
    for (int i = 0; i < n; i++) {
      if (a.getLong(i) == b.getLong(i)) eq++;
    }
    return (double) eq / (double) n;
  }

  /** Jaccard of two sorted distinct long arrays (merge scan). */
  public static double jaccardSorted(ArrayData a, ArrayData b) {
    int na = a.numElements(), nb = b.numElements();
    int i = 0, j = 0, inter = 0;
    while (i < na && j < nb) {
      long x = a.getLong(i), y = b.getLong(j);
      if (x < y) i++;
      else if (y < x) j++;
      else { inter++; i++; j++; }
    }
    int union = na + nb - inter;
    return union == 0 ? 0.0 : (double) inter / union;
  }

  private static boolean isWs(byte b) {
    return b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f'
        || b == '\r';
  }

  /** SimHash over token strings: 64-bit sign-aggregated fingerprint. */
  public static long simHash64(ArrayData tokens) {
    int[] acc = new int[64];
    int n = tokens.numElements();
    for (int i = 0; i < n; i++) {
      long h = fingerprint64(tokens.getUTF8String(i));
      for (int bit = 0; bit < 64; bit++) {
        if (((h >>> bit) & 1L) == 1L) acc[bit]++; else acc[bit]--;
      }
    }
    long out = 0L;
    for (int bit = 0; bit < 64; bit++) {
      if (acc[bit] > 0) out |= (1L << bit);
    }
    return out;
  }

  /** Hamming distance between two 64-bit simhashes. */
  public static int hamming64(long a, long b) {
    return Long.bitCount(a ^ b);
  }

  // ---------------------------------------------------------------------
  // Language ID: single pass over tokens against built-in stopword
  // profiles (public-knowledge function words; mirrors
  // graft.operators.TextAnalysis.stopwordProfiles).
  // ---------------------------------------------------------------------

  private static final String[] LANGS = {"de", "en", "es", "fr", "zh"};
  private static final java.util.Map<String, Integer> STOPWORD_LANG =
      new java.util.HashMap<>();
  static {
    String[][] words = {
      {"der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine",
       "zu", "den", "von", "für", "auf", "im"},
      {"the", "a", "of", "and", "to", "in", "is", "that", "it", "for",
       "on", "with", "as", "are", "this"},
      {"el", "la", "los", "las", "y", "es", "un", "una", "de", "que",
       "en", "por", "para", "no", "con"},
      {"le", "la", "les", "et", "est", "un", "une", "de", "du", "pour",
       "dans", "que", "qui", "pas", "sur"},
      {"的", "了", "是", "我", "不", "在", "他", "有", "这", "个", "们",
       "中", "来", "上", "大"}};
    for (int l = 0; l < words.length; l++) {
      for (String w : words[l]) {
        // words shared across profiles (la/un/de/es...) keep a combined
        // mask so each language still gets credit
        STOPWORD_LANG.merge(w, 1 << l, (x, y) -> x | y);
      }
    }
  }

  // fused fast path: FNV hash of each stopword's lowercase UTF-8 bytes
  // → language mask, as a sorted parallel-array table (75 entries,
  // binary search, no per-token allocation)
  private static final long[] STOPWORD_HASH;
  private static final int[] STOPWORD_MASK;
  static {
    java.util.TreeMap<Long, Integer> m = new java.util.TreeMap<>();
    for (java.util.Map.Entry<String, Integer> e : STOPWORD_LANG.entrySet()) {
      byte[] b = e.getKey().getBytes(java.nio.charset.StandardCharsets.UTF_8);
      long h = 0xcbf29ce484222325L;
      for (byte x : b) {
        h ^= (x & 0xffL);
        h *= 0x100000001b3L;
      }
      m.merge(h, e.getValue(), (x, y) -> x | y);
    }
    STOPWORD_HASH = new long[m.size()];
    STOPWORD_MASK = new int[m.size()];
    int i = 0;
    for (java.util.Map.Entry<Long, Integer> e : m.entrySet()) {
      STOPWORD_HASH[i] = e.getKey();
      STOPWORD_MASK[i] = e.getValue();
      i++;
    }
  }

  /** Fused language ID over raw text: single byte scan (whitespace
   * tokenization + ASCII lowercasing + FNV hash per token + binary
   * search in the stopword-hash table) — no token array, no String
   * allocation. Same predictions as {@code langId(tokens(lower(text)))}
   * up to (a) 64-bit FNV collisions against the 75-word table and
   * (b) UPPERCASE NON-ASCII letters: the scan lowercases ASCII only, so
   * e.g. "FÜR" does not match the German stopword "für" while
   * {@code lower()} would — acceptable for the heuristic (stopwords in
   * running text are overwhelmingly lowercase). */
  public static UTF8String langIdText(UTF8String text) {
    byte[] bytes = text.getBytes();
    int[] hits = new int[LANGS.length];
    int i = 0;
    int len = bytes.length;
    while (i < len) {
      while (i < len && isWs(bytes[i])) i++;
      if (i >= len) break;
      long h = 0xcbf29ce484222325L;
      while (i < len && !isWs(bytes[i])) {
        int b = bytes[i] & 0xff;
        if (b >= 'A' && b <= 'Z') b += 32; // ASCII lowercase
        h ^= b;
        h *= 0x100000001b3L;
        i++;
      }
      int pos = java.util.Arrays.binarySearch(STOPWORD_HASH, h);
      if (pos >= 0) {
        int mask = STOPWORD_MASK[pos];
        for (int l = 0; l < LANGS.length; l++) {
          if ((mask & (1 << l)) != 0) hits[l]++;
        }
      }
    }
    int best = -1, bestHits = 0;
    for (int l = 0; l < LANGS.length; l++) {
      if (hits[l] > bestHits) { bestHits = hits[l]; best = l; }
    }
    return UTF8String.fromString(best < 0 ? "und" : LANGS[best]);
  }

  /** argmax-stopword-ratio language of a token array; "und" when no
   * profile hits. Ties break alphabetically (lang order above). */
  public static UTF8String langId(ArrayData tokens) {
    int[] hits = new int[LANGS.length];
    int n = tokens.numElements();
    for (int i = 0; i < n; i++) {
      Integer mask = STOPWORD_LANG.get(tokens.getUTF8String(i).toString());
      if (mask != null) {
        for (int l = 0; l < LANGS.length; l++) {
          if ((mask & (1 << l)) != 0) hits[l]++;
        }
      }
    }
    int best = -1, bestHits = 0;
    for (int l = 0; l < LANGS.length; l++) {
      if (hits[l] > bestHits) { bestHits = hits[l]; best = l; }
    }
    return UTF8String.fromString(best < 0 ? "und" : LANGS[best]);
  }

  // ---------------------------------------------------------------------
  // Embedding kernels (float32 vectors as ArrayData)
  // ---------------------------------------------------------------------

  /** Bit-exact port of torcharrow_round (numeric_functions.h:139-160):
   * rint (round-half-even on the SCALED double) with a power-of-10
   * factor — differs from Spark round (half-up: round(2.5)=3 vs 2
   * here) and, on doubles whose scaled value is not an exact tie,
   * from bround (which rounds the shortest decimal rendering). */
  public static double roundRef(double number, int decimals) {
    if (!Double.isFinite(number)) return number;
    if (decimals == 0) return Math.rint(number);
    if (decimals > 0) {
      double factor = Math.pow(10, decimals);
      return Math.rint(number * factor) / factor;
    }
    double factor = Math.pow(10, -decimals);
    return Math.rint(number / factor) * factor;
  }

  // ---------------------------------------------------------------------
  // Exact sums: doubles as 4-decimal fixed point
  // ---------------------------------------------------------------------

  /** Below this magnitude the fast path's margin,
   * 10^4·ulp(x) + ulp(10^4·x), stays under 0.3: a midpoint half a unit
   * away is never within it. */
  private static final double DECIMAL4_FAST_LIMIT = 1e11;
  /** 2^63 / 10^4 rounded up to a double: every smaller magnitude has an
   * unscaled value that fits a long. */
  private static final double DECIMAL4_LIMIT = 0x1p63 / 1e4;

  /**
   * The unscaled value of Spark's {@code CAST(x AS DECIMAL(25,4))}: the
   * decimal {@code Double.toString(x)} rounded HALF_UP to 4 places, times
   * 10^4. Sums of these longs are exact, so an aggregate over them does
   * not depend on partial-aggregation order.
   *
   * <p>Fast path, for |x| below 1e11: with y = |x|·10^4 as a double and
   * its fraction d = y − floor(y) (exact), the answer is
   * floor(y) + (d > 0.5), with x's sign, whenever |d − 0.5| exceeds the
   * margin 10^4·ulp(x) + ulp(y). {@code Double.toString} round-trips, so
   * its decimal is within ulp(x)/2 of x, and y is within ulp(y)/2 of
   * 10^4·x: the scaled decimal is within half the margin of y, and no
   * rounding midpoint lies between them. Every other input takes the
   * exact BigDecimal path.
   *
   * @throws ArithmeticException naming x when x is NaN, infinite, or at
   *     least 2^63/10^4 in magnitude
   */
  public static long decimal4Unscaled(double x) {
    double a = Math.abs(x);
    if (a < DECIMAL4_FAST_LIMIT) {
      double y = a * 1e4;
      double whole = Math.floor(y);
      double d = y - whole;
      if (Math.abs(d - 0.5) > 1e4 * Math.ulp(x) + Math.ulp(y)) {
        long u = (long) whole + (d > 0.5 ? 1 : 0);
        return x < 0 ? -u : u;
      }
    } else if (!(a < DECIMAL4_LIMIT)) {
      throw new ArithmeticException("decimal4Unscaled: " + x
          + " is NaN, infinite or at least 2^63/10^4 in magnitude;"
          + " its 4-decimal unscaled value does not fit a long");
    }
    return new BigDecimal(Double.toString(x))
        .setScale(4, RoundingMode.HALF_UP).unscaledValue().longValueExact();
  }

  public static double dotF(ArrayData a, ArrayData b) {
    int n = Math.min(a.numElements(), b.numElements());
    double s = 0.0;
    for (int i = 0; i < n; i++) s += (double) a.getFloat(i) * b.getFloat(i);
    return s;
  }

  public static double normF(ArrayData a) {
    int n = a.numElements();
    double s = 0.0;
    for (int i = 0; i < n; i++) {
      double v = a.getFloat(i);
      s += v * v;
    }
    return Math.sqrt(s);
  }

  public static double cosineF(ArrayData a, ArrayData b) {
    double na = normF(a), nb = normF(b);
    if (na == 0.0 || nb == 0.0) return 0.0;
    return dotF(a, b) / (na * nb);
  }

  /** ASCII letter ratio: [A-Za-z] bytes / max(byte length, 1) — the
   * byte-scan equivalent of
   * length(regexp_replace(text,'[^A-Za-z]','')) / greatest(length,1)
   * for ASCII text (bytes == chars; the driver corpus is pure
   * printable ASCII at every SF). */
  public static double asciiAlphaRatio(UTF8String text) {
    byte[] b = text.getBytes();
    int letters = 0;
    for (byte x : b) {
      if ((x >= 'A' && x <= 'Z') || (x >= 'a' && x <= 'z')) letters++;
    }
    return (double) letters / (double) Math.max(b.length, 1);
  }

  private static final byte[][] EN_STOPWORDS = {
    "the".getBytes(), "a".getBytes(), "of".getBytes(), "and".getBytes(),
    "to".getBytes(), "in".getBytes(), "is".getBytes(), "that".getBytes(),
    "it".getBytes(), "for".getBytes(), "on".getBytes(), "with".getBytes(),
    "as".getBytes(), "are".getBytes(), "this".getBytes()};

  /** English stopword-token ratio in one byte scan: equivalent of
   * size(filter(split(trim(lower(text)),'\s+'), t -> t IN en)) /
   * greatest(size(split(trim(lower(text)),'\s+')), 1). Token count
   * mirrors regex-split semantics: segments = whitespace runs + 1
   * after space-trimming (leading/trailing non-space whitespace yields
   * empty segments, as in split with limit -1). */
  public static double stopwordRatioEn(UTF8String text) {
    byte[] b = text.getBytes();
    int lo = 0;
    int hi = b.length;
    while (lo < hi && b[lo] == ' ') lo++;   // trim spaces only
    while (hi > lo && b[hi - 1] == ' ') hi--;
    int runs = 0;
    int hits = 0;
    int i = lo;
    while (i < hi) {
      if (isWs(b[i])) {
        runs++;
        while (i < hi && isWs(b[i])) i++;
      } else {
        int s = i;
        while (i < hi && !isWs(b[i])) i++;
        int len = i - s;
        for (byte[] w : EN_STOPWORDS) {
          if (w.length != len) continue;
          boolean eq = true;
          for (int j = 0; j < len; j++) {
            int c = b[s + j] & 0xff;
            if (c >= 'A' && c <= 'Z') c += 32;
            if (c != (w[j] & 0xff)) { eq = false; break; }
          }
          if (eq) { hits++; break; }
        }
      }
    }
    int tokens = runs + 1; // matches split('\s+', -1) segment count
    return (double) hits / (double) Math.max(tokens, 1);
  }

  /** IVF coarse quantizer assignment: index of the centroid (rows of
   * the flattened `centroids` array, each `dim` doubles, assumed
   * L2-normalized) with the largest dot product against the vector —
   * spherical k-means cell. */
  public static int nearestCell(ArrayData v, ArrayData centroids, int dim) {
    int nc = centroids.numElements() / dim;
    int n = Math.min(dim, v.numElements());
    double best = Double.NEGATIVE_INFINITY;
    int bi = 0;
    for (int c = 0; c < nc; c++) {
      double dot = 0.0;
      int base = c * dim;
      for (int i = 0; i < n; i++) {
        dot += centroids.getDouble(base + i) * v.getFloat(i);
      }
      if (dot > best) {
        best = dot;
        bi = c;
      }
    }
    return bi;
  }

  /** The `nProbe` nearest cells for a probe vector (descending dot
   * product; ties by lower cell id). */
  public static ArrayData nearestCells(ArrayData v, ArrayData centroids,
      int dim, int nProbe) {
    int nc = centroids.numElements() / dim;
    int n = Math.min(dim, v.numElements());
    double[] dots = new double[nc];
    for (int c = 0; c < nc; c++) {
      double dot = 0.0;
      int base = c * dim;
      for (int i = 0; i < n; i++) {
        dot += centroids.getDouble(base + i) * v.getFloat(i);
      }
      dots[c] = dot;
    }
    int m = Math.min(nProbe, nc);
    int[] out = new int[m];
    boolean[] used = new boolean[nc];
    for (int r = 0; r < m; r++) {
      double best = Double.NEGATIVE_INFINITY;
      int bi = -1;
      for (int c = 0; c < nc; c++) {
        if (!used[c] && dots[c] > best) {
          best = dots[c];
          bi = c;
        }
      }
      used[bi] = true;
      out[r] = bi;
    }
    return new GenericArrayData(out);
  }

  // ---------------------------------------------------------------------
  // Repetition signals (Gopher, Rae et al. 2021 — "Scaling Language
  // Models", Table A1 repetition filters; same family as the public
  // C4/RefinedWeb heuristics). One fused pass per document.
  // ---------------------------------------------------------------------

  /** Per-document repetition signals as a fixed 13-slot array&lt;double&gt;:
   *
   * <pre>
   *  0 dup_line_frac        lines occurring beyond first / lines
   *  1 dup_line_char_frac   bytes of those repeats / bytes of all lines
   *  2 dup_para_frac        same over blank-line-separated paragraphs
   *  3 dup_para_char_frac
   *  4..6  top_ngram_char_frac   n = 2, 3, 4
   *  7..12 dup_ngram_char_frac   n = 5 .. 10
   * </pre>
   *
   * Definitions (documented choices, fixed by the q79 pinned fixture):
   * lines split on '\n', paragraphs on runs of 2+ '\n'; empty segments
   * are skipped; segment identity is its 64-bit FNV fingerprint (hash
   * collisions treated as equality — negligible per-document). Words
   * split on ASCII whitespace runs; "characters" are UTF-8 bytes (exact
   * for ASCII, proportional otherwise — a per-document RATIO, so the
   * bias cancels). top_ngram_char_frac(n) = max over n-grams occurring
   * &gt;= 2 times of count * (sum of word byte-lens) / total word bytes
   * (a singleton n-gram is not repetition → 0; ties resolved by the max
   * product, which IS the quantity). dup_ngram_char_frac(n) = bytes of
   * word positions covered by any n-gram occurring &gt;= 2 times / total
   * word bytes — coverage, so overlapping repeats are not double
   * counted (the DataTrove/NeMo-Curator public formulation).
   *
   * O(total bytes + words * 9) per document, zero string
   * materialization: word identity is the FNV hash of its bytes,
   * n-gram identity an order-sensitive hash128to64 chain. */
  public static ArrayData repetitionSignals(UTF8String text) {
    byte[] b = text.getBytes();
    double[] out = new double[13];
    segmentDupStats(b, false, out, 0);
    segmentDupStats(b, true, out, 2);

    // tokenize: word hashes + byte lengths (no strings)
    int nw = 0;
    long[] wh = new long[16];
    int[] wl = new int[16];
    int i = 0;
    int n = b.length;
    while (i < n) {
      while (i < n && isAsciiSpace(b[i])) i++;
      if (i >= n) break;
      int s = i;
      long h = 0xcbf29ce484222325L;
      while (i < n && !isAsciiSpace(b[i])) {
        h ^= (b[i] & 0xffL);
        h *= 0x100000001b3L;
        i++;
      }
      if (nw == wh.length) {
        wh = java.util.Arrays.copyOf(wh, nw * 2);
        wl = java.util.Arrays.copyOf(wl, nw * 2);
      }
      wh[nw] = h;
      wl[nw] = i - s;
      nw++;
    }
    long totalWordBytes = 0;
    for (int w = 0; w < nw; w++) totalWordBytes += wl[w];
    if (totalWordBytes == 0) return new GenericArrayData(out);

    for (int g = 2; g <= 4; g++) {
      out[2 + g] = topNgramCharFrac(wh, wl, nw, g, totalWordBytes);
    }
    for (int g = 5; g <= 10; g++) {
      out[2 + g] = dupNgramCharFrac(wh, wl, nw, g, totalWordBytes);
    }
    return new GenericArrayData(out);
  }

  private static boolean isAsciiSpace(byte c) {
    return c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f'
        || c == 0x0b;
  }

  /** Duplicate-segment fraction and char fraction over lines
   * (para=false, split on '\n') or paragraphs (para=true, split on runs
   * of 2+ '\n'); writes the two fractions at out[at], out[at+1]. */
  private static void segmentDupStats(byte[] b, boolean para, double[] out,
      int at) {
    java.util.HashMap<Long, Integer> seen = new java.util.HashMap<>();
    long nSeg = 0, dupSeg = 0, totBytes = 0, dupBytes = 0;
    int i = 0;
    int n = b.length;
    while (i < n) {
      int s = i;
      int end = s;
      if (para) {
        // a paragraph ends at a run of 2+ '\n' (or EOF); single
        // newlines stay inside the paragraph
        while (end < n) {
          if (b[end] == '\n') {
            int r = end;
            while (r < n && b[r] == '\n') r++;
            if (r - end >= 2) break;
            end = r;
          } else {
            end++;
          }
        }
      } else {
        while (end < n && b[end] != '\n') end++;
      }
      int len = end - s;
      if (len > 0) {
        long h = 0xcbf29ce484222325L;
        for (int j = s; j < s + len; j++) {
          h ^= (b[j] & 0xffL);
          h *= 0x100000001b3L;
        }
        nSeg++;
        totBytes += len;
        int cnt = seen.merge(h, 1, Integer::sum);
        if (cnt > 1) {
          dupSeg++;
          dupBytes += len;
        }
      }
      i = end;
      if (para) {
        while (i < n && b[i] == '\n') i++;
      } else {
        i = end + 1;
      }
    }
    out[at] = nSeg == 0 ? 0.0 : (double) dupSeg / nSeg;
    out[at + 1] = totBytes == 0 ? 0.0 : (double) dupBytes / totBytes;
  }

  /** Hash of the n-gram starting at w (order-sensitive chain). */
  private static long ngramHash(long[] wh, int w, int g) {
    long h = wh[w];
    for (int j = 1; j < g; j++) h = hash128to64(h, wh[w + j]);
    return h;
  }

  private static double topNgramCharFrac(long[] wh, int[] wl, int nw, int g,
      long totalWordBytes) {
    int m = nw - g + 1;
    if (m < 2) return 0.0; // a repeat needs at least two n-grams
    java.util.HashMap<Long, Integer> cnt = new java.util.HashMap<>(m * 2);
    long[] hashes = new long[m];
    for (int w = 0; w < m; w++) {
      hashes[w] = ngramHash(wh, w, g);
      cnt.merge(hashes[w], 1, Integer::sum);
    }
    long best = 0;
    // max of count * byte-len over n-grams occurring >= 2 times; scan
    // positions so the byte length of each candidate is at hand
    for (int w = 0; w < m; w++) {
      int c = cnt.get(hashes[w]);
      if (c >= 2) {
        long bytes = 0;
        for (int j = 0; j < g; j++) bytes += wl[w + j];
        long prod = (long) c * bytes;
        if (prod > best) best = prod;
      }
    }
    // count * bytes overcounts when occurrences of the top n-gram
    // overlap (e.g. a doc that is one word repeated); the quantity is
    // a fraction of the document, so saturate at 1
    return Math.min(1.0, (double) best / totalWordBytes);
  }

  private static double dupNgramCharFrac(long[] wh, int[] wl, int nw, int g,
      long totalWordBytes) {
    int m = nw - g + 1;
    if (m < 2) return 0.0;
    java.util.HashMap<Long, Integer> cnt = new java.util.HashMap<>(m * 2);
    long[] hashes = new long[m];
    for (int w = 0; w < m; w++) {
      hashes[w] = ngramHash(wh, w, g);
      cnt.merge(hashes[w], 1, Integer::sum);
    }
    // coverage: a word position counts once no matter how many
    // duplicated n-grams span it
    boolean[] covered = new boolean[nw];
    for (int w = 0; w < m; w++) {
      if (cnt.get(hashes[w]) >= 2) {
        for (int j = 0; j < g; j++) covered[w + j] = true;
      }
    }
    long bytes = 0;
    for (int w = 0; w < nw; w++) {
      if (covered[w]) bytes += wl[w];
    }
    return (double) bytes / totalWordBytes;
  }

  /** Deterministic sample bucket in [0, 8192): top 13 bits of the
   * splitmix64 finalizer (Steele, Lea &amp; Flood, "Fast splittable
   * pseudorandom number generators", OOPSLA 2014 — public constants)
   * applied to `key + seed * golden64`. The xor-shift-multiply rounds
   * are the point: a bare multiply-shift is LINEAR in (key, seed), so
   * changing the seed would only rotate the bucket space — two samples
   * under different seeds would be near-identical or near-disjoint,
   * and keys colliding in a bucket would collide under every seed.
   * After the nonlinear finalizer, distinct seeds yield statistically
   * independent bucket assignments. Java's wrap-around arithmetic IS
   * the mod-2^64 reduction. Used by deterministic sampling /
   * train-val-test splits (Sampling.scala) — reproducible for a given
   * (key, seed) across runs, partitionings, and engines with exact
   * 64-bit arithmetic; the DuckDB oracle replays it bit-for-bit in
   * HUGEINT/UBIGINT (LmPrepGates.bucketCtes). */
  public static int sampleBucket(long key, long seed) {
    return (int) (sampleHash(key, seed) >>> 51);
  }

  /** Full 64-bit splitmix64 value behind {@link #sampleBucket} — the
   * deterministic global shuffle key: ORDER BY sampleHash(key, seed)
   * is a reproducible, engine-portable permutation of the corpus
   * (training-data shuffling without rand()). Signed Java comparison
   * order; cross-engine oracles must reduce to the same signed 64-bit
   * value. */
  public static long sampleHash(long key, long seed) {
    long z = key + seed * 0x9E3779B97F4A7C15L;
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L;
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL;
    z ^= (z >>> 31);
    return z;
  }

  /** Product-quantization encode (Jegou, Douze & Schmid, TPAMI 2011):
   * split the vector into m contiguous subspaces and store, per
   * subspace, the index of the L2-nearest codeword. `codebooks` is
   * flat [subspace][code][subdim] with subDim = v.length/m; ties go to
   * the lower code id. Output: m byte codes — the 4*dim/m at-rest
   * compression that makes a 100 TB embedding column scannable. */
  public static ArrayData pqEncode(ArrayData v, ArrayData codebooks,
      int m, int k) {
    int dim = v.numElements();
    int sub = dim / m;
    if (sub * m != dim || codebooks.numElements() != m * k * sub) {
      throw new IllegalArgumentException(
          "pqEncode: vector dim " + dim + " does not match the trained "
              + "codebook layout (m=" + m + ", k=" + k + ", flat="
              + codebooks.numElements() + ") — mixed-dimension corpus?");
    }
    byte[] out = new byte[m];
    for (int mi = 0; mi < m; mi++) {
      double best = Double.POSITIVE_INFINITY;
      int bi = 0;
      for (int j = 0; j < k; j++) {
        int base = (mi * k + j) * sub;
        double d2 = 0.0;
        for (int i = 0; i < sub; i++) {
          double d = codebooks.getDouble(base + i)
              - v.getFloat(mi * sub + i);
          d2 += d * d;
        }
        if (d2 < best) {
          best = d2;
          bi = j;
        }
      }
      out[mi] = (byte) bi;
    }
    return new GenericArrayData(out);
  }

  /** Per-probe PQ lookup table: lut[mi*k + j] = dot(probe subvector mi,
   * codeword j of subspace mi) — so an asymmetric-distance (ADC) scan
   * approximates dot(probe, x) as the sum of m table lookups. */
  public static ArrayData pqLut(ArrayData probe, ArrayData codebooks,
      int m, int k) {
    int dim = probe.numElements();
    int sub = dim / m;
    if (sub * m != dim || codebooks.numElements() != m * k * sub) {
      throw new IllegalArgumentException(
          "pqLut: probe dim " + dim + " does not match the trained "
              + "codebook layout (m=" + m + ", k=" + k + ", flat="
              + codebooks.numElements() + ")");
    }
    double[] out = new double[m * k];
    for (int mi = 0; mi < m; mi++) {
      for (int j = 0; j < k; j++) {
        int base = (mi * k + j) * sub;
        double dot = 0.0;
        for (int i = 0; i < sub; i++) {
          dot += codebooks.getDouble(base + i)
              * probe.getFloat(mi * sub + i);
        }
        out[mi * k + j] = dot;
      }
    }
    return new GenericArrayData(out);
  }

  /** ADC score: approximate dot(probe, x) from x's PQ codes and the
   * probe's lookup table — m array reads per candidate, no float math
   * over the original vector. */
  public static double pqScore(ArrayData codes, ArrayData lut, int k) {
    int m = codes.numElements();
    if (lut.numElements() != m * k) {
      throw new IllegalArgumentException(
          "pqScore: LUT size " + lut.numElements() + " != m*k = "
              + (m * k));
    }
    double s = 0.0;
    for (int mi = 0; mi < m; mi++) {
      s += lut.getDouble(mi * k + (codes.getByte(mi) & 0xff));
    }
    return s;
  }

  /** Unicode NFC normalization (canonical composition) — the first step
   * of the standard corpus text-normalization pass. java.text.Normalizer
   * implements the same Unicode normalization algorithm as DuckDB's
   * utf8proc-backed nfc_normalize, so the result is engine-portable and
   * full-oracle verifiable. Fast path: Normalizer.isNormalized is a
   * cheap scan (ASCII corpora — the common case — never allocate). */
  public static UTF8String nfcNormalize(UTF8String s) {
    String str = s.toString();
    if (java.text.Normalizer.isNormalized(
        str, java.text.Normalizer.Form.NFC)) {
      return s;
    }
    return UTF8String.fromString(java.text.Normalizer.normalize(
        str, java.text.Normalizer.Form.NFC));
  }

  /** FastSS edit-distance-1 neighborhood (Bocek et al., 2007): the
   * string itself plus every single-codepoint deletion. Two strings
   * within Levenshtein distance 1 ALWAYS share a neighborhood key
   * (substitution at i → both i-deletions equal; insertion → the
   * longer string's deletion equals the shorter string itself; equal →
   * identity key), so an equi-join on these keys is a provably
   * lossless candidate generator for ed≤1 — |s|+1 keys per string,
   * no cross product. Codepoint-level so surrogate pairs never split. */
  public static ArrayData editNeighborhood1(UTF8String s) {
    String str = s.toString();
    int[] cps = str.codePoints().toArray();
    UTF8String[] out = new UTF8String[cps.length + 1];
    out[0] = s;
    StringBuilder sb = new StringBuilder(str.length());
    for (int i = 0; i < cps.length; i++) {
      sb.setLength(0);
      for (int j = 0; j < cps.length; j++) {
        if (j != i) sb.appendCodePoint(cps[j]);
      }
      out[i + 1] = UTF8String.fromString(sb.toString());
    }
    return org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out);
  }

  /** Random-hyperplane LSH bucket id for a float vector: `bits` sign bits
   * of dot products with pseudo-random hyperplanes derived from seed. */
  public static long hyperplaneLsh(ArrayData v, int bits, long seed) {
    int dim = v.numElements();
    long out = 0L;
    for (int b = 0; b < bits; b++) {
      double dot = 0.0;
      for (int i = 0; i < dim; i++) {
        // deterministic pseudo-gaussian-ish component in [-1, 1)
        long h = twangMix64(seed ^ (((long) b << 32) | (long) i));
        double r = (h >> 11) * 0x1.0p-52; // [-1, 1)
        dot += r * v.getFloat(i);
      }
      if (dot >= 0) out |= (1L << b);
    }
    return out;
  }

  /** 64-bit difference hash (dHash) of an encoded image: decode the
   * bytes (any ImageIO-supported container — PNG/JPEG/BMP/GIF ship in
   * the JDK), reduce to a 9x8 grid of box-filtered luma averages, and
   * set bit r*8+c (MSB-first) when cell (r,c) is darker than its right
   * neighbor. Every step is INTEGER arithmetic over the decoded pixels
   * — luma = (299R + 587G + 114B)/1000, cell membership x*9/w and
   * y*8/h by floor division, cell value = floor(sum/count) — so the
   * signature is bit-replayable by any engine that can restate the
   * pixels (the q289 oracle re-derives it from the generator
   * arithmetic in DuckDB; PNG's losslessness makes encode->decode the
   * identity). Gradient-based, so invariant to uniform brightness
   * shifts and to pixel-replication upscales — the two classic
   * near-dup perturbations. The standard perceptual hash of the
   * content-dedup literature (dHash; Krawetz 2013, public).
   *
   * <p>Decode happens once per row inside codegen via StaticInvoke —
   * no UDF serialization; a memory-backed stream keeps ImageIO off
   * its disk cache. Undecodable or sub-grid images raise: silently
   * hashing garbage would poison a dedup pass.
   *
   * <p>Round-21 optimization: the overwhelmingly common corpus shape —
   * 8-bit non-interlaced truecolor PNG with only critical chunks —
   * takes a direct spec-level decode path ({@link #dhash64Png}) that
   * inflates and unfilters the scanlines straight into the 9x8 luma
   * accumulation: same integer arithmetic over the identical decoded
   * samples (PNG color type 2 stores raw 8-bit RGB, exactly what
   * getRGB returns for such images), no BufferedImage, no ImageIO
   * reader lookup. Anything else — other color types, ancillary
   * chunks, CRC mismatches, short streams, non-PNG containers — falls
   * back to the ImageIO path below, which keeps defining the
   * behavioral contract (KernelsSpec/ImageDedupSpec pin fast == slow
   * on both encoders' output). */
  public static long dhash64(byte[] bytes) {
    Long fast = dhash64Png(bytes);
    if (fast != null) {
      return fast.longValue();
    }
    java.awt.image.BufferedImage img;
    try {
      img = javax.imageio.ImageIO.read(
          new javax.imageio.stream.MemoryCacheImageInputStream(
              new java.io.ByteArrayInputStream(bytes)));
    } catch (java.io.IOException e) {
      throw new IllegalArgumentException("dhash64: image decode failed", e);
    }
    if (img == null) {
      throw new IllegalArgumentException(
          "dhash64: bytes are not a decodable image");
    }
    int w = img.getWidth(), h = img.getHeight();
    if (w < 9 || h < 8) {
      throw new IllegalArgumentException(
          "dhash64: image smaller than the 9x8 dHash grid: " + w + "x" + h);
    }
    long[] sum = new long[72];
    long[] cnt = new long[72];
    // bulk row reads: one color-model conversion per ROW, not per
    // pixel (identical ARGB values to per-pixel getRGB — the q289
    // oracle pins that) — several-x decode-side throughput on a real
    // image corpus, bounded scratch (w ints)
    int[] row = new int[w];
    for (int y = 0; y < h; y++) {
      int cy = y * 8 / h;
      img.getRGB(0, y, w, 1, row, 0, w);
      for (int x = 0; x < w; x++) {
        int cx = x * 9 / w;
        int rgb = row[x];
        long gray = (299L * ((rgb >> 16) & 0xff) + 587L * ((rgb >> 8) & 0xff)
            + 114L * (rgb & 0xff)) / 1000L;
        sum[cy * 9 + cx] += gray;
        cnt[cy * 9 + cx]++;
      }
    }
    return dhashFromGrid(sum, cnt);
  }

  /** dHash of the 9x8 box-filtered luma grid — shared tail of the
   * fast-path and ImageIO decodes (one definition of the bit
   * packing). */
  private static long dhashFromGrid(long[] sum, long[] cnt) {
    long out = 0L;
    for (int r = 0; r < 8; r++) {
      for (int c = 0; c < 8; c++) {
        long a = sum[r * 9 + c] / cnt[r * 9 + c];
        long b = sum[r * 9 + c + 1] / cnt[r * 9 + c + 1];
        if (a < b) {
          out |= 1L << (63 - (r * 8 + c));
        }
      }
    }
    return out;
  }

  private static final ThreadLocal<java.util.zip.Inflater> PNG_INFLATER =
      ThreadLocal.withInitial(java.util.zip.Inflater::new);

  private static int png32(byte[] b, int o) {
    return ((b[o] & 0xff) << 24) | ((b[o + 1] & 0xff) << 16)
        | ((b[o + 2] & 0xff) << 8) | (b[o + 3] & 0xff);
  }

  /** Direct decode of an 8-bit non-interlaced TRUECOLOR (color type
   * 2) PNG carrying only critical chunks, CRC-verified, straight into
   * the dHash luma grid. Returns null whenever the bytes are not
   * exactly that shape (the caller falls back to ImageIO, which owns
   * the behavioral contract for every other input — including the
   * sub-grid raise, so w &lt; 9 / h &lt; 8 also returns null here).
   * Unfiltering implements all five PNG filter types, so any
   * encoder's choice of per-row filters decodes identically (pinned
   * against ImageIO-encoded bytes in ImageDedupSpec). */
  private static Long dhash64Png(byte[] b) {
    // signature + IHDR chunk (8 + 4+4+13+4) + at least an IEND
    if (b == null || b.length < 45
        || (b[0] & 0xff) != 0x89 || b[1] != 'P' || b[2] != 'N'
        || b[3] != 'G' || b[4] != 0x0d || b[5] != 0x0a
        || b[6] != 0x1a || b[7] != 0x0a) {
      return null;
    }
    if (png32(b, 8) != 13 || b[12] != 'I' || b[13] != 'H'
        || b[14] != 'D' || b[15] != 'R') {
      return null;
    }
    int w = png32(b, 16), h = png32(b, 20);
    int depth = b[24] & 0xff, color = b[25] & 0xff;
    int comp = b[26] & 0xff, filt = b[27] & 0xff, inter = b[28] & 0xff;
    if (depth != 8 || color != 2 || comp != 0 || filt != 0
        || inter != 0 || w < 9 || h < 8) {
      return null;
    }
    // bound dimensions BEFORE multiplying: an adversarial IHDR with
    // w,h near 2^31 would overflow stride*h to a wrapped negative that
    // slips past the 128 MB cap and crashes the byte[] alloc instead
    // of falling back to ImageIO (2^24 each keeps the product far
    // inside long; anything bigger fails the cap below anyway)
    if (w > (1 << 24) || h > (1 << 24)) {
      return null;
    }
    long stride = 1L + 3L * w;
    long rawLen = stride * h;
    if (rawLen > (1L << 27)) { // >128 MB decoded: let ImageIO bound it
      return null;
    }
    java.util.zip.CRC32 crc = new java.util.zip.CRC32();
    crc.update(b, 12, 17);
    if ((int) crc.getValue() != png32(b, 29)) {
      return null;
    }
    // walk the chunks: concatenate IDAT payloads, stop at IEND,
    // bail to ImageIO on anything else (ancillary chunks can carry
    // rendering intent; the fallback decides what they mean)
    int pos = 33;
    int idatLen = 0;
    // first pass: total IDAT size + structural validation
    int p = pos;
    boolean sawEnd = false;
    while (p + 8 <= b.length) {
      int len = png32(b, p);
      if (len < 0 || p + 12 + (long) len > b.length) {
        return null;
      }
      int t0 = b[p + 4], t1 = b[p + 5], t2 = b[p + 6], t3 = b[p + 7];
      if (t0 == 'I' && t1 == 'D' && t2 == 'A' && t3 == 'T') {
        idatLen += len;
      } else if (t0 == 'I' && t1 == 'E' && t2 == 'N' && t3 == 'D') {
        sawEnd = true;
        break;
      } else {
        return null;
      }
      crc.reset();
      crc.update(b, p + 4, 4 + len);
      if ((int) crc.getValue() != png32(b, p + 8 + len)) {
        return null;
      }
      p += 12 + len;
    }
    if (!sawEnd || idatLen <= 0) {
      return null;
    }
    byte[] z = new byte[idatLen];
    int zo = 0;
    p = pos;
    while (true) {
      int len = png32(b, p);
      if (b[p + 4] == 'I' && b[p + 5] == 'E') {
        break;
      }
      System.arraycopy(b, p + 8, z, zo, len);
      zo += len;
      p += 12 + len;
    }
    byte[] raw = new byte[(int) rawLen];
    // per-thread Inflater (task threads are pooled): new/end per image
    // is a native zlib alloc/free that would dominate small decodes
    java.util.zip.Inflater inf = PNG_INFLATER.get();
    inf.reset();
    try {
      inf.setInput(z);
      int got = 0;
      while (got < raw.length && !inf.finished()) {
        int n = inf.inflate(raw, got, raw.length - got);
        if (n == 0 && (inf.needsInput() || inf.needsDictionary())) {
          return null; // truncated or preset-dictionary stream
        }
        got += n;
      }
      if (got != raw.length) {
        return null;
      }
    } catch (java.util.zip.DataFormatException e) {
      return null;
    }
    int istride = (int) stride;
    long[] sum = new long[72];
    long[] cnt = new long[72];
    for (int y = 0; y < h; y++) {
      int ro = y * istride;
      int ft = raw[ro] & 0xff;
      int rowStart = ro + 1;
      int rowBytes = 3 * w;
      switch (ft) {
        case 0:
          break;
        case 1: // Sub
          for (int i = 3; i < rowBytes; i++) {
            raw[rowStart + i] += raw[rowStart + i - 3];
          }
          break;
        case 2: // Up
          if (y > 0) {
            for (int i = 0; i < rowBytes; i++) {
              raw[rowStart + i] += raw[rowStart + i - istride];
            }
          }
          break;
        case 3: // Average
          for (int i = 0; i < rowBytes; i++) {
            int left = i >= 3 ? raw[rowStart + i - 3] & 0xff : 0;
            int up = y > 0 ? raw[rowStart + i - istride] & 0xff : 0;
            raw[rowStart + i] += (byte) ((left + up) >>> 1);
          }
          break;
        case 4: // Paeth
          for (int i = 0; i < rowBytes; i++) {
            int a = i >= 3 ? raw[rowStart + i - 3] & 0xff : 0;
            int u = y > 0 ? raw[rowStart + i - istride] & 0xff : 0;
            int c = (i >= 3 && y > 0)
                ? raw[rowStart + i - istride - 3] & 0xff : 0;
            int pp = a + u - c;
            int pa = Math.abs(pp - a), pb = Math.abs(pp - u),
                pc = Math.abs(pp - c);
            int pred = (pa <= pb && pa <= pc) ? a : (pb <= pc ? u : c);
            raw[rowStart + i] += (byte) pred;
          }
          break;
        default:
          return null;
      }
      int cy = y * 8 / h;
      int o = rowStart;
      for (int x = 0; x < w; x++, o += 3) {
        int cx = x * 9 / w;
        long gray = (299L * (raw[o] & 0xff) + 587L * (raw[o + 1] & 0xff)
            + 114L * (raw[o + 2] & 0xff)) / 1000L;
        sum[cy * 9 + cx] += gray;
        cnt[cy * 9 + cx]++;
      }
    }
    return dhashFromGrid(sum, cnt);
  }
}
