package graft.functions;

import java.util.Arrays;

import org.apache.spark.unsafe.Platform;

/**
 * Exact value counts of a double column, the buffer of the
 * {@code exactPercentile} aggregate: an open-addressing table from
 * {@code Double.doubleToLongBits(v)} to the number of rows holding v,
 * held in two primitive arrays, so no row is boxed.
 *
 * <p>{@link #percentiles} gives the values of Spark's exact
 * {@code percentile} ({@code PercentileBase.getPercentile}) over the
 * same rows. Keys are the canonical bits: every NaN is one key, sorted
 * last; -0.0 and 0.0 are two keys, as they are in Spark's boxed map, and
 * compare equal when a percentile falls between them.
 */
public final class DoubleCounts {
  /** The largest table: 2^30 slots, the largest power of two a Java
   * array can hold. */
  public static final int MAX_SLOTS = 1 << 30;
  private static final int MIN_SLOTS = 16;
  private static final long PHI = 0x9E3779B97F4A7C15L;

  private long[] keys;
  /** 0 marks an empty slot; a key in the table has a count of at least 1. */
  private long[] counts;
  private int size;
  private int shift;

  public DoubleCounts() {
    this(MIN_SLOTS);
  }

  private DoubleCounts(int slots) {
    keys = new long[slots];
    counts = new long[slots];
    shift = 64 - Integer.numberOfTrailingZeros(slots);
  }

  public boolean isEmpty() {
    return size == 0;
  }

  /** Counts one row holding v. */
  public void add(double v) {
    add(Double.doubleToLongBits(v), 1L);
  }

  private void add(long bits, long n) {
    int mask = keys.length - 1;
    int i = (int) ((bits * PHI) >>> shift);
    while (counts[i] != 0) {
      if (keys[i] == bits) {
        counts[i] += n;
        return;
      }
      i = (i + 1) & mask;
    }
    keys[i] = bits;
    counts[i] = n;
    if (++size > keys.length >>> 1) grow();
  }

  /** The count of a key in the table: no empty slot lies between a
   * key's hash slot and the key, since nothing is ever removed. */
  private long count(long bits) {
    int mask = keys.length - 1;
    int i = (int) ((bits * PHI) >>> shift);
    while (keys[i] != bits) i = (i + 1) & mask;
    return counts[i];
  }

  private void grow() {
    long[] oldKeys = keys, oldCounts = counts;
    int slots = grownSlots(oldKeys.length, size);
    keys = new long[slots];
    counts = new long[slots];
    shift = 64 - Integer.numberOfTrailingZeros(slots);
    size = 0;
    for (int i = 0; i < oldKeys.length; i++)
      if (oldCounts[i] != 0) add(oldKeys[i], oldCounts[i]);
  }

  /** The table size after {@code slots}, which {@code distinct} keys
   * have filled past half. Fails, naming the distinct count, past the
   * largest table, before a doubled size could overflow an int. Public
   * so that bound can be checked without allocating it. */
  public static int grownSlots(int slots, long distinct) {
    if (slots >= MAX_SLOTS)
      throw new IllegalStateException("exact percentile: " + distinct
          + " distinct values exceed the largest table (" + MAX_SLOTS
          + " slots)");
    return slots << 1;
  }

  /** Adds every count of {@code other}. Returns the merged table, which
   * is one of the two: the larger one takes the smaller one's keys. */
  public DoubleCounts merge(DoubleCounts other) {
    DoubleCounts into = size >= other.size ? this : other;
    DoubleCounts from = into == this ? other : this;
    for (int i = 0; i < from.keys.length; i++)
      if (from.counts[i] != 0) into.add(from.keys[i], from.counts[i]);
    return into;
  }

  /** The (key bits, count) pairs as raw longs, 16 bytes a key. */
  public byte[] serialize() {
    if (size > (Integer.MAX_VALUE - 8) / 16)
      throw new IllegalStateException("exact percentile: " + size
          + " distinct values exceed the largest serialized buffer");
    byte[] out = new byte[16 * size];
    long at = Platform.BYTE_ARRAY_OFFSET;
    for (int i = 0; i < keys.length; i++) {
      if (counts[i] != 0) {
        Platform.putLong(out, at, keys[i]);
        Platform.putLong(out, at + 8, counts[i]);
        at += 16;
      }
    }
    return out;
  }

  public static DoubleCounts deserialize(byte[] bytes) {
    int n = bytes.length / 16;
    int slots = MIN_SLOTS;
    while (n > slots >>> 1) slots = grownSlots(slots, n);
    DoubleCounts c = new DoubleCounts(slots);
    long end = Platform.BYTE_ARRAY_OFFSET + 16L * n;
    for (long at = Platform.BYTE_ARRAY_OFFSET; at < end; at += 16)
      c.add(Platform.getLong(bytes, at), Platform.getLong(bytes, at + 8));
    return c;
  }

  /**
   * Spark's exact percentile of the counted rows at each p of ps (each
   * in [0, 1]); the table must not be empty. The keys are sorted with
   * {@code Arrays.sort(double[])} and their counts accumulated; p falls
   * at position (n - 1)·p of the n rows, and a position between two
   * distinct keys interpolates linearly, with Spark's expression.
   */
  public double[] percentiles(double[] ps) {
    double[] sorted = new double[size];
    int k = 0;
    for (int i = 0; i < keys.length; i++)
      if (counts[i] != 0) sorted[k++] = Double.longBitsToDouble(keys[i]);
    Arrays.sort(sorted);
    long[] accumulated = new long[size];
    long total = 0;
    for (int i = 0; i < size; i++) {
      total += count(Double.doubleToLongBits(sorted[i]));
      accumulated[i] = total;
    }
    double[] out = new double[ps.length];
    for (int j = 0; j < ps.length; j++)
      out[j] = percentile(sorted, accumulated, (total - 1) * ps[j]);
    return out;
  }

  private static double percentile(double[] sorted, long[] accumulated,
      double position) {
    long lower = (long) Math.floor(position);
    long higher = (long) Math.ceil(position);
    int lowerIndex = rowIndex(accumulated, lower + 1);
    double lowerKey = sorted[lowerIndex];
    if (higher == lower) return lowerKey;
    int higherIndex = rowIndex(accumulated, higher + 1);
    double higherKey = sorted[higherIndex];
    if (higherIndex == lowerIndex || higherKey == lowerKey) return lowerKey;
    return (higher - position) * lowerKey + (position - lower) * higherKey;
  }

  /** The index of the key that holds the row-th row (1-based). */
  private static int rowIndex(long[] accumulated, long row) {
    int i = Arrays.binarySearch(accumulated, row);
    return i < 0 ? -(i + 1) : i;
  }
}
