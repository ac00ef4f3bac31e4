package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute,
  AttributeReference, Descending, KnownNotNull, SortOrder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types._

import graft.plans.PrefixScan

/** Sequence packing: greedy first-fit-in-order assembly of documents
  * into training sequences of at most `maxTokens` tokens — the step
  * between a shuffled corpus and a pre-training data loader (padding
  * waste is the price of unpacked short docs; packing recovers it).
  *
  * Scale shape: packing is PER-PARTITION imperative logic — the one
  * place mapPartitions is the right tool (SURVEY §7.3's "last resort"
  * case): each partition walks its rows once, in order, carrying only
  * (current sequence id, tokens used) as state. No shuffle beyond the
  * deterministic global order the caller established; a sequence is
  * identified by its FIRST document's id — globally unique because
  * sequences partition the docs into disjoint ordered runs, and
  * data-derived, so (unlike a TaskContext partition id) it survives a
  * downstream coalesce() pipelining parent partitions into one task.
  * The efficiency loss vs. global bin packing is at most one partial
  * sequence per partition — negligible when partitions hold thousands
  * of docs, the 100 TB case.
  *
  * Determinism: pack AFTER a deterministic order + explicit partition
  * count (e.g. repartitionByRange on [[Sampling.shuffleKey]] then
  * sortWithinPartitions) — then the full (doc → sequence, position)
  * assignment is reproducible across runs and cluster sizes.
  *
  * Exact global order — offsets ([[contiguousOffsets]]), running sums
  * ([[prefixSumInOrder]]), ranks ([[rankInOrder]]) and lag/lead
  * ([[shiftInOrder]]) — is one physical operator,
  * [[graft.plans.PrefixScan]]: a range-partitioned order read twice
  * inside one query, once for per-partition totals and once to walk
  * each partition from its base. Building these frames runs no job.
  *
  * Reference analog: none — torcharrow stops at per-column transforms;
  * packing is part of the training-data extension surface.
  */
object Packing {

  /** Pack `df` rows, in their current partition order, into sequences
    * of at most `maxTokens` (docs longer than `maxTokens` become
    * singleton oversize sequences — chunk upstream if unwanted).
    * Input needs (idCol: long non-null UNIQUE, tokenCol: long); returns
    * (idCol, seq_id, seq_pos, n_tokens, part_id, seq_ord) with one row
    * per input doc:
    *  - seq_id: the sequence's FIRST doc id — globally unique BECAUSE
    *    ids are unique (the caller's contract, mirroring
    *    [[contiguousOffsets]]: a duplicate id could alias two distinct
    *    sequences onto one seq_id with no error — aggregate to unique
    *    keys upstream);
    *  - part_id: the partition's first-row id — a data-derived
    *    partition identity (NOT TaskContext, which is task-scoped and
    *    aliases under a downstream coalesce());
    *  - seq_ord: the sequence's 0-based creation ordinal within its
    *    partition, so "the partition's final partial sequence" — the
    *    one greedy never got to close — is max(seq_ord) per part_id,
    *    identifiable from data alone (the q97 efficiency check). */
  def packGreedy(
      df: DataFrame,
      idCol: String,
      tokenCol: String,
      maxTokens: Int): DataFrame = {
    require(maxTokens > 0, s"maxTokens=$maxTokens")
    val outSchema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("seq_id", LongType, nullable = false),
      StructField("seq_pos", IntegerType, nullable = false),
      StructField("n_tokens", LongType, nullable = false),
      StructField("part_id", LongType, nullable = false),
      StructField("seq_ord", IntegerType, nullable = false)))
    // Contract check up front (mirrors Clustering.fit): a null id or
    // token count fails with a clear message instead of an NPE deep in
    // a task. The raise_error rides the same projection — no extra pass.
    val in = df.select(
      when(col(idCol).isNull, raise_error(lit(
        s"packGreedy: null $idCol — ids must be non-null")))
        .otherwise(col(idCol).cast(LongType)).as(idCol),
      when(col(tokenCol).isNull, raise_error(lit(
        s"packGreedy: null $tokenCol — filter or fill null token " +
          "counts upstream")))
        .when(col(tokenCol) < 0, raise_error(lit(
          s"packGreedy: negative $tokenCol — a negative count shrinks " +
            "the running budget and lets later sequences exceed " +
            "maxTokens")))
        .otherwise(col(tokenCol).cast(LongType)).as(tokenCol))
    in.mapPartitions { rows =>
      var partId = 0L
      var started = false
      var seqFirst = 0L
      var used = maxTokens + 1L // forces a new sequence on the first doc
      var pos = 0
      var ord = -1
      rows.map { r =>
        val id = r.getLong(0)
        val n = r.getLong(1)
        if (!started) { partId = id; started = true }
        if (used + n > maxTokens) {
          seqFirst = id; used = 0L; pos = 0; ord += 1
        }
        used += n
        pos += 1
        Row(id, seqFirst, pos - 1, n, partId, ord)
      }
    }(Encoders.row(outSchema))
  }

  /** Pad-or-truncate a ragged array column to exactly `len` elements
    * with `pad` — the fixed-`max_seq_len` loader contract (the
    * reference's batch-max variant is [[padToMax]]; both realize
    * test/test_interop.py:148 `base_test_pad_sequence`, which pads
    * ragged int/float lists with a caller-chosen padding value).
    *
    * Row-local Catalyst collection expressions only (slice +
    * array_repeat + concat) — whole-stage codegen'd, no UDF, no
    * shuffle, element type preserved. A NULL list yields NULL
    * (standard collection-function propagation; raise upstream if a
    * null sequence is a contract violation). */
  def padToLength(arr: Column, len: Int, pad: Column): Column = {
    require(len > 0, s"padToLength: need len >= 1, got $len")
    concat(slice(arr, 1, len),
      array_repeat(pad, greatest(lit(len) - size(arr), lit(0))))
  }

  /** [[padToLength]] with LEFT truncation: sequences longer than `len`
    * keep their last `len` elements (the chat-context windowing rule —
    * the most recent tokens survive), shorter ones right-pad exactly
    * like padToLength. Same row-local codegen shape; the branch is a
    * when() on size, not a second pass. */
  def padToLengthKeepEnd(arr: Column, len: Int, pad: Column): Column = {
    require(len > 0, s"padToLengthKeepEnd: need len >= 1, got $len")
    when(size(arr) > len,
      slice(arr, size(arr) - lit(len) + lit(1), lit(len)))
      .otherwise(padToLength(arr, len, pad))
  }

  /** Attention mask companion of [[padToLength]]: an int array of
    * exactly `len` entries, 1 where the padded slot holds a real
    * element and 0 where it holds padding. NULL list -> NULL. */
  def attentionMask(arr: Column, len: Int): Column = {
    require(len > 0, s"attentionMask: need len >= 1, got $len")
    when(arr.isNull, lit(null)).otherwise(
      transform(sequence(lit(0), lit(len - 1)),
        i => when(i < least(size(arr), lit(len)), lit(1)).otherwise(lit(0))
          .cast(IntegerType)))
  }

  /** Length-bucket assignment for batch assembly: the smallest entry
    * of `boundaries` that is >= `len`, or `boundaries.last` for longer
    * sequences (which a loader then truncates — account for the loss
    * with the trunc column of gate q256's report). Buckets must be
    * positive and strictly ascending; the classic choice is powers of
    * two, so batches pad to a handful of shapes instead of the batch
    * max (XLA/compile-cache friendliness) while bounding waste at 2x.
    * Row-local when-chain — codegen'd, no UDF; null len -> null. */
  def lengthBucket(len: Column, boundaries: Seq[Int]): Column = {
    require(boundaries.nonEmpty && boundaries.head > 0 &&
      boundaries.sliding(2).forall(w => w.size < 2 || w(0) < w(1)),
      s"lengthBucket: boundaries must be positive ascending, " +
        s"got $boundaries")
    val chain = boundaries.init.foldRight(lit(boundaries.last): Column)(
      (b, rest) => when(len <= b, lit(b)).otherwise(rest))
    // a null len must stay null — the bare when-chain's otherwise()
    // would swallow it into the overflow bucket
    when(len.isNotNull, chain)
  }

  /** Global contiguous token offsets in deterministic shuffled order —
    * the address layout of GPT-style block packing (concatenate the
    * corpus, then cut fixed-size blocks): each document gets
    * `global_start`, the exact number of tokens laid out before it
    * when documents are concatenated in ([[Sampling.shuffleKey]],
    * id) order. Block ids/offsets are then pure arithmetic on
    * (global_start, token count) — see gate q257.
    *
    * This is [[prefixSumInOrder]] over the order (shuffle key, id),
    * plus a check that counts are >= 0 (offsets must not go
    * backwards). The output does not depend on `parts` (pinned across
    * parts = 3 vs 8 in PackingSpec).
    *
    * Input needs (idCol: integral non-null UNIQUE, tokenCol: integral
    * >= 0); returns (idCol, tokenCol, global_start[, payload...]) with
    * one row per doc. Uniqueness is the caller's contract: duplicate
    * ids break the total order, making the offset assignment BETWEEN
    * the duplicates engine- and run-arbitrary (aggregate to unique keys
    * first — the q260 pattern; a built-in check would cost a full
    * extra shuffle, so it is deliberately not performed here).
    *
    * `payload` columns ride along on the same rows and come back
    * appended after global_start — the block-materialization path
    * (gate q264) keeps each doc's token array alongside its offset
    * without a corpus-sized join back. */
  def contiguousOffsets(
      df: DataFrame,
      idCol: String,
      tokenCol: String,
      seed: Long,
      parts: Int,
      payload: Seq[String] = Nil): DataFrame = {
    // prefixSumInOrder raises on null ids and counts and rejects a
    // payload that collides with (__k, id, count, global_start)
    val checked = df
      .withColumn(tokenCol, when(col(tokenCol) < 0, raise_error(lit(
        s"contiguousOffsets: negative $tokenCol — offsets would go " +
          "backwards"))).otherwise(col(tokenCol)))
      .withColumn("__k", Sampling.shuffleKey(col(idCol), seed))
    prefixSumInOrder(checked, idCol, tokenCol, Seq("__k"), parts, payload)
      .drop("__k")
  }

  /** Exact global prefix sum in a CALLER-SPECIFIED total order: every
    * row gets `global_start`, the exact sum of `weightCol` over all
    * rows strictly before it in (orderCols..., idCol) order. The rows
    * are range-partitioned on that order into `parts` partitions and
    * sorted within them; one [[graft.plans.PrefixScan]] operator then
    * sums each partition and walks it again from the sum of the
    * partitions before it. There is never a one-partition global
    * window, at any corpus size, and nothing runs while the DataFrame
    * is built.
    *
    * Contracts: idCol integral non-null UNIQUE (ties in orderCols
    * break on id, so the order is total); weightCol integral non-null
    * — NEGATIVE weights are fine (long addition is associative, so
    * summing per partition first is exact for any sign; only
    * [[contiguousOffsets]], whose output must be monotone addresses,
    * additionally requires >= 0); orderCols non-null (raise_error
    * otherwise — a null order value
    * has engine-specific sort position: Spark sorts NULLS FIRST
    * ascending where DuckDB defaults NULLS LAST, so a null would make
    * the "same total order" cross-engine claim false). The running sum
    * uses Math.addExact: a sum past Long range fails the query, never
    * wraps — the DECIMAL surface (TFrame.cumsumExactDecimal)
    * advertises wider output headroom than the unscaled-long
    * accumulator, so a wrapped sum would be a confidently typed wrong
    * value. Returns (idCol, weightCol, global_start, orderCols...,
    * payload...) — order columns ride through so a caller (e.g.
    * [[graft.frame.TFrame.cumsumExact]]) keeps its full frame without
    * a join back. */
  def prefixSumInOrder(
      df: DataFrame,
      idCol: String,
      weightCol: String,
      orderCols: Seq[String],
      parts: Int,
      payload: Seq[String] = Nil): DataFrame = {
    require(parts > 0, s"prefixSumInOrder: parts=$parts")
    // empty orderCols is legal: the order is then idCol alone (still
    // total — ids are unique), the "running sum in key order" form
    val core = Set(idCol, weightCol, "global_start")
    require(!orderCols.exists(core) && !payload.exists(core) &&
      !payload.exists(orderCols.toSet),
      s"prefixSumInOrder: orderCols $orderCols / payload $payload " +
        s"collide with core columns or each other")
    val checked = df.select(Seq(
      notNull(when(col(idCol).isNull, raise_error(lit(
        s"prefixSumInOrder: null $idCol — ids must be non-null")))
        .otherwise(col(idCol).cast(LongType))).as(idCol),
      notNull(when(col(weightCol).isNull, raise_error(lit(
        s"prefixSumInOrder: null $weightCol — a null weight has no " +
          "defined running sum; fill or drop nulls upstream")))
        .otherwise(col(weightCol).cast(LongType))).as(weightCol)) ++
      orderCols.map(c => when(col(c).isNull, raise_error(lit(
        s"prefixSumInOrder: null order column $c — null sort position " +
          "is engine-specific, the total order would not be portable")))
        .otherwise(col(c)).as(c)) ++
      payload.map(col): _*)
    scan(checked, orderCols :+ idCol, descending = false, parts,
      weightCol, None, "global_start")
      .select((Seq(idCol, weightCol, "global_start") ++ orderCols ++
        payload).map(col): _*)
  }

  /** Exact 0-based GLOBAL RANK in (orderCols..., idCol) order without
    * a one-partition window — `row_number() OVER (ORDER BY ...)` is
    * THE classic global-sort funnel (every row through one task);
    * this is the same number as a two-phase prefix COUNT
    * ([[prefixSumInOrder]] with weight 1). The curriculum-ordering /
    * quantile-staging primitive: rank vs a broadcast total gives
    * exact integer quantile membership with no full sort on one
    * executor. Returns (idCol, rank, orderCols..., payload...). */
  def rankInOrder(
      df: DataFrame,
      idCol: String,
      orderCols: Seq[String],
      parts: Int,
      payload: Seq[String] = Nil): DataFrame = {
    val one = "__graft_one"
    require(!df.columns.contains(one), s"rankInOrder: column $one exists")
    // the output renames global_start -> rank; an input column named
    // 'rank' riding through payload/orderCols would duplicate the name
    // (and a later withColumnRenamed would rename BOTH) — fail loudly
    require(idCol != "rank" && !orderCols.contains("rank") &&
      !payload.contains("rank"),
      "rankInOrder: input carries a column named 'rank' — rename it " +
        "upstream (the output's rank column would collide)")
    prefixSumInOrder(df.withColumn(one, lit(1L)), idCol, one,
      orderCols, parts, payload)
      .withColumnRenamed("global_start", "rank")
      .drop(one)
  }

  /** SQL-standard NTILE from an exact 0-based rank — pure integer
    * arithmetic, no window: with n rows and k buckets, the first
    * n mod k buckets hold floor(n/k)+1 rows and the rest floor(n/k)
    * (the DuckDB/Spark/ANSI remainder rule — NOT the simpler
    * (rank*k) div n equal-width cut, which distributes remainders
    * differently). Feed it [[rankInOrder]]'s rank and a broadcast
    * 1-row count and the classic `ntile(k) OVER (ORDER BY ...)`
    * one-task funnel disappears. Returns the 1-based bucket as LONG;
    * k must be >= 1. */
  def ntileFromRank(rank: Column, n: Column, k: Int): Column = {
    require(k >= 1, s"ntileFromRank: k=$k")
    // `/` on Columns is DOUBLE division (the q264 lesson) — integral
    // DIV goes through the Catalyst node directly, exact at any LONG
    def idiv(a: Column, b: Column): Column = Shim.column(
      new org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        Shim.expression(a), Shim.expression(b)))
    val size = idiv(n, lit(k.toLong))
    val rem = n % k.toLong
    val cut = rem * (size + 1L)
    when(rank < cut, idiv(rank, size + 1L) + 1L)
      .otherwise(rem + idiv(rank - cut, greatest(size, lit(1L))) + 1L)
  }

  /** Exact global LAG/LEAD over a total order without a one-partition
    * window — `lag(v, k) OVER (ORDER BY ...)` plans the same global
    * sort funnel as row_number, yet the value a row needs lives at
    * most k rows away. The same [[graft.plans.PrefixScan]] operator as
    * [[prefixSumInOrder]] carries each partition's last min(k, n)
    * values instead of its sum: the driver threads them in partition
    * order, so each partition starts from exactly the k values before
    * its first row, and walks its rows with a k-slot ring buffer. Rows
    * with fewer than k predecessors get null (SQL lag semantics with
    * no default).
    *
    * `descending = true` reverses the ENTIRE total order (orderCols
    * and the id tie-break), which turns the primitive into LEAD:
    * lead(v, k) over (ORDER BY o ASC) == lag(v, k) over (ORDER BY o
    * DESC) row-for-row.
    *
    * Contracts: idCol integral non-null UNIQUE (totalizes the order);
    * orderCols non-null (engine-specific null sort position, the
    * [[prefixSumInOrder]] rationale); `valueCol` MAY be null — nulls
    * shift like any value (matching SQL lag). The driver holds parts·k
    * values, bounded at 4M. Returns (idCol, valueCol, outCol,
    * orderCols..., payload...). */
  def shiftInOrder(
      df: DataFrame,
      idCol: String,
      valueCol: String,
      orderCols: Seq[String],
      k: Int,
      parts: Int,
      payload: Seq[String] = Nil,
      descending: Boolean = false,
      outCol: String = "shifted"): DataFrame = {
    require(parts > 0, s"shiftInOrder: parts=$parts")
    require(k >= 1, s"shiftInOrder: offset k=$k must be >= 1")
    require(k <= 65536,
      s"shiftInOrder: offset k=$k — the driver carries parts*k values; " +
        "an offset this large is a data size, not a window offset")
    // the driver's tails AND the carries shipped to the tasks scale
    // with parts*k, so the bound must be on the product — k=65536 with
    // parts=2048 would be ~134M values on the driver despite a green k
    // check
    require(parts.toLong * k <= (1L << 22),
      s"shiftInOrder: parts*k = ${parts.toLong * k} carried values — " +
        "exceeds the 4M driver bound; lower parts or k")
    val core = Set(idCol, valueCol, outCol)
    require(valueCol != idCol && outCol != idCol && outCol != valueCol &&
      !orderCols.exists(core) && !payload.exists(core) &&
      !payload.exists(orderCols.toSet),
      s"shiftInOrder: orderCols $orderCols / payload $payload collide " +
        s"with core columns ($idCol, $valueCol, $outCol) or each other")
    // backtick-quote every reference: callers legitimately shift
    // columns whose names contain dots (TFrame's `<col>.cumsum`)
    def qc(name: String): Column = col(s"`$name`")
    val checked = df.select(Seq(
      notNull(when(qc(idCol).isNull, raise_error(lit(
        s"shiftInOrder: null $idCol — ids must be non-null")))
        .otherwise(qc(idCol).cast(LongType))).as(idCol),
      qc(valueCol)) ++
      orderCols.map(c => when(qc(c).isNull, raise_error(lit(
        s"shiftInOrder: null order column $c — null sort position is " +
          "engine-specific, the total order would not be portable")))
        .otherwise(qc(c)).as(c)) ++
      payload.map(qc): _*)
    scan(checked, orderCols :+ idCol, descending, parts, valueCol,
      Some(k), outCol)
      .select((Seq(idCol, valueCol, outCol) ++ orderCols ++ payload)
        .map(qc): _*)
  }

  /** `in` range-partitioned into `parts` partitions on `keys` (all
    * ascending, or all descending), sorted within them, and run
    * through a [[graft.plans.PrefixScan]] of `value` that appends
    * `out`: the exclusive running sum when `shift` is None, else the
    * value `shift` rows earlier. */
  private def scan(
      in: DataFrame,
      keys: Seq[String],
      descending: Boolean,
      parts: Int,
      value: String,
      shift: Option[Int],
      out: String): DataFrame = {
    val spark = in.sparkSession
    GraftExtensions.requireInstalled(spark,
      if (shift.isEmpty) "prefixSumInOrder" else "shiftInOrder")
    val input = Shim.analyzed(in)
    def attr(name: String): Attribute = input.output.find(_.name == name).get
    val order = keys.map(k =>
      SortOrder(attr(k), if (descending) Descending else Ascending))
    val sortCols = order.map(Shim.column)
    val ordered = in.repartitionByRange(parts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val v = attr(value)
    val outAttr = shift match {
      case None => AttributeReference(out, LongType, nullable = false)()
      case Some(_) => AttributeReference(out, v.dataType, nullable = true)()
    }
    Shim.ofRows(spark,
      PrefixScan(order, v, shift, outAttr, Shim.analyzed(ordered)))
  }

  /** `c` declared non-null: for a column whose nulls already raise. */
  private def notNull(c: Column): Column =
    Shim.column(KnownNotNull(Shim.expression(c)))

  /** Reference-exact batch-max padding: every list in `arrCol` is
    * padded (never truncated) to the LONGEST list in the frame, the
    * `PadSequence` semantics of test/test_interop.py:190. The batch
    * max is one scalar aggregate (a single-row driver collect —
    * bounded at any corpus size); the padding itself is the row-local
    * [[padToLength]] expression. Returns the frame with `outCol`
    * added; an all-null or empty frame pads to nothing (outCol =
    * empty/null arrays). */
  def padToMax(
      df: DataFrame,
      arrCol: String,
      outCol: String,
      pad: Column): DataFrame = {
    val maxLen = df.agg(max(size(col(arrCol)))).head() match {
      case r if r.isNullAt(0) => 0
      case r => r.getInt(0)
    }
    if (maxLen <= 0) df.withColumn(outCol, col(arrCol))
    else df.withColumn(outCol, padToLength(col(arrCol), maxLen, pad))
  }
}
