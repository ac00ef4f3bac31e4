package graft.frame

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.types.{Dtype, TStruct}

/** Immutable Pandas-style DataFrame (reference idataframe.py:163-168):
  * an ordered dict of typed columns, itself a column of Struct dtype.
  *
  * Every method lowers to Catalyst expressions/built-ins — laziness,
  * pushdown, pruning and codegen come from Spark; this wrapper only
  * reproduces the reference's API shape and semantics (column-name
  * conventions, na_position, keep='first', agg result naming).
  */
final case class TFrame(df: DataFrame) extends TFrameArith {

  def columns: Seq[String] = df.columns.toSeq
  def dtype: Dtype = Dtype.fromSpark(df.schema)
  def length: Long = df.count()

  /** Construction-with-cast (test_factory.py:20-36, 73-87 —
    * `ta.column/dataframe(data, dtype=...)`): cast every column to the
    * target struct's field type, preserving the target's field ORDER.
    * Names must match the frame's columns exactly (a factory cast is a
    * re-type, never a projection or rename). */
  def cast(target: TStruct): TFrame = {
    require(target.fields.map(_.name).sorted == columns.sorted,
      s"cast: target fields ${target.fields.map(_.name)} != $columns")
    TFrame(df.select(target.fields.map(f =>
      df(f.name).cast(f.dtype.spark).as(f.name)): _*))
  }

  // ---- projection (§2.2) ----------------------------------------------

  /** df["col"] */
  def apply(name: String): Column = df(name)

  /** df[["a","b"]] — column subset. */
  def apply(names: Seq[String]): TFrame = TFrame(df.select(names.map(df(_)): _*))

  /** df[mask] — row filter by boolean column. */
  def apply(mask: Column): TFrame = TFrame(df.filter(mask))

  /** SQL SELECT (velox_rt/dataframe_cpu.py:2030-2082): "*" includes all,
    * "-col" excludes, keyword args add computed columns. */
  def select(args: String*)(computed: (String, Column)*): TFrame = {
    val excludes = args.filter(_.startsWith("-")).map(_.drop(1))
    val includes = args.filterNot(_.startsWith("-")).flatMap {
      case "*" => columns
      case c => Seq(c)
    }
    val base = (if (includes.isEmpty && computed.nonEmpty) Seq.empty[String]
      else if (includes.isEmpty) columns else includes)
      .filterNot(excludes.contains)
    TFrame(df.select(base.map(df(_)) ++
      computed.map { case (n, c) => c.as(n) }: _*))
  }

  /** SQL WHERE; multiple conditions AND-ed (dataframe_cpu.py:2016-2026). */
  def where(conds: Column*): TFrame = TFrame(df.filter(conds.reduce(_ && _)))

  /** df["new"] = expr */
  def withCol(name: String, c: Column): TFrame = TFrame(df.withColumn(name, c))

  def drop(cols: String*): TFrame = TFrame(df.drop(cols: _*))
  def keep(cols: String*): TFrame = apply(cols)
  def rename(mapper: Map[String, String]): TFrame =
    TFrame(df.withColumnsRenamed(mapper))
  def reorder(cols: Seq[String]): TFrame = apply(cols)
  def pipe(f: TFrame => TFrame): TFrame = f(this)

  def head(n: Int): TFrame = TFrame(df.limit(n))
  def tail(n: Int): TFrame = TFrame(
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(df.tail(n): _*), df.schema))

  // ---- sort (§2.6) ----------------------------------------------------

  /** Sort by key columns; nulls positioned per na_position
    * (dataframe_cpu.py:593-620). */
  def sort(by: Seq[String], ascending: Boolean = true,
      naLast: Boolean = true): TFrame = {
    val keys = by.map { c =>
      (ascending, naLast) match {
        case (true, true) => df(c).asc_nulls_last
        case (true, false) => df(c).asc_nulls_first
        case (false, true) => df(c).desc_nulls_last
        case (false, false) => df(c).desc_nulls_first
      }
    }
    TFrame(df.orderBy(keys: _*))
  }

  // ---- distinct / dedup (§2.7) ----------------------------------------

  /** drop_duplicates keep='first' with DETERMINISTIC first = minimal
    * `order` columns (distributed-safe version of icolumn.py:1066-1084;
    * Spark's dropDuplicates picks an arbitrary row). */
  def dropDuplicates(subset: Seq[String], order: Seq[String]): TFrame = {
    val w = Window.partitionBy(subset.map(df(_)): _*)
      .orderBy(order.map(df(_).asc): _*)
    TFrame(df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn"))
  }

  /** Per-column membership (icolumn.py:940-978): values whose type can't
    * inhabit a column are simply non-members, never cast errors. */
  def isin(values: Seq[Any]): TFrame = {
    def compatible(dt: DataType): Seq[Any] = values.filter {
      case _: String => dt == StringType
      case _: Boolean => dt == BooleanType
      case _: Byte | _: Short | _: Int | _: Long | _: Float | _: Double =>
        dt.isInstanceOf[NumericType]
      case _ => false
    }
    TFrame(df.select(df.schema.fields.toSeq.map { f =>
      val vs = compatible(f.dataType)
      (if (vs.isEmpty) lit(false) else df(f.name).isin(vs: _*)).as(f.name)
    }: _*))
  }

  /** isin dict form (dataframe_cpu.py:1496-1531): per-column candidate
    * lists; columns without an entry are all-false, values whose type
    * can't inhabit a column are non-members. */
  def isinDict(values: Map[String, Seq[Any]]): TFrame =
    TFrame(df.select(df.schema.fields.toSeq.map { f =>
      values.get(f.name) match {
        case Some(vs) if vs.nonEmpty => df(f.name).isin(vs: _*).as(f.name)
        case _ => lit(false).as(f.name)
      }
    }: _*))

  /** isin frame form: membership of each value in the SAME-NAMED column
    * of `other` — the distributed-safe set reading of the reference's
    * frame overload (a broadcast left join per shared column; null is
    * never a member, matching pandas). Columns `other` lacks are
    * all-false. */
  def isinFrame(other: TFrame): TFrame = {
    val shared = columns.toSet & other.columns.toSet
    val joined = columns.filter(shared).foldLeft(df) { (d, c) =>
      val vals = org.apache.spark.sql.functions.broadcast(
        other.df.select(other.df(c).as(s"__v_$c")).distinct()
          .withColumn(s"__hit_$c", lit(true)))
      d.join(vals, d(c) === col(s"__v_$c"), "left").drop(s"__v_$c")
    }
    TFrame(joined.select(columns.map { c =>
      (if (shared(c)) coalesce(col(s"__hit_$c"), lit(false))
       else lit(false)).as(c)
    }: _*))
  }

  // ---- null handling (§2.8) -------------------------------------------

  def fillNull(value: Any): TFrame = value match {
    case d: Double => TFrame(df.na.fill(d))
    case l: Long => TFrame(df.na.fill(l))
    case i: Int => TFrame(df.na.fill(i.toLong))
    case s: String => TFrame(df.na.fill(s))
    case b: Boolean => TFrame(df.na.fill(b))
    case m: Map[String @unchecked, Any @unchecked] => TFrame(df.na.fill(m))
    case other => throw new IllegalArgumentException(s"fillNull($other)")
  }

  /** drop rows with any/all nulls (icolumn.py:1024-1064). */
  def dropNull(how: String = "any"): TFrame = TFrame(df.na.drop(how))

  // ---- join (§2.3: declared surface, dataframe_cpu.py:2459-2469) ------

  /** Equi-join on shared key names with pandas-style lsuffix/rsuffix
    * disambiguation of overlapping non-key columns. Catalyst picks the
    * physical strategy (broadcast/SMJ); wrap the smaller side's df in
    * functions.broadcast(...) upstream to force a map-side join. */
  def join(other: TFrame, on: Seq[String], how: String = "inner",
      lsuffix: String = "", rsuffix: String = ""): TFrame = {
    val overlap = (columns.toSet & other.columns.toSet) -- on.toSet
    require(overlap.isEmpty || lsuffix.nonEmpty || rsuffix.nonEmpty,
      s"overlapping columns $overlap need lsuffix/rsuffix")
    val l = overlap.foldLeft(df)((d, c) =>
      if (lsuffix.nonEmpty) d.withColumnRenamed(c, c + lsuffix) else d)
    val r = overlap.foldLeft(other.df)((d, c) =>
      if (rsuffix.nonEmpty) d.withColumnRenamed(c, c + rsuffix) else d)
    TFrame(l.join(r, on, how))
  }

  // ---- concat / append (§2.1) -----------------------------------------

  def concat(other: TFrame): TFrame = TFrame(df.unionAll(other.df))

  /** Immutable append of literal rows (icolumn.py:210-241). */
  def append(rows: Seq[Row]): TFrame =
    concat(TFrame(df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema)))

  // ---- driver-side export (§2.1) --------------------------------------

  /** Collect the frame as local rows (the reference's collect /
    * to_pandas export half, icolumn.py:1104-1125). Driver-side by
    * design — `maxRows` guards against an unbounded collect reaching a
    * large run: the fetch is limit(maxRows+1), so exceeding the cap
    * fails fast without pulling the full result. */
  def collectRows(maxRows: Int = 100000): Seq[Row] = {
    val rows = df.limit(maxRows + 1).collect()
    require(rows.length <= maxRows,
      s"collectRows: result exceeds maxRows=$maxRows; " +
        "aggregate or filter before exporting, or raise maxRows")
    rows.toSeq
  }

  /** to_pylist equivalent (icolumn.py:1117-1125): each row as a
    * column-name → value map. Same maxRows guard as collectRows. */
  def toPylist(maxRows: Int = 100000): Seq[Map[String, Any]] = {
    val names = df.columns
    collectRows(maxRows).map(r =>
      names.iterator.zipWithIndex.map { case (n, i) => n -> r.get(i) }.toMap)
  }

  // ---- column-level reductions lifted per column (§2.4) ---------------

  private def numericCols: Seq[String] = df.schema.fields.toSeq.collect {
    case f if f.dataType.isInstanceOf[NumericType] => f.name
  }

  private def summarize(op: String => Column): TFrame =
    TFrame(df.agg(numericCols.head |> (h => op(h).as(numericCols.head)),
      numericCols.tail.map(c => op(c).as(c)): _*))

  private implicit class Pipe[A](a: A) {
    def |>[B](f: A => B): B = f(a)
  }

  private def boolCols: Seq[String] = df.schema.fields.toSeq.collect {
    case f if f.dataType == BooleanType => f.name
  }

  /** df-level all/any over the boolean columns (null-skipping bool
    * reductions, icolumn.py:1090-1100 / dataframe_cpu.py:1642-1758).
    * All-null (or empty) columns yield the vacuous true/false, like the
    * reference's null-skipping reductions. */
  def allAgg: TFrame = {
    require(boolCols.nonEmpty, "allAgg: frame has no boolean columns")
    TFrame(df.agg(
      coalesce(functions.min(df(boolCols.head)), lit(true))
        .as(s"${boolCols.head}.all"),
      boolCols.tail.map(c =>
        coalesce(functions.min(df(c)), lit(true)).as(s"$c.all")): _*))
  }

  def anyAgg: TFrame = {
    require(boolCols.nonEmpty, "anyAgg: frame has no boolean columns")
    TFrame(df.agg(
      coalesce(functions.max(df(boolCols.head)), lit(false))
        .as(s"${boolCols.head}.any"),
      boolCols.tail.map(c =>
        coalesce(functions.max(df(c)), lit(false)).as(s"$c.any")): _*))
  }

  def sum: TFrame = summarize(c => functions.sum(df(c)))
  def mean: TFrame = summarize(c => avg(df(c)))
  def min: TFrame = summarize(c => functions.min(df(c)))
  def max: TFrame = summarize(c => functions.max(df(c)))
  def std: TFrame = summarize(c => stddev_samp(df(c)))
  /** Spark's exact `median` per column, not `graft.exactPercentile`: a
    * column here may be decimal, which that helper rejects. */
  def median: TFrame = summarize(c => functions.median(df(c)))
  def modeAgg: TFrame = summarize(c => functions.mode(df(c)))
  def nunique(c: String): Long =
    df.agg(countDistinct(df(c))).head().getLong(0)

  /** Cumulative ops need an explicit row order at scale; `order` names
    * the ordering columns (SURVEY §7.4: monotonically_increasing_id is
    * not contiguous — callers pass real key columns). Pass `by` to
    * partition the running computation — the scale-safe form (one
    * shuffle on the key, bounded per-task state). With `by` empty the
    * window is GLOBAL: the whole column funnels through one task —
    * driver-scale data only. For an EXACT-typed global running sum at
    * corpus scale, use [[cumsumExact]] (the two-phase
    * range-partitioned prefix sum of
    * [[graft.operators.Packing.prefixSumInOrder]], gates q260/q266) —
    * it avoids the funnel; doubles stay here because two-phase
    * regrouping changes float rounding vs the sequential window. */
  def cumsum(valueCols: Seq[String], order: Seq[String],
      by: Seq[String] = Nil): TFrame =
    cumApply("cumsum", functions.sum, valueCols, order, by)

  /** The scale-safe EXACT form of global `cumsum` for one integral
    * column: the two-phase range-partitioned prefix sum
    * ([[graft.operators.Packing.prefixSumInOrder]], gates q260/q266)
    * in (order..., idCol) order — no one-partition window at any
    * corpus size. Adds `<valueCol>.cumsum` (inclusive running sum,
    * matching [[cumsum]]'s window frame) and preserves every other
    * column. Contracts differ from the windowed form, deliberately:
    * `idCol` must be non-null UNIQUE (it totalizes the order) and
    * `valueCol` must be non-null (raise_error otherwise — the
    * reference's skipna null pass-through needs a per-row window, the
    * thing this form exists to avoid; fill or drop nulls upstream).
    * Negative values are fine — long addition is associative, so the
    * two-phase regrouping is exact for any sign, matching the
    * reference cumsum surface (numerical_column_cpu.py accumulate via
    * operator.add). Values are computed exactly in LONG; doubles stay
    * on the windowed form (two-phase regrouping changes float
    * rounding vs the sequential window), and fixed-point money
    * columns take [[cumsumExactDecimal]]. */
  def cumsumExact(valueCol: String, order: Seq[String], idCol: String,
      parts: Int = 64): TFrame = {
    val payload = columns.filterNot(c =>
      c == idCol || c == valueCol || order.contains(c))
    val out = graft.operators.Packing.prefixSumInOrder(
      df, idCol, valueCol, order, parts, payload)
    TFrame(out
      .withColumn(s"$valueCol.cumsum", col("global_start") + col(valueCol))
      .drop("global_start"))
  }

  /** [[cumsumExact]] for fixed-point DECIMAL columns — the money case
    * (l_extendedprice at 100 TB): the value is scaled to its unscaled
    * long (exact — a DECIMAL(p,s) with p <= 18 always fits), run
    * through the same two-phase range-partitioned prefix sum, and
    * scaled back, so the running sum is exact DECIMAL arithmetic with
    * no one-partition window. Long addition on the unscaled units is
    * exactly associative — the float objection to a two-phase double
    * cumsum does not apply to fixed-point. Adds `<valueCol>.cumsum`
    * as DECIMAL(min(p+12, 38), s); same contracts as [[cumsumExact]]
    * (unique non-null idCol, non-null values, negatives fine). The
    * accumulator is the unscaled LONG, so a running total past
    * +-9.2e18 unscaled units raises (Math.addExact inside
    * prefixSumInOrder) rather than silently wrapping into the wider
    * advertised DECIMAL headroom — split such columns upstream. */
  def cumsumExactDecimal(valueCol: String, order: Seq[String],
      idCol: String, parts: Int = 64): TFrame = {
    val (p, s) = df.schema(valueCol).dataType match {
      case d: DecimalType => (d.precision, d.scale)
      case other => throw new IllegalArgumentException(
        s"cumsumExactDecimal: $valueCol is $other, need DecimalType " +
          "(cast upstream; doubles take the windowed cumsum)")
    }
    require(p <= 18,
      s"cumsumExactDecimal: precision $p > 18 — the unscaled value " +
        "could overflow LONG; split the column or reduce precision")
    val units = "__graft_units"
    require(!columns.contains(units), s"column $units exists")
    val payload = columns.filterNot(c => c == idCol || order.contains(c))
    val scaled = df.withColumn(units,
      (col(valueCol) * lit(java.math.BigDecimal.TEN.pow(s)))
        .cast(LongType))
    val out = graft.operators.Packing.prefixSumInOrder(
      scaled, idCol, units, order, parts, payload)
    TFrame(out
      .withColumn(s"$valueCol.cumsum",
        ((col("global_start") + col(units)).cast(DecimalType(38, 0)) *
          lit(java.math.BigDecimal.ONE.movePointLeft(s)))
          .cast(DecimalType(math.min(p + 12, 38), s)))
      .drop("global_start", units))
  }

  /** Exact 0-based global rank in (order..., idCol) order on the user
    * surface — [[graft.operators.Packing.rankInOrder]] (two-phase
    * range-partitioned prefix count, gates q266/q268) wrapping the
    * full frame: `row_number() OVER (ORDER BY ...)` funnels every row
    * through ONE task at scale; this never plans a window. Adds
    * `outCol`; preserves every other column. Contracts: idCol
    * non-null UNIQUE (totalizes the order), order columns non-null. */
  def rankExact(order: Seq[String], idCol: String, parts: Int = 64,
      outCol: String = "rank"): TFrame = {
    require(!columns.contains(outCol), s"rankExact: column $outCol exists")
    val payload = columns.filterNot(c => c == idCol || order.contains(c))
    val ranked = graft.operators.Packing.rankInOrder(
      df, idCol, order, parts, payload)
    TFrame(if (outCol == "rank") ranked
      else ranked.withColumnRenamed("rank", outCol))
  }

  /** Exact SQL-standard NTILE without the `ntile(k) OVER (ORDER BY
    * ...)` one-task funnel: [[rankExact]]'s two-phase global rank fed
    * through [[graft.operators.Packing.ntileFromRank]]'s integer
    * remainder arithmetic against a broadcast 1-row count. Adds
    * `outCol` (1-based bucket, matching the SQL function); contracts
    * as [[rankExact]]. The eval-split / mixture-capping primitive at
    * corpus scale. */
  def ntileExact(k: Int, order: Seq[String], idCol: String,
      parts: Int = 64, outCol: String = "ntile"): TFrame = {
    require(!columns.contains(outCol), s"ntileExact: column $outCol exists")
    val rk = "__graft_rank"
    val cnt = "__graft_n"
    require(!columns.contains(rk) && !columns.contains(cnt),
      s"ntileExact: helper columns $rk/$cnt exist")
    val ranked = rankExact(order, idCol, parts, outCol = rk)
    // count the source frame: the ranking keeps its rows, and a count
    // of the ranked frame would run a second PrefixScan (its pass-1
    // job, sort and walk) whose output nothing reads
    TFrame(ranked.df
      .crossJoin(org.apache.spark.sql.functions.broadcast(df.agg(
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as(cnt))))
      .withColumn(outCol,
        graft.operators.Packing.ntileFromRank(col(rk), col(cnt), k))
      .drop(rk, cnt))
  }

  /** Dense-rank companion of [[rankExact]]: equal order keys share one
    * rank and ranks are gapless (0-based `dense_rank() - 1`), again
    * with no global window. Shape: the DISTINCT order keys (a groupBy
    * — map-side partial agg, |distinct| rows shuffle) are ranked by
    * the two-phase prefix count using each key group's min id as its
    * unique representative, then broadcast-or-shuffle joined back on
    * the key columns — three key-sized exchanges, nothing
    * corpus-sized through one task. Contracts as [[rankExact]]. */
  def denseRankExact(order: Seq[String], idCol: String, parts: Int = 64,
      outCol: String = "dense_rank"): TFrame = {
    require(order.nonEmpty,
      "denseRankExact: empty order — every row would share rank 0")
    require(!columns.contains(outCol),
      s"denseRankExact: column $outCol exists")
    val rep = "__graft_rep"
    require(!columns.contains(rep), s"column $rep exists")
    val keys = df.groupBy(order.map(df(_)): _*)
      .agg(functions.min(col(idCol)).cast(LongType).as(rep))
    val ranked = graft.operators.Packing.rankInOrder(
      keys, rep, order, parts)
      .select(order.map(col) :+ col("rank").as(outCol): _*)
    TFrame(df.join(ranked, order))
  }

  /** Exact global LAG over the (order..., idCol) total order on the
    * user surface — `lag(v, k) OVER (ORDER BY ...)` is the same
    * one-task global-sort funnel as row_number;
    * [[graft.operators.Packing.shiftInOrder]] replaces it with one
    * range exchange plus a bounded (parts·offset) driver carry. Adds
    * `outCol` (null for the first `offset` rows, SQL lag semantics);
    * preserves every other column. Contracts as [[rankExact]];
    * `valueCol` nulls are fine — they shift like any value. */
  def lagExact(valueCol: String, offset: Int, order: Seq[String],
      idCol: String, parts: Int = 64, outCol: String = "lag"): TFrame =
    shiftExact(valueCol, offset, order, idCol, parts, outCol,
      descending = false, what = "lagExact")

  /** LEAD companion of [[lagExact]]: the value `offset` rows LATER in
    * (order..., idCol) order — computed as lag over the REVERSED total
    * order (lead(v, k) ORDER BY o ASC == lag(v, k) ORDER BY o DESC
    * row-for-row), so the same two-phase machinery serves both
    * directions. Null for the last `offset` rows. */
  def leadExact(valueCol: String, offset: Int, order: Seq[String],
      idCol: String, parts: Int = 64, outCol: String = "lead"): TFrame =
    shiftExact(valueCol, offset, order, idCol, parts, outCol,
      descending = true, what = "leadExact")

  /** Shared body of [[lagExact]]/[[leadExact]]. SQL's most common lag
    * idiom orders by the value itself — `lag(v) OVER (ORDER BY v)`,
    * the sorted-diff / gap-detection pattern — which would trip
    * shiftInOrder's core-column collision; an internal duplicate of
    * the value column rides as the shift payload key instead, so the
    * caller never needs a manual workaround. */
  private def shiftExact(valueCol: String, offset: Int,
      order: Seq[String], idCol: String, parts: Int, outCol: String,
      descending: Boolean, what: String): TFrame = {
    require(!columns.contains(outCol), s"$what: column $outCol exists")
    if (order.contains(valueCol)) {
      val dup = "__graft_shift_v"
      require(!columns.contains(dup), s"$what: column $dup exists")
      val payload = columns.filterNot(c =>
        c == idCol || order.contains(c))
      val out = graft.operators.Packing.shiftInOrder(
        df.withColumn(dup, col(s"`$valueCol`")), idCol, dup, order,
        offset, parts, payload, descending, outCol)
      TFrame(out.drop(dup))
    } else {
      val payload = columns.filterNot(c =>
        c == idCol || c == valueCol || order.contains(c))
      TFrame(graft.operators.Packing.shiftInOrder(
        df, idCol, valueCol, order, offset, parts, payload,
        descending, outCol))
    }
  }

  /** Exact global ROLLING SUM over the last `w` preceding rows plus
    * the current one (`sum(v) OVER (ORDER BY ... ROWS BETWEEN w
    * PRECEDING AND CURRENT ROW)`) with no one-partition window — pure
    * composition of the two exact primitives this family already has:
    * moving(i) = run(i) − run(i − w − 1), i.e. [[cumsumExact]]'s
    * two-phase running sum followed by [[lagExact]] of that running
    * sum by w+1 (each one range exchange; the second operates on the
    * already-narrow ranked frame). Long addition/subtraction is exact,
    * so the difference form loses nothing. Adds `outCol`; contracts as
    * [[cumsumExact]] (unique non-null idCol, non-null integral values,
    * negatives fine). */
  def rollingSumExact(valueCol: String, w: Int, order: Seq[String],
      idCol: String, parts: Int = 64,
      outCol: String = "rolling_sum"): TFrame = {
    require(w >= 0, s"rollingSumExact: w=$w")
    require(!columns.contains(outCol),
      s"rollingSumExact: column $outCol exists")
    val run = s"$valueCol.cumsum"
    val prev = "__graft_prev_run"
    require(!columns.contains(run) && !columns.contains(prev),
      s"rollingSumExact: helper columns $run/$prev exist")
    val summed = cumsumExact(valueCol, order, idCol, parts)
    val shifted = summed.lagExact(run, w + 1, order, idCol, parts,
      outCol = prev)
    TFrame(shifted.df
      .withColumn(outCol, col(s"`$run`") - coalesce(col(prev), lit(0L)))
      .drop(run, prev))
  }

  /** Shared core of [[percentRankExact]] / [[cumeDistExact]]: the
    * peer-aware prefix counts. The DISTINCT order keys (a groupBy —
    * map-side partial agg, |distinct| rows shuffle) carry their group
    * counts through [[graft.operators.Packing.prefixSumInOrder]] using
    * each group's min id as its unique representative, so per key:
    * global_start = rows strictly BEFORE the key (= SQL rank() − 1)
    * and global_start + count = rows at-or-before (the cume_dist
    * numerator) — vocabulary-sized exchanges, then one join back on
    * the key columns. Never a window. */
  private def peerCountsExact(order: Seq[String], idCol: String,
      parts: Int, belowCol: String, atOrBelowCol: String,
      nCol: String): DataFrame = {
    require(order.nonEmpty,
      "peer-aware ranks need a non-empty order — every row would be " +
        "one giant peer group")
    val rep = "__graft_rep"
    val cnt = "__graft_cnt"
    Seq(rep, cnt, belowCol, atOrBelowCol, nCol).foreach(c =>
      require(!columns.contains(c), s"column $c exists"))
    import org.apache.spark.sql.{functions => F}
    val keys = df.groupBy(order.map(df(_)): _*)
      .agg(F.min(col(idCol)).cast(LongType).as(rep),
        F.count(F.lit(1)).as(cnt))
    val pre = graft.operators.Packing.prefixSumInOrder(
      keys, rep, cnt, order, parts)
      .select(order.map(col) ++ Seq(
        col("global_start").as(belowCol),
        (col("global_start") + col(cnt)).as(atOrBelowCol)): _*)
    // n = max at-or-before over the prefix output: its range exchange
    // is read again as a ReusedExchange, so this aggregate costs one
    // vocabulary-sized pass — summing cnt over `keys` instead would
    // re-run the corpus-wide distinct-key groupBy a second time
    val n = pre.agg(F.max(col(atOrBelowCol)).cast(LongType).as(nCol))
    df.join(pre, order)
      .crossJoin(F.broadcast(n))
  }

  /** Exact SQL `percent_rank() OVER (ORDER BY ...)` without the
    * one-task window: (rank − 1) / (n − 1) with peer-aware rank (equal
    * keys share it), computed from the two-phase prefix count over the
    * DISTINCT keys (see [[peerCountsExact]]). A single IEEE double
    * division of exact integers, so the value is bit-identical on any
    * engine; n = 1 yields 0.0 (the SQL convention — the division would
    * be 0/0). Adds `outCol`; idCol must be integral non-null (only
    * ties within the groupBy need breaking — it never orders). */
  def percentRankExact(order: Seq[String], idCol: String,
      parts: Int = 64, outCol: String = "percent_rank"): TFrame = {
    require(!columns.contains(outCol),
      s"percentRankExact: column $outCol exists")
    val j = peerCountsExact(order, idCol, parts,
      "__graft_below", "__graft_cume", "__graft_n")
    TFrame(j
      .withColumn(outCol,
        when(col("__graft_n") === 1L, lit(0.0))
          .otherwise(col("__graft_below").cast(DoubleType) /
            (col("__graft_n") - 1L).cast(DoubleType)))
      .drop("__graft_below", "__graft_cume", "__graft_n"))
  }

  /** Exact SQL `cume_dist() OVER (ORDER BY ...)` without the one-task
    * window: (rows with key <= current) / n from the same two-phase
    * peer counts as [[percentRankExact]]. One IEEE double division of
    * exact integers — engine-portable bit-for-bit. */
  def cumeDistExact(order: Seq[String], idCol: String,
      parts: Int = 64, outCol: String = "cume_dist"): TFrame = {
    require(!columns.contains(outCol),
      s"cumeDistExact: column $outCol exists")
    val j = peerCountsExact(order, idCol, parts,
      "__graft_below", "__graft_cume", "__graft_n")
    TFrame(j
      .withColumn(outCol, col("__graft_cume").cast(DoubleType) /
        col("__graft_n").cast(DoubleType))
      .drop("__graft_below", "__graft_cume", "__graft_n"))
  }

  /** [[percentRankExact]] and [[cumeDistExact]] together from ONE
    * [[peerCountsExact]] pass — both numerators come out of the same
    * prefix count, so asking for both through the single-column
    * methods runs the distinct-key groupBy, the two-phase prefix sum,
    * the count aggregate, and the join back twice for nothing. Same
    * semantics, same contracts, half the exchanges (the q275 shape). */
  def peerRanksExact(order: Seq[String], idCol: String,
      parts: Int = 64, prCol: String = "percent_rank",
      cdCol: String = "cume_dist"): TFrame = {
    require(prCol != cdCol, s"peerRanksExact: prCol == cdCol ($prCol)")
    Seq(prCol, cdCol).foreach(c => require(!columns.contains(c),
      s"peerRanksExact: column $c exists"))
    val j = peerCountsExact(order, idCol, parts,
      "__graft_below", "__graft_cume", "__graft_n")
    TFrame(j
      .withColumn(prCol,
        when(col("__graft_n") === 1L, lit(0.0))
          .otherwise(col("__graft_below").cast(DoubleType) /
            (col("__graft_n") - 1L).cast(DoubleType)))
      .withColumn(cdCol, col("__graft_cume").cast(DoubleType) /
        col("__graft_n").cast(DoubleType))
      .drop("__graft_below", "__graft_cume", "__graft_n"))
  }

  def cummin(valueCols: Seq[String], order: Seq[String],
      by: Seq[String] = Nil): TFrame =
    cumApply("cummin", functions.min, valueCols, order, by)

  def cummax(valueCols: Seq[String], order: Seq[String],
      by: Seq[String] = Nil): TFrame =
    cumApply("cummax", functions.max, valueCols, order, by)

  /** Exact running product via Catalyst's Product aggregate (no
    * exp/ln round-trip — correct for zeros and negatives; the
    * aggregate has no SQL/functions-API name, so it is built
    * directly). */
  def cumprod(valueCols: Seq[String], order: Seq[String],
      by: Seq[String] = Nil): TFrame =
    cumApply("cumprod", c => {
      import org.apache.spark.sql.graftshim.Shim
      Shim.column(
        new org.apache.spark.sql.catalyst.expressions.aggregate.Product(
          Shim.expression(c.cast(DoubleType)))
          .toAggregateExpression())
    }, valueCols, order, by)

  private def cumApply(opName: String, op: Column => Column,
      valueCols: Seq[String], order: Seq[String], by: Seq[String]): TFrame = {
    // plan-time guard for the documented sharp edge: an unpartitioned
    // running aggregate is a global single-partition window — fine on
    // a bounded frame, a serialization point at scale. Warn loudly so
    // it cannot reach a large run silently; pass `by` to distribute.
    if (by.isEmpty)
      TFrame.log.warn(
        s"TFrame.$opName without `by`: global single-partition window " +
          "(driver-scale only). Pass a partition key to distribute.")
    val base = if (by.isEmpty) Window.orderBy(order.map(df(_).asc): _*)
      else Window.partitionBy(by.map(df(_)): _*)
        .orderBy(order.map(df(_).asc): _*)
    val w = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // reference null contract (_accumulate_column, skipna=True,
    // numerical_column_cpu.py:698-725): a null INPUT row yields a null
    // OUTPUT row, accumulation resumes on the next non-null — so the
    // running aggregate (which skips nulls) is masked per-row
    TFrame(valueCols.foldLeft(df)((d, c) =>
      d.withColumn(s"$c.$opName",
        when(d(c).isNotNull, op(d(c)).over(w)))))
  }

  /** Column quantile with the reference's 5 interpolation modes
    * (inumerical_column.py:357-413): linear/lower/higher/midpoint/
    * nearest over the sorted non-null values → scalar.
    *
    * Exact at scale WITHOUT a global sort: pass 1 brackets the target
    * rank with approxQuantile (GK sketch, rank error ≤ err·n
    * guaranteed), pass 2 counts below the bracket and sorts only the
    * ~4·err·n rows inside it. No single task ever sees more than the
    * bracket; shrink `err` for tighter brackets on huge columns. */
  def quantile(c: String, q: Double,
      interpolation: String = "linear"): Double = {
    require(q >= 0.0 && q <= 1.0, "q in [0,1]")
    val vals = df.select(df(c).cast(DoubleType).as("__v")).na.drop()
    val n = vals.count()
    require(n > 0, s"quantile of empty column $c")
    val pos = q * (n - 1)
    val lo = math.floor(pos).toLong
    val hi = math.ceil(pos).toLong
    val (vlo, vhi) = orderStats(vals, n, q, lo, hi)
    interpolation match {
      case "linear" => vlo + (vhi - vlo) * (pos - lo)
      case "lower" => vlo
      case "higher" => vhi
      case "midpoint" => (vlo + vhi) / 2.0
      case "nearest" => if (pos - lo <= hi - pos) vlo else vhi
      case other =>
        throw new IllegalArgumentException(s"interpolation $other")
    }
  }

  /** The (lo, hi) order statistics of a single-column frame of doubles:
    * approx bracket, then exact sort of the bracket only. Below 4096
    * rows (where the GK rank guarantee `err·n ≥ 1` has no room to
    * work) a bounded full collect is used. Above that, every driver
    * collect is capped: a rank-correct but row-huge bracket (duplicate-
    * dominant data) is collected as a (value, count) histogram —
    * bounded by DISTINCT values in the bracket, not rows — and a
    * rank-incorrect bracket is retried with a doubled rank margin
    * (≤ 2 retries) before erroring. No path collects the full column. */
  private def orderStats(vals: DataFrame, n: Long, q: Double,
      lo: Long, hi: Long): (Double, Double) = {
    def pick(sorted: Array[Double], offset: Long): (Double, Double) =
      (sorted((lo - offset).toInt), sorted((hi - offset).toInt))
    if (n < 4096)
      return pick(vals.orderBy(col("__v")).collect().map(_.getDouble(0)), 0L)
    val err = math.max(1e-4, 16.0 / n)
    val cap = TFrame.maxBracketCollect
    var margin = 2.0
    var attempt = 0
    while (attempt <= 2) {
      val qlo = math.max(0.0, q - margin * err)
      val qhi = math.min(1.0, q + margin * err)
      val Array(blo, bhi) =
        vals.stat.approxQuantile("__v", Array(qlo, qhi), err)
      val nBelow = vals.where(col("__v") < blo).count()
      val cand = vals.where(col("__v") >= blo && col("__v") <= bhi)
      val nCand = cand.count()
      if (nBelow <= lo && nBelow + nCand > hi) {
        if (nCand <= cap)
          return pick(
            cand.orderBy(col("__v")).collect().map(_.getDouble(0)), nBelow)
        // Bracket covers the target ranks but is row-huge — duplicates
        // dominate it. The distinct-value histogram is small exactly
        // when rows are many (few distinct values repeated); count it
        // BEFORE collecting so no driver collect is ever unbounded.
        val nDist = cand.select(col("__v")).distinct().count()
        if (nDist > cap)
          // Widening the margin can only grow the bracket (and both
          // collects), so retrying is guaranteed-useless: fail fast.
          throw new IllegalStateException(
            s"quantile: the rank-covering bracket holds $nCand rows " +
              s"and $nDist distinct values, both above the driver cap " +
              s"$cap (n=$n, q=$q); raise TFrame.maxBracketCollect, " +
              "lower the approxQuantile err, or pre-aggregate the column")
        val hist = cand.groupBy(col("__v")).agg(count(lit(1)).as("__n"))
          .orderBy(col("__v")).collect()
          .map(r => (r.getDouble(0), r.getLong(1)))
        var cum = nBelow
        var vlo = Double.NaN
        var vhi = Double.NaN
        hist.foreach { case (v, c) =>
          if (cum <= lo && lo < cum + c) vlo = v
          if (cum <= hi && hi < cum + c) vhi = v
          cum += c
        }
        return (vlo, vhi)
      }
      // rank coverage failed (sketch error): widen the bracket and retry
      margin *= 2
      attempt += 1
    }
    throw new IllegalStateException(
      s"quantile bracket failed after 3 attempts (n=$n, q=$q): the " +
        "approx bracket never covered the target ranks even after " +
        "margin widening; lower the approxQuantile err")
  }

  /** Positional row slice df[start:stop:step] (icolumn.py:301-409).
    * Needs an explicit total order (`order`) to be well-defined on a
    * distributed engine. The plan is a distributed top-`stop`
    * (TakeOrdered) followed by a row_number over only those `stop`
    * rows — no full-column single-task sort; cost scales with `stop`,
    * not with the frame. For huge offsets slice on a key predicate
    * instead. */
  def rowSlice(start: Int, stop: Int, step: Int,
      order: Seq[String]): TFrame = {
    require(step >= 1, "step must be >= 1")
    val top = df.orderBy(order.map(df(_).asc): _*).limit(stop)
    val w = Window.orderBy(order.map(top(_).asc): _*)
    TFrame(top.withColumn("__rn", row_number().over(w) - 1)
      .where(col("__rn") >= start && (col("__rn") - start) % step === 0)
      .drop("__rn"))
  }

  /** Rolling window over the trailing `window` rows (pandas
    * rolling(window).agg analog; the reference sketches but never
    * implements this — velox_rt/dataframe_cpu.py:2472-2482). `by`
    * optionally partitions (keyed rolling, the scalable form: one
    * shuffle on the key, O(window) state per row); `order` names the
    * explicit row order, as with [[cumsum]]. `minPeriods` mirrors
    * pandas: frames with fewer rows yield null. */
  def rolling(window: Int, order: Seq[String], by: Seq[String] = Nil,
      minPeriods: Int = 1)(aggs: (String, String)*): TFrame = {
    require(window >= 1 && minPeriods >= 1, "window/minPeriods >= 1")
    // same sharp edge as the running aggregates: warn at plan time so
    // an unpartitioned (single-partition) rolling can't reach a large
    // run silently; pass `by` to distribute
    if (by.isEmpty)
      TFrame.log.warn(
        "TFrame.rolling without `by`: global single-partition window " +
          "(driver-scale only). Pass a partition key to distribute.")
    val base = if (by.isEmpty) Window.orderBy(order.map(df(_).asc): _*)
      else Window.partitionBy(by.map(df(_)): _*)
        .orderBy(order.map(df(_).asc): _*)
    val w = base.rowsBetween(-(window - 1), Window.currentRow)
    def roll(c: String, op: String): Column = {
      // pandas min_periods counts NON-NULL observations in the window,
      // not rows — count(df(c)) skips nulls; "count" likewise returns
      // the non-null count
      val nonNull = count(df(c)).over(w)
      val agg = op match {
        case "sum" => functions.sum(df(c)).over(w)
        case "mean" => avg(df(c)).over(w)
        case "min" => functions.min(df(c)).over(w)
        case "max" => functions.max(df(c)).over(w)
        case "count" => nonNull.cast(DoubleType)
        // pandas ddof=1: a single observation yields NaN, not null
        case "std" => when(nonNull === 1, lit(Double.NaN))
          .otherwise(stddev_samp(df(c)).over(w))
        case other => throw new IllegalArgumentException(
          s"rolling: unsupported op $other")
      }
      when(nonNull >= minPeriods, agg)
    }
    TFrame(aggs.foldLeft(df) { case (d, (c, op)) =>
      d.withColumn(s"$c.rolling_$op", roll(c, op))
    })
  }

  /** describe: count/mean/std/min/percentiles/max rows per numeric column
    * (inumerical_column.py:139-198 layout). `include`/`exclude` select
    * described columns by dtype family name ("int", "float", "bool",
    * "numeric") — dataframe_cpu.py:1786-1838. */
  def describe(percentiles: Seq[Double] = Seq(0.25, 0.5, 0.75),
      include: Seq[String] = Nil, exclude: Seq[String] = Nil): TFrame = {
    def family(dt: DataType): String = dt match {
      case ByteType | ShortType | IntegerType | LongType => "int"
      case FloatType | DoubleType | _: DecimalType => "float"
      case BooleanType => "bool"
      case _ => "other"
    }
    def matches(sel: Seq[String], f: String): Boolean =
      sel.contains(f) || (sel.contains("numeric") && (f == "int" || f == "float"))
    val described = df.schema.fields.toSeq.collect {
      case fld if {
        val f = family(fld.dataType)
        val in = if (include.isEmpty) f == "int" || f == "float"
          else matches(include, f)
        in && !matches(exclude, f)
      } => fld.name
    }
    require(described.nonEmpty, "describe: no columns selected")
    // cast up-front so bool columns (include = Seq("bool")) describe as
    // 0/1 like pandas
    TFrame(df.select(described.map(c => df(c).cast(DoubleType).as(c)): _*))
      .describeCols(described, percentiles)
  }

  private def describeCols(numericCols: Seq[String],
      percentiles: Seq[Double]): TFrame = {
    val metrics: Seq[(String, String => Column)] =
      Seq[(String, String => Column)](
        ("count", c => count(df(c)).cast(DoubleType)),
        ("mean", c => avg(df(c))),
        ("std", c => stddev_samp(df(c))),
        ("min", c => functions.min(df(c)).cast(DoubleType))) ++
        percentiles.map(p =>
          (s"${(p * 100).toInt}%",
            (c: String) => percentile_approx(df(c), lit(p), lit(10000)))) :+
        (("max", (c: String) => functions.max(df(c)).cast(DoubleType)))
    val aggd = df.agg(
      metrics.flatMap { case (m, f) =>
        numericCols.map(c => f(c).cast(DoubleType).as(s"${c}__$m"))
      }.head,
      metrics.flatMap { case (m, f) =>
        numericCols.map(c => f(c).cast(DoubleType).as(s"${c}__$m"))
      }.tail: _*).head()
    val spark = df.sparkSession
    val rows = metrics.map { case (m, _) =>
      Row.fromSeq(m +: numericCols.map(c =>
        aggd.getAs[Double](s"${c}__$m")))
    }
    val schema = StructType(StructField("metric", StringType) +:
      numericCols.map(StructField(_, DoubleType)))
    TFrame(spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema))
  }

  // ---- scalar predicates (§2.6: icolumn.py:172-206) -------------------

  /** All values distinct (countDistinct==count, null-aware). */
  def isUnique(c: String): Boolean = {
    val r = df.agg(count(df(c)).as("n"), countDistinct(df(c)).as("d"),
      count(lit(1)).as("all")).head()
    // nulls: more than one null breaks uniqueness
    r.getLong(0) == r.getLong(1) && (r.getLong(2) - r.getLong(0)) <= 1
  }

  /** Monotonic over an explicit order. Scale-safe: adjacent-pair
    * comparison without a global window. */
  def isMonotonicIncreasing(c: String, order: Seq[String]): Boolean =
    monotonic(c, order, increasing = true)
  def isMonotonicDecreasing(c: String, order: Seq[String]): Boolean =
    monotonic(c, order, increasing = false)

  /** A violation is an adjacent pair (in `order`) moving the wrong way;
    * pairs involving nulls are ignored (SQL comparison semantics, same
    * as a lag-window check). Rather than one global single-partition
    * sort, the frame is RANGE-partitioned on the order keys — partition
    * i then holds only keys below partition i+1 — so adjacency is
    * either inside a partition (checked by a per-partition-id lag
    * window, all partitions in parallel) or across one boundary
    * (checked by comparing each partition's first value against the
    * previous partition's last — one row per partition, bounded by
    * spark.sql.shuffle.partitions, never by data). */
  private def monotonic(c: String, order: Seq[String],
      increasing: Boolean): Boolean = {
    require(order.nonEmpty, "monotonic needs an explicit order")
    val cols = (order :+ c).distinct
    val parted = df.select(cols.map(df(_)): _*)
      .repartitionByRange(order.map(col): _*)
      .withColumn("__pid", spark_partition_id())
    val oKey = struct(order.map(col): _*)
    val wIn = Window.partitionBy(col("__pid"))
      .orderBy(order.map(col(_).asc): _*)
    val prev = lag(col(c), 1).over(wIn)
    val badIn = if (increasing) col(c) < prev else col(c) > prev
    val perPart = parted
      .withColumn("__bad", coalesce(badIn, lit(false)))
      .groupBy(col("__pid"))
      .agg(functions.max(col("__bad")).as("__anyBad"),
        functions.min_by(col(c), oKey).as("__first"),
        functions.max_by(col(c), oKey).as("__last"))
    // one row per partition: this window is bounded by construction
    val prevLast = lag(col("__last"), 1).over(Window.orderBy(col("__pid")))
    val badB = if (increasing) col("__first") < prevLast
      else col("__first") > prevLast
    perPart
      .withColumn("__viol", col("__anyBad") || coalesce(badB, lit(false)))
      .filter(col("__viol")).isEmpty
  }

  // ---- set ops (§2.7 extension: free in Spark) ------------------------

  def intersect(other: TFrame): TFrame = TFrame(df.intersect(other.df))
  def except(other: TFrame): TFrame = TFrame(df.except(other.df))

  /** Ordered sequential left-fold → scalar (icolumn.py:729-770). The
    * reference's reduce is a non-parallel fold by construction; rows are
    * collected in `order` and folded on the driver — use only on
    * small/aggregated data; prefer groupby-agg for anything large.
    * Same maxRows fail-fast guard as [[collectRows]]: the fetch is
    * limit(maxRows+1), so an unbounded column fails without being
    * pulled to the driver. */
  def reduceCol[B](c: String, order: Seq[String], maxRows: Int = 100000)(
      zero: B)(op: (B, Any) => B): B = {
    val rows = df.select((order.map(df(_)) :+ df(c)): _*)
      .orderBy(order.map(df(_).asc): _*)
      .limit(maxRows + 1).collect()
    require(rows.length <= maxRows,
      s"reduceCol: input exceeds maxRows=$maxRows; " +
        "aggregate or filter before folding, or raise maxRows")
    rows.foldLeft(zero)((acc, r) => op(acc, r.get(order.length)))
  }

  // ---- groupby (§2.4) -------------------------------------------------

  def groupby(by: String*): TGrouped = TGrouped(df, by)

  // ---- UDF surface (§2.13) --------------------------------------------

  /** Row-wise map over selected columns with an explicit output schema —
    * the reference's df.map(fn, columns=...) (icolumn.py:420-611).
    * Implemented over mapPartitions: batch-amortized, no shuffle.
    * Caution: return `Seq[Any](...)` from `fn`, not a bare `Seq(...)`
    * of mixed numeric types — Scala harmonizes Seq(Long, Int, Double)
    * to Seq[Double], silently widening every element. */
  def mapRows(outSchema: StructType, cols: Seq[String])(
      fn: Seq[Any] => Seq[Any]): TFrame = {
    val idx = cols.map(df.schema.fieldIndex)
    implicit val enc =
      org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    TFrame(df.mapPartitions(rows =>
      rows.map(r => Row.fromSeq(fn(idx.map(r.get))))))
  }

  /** Predicate-UDF filter over selected columns (icolumn.py:677-727). */
  def filterRows(cols: Seq[String])(pred: Seq[Any] => Boolean): TFrame = {
    val idx = cols.map(df.schema.fieldIndex)
    implicit val enc =
      org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(df.schema)
    TFrame(df.filter((r: Row) => pred(idx.map(r.get))))
  }

  /** flatmap: fn returns 0..n output rows per input row
    * (icolumn.py:646-675). */
  def flatmapRows(outSchema: StructType, cols: Seq[String])(
      fn: Seq[Any] => Seq[Seq[Any]]): TFrame = {
    val idx = cols.map(df.schema.fieldIndex)
    implicit val enc =
      org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    TFrame(df.mapPartitions(rows =>
      rows.flatMap(r => fn(idx.map(r.get)).map(Row.fromSeq))))
  }

  /** Batch transform over whole partitions (icolumn.py:613-644's
    * format='column' — the vectorized UDF slot). */
  def transformPartitions(outSchema: StructType)(
      fn: Iterator[Row] => Iterator[Row]): TFrame = {
    implicit val enc =
      org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    TFrame(df.mapPartitions(fn))
  }

  private object functions {
    def sum(c: Column) = org.apache.spark.sql.functions.sum(c)
    def min(c: Column) = org.apache.spark.sql.functions.min(c)
    def max(c: Column) = org.apache.spark.sql.functions.max(c)
    def median(c: Column) = org.apache.spark.sql.functions.median(c)
    def mode(c: Column) = org.apache.spark.sql.functions.mode(c)
    def min_by(c: Column, ord: Column) =
      org.apache.spark.sql.functions.min_by(c, ord)
    def max_by(c: Column, ord: Column) =
      org.apache.spark.sql.functions.max_by(c, ord)
  }
}

object TFrame {
  private[frame] val log =
    org.slf4j.LoggerFactory.getLogger(classOf[TFrame])

  /** Hard cap on rows (or histogram entries) a single quantile bracket
    * may bring to the driver: 4M doubles ≈ 32 MB. Package-visible so
    * specs can shrink it to force the histogram/retry paths. */
  private[graft] var maxBracketCollect: Long = 1L << 22

  /** Factory from named columns of Scala values with dtype inference
    * (scope.py:252-388 analog). Values are coerced to the inferred
    * type — inference widens Scala Int to int64 (Python int
    * semantics), so the raw boxed Integers must become Longs before
    * they meet the LongType schema. */
  def apply(spark: SparkSession, data: Seq[(String, Seq[Any])]): TFrame = {
    val fields = data.map { case (n, vs) =>
      StructField(n, Dtype.inferFromSeq(vs).spark, vs.contains(null))
    }
    def coerce(v: Any, dt: DataType): Any = (v, dt) match {
      case (null, _) => null
      case (x: Byte, LongType) => x.toLong
      case (x: Short, LongType) => x.toLong
      case (x: Int, LongType) => x.toLong
      // int⊔float promotes the column to float32/float64: the boxed
      // int widths must widen too, or createDataFrame fails at encode
      case (x: Byte, DoubleType) => x.toDouble
      case (x: Short, DoubleType) => x.toDouble
      case (x: Int, DoubleType) => x.toDouble
      case (x: Long, DoubleType) => x.toDouble
      case (x: Float, DoubleType) => x.toDouble
      case (x: Byte, FloatType) => x.toFloat
      case (x: Short, FloatType) => x.toFloat
      case (x: Int, FloatType) => x.toFloat
      case (x: Long, FloatType) => x.toFloat
      case (s: Seq[_], ArrayType(et, _)) => s.map(coerce(_, et))
      case _ => v
    }
    val n = data.headOption.map(_._2.length).getOrElse(0)
    require(data.forall(_._2.length == n), "columns must share length")
    val rows = (0 until n).map(i => Row.fromSeq(
      data.zip(fields).map { case ((_, vs), f) => coerce(vs(i), f.dataType) }))
    TFrame(spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), StructType(fields)))
  }

  /** Factory with an explicit target dtype — the reference's
    * construction-with-cast (test_factory.py `ta.dataframe(data,
    * dtype=...)`): infer, then [[TFrame.cast]] to the target. */
  def apply(spark: SparkSession, data: Seq[(String, Seq[Any])],
      dtype: TStruct): TFrame =
    apply(spark, data).cast(dtype)
}

/** groupby handle (dataframe_cpu.py:2094-2435): lifted aggs name results
  * "col.op"; agg accepts op, list-of-ops, or col→ops map. */
final case class TGrouped(df: DataFrame, keys: Seq[String]) {

  private def others: Seq[String] = df.columns.toSeq.filterNot(keys.contains)
  private def numericOthers: Seq[String] = df.schema.fields.toSeq.collect {
    case f if !keys.contains(f.name) &&
      (f.dataType.isInstanceOf[NumericType] ||
        f.dataType == BooleanType) => f.name
  }

  private def opCol(op: String, c: String): Column = {
    val F = org.apache.spark.sql.functions
    (op match {
      case "sum" => F.sum(df(c))
      case "min" => F.min(df(c))
      case "max" => F.max(df(c))
      case "mean" => F.avg(df(c))
      case "median" => F.median(df(c))
      case "mode" => F.mode(df(c))
      case "std" => F.stddev_samp(df(c))
      case "count" => F.count(df(c))
      case "nunique" => F.countDistinct(df(c))
      case "any" => F.max(df(c).cast(BooleanType))
      case "all" => F.min(df(c).cast(BooleanType))
      case "list" => F.collect_list(df(c))
      case other => throw new IllegalArgumentException(s"agg op $other")
    }).as(s"$c.$op")
  }

  private def lift(op: String, cols: Seq[String]): TFrame =
    TFrame(df.groupBy(keys.map(df(_)): _*)
      .agg(opCol(op, cols.head), cols.tail.map(opCol(op, _)): _*))

  def sum: TFrame = lift("sum", numericOthers)
  def min: TFrame = lift("min", others)
  def max: TFrame = lift("max", others)
  def mean: TFrame = lift("mean", numericOthers)
  def median: TFrame = lift("median", numericOthers)
  def std: TFrame = lift("std", numericOthers)
  def countAgg: TFrame = lift("count", others)

  /** group sizes incl. null rows (dataframe_cpu.py:2213-2225). */
  def size: TFrame =
    TFrame(df.groupBy(keys.map(df(_)): _*).agg(count(lit(1)).as("size")))

  /** agg("sum") / agg(Seq("sum","min")) / agg(Map(col -> ops)). */
  def agg(op: String): TFrame = lift(op, numericOthers)
  def agg(ops: Seq[String]): TFrame =
    TFrame(df.groupBy(keys.map(df(_)): _*)
      .agg(opCol(ops.head, numericOthers.head),
        (for { c <- numericOthers; o <- ops if (c, o) != (numericOthers.head, ops.head) }
          yield opCol(o, c)): _*))
  def agg(spec: Map[String, Seq[String]]): TFrame = {
    val cs = spec.toSeq.flatMap { case (c, ops) => ops.map(o => opCol(o, c)) }
    TFrame(df.groupBy(keys.map(df(_)): _*).agg(cs.head, cs.tail: _*))
  }

  /** Per-group computed aggregation expressions
    * (grouped.select, dataframe_cpu.py:2401-2411). */
  def select(computed: (String, Column)*): TFrame =
    TFrame(df.groupBy(keys.map(df(_)): _*)
      .agg(computed.head._2.as(computed.head._1),
        computed.tail.map { case (n, c) => c.as(n) }: _*))

  /** grouped[col] materialized per group (dataframe_cpu.py:2304-2321). */
  def apply(c: String): TFrame =
    TFrame(df.groupBy(keys.map(df(_)): _*)
      .agg(collect_list(df(c)).as(c)))

  /** Grouped mode with a DETERMINISTIC tie-break — smallest
    * most-frequent value (inumerical_column.py:417-429 made total-order
    * safe; Spark's builtin `mode` picks an arbitrary tied value). Two
    * hash aggregates: counts per (keys, value), then argmin by
    * (−count, value) struct ordering — highest count wins, ties break
    * to the smallest value under the type's natural order, so string
    * and other non-numeric columns work too. Shuffles counts, never
    * rows. */
  def modeDet(c: String): TFrame = {
    val cnt = df.groupBy((keys :+ c).map(df(_)): _*)
      .agg(count(lit(1)).as("__n"))
    TFrame(cnt.groupBy(keys.map(cnt(_)): _*)
      .agg(min_by(cnt(c), struct(-cnt("__n"), cnt(c))).as(s"$c.mode")))
  }

  /** Grouped iteration `for (key, subframe) <- grouped`
    * (dataframe_cpu.py:2227-2245): keys are collected (bounded by
    * `maxGroups`); each subframe is a LAZY filtered view of the parent —
    * no data moves until the caller acts on a subframe, and each one
    * inherits the full pushdown/pruning pipeline. */
  def iterGroups(maxGroups: Int = 1000): Seq[(Row, TFrame)] = {
    val ks = df.select(keys.map(df(_)): _*).distinct()
      .orderBy(keys.map(col): _*).limit(maxGroups + 1).collect()
    require(ks.length <= maxGroups,
      s"iterGroups: more than $maxGroups groups; raise maxGroups or " +
        "use an aggregate instead")
    ks.toSeq.map { kr =>
      // null-safe equality: a null-valued key must select its group's
      // rows, not a silently empty subframe
      val pred = keys.zipWithIndex.map { case (k, i) =>
        df(k) <=> lit(kr.get(i))
      }.reduce(_ && _)
      (kr, TFrame(df.filter(pred)))
    }
  }
}
