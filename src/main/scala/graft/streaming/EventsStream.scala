package graft.streaming

import org.apache.spark.sql.{functions, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming over the events table.
  *
  * The reference has no streaming surface (SURVEY §2.15); this is the
  * Spark-native extension: the same declarative aggregations run under
  * `readStream` with watermarking. For local verification the parquet
  * file drives the stream as one micro-batch into a memory sink; on a
  * cluster the identical plan runs over a file/Kafka source with
  * RocksDB state and the sink swapped.
  */
object EventsStream {

  /** Streaming reader for the events table ([[graft.Tables.stream]]:
    * both layouts, the file's own schema). The file's ts annotation
    * varies by testdata generation (TIMESTAMP(NANOS) = long ns under
    * nanosAsLong, vs TIMESTAMP(MICROS) = TIMESTAMP_NTZ), and a
    * hardcoded long schema over a micros file silently reads the raw
    * micros AS nanos — event times 1000× off. So the stream takes the footer's schema, then the
    * SAME normalization as the batch loader
    * ([[graft.Tables.normalizeEventsTs]]), so stream and batch share
    * one ts contract: long nanoseconds since epoch. */
  private[graft] def eventsStream(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.normalizeEventsTs(graft.Tables.stream(spark, dir, "events"))

  /** The NORMALIZED events schema every streaming consumer sees (and
    * the sentinel writer targets): ts = long nanoseconds since epoch,
    * whatever the file's physical annotation. */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Hourly tumbling-window counts+sums per event type, computed by a
    * real streaming query with a 1-hour watermark; returns the final
    * result table (complete mode memory sink, drained synchronously). */
  def hourlyWindow(parent: SparkSession, dir: String): DataFrame = {
    val spark = StreamDrain.session(parent, emptyBatches = false)
    val stream = eventsStream(spark, dir)
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      .withWatermark("event_time", "1 hour")
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.dsum(col("value")).as("sum_value"))
    StreamDrain.toMemory(stream.writeStream.outputMode("complete"))
      .select(col("window.start").cast(LongType).as("bucket_ts"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("bucket_ts", "event_type")
  }

  /** Per-user session windows as a STREAMING aggregation — the
    * stateful form of the batch `session_window` gate (q118): Spark
    * merges a new event's [t, t+gap) window into the user's open
    * session state when it overlaps or touches (start <= current end —
    * an event at exactly gap distance MERGES; pinned in Queries7Spec),
    * and the watermark decides when a session can no longer grow. On
    * an unbounded stream this is the production sessionization plan:
    * state per user is the OPEN sessions only, closed sessions emit
    * and evict on watermark advance. The single-file micro-batch in
    * complete mode yields exactly the batch result — the q118 oracle
    * verifies it value-for-value. */
  def sessionWindows(parent: SparkSession, dir: String): DataFrame = {
    val spark = StreamDrain.session(parent, emptyBatches = false)
    val stream = eventsStream(spark, dir)
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      .withWatermark("event_time", "1 hour")
      .groupBy(col("user_id"),
        session_window(col("event_time"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
    StreamDrain.toMemory(stream.writeStream.outputMode("complete"))
      .select(col("user_id"), unix_micros(col("sw.start")).as("start_us"),
        unix_micros(col("sw.end")).as("end_us"), col("n_events"))
      .orderBy("user_id", "start_us")
  }

  /** Streaming deduplication: dropDuplicates as a stateful streaming
    * operator over the event stream. Output = the distinct
    * (user_id, event_type) pairs (key-only output keeps the result
    * order-insensitive and batch-verifiable: SELECT DISTINCT). On an
    * unbounded stream the same plan takes `.withWatermark` +
    * dropDuplicatesWithinWatermark to bound state; the single-file
    * micro-batch here needs no eviction. */
  def streamDedup(parent: SparkSession, dir: String): DataFrame = {
    val spark = StreamDrain.session(parent, emptyBatches = false)
    val stream = eventsStream(spark, dir)
      .select(col("user_id"), col("event_type"))
      .dropDuplicates("user_id", "event_type")
    StreamDrain.toMemory(stream.writeStream.outputMode("append"))
      .orderBy("user_id", "event_type")
  }

  /** TTL-bounded streaming dedup: `dropDuplicatesWithinWatermark` —
    * the unbounded-stream variant of [[streamDedup]]. Plain
    * dropDuplicates keeps one state entry per distinct key FOREVER
    * (state grows with stream history — the thing that kills a
    * 100 TB/day dedup); here a key's state is evicted once the
    * watermark passes its event time plus the delay, so state is
    * bounded by keys-per-watermark-window. The trade: duplicates
    * separated by more than the delay can re-emit — the right contract
    * for near-real-time dedup where repeats cluster in time. The ts
    * column arrives as TIMESTAMP(NANOS) long (harness convention) and
    * converts to a real timestamp for the watermark. In this
    * single-file micro-batch every duplicate is within the watermark,
    * so the result equals batch SELECT DISTINCT — the oracle. */
  def streamDedupTtl(parent: SparkSession, dir: String): DataFrame = {
    val spark = StreamDrain.session(parent, emptyBatches = false)
    val stream = eventsStream(spark, dir)
      // integer div: (ts / 1000L) would round-trip the ~1.5e18 nano
      // value through a double (ulp 256 ns) and can truncate to a
      // microsecond off the exact ts div 1000 the other readers use
      .select(col("user_id"), col("event_type"),
        timestamp_micros(expr("ts div 1000")).as("ets"))
      .withWatermark("ets", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"))
    StreamDrain.toMemory(stream.writeStream.outputMode("append"))
      .orderBy("user_id", "event_type")
  }

  /** Stream-static join: the event stream enriched against a static
    * dimension (broadcast — the stream side never shuffles for the
    * join), then aggregated per segment. The standard pattern for
    * joining a 100 TB/day stream to reference data: the static side is
    * re-read per micro-batch, so dimension updates are picked up
    * without restarting the query. */
  def streamStaticJoin(parent: SparkSession, dir: String): DataFrame = {
    val spark = StreamDrain.session(parent, emptyBatches = false)
    val dim = functions.broadcast(
      graft.Tables(spark, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment")))
    val stream = eventsStream(spark, dir)
      .join(dim, col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        graft.dsum(col("value")).as("sum_value"))
    StreamDrain.toMemory(stream.writeStream.outputMode("complete"))
      .orderBy("c_mktsegment")
  }

  /** Stream-stream interval join — the remaining Structured Streaming
    * join shape beside [[streamStaticJoin]]: each click joined to the
    * same user's purchases within the following hour, BOTH sides
    * unbounded streams. Watermarks on both event-time columns plus the
    * time-range join condition are what make this runnable on an
    * unbounded stream: they bound how long each side's rows are held
    * in join state (a click can be dropped once the purchase-side
    * watermark passes click_time + 1 h, and vice versa). Inner-join
    * results stream out in append mode as soon as both sides arrive;
    * the single-file micro-batch here emits the complete pair set, so
    * the batch SQL inequality join is an exact oracle. */
  def streamStreamJoin(parent: SparkSession, dir: String): DataFrame = {
    val spark = StreamDrain.session(parent, emptyBatches = false)
    def side(tp: String, pfx: String): DataFrame =
      eventsStream(spark, dir)
        .where(col("event_type") === tp)
        .select(col("event_id").as(s"${pfx}_id"),
          col("user_id").as(s"${pfx}_user"),
          timestamp_micros(expr("ts div 1000")).as(s"${pfx}_time"))
        .withWatermark(s"${pfx}_time", "1 hour")
    val joined = side("click", "c").join(side("purchase", "p"),
      col("c_user") === col("p_user") &&
        col("p_time") >= col("c_time") &&
        col("p_time") <= col("c_time") + expr("INTERVAL 1 HOUR"))
    StreamDrain.toMemory(joined.writeStream.outputMode("append"))
      .select(col("c_id"), col("p_id"))
      .orderBy("c_id", "p_id")
  }

  /** Stream-stream LEFT OUTER interval join (§2.15's missing outer
    * shape beside [[streamStreamJoin]]): every click paired with its
    * purchases within the following hour, or a NULL purchase if none
    * arrived. Append-mode outer rows only materialize when the
    * WATERMARK passes their join-state eviction bound — in a bounded
    * run the last hour of clicks would stay in state forever, so a
    * watermark-advancing sentinel event per side (far-future ts,
    * user_id -1, filtered from the output) forces the final eviction;
    * on a real cluster the continuously advancing stream plays that
    * role. Unlike the inner join, no-data micro-batches stay ENABLED:
    * eviction happens in the trigger AFTER the watermark advances.
    * Verified row-identical to the batch left join (the q110 DuckDB
    * oracle). */
  def streamStreamOuterJoin(parent: SparkSession, dir: String)
      : DataFrame = streamStreamOuterJoinImpl(parent, dir, "left_outer")

  /** Stream-stream FULL OUTER interval join (q214) — q110's machinery
    * with BOTH null sides: unmatched clicks AND unmatched purchases
    * materialize on watermark-driven state eviction (each side's
    * sentinel forces the other side's final flush). The sentinel
    * filter must be null-safe: a full-outer row can have a NULL
    * c_user (unmatched purchase) that a plain =!= -1 would silently
    * drop. */
  def streamStreamFullOuterJoin(parent: SparkSession, dir: String)
      : DataFrame = streamStreamOuterJoinImpl(parent, dir, "full_outer")

  private def streamStreamOuterJoinImpl(parent: SparkSession,
      dir: String, joinType: String): DataFrame = {
    val spark = StreamDrain.session(parent, emptyBatches = true)
    val maxTs = graft.Tables(parent, dir, "events")
      .agg(max(col("ts"))).head().getLong(0)
    val sentDir = graft.Fs.scratchDir("ss_sentinel")
    val margin = 30L * 24 * 3600 * 1000000000L // 30 days in ns
    parent.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(-1L, maxTs + margin, -1L, "click", 0.0,
          null),
        org.apache.spark.sql.Row(-2L, maxTs + margin, -1L, "purchase",
          0.0, null)),
      eventsSchema).coalesce(1).write.mode("overwrite").parquet(sentDir)
    val events = eventsStream(spark, dir).unionByName(
      spark.readStream.schema(eventsSchema).parquet(sentDir))
    def side(tp: String, pfx: String): DataFrame =
      events.where(col("event_type") === tp)
        .select(col("event_id").as(s"${pfx}_id"),
          col("user_id").as(s"${pfx}_user"),
          timestamp_micros(expr("ts div 1000")).as(s"${pfx}_time"))
        .withWatermark(s"${pfx}_time", "1 hour")
    val joined = side("click", "c").join(side("purchase", "p"),
      col("c_user") === col("p_user") &&
        col("p_time") >= col("c_time") &&
        col("p_time") <= col("c_time") + expr("INTERVAL 1 HOUR"),
      joinType)
    // the memory sink holds the rows; the per-run sentinel dir is dead
    // weight — delete it so repeated bench loops don't accumulate
    // orphans under /tmp
    val drained =
      try StreamDrain.toMemory(joined.writeStream.outputMode("append"))
      finally graft.Fs.rmTree(new java.io.File(sentDir))
    drained
      // drop sentinel rows NULL-SAFELY: in full outer, c_user (or
      // p_user) is null on unmatched rows and `=!= -1` would be null
      // → silently filtered — the row the join exists to emit
      .where(coalesce(col("c_user"), lit(0L)) =!= -1L &&
        coalesce(col("p_user"), lit(0L)) =!= -1L)
      .select(col("c_id"), col("p_id"))
      .orderBy("c_id", "p_id")
  }

  /** Stateful sessionization through mapGroupsWithState — the custom-
    * state operator shape. The same function runs under batch (one
    * invocation per key, as here) and under readStream (incremental
    * state with a gap timeout); state per key is O(1): (last ts,
    * session count). Verified against the window-lag formulation
    * (Queries2.q15) by a shared DuckDB oracle. */
  def sessionizeStateful(spark: SparkSession, dir: String,
      gapMinutes: Int = 30): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val gapNs = gapMinutes * 60L * 1000000000L
    val ds = graft.Tables(spark, dir, "events")
      .select(col("user_id"), col("ts")).as[(Long, Long)]
    ds.groupByKey(_._1)
      .mapGroupsWithState[(Long, Long), (Long, Long, Long)](
        GroupStateTimeout.NoTimeout) { case (user, events, state) =>
        // batch mode: the full per-user iterator arrives unordered
        val ts = events.map(_._2).toArray
        java.util.Arrays.sort(ts)
        var sessions = if (ts.isEmpty) 0L else 1L
        var i = 1
        while (i < ts.length) {
          if (ts(i) - ts(i - 1) > gapNs) sessions += 1
          i += 1
        }
        (user, ts.length.toLong, sessions)
      }
      .toDF("user_id", "n_events", "n_sessions")
  }

  /** Late-data DROP semantics, witnessed end-to-end: the property that
    * bounds every watermarked aggregation's state on an unbounded
    * stream — rows arriving after the watermark passed their window
    * are DROPPED, not merged. Two micro-batches from one file-source
    * directory (maxFilesPerTrigger=1, file order pinned via mtimes):
    * batch 1 carries everything except a "late" subset (event_id%97=0
    * with ts at least 3h before the stream max) and advances the
    * watermark to max−1h; batch 2 replays ONLY the late subset, whose
    * hourly windows are all finalized by then — every row of it must
    * be discarded. The emitted result is therefore the batch aggregate
    * over the NON-late rows restricted to windows closed by the final
    * watermark — exactly the DuckDB oracle. An in-gate `observe`
    * metric on the source side counts batch-2 rows to prove they
    * ARRIVED and were dropped by the operator, not lost upstream. */
  def lateDataDrop(parent: SparkSession, dir: String): DataFrame = {
    val spark = StreamDrain.session(parent, emptyBatches = true)
    val ev = graft.Tables(parent, dir, "events")
    val maxTs = ev.agg(max(col("ts"))).head().getLong(0)
    val h3 = 3L * 3600 * 1000000000L
    val isLate = expr("event_id % 97 = 0") && col("ts") < maxTs - h3
    val stage = graft.Fs.scratchDir("late")
    // THREE micro-batches, not two: Spark's late-record FILTER runs one
    // batch behind its eviction watermark (the filter in batch N uses
    // the watermark computed after batch N-2), so a late batch
    // immediately after the bulk batch would still be ACCEPTED. The
    // middle "carrier" batch (one sentinel row at max ts, a type the
    // output excludes) lets the filter watermark catch up to max-1h
    // before the late replay arrives — which is also exactly how a
    // real stream behaves: time keeps advancing between a backlog and
    // its late replay. Staged ts is long ns (the normalized contract).
    ev.where(!isLate).coalesce(1)
      .write.mode("overwrite").parquet(s"$stage/b1")
    spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(
        -1L, maxTs, -1L, "__wm", 0.0, null)), eventsSchema)
      .coalesce(1).write.mode("overwrite").parquet(s"$stage/b2")
    ev.where(isLate).coalesce(1)
      .write.mode("overwrite").parquet(s"$stage/b3")
    StreamDrain.promote(stage, "b1", "b2", "b3")
    val nLate = ev.where(isLate).count()
    val stream = spark.readStream.schema(eventsSchema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "batch*.parquet")
      .parquet(stage)
      .observe("src", count(lit(1)).as("rows_seen"))
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      .withWatermark("event_time", "1 hour")
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val (drained, progress) =
      // append: only watermark-finalized windows emit
      try StreamDrain.toMemoryWithProgress(
        stream.writeStream.outputMode("append"))
      finally graft.Fs.rmTree(new java.io.File(stage))
    val seen = progress
      .flatMap(p => Option(p.observedMetrics.get("src")))
      .map(_.getAs[Long]("rows_seen")).sum
    require(seen == ev.count() + 1,
      s"q177: source observed $seen rows, expected ${ev.count() + 1} — " +
        "the late batch must ARRIVE and be dropped by the operator")
    val dropped = progress
      .filter(_.stateOperators.nonEmpty)
      .map(_.stateOperators(0).numRowsDroppedByWatermark).sum
    require(nLate > 0, "q177: no late rows at this SF — witness vacuous")
    // the drop METRIC counts rows reaching the state operator — late
    // input is ALSO pre-filtered before the map-side partial
    // aggregation, so what arrives post-shuffle (and is counted) is
    // one partial row per distinct late (window, type) pair (the
    // staged late file is one scan partition, so the partial-agg
    // output is exactly the distinct-pair count)
    val latePairs = ev.where(isLate)
      .select(expr("(ts div 1000) div 3600000000").as("w"),
        col("event_type")).distinct().count()
    require(dropped == latePairs,
      s"q177: operator dropped $dropped state-input rows by watermark, " +
        s"expected one per late (window,type) pair = $latePairs")
    drained
      .where(col("event_type") =!= "__wm")
      .select(unix_micros(col("window.start")).as("win_us"),
        col("event_type"), col("n"))
      .orderBy("win_us", "event_type")
  }

  /** Stream-stream LEFT SEMI interval join — each click emits ONCE if
    * any same-user purchase lands within the following hour, however
    * many matched (the built-in dedup the inner join shape needs a
    * second distinct for). Same watermark + time-range state bounds as
    * [[streamStreamJoin]]; a semi row emits as soon as its first match
    * arrives, so the bounded single micro-batch emits the complete
    * qualifying set without the outer join's sentinel machinery. */
  def streamSemiJoin(parent: SparkSession, dir: String): DataFrame = {
    val spark = StreamDrain.session(parent, emptyBatches = false)
    def side(tp: String, pfx: String): DataFrame =
      eventsStream(spark, dir)
        .where(col("event_type") === tp)
        .select(col("event_id").as(s"${pfx}_id"),
          col("user_id").as(s"${pfx}_user"),
          timestamp_micros(expr("ts div 1000")).as(s"${pfx}_time"))
        .withWatermark(s"${pfx}_time", "1 hour")
    val joined = side("click", "c").join(side("purchase", "p"),
      col("c_user") === col("p_user") &&
        col("p_time") >= col("c_time") &&
        col("p_time") <= col("c_time") + expr("INTERVAL 1 HOUR"),
      "left_semi")
    StreamDrain.toMemory(joined.writeStream.outputMode("append"))
      .select(col("c_id")).orderBy("c_id")
  }

  /** Per-user running aggregate through `transformWithState` — the
    * arbitrary-state v2 operator (Spark 4.x): typed ValueState under
    * the RocksDB state store (the provider the API requires; also the
    * production store for 100 TB streams — state spills off-heap and
    * snapshots to the checkpoint location, so per-key state survives
    * executor loss). Compared to [[sessionizeStateful]]'s
    * mapGroupsWithState: named state slots with independent encoders +
    * TTL, timers decoupled from output mode, and list/map state for
    * bigger-than-value shapes. State here is O(1)/user: (n, exact
    * scaled-long sum — element-wise DECIMAL(25,4) HALF_UP, the dsum
    * convention, so the emitted totals are engine-exact). The output
    * rolls up to ten user_id buckets, keeping the oracled result
    * bounded at any SF. */
  def transformWithStateAgg(parent: SparkSession, dir: String)
      : DataFrame = {
    val spark = StreamDrain.session(parent, emptyBatches = false)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val src = eventsStream(spark, dir)
      .where(col("value").isNotNull)
      .select(col("user_id"), col("value")).as[UserEvent]
    val out = src.groupByKey(_.user_id)
      .transformWithState(new UserRunningAgg, TimeMode.None(),
        OutputMode.Append(),
        org.apache.spark.sql.Encoders.product[UserAggOut])
    StreamDrain.toMemory(out.toDF().writeStream.outputMode("append"))
      .groupBy(pmod(col("user_id"), lit(10)).as("bucket"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("n")).as("n_events"),
        (sum(col("sum_scaled")) / lit(10000.0)).as("sum_value"))
      .orderBy("bucket")
  }
}

/** Typed rows for [[EventsStream.transformWithStateAgg]]. */
case class UserEvent(user_id: Long, value: Double)
case class UserAgg(n: Long, sumScaled: Long)
case class UserAggOut(user_id: Long, n: Long, sum_scaled: Long)

/** The StatefulProcessor: one ValueState slot per user holding
  * (count, exact scaled-long sum). handleInputRows folds the batch's
  * rows into state and emits the running total — on an unbounded
  * stream each micro-batch re-emits the user's updated aggregate
  * (append-mode change stream); here the single micro-batch emits the
  * final value per user exactly once. */
class UserRunningAgg extends org.apache.spark.sql.streaming
    .StatefulProcessor[Long, UserEvent, UserAggOut] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode,
    TimerValues, TTLConfig, ValueState}

  @transient private var st: ValueState[UserAgg] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[UserAgg]("agg",
      org.apache.spark.sql.Encoders.product[UserAgg], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[UserEvent],
      timerValues: TimerValues): Iterator[UserAggOut] = {
    var n = 0L
    var s = 0L
    if (st.exists()) { val p = st.get(); n = p.n; s = p.sumScaled }
    rows.foreach { e =>
      n += 1
      // element-wise DECIMAL(25,4) HALF_UP then exact long add — the
      // dsum convention, order-independent and oracle-exact
      s += java.math.BigDecimal.valueOf(e.value)
        .setScale(4, java.math.RoundingMode.HALF_UP)
        .movePointRight(4).longValueExact()
    }
    st.update(UserAgg(n, s))
    Iterator.single(UserAggOut(key, n, s))
  }
}
