package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode,
  TimeMode, TimerValues, TTLConfig, ValueState}

/** Event-time TIMERS under `transformWithState` — the session close a
  * watermark drives, not an arriving event: each user's open session
  * registers a timer at (last event + gap); if the next event arrives
  * within the gap the handler deletes and re-registers the timer; when
  * the WATERMARK passes an expiry first, [[SessionCloser.handleExpiredTimer]]
  * emits the closed session and clears state. This is the operator
  * shape q168's ValueState alone cannot express: output triggered by
  * TIME passing, with nothing arriving for the key — on an unbounded
  * stream it is how per-key state reaches zero instead of growing with
  * key history.
  *
  * Determinism contract (why the gate is batch-replayable): batches
  * are staged in EVENT-TIME ORDER (ts terciles, mtime-pinned) and the
  * watermark delay (1 h) EXCEEDS the session gap (30 min), so a timer
  * can only fire for a session whose user genuinely has no
  * continuing event — any event inside the gap would land at or
  * before the watermark frontier of an earlier batch, hence in an
  * earlier file. Mid-stream gaps are therefore closed by the HANDLER
  * (next event observes the gap) and each user's FINAL session can
  * only be closed by its TIMER, fired when the far-future sentinel
  * advances the watermark — so `distinct users emitted == distinct
  * users` is an in-gate witness that timers fired for every key. */
object SessionTimers {

  val gapNs: Long = 30L * 60 * 1000000000L
  val gapMs: Long = gapNs / 1000000L

  /** Per-user (n_events, n_sessions) computed by the timer-driven
    * sessionizer; value-equal to the batch lag-window formulation
    * (shares q23's oracle). */
  def sessionsViaTimers(parent: SparkSession, dir: String): DataFrame = {
    // no-data micro-batches stay ENABLED: timers fire in the trigger
    // AFTER the watermark advances (same lag as q110's outer join)
    val spark = StreamDrain.session(parent, emptyBatches = true)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    import spark.implicits._
    val ev = graft.Tables(parent, dir, "events")
    val Array(minTs, maxTs) = ev
      .agg(min(col("ts")), max(col("ts"))).head() match {
      case r => Array(r.getLong(0), r.getLong(1))
    }
    val nUsers = ev.select(col("user_id")).distinct().count()
    val b1 = minTs + (maxTs - minTs) / 3
    val b2 = minTs + 2 * ((maxTs - minTs) / 3)
    val stage = graft.Fs.scratchDir("timers")
    def dump(df: DataFrame, sub: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$stage/$sub")
    dump(ev.where(col("ts") < b1), "b1")
    dump(ev.where(col("ts") >= b1 && col("ts") < b2), "b2")
    dump(ev.where(col("ts") >= b2), "b3")
    // far-future sentinel: advances the watermark past every pending
    // timer so each user's final open session closes
    dump(parent.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(
        -1L, maxTs + 30L * 24 * 3600 * 1000000000L, -1L, "__wm", 0.0,
        null)), EventsStream.eventsSchema), "b4")
    StreamDrain.promote(stage, "b1", "b2", "b3", "b4")
    val src = spark.readStream.schema(EventsStream.eventsSchema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "batch*.parquet")
      .parquet(stage)
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      .withWatermark("event_time", "1 hour")
      // NO pre-operator filter on the sentinel: a `where(user_id =!= -1)`
      // here gets PUSHED DOWN through the watermark node into the
      // parquet stream scan, so the sentinel row never reaches the
      // watermark — it never advances, and every open session's timer
      // waits forever (observed: final flush missing for exactly the
      // users whose last event was inside the closing watermark gap).
      // The sentinel key is ignored INSIDE the processor instead.
      .select(col("user_id"), col("ts")).as[(Long, Long)]
    val out = src.groupByKey(_._1)
      .transformWithState(new SessionCloser, TimeMode.EventTime(),
        OutputMode.Append(),
        org.apache.spark.sql.Encoders.product[ClosedSession])
    val sink =
      try StreamDrain.toMemory(out.toDF().writeStream.outputMode("append"))
      finally graft.Fs.rmTree(new java.io.File(stage))
    // witness: every user must have a TIMER-closed session — the
    // distinct-user count alone would also pass when a user's timer
    // never fired but a handler-closed mid-stream session emitted them.
    // (Mid-stream sessions may legitimately close by timer too, when a
    // real inter-session hole exceeds the batch watermark lag, so the
    // assertion is >=1 per user, not ==1.)
    val w = sink.agg(
      countDistinct(when(col("byTimer"), col("user_id")))
        .as("users_timer_closed"),
      countDistinct(col("user_id")).as("users_any")).head()
    require(w.getLong(0) == nUsers && w.getLong(1) == nUsers,
      s"q187: timer-closed sessions cover ${w.getLong(0)} of $nUsers " +
        s"users (any-close covers ${w.getLong(1)}) — every user's " +
        "final session must close by TIMER")
    sink.where(col("user_id") >= 0) // defensive; sentinels never emit
      .groupBy(col("user_id"))
      .agg(sum(col("n")).as("n_events"),
        count(lit(1)).as("n_sessions"))
      .orderBy(col("user_id"))
  }
}

/** One closed session: the user, how many events it held, and WHO
  * closed it — the handler (next event observed a > gap hole) or the
  * event-time timer (watermark passed the expiry with nothing
  * arriving). The tag exists for the gate witness: `distinct users`
  * alone cannot distinguish "every user's final session closed by
  * timer" from "the user appeared via a handler-closed mid-stream
  * session while their timer never fired". */
case class ClosedSession(user_id: Long, n: Long, byTimer: Boolean)

/** Open-session state: last event ts (ns) and events so far. */
case class OpenSession(lastTsNs: Long, n: Long)

/** The timer-driven sessionizer (see [[SessionTimers]] for the
  * determinism contract). Handler closes mid-stream sessions when the
  * next event observes a > gap hole; the event-time timer closes the
  * session nothing follows. */
class SessionCloser extends org.apache.spark.sql.streaming
    .StatefulProcessor[Long, (Long, Long), ClosedSession] {

  @transient private var st: ValueState[OpenSession] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[OpenSession]("open",
      org.apache.spark.sql.Encoders.product[OpenSession], TTLConfig.NONE)

  override def handleInputRows(key: Long,
      rows: Iterator[(Long, Long)],
      timerValues: TimerValues): Iterator[ClosedSession] = {
    // negative keys are watermark sentinels (see SessionTimers): they
    // advance event time but hold no state and emit nothing
    if (key < 0) return Iterator.empty
    val ts = rows.map(_._2).toArray
    java.util.Arrays.sort(ts)
    val closed = scala.collection.mutable.ArrayBuffer.empty[ClosedSession]
    var (last, n) =
      if (st.exists()) { val o = st.get(); (o.lastTsNs, o.n) }
      else (Long.MinValue, 0L)
    ts.foreach { t =>
      if (n > 0 && t - last > SessionTimers.gapNs) {
        closed += ClosedSession(key, n, byTimer = false)
        n = 0
      }
      n += 1
      last = t
    }
    st.update(OpenSession(last, n))
    // one live timer per key: re-arm at the new session frontier
    getHandle.listTimers().foreach(e =>
      getHandle.deleteTimer(e.asInstanceOf[Long]))
    getHandle.registerTimer(last / 1000000L + SessionTimers.gapMs)
    closed.iterator
  }

  override def handleExpiredTimer(key: Long, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[ClosedSession] = {
    if (st.exists()) {
      val o = st.get()
      // guard against a STALE expiry racing the handler inside one
      // micro-batch: emit only when the watermark really passed this
      // session's close (lastTs + gap). A session re-opened by this
      // batch's events fails the guard (its events are ahead of the
      // watermark by construction) and keeps the timer the handler
      // just re-armed.
      if (o.lastTsNs / 1000000L + SessionTimers.gapMs
          <= timerValues.getCurrentWatermarkInMs) {
        st.clear()
        Iterator.single(ClosedSession(key, o.n, byTimer = true))
      } else Iterator.empty
    } else Iterator.empty
  }
}
