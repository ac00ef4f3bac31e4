package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.functions.Functional
import graft.operators.{Dedup, Denoise, Multimodal}
import graft.streaming.{EventsStream, StreamDrain}

/** Streaming gates: each builds a bounded stream, drains it and returns
  * the drained rows (windows, dedup, stream joins, state, sinks and
  * recovery, and the streaming forms of the dedup and media gates).
  */
object StreamingGates extends GateFamily("streaming") {

  import MediaGates.{AudSeed, H, ImgSeed, NFrames, NSamp, VidSeed, W,
    dhashCtes, encFrame, multiChunkBlob}

  lazy val gates: Seq[Gate] = Seq(
    Gate("q80_stream_window", q80StreamWindow, Some(q80Sql),
      eager = Some("drains a bounded stream")),
    Gate("q81_stream_dedup", q81StreamDedup, Some(q81Sql),
      eager = Some("drains a bounded stream")),
    Gate("q82_stream_join", q82StreamJoin, Some(q82Sql),
      eager = Some("drains a bounded stream")),
    Gate("q100_stream_dedup_ttl", q100StreamDedupTtl, Some(q81Sql),
      eager = Some("drains a bounded stream")),
    Gate("q105_stream_stream_join", q105StreamStreamJoin, Some(q105Sql),
      eager = Some("drains a bounded stream")),
    Gate("q110_stream_outer_join", q110StreamOuterJoin, Some(q110Sql),
      eager = Some("stages a sentinel batch, drains a bounded stream")),
    Gate("q125_stream_sessions", q125StreamSessions,
      Some(RelationalGates.q118Sql), eager = Some("drains a bounded stream")),
    Gate("q131_stream_recovery", q131StreamRecovery, Some(q131Sql),
      eager = Some("two stream runs over one checkpoint, staged files")),
    // q145 intentionally shares q131's oracle: same per-type aggregate
    // contract, different sink mechanism under test
    Gate("q145_foreach_batch", q145ForeachBatch, Some(q131Sql),
      eager = Some("foreachBatch stream runs over staged files")),
    // q155 intentionally shares q131's oracle: same drained-aggregate
    // contract, different mechanism under test (rate-limited backfill)
    Gate("q155_backfill", q155BackfillAvailableNow, Some(q131Sql),
      eager = Some("rate-limited stream run over staged files")),
    Gate("q168_transform_state", EventsStream.transformWithStateAgg,
      Some(q168Sql), eager = Some("drains a bounded stream")),
    Gate("q174_stream_semi_join", q174StreamSemiJoin, Some(q174Sql),
      eager = Some("drains a bounded stream")),
    Gate("q177_late_data", EventsStream.lateDataDrop, Some(q177Sql),
      eager = Some("stages three batches, drains a bounded stream")),
    Gate("q182_stream_update", q182StreamUpdateMode, Some(q182Sql),
      eager = Some("update-mode stream run over staged files")),
    Gate("q187_session_timers", q187SessionTimers, Some(q187Sql),
      eager = Some("stages input batches, drains a bounded stream")),
    Gate("q200_stream_part_sink", q200StreamPartitionedSink, Some(q200Sql),
      eager = Some("drains a bounded stream into a partitioned sink")),
    Gate("q214_stream_full_outer", q214StreamFullOuter, Some(q214Sql),
      eager = Some("stages a sentinel batch, drains a bounded stream")),
    Gate("q221_stream_static_outer", q221StreamStaticOuter, Some(q221Sql),
      eager = Some("drains a bounded stream")),
    Gate("q238_available_now", q238AvailableNow, Some(q238Sql),
      eager = Some("stages input files, drains a bounded stream")),
    Gate("q241_state_reader", q241StateReader, Some(q241Sql),
      eager = Some("drains a bounded stream, reads its state store")),
    Gate("q261_stream_mlm", q261StreamMlm, Some(q261Sql),
      eager = Some("drains a bounded stream")),
    Gate("q291_stream_neardup", q291StreamNeardup,
      eager = Some("writes a staged store, drains a bounded stream")),
    Gate("q295_stream_image_neardup", q295StreamImageNeardup, Some(q295Sql),
      eager = Some("writes a staged store, drains a bounded stream")),
    Gate("q300_stream_audio_neardup", q300StreamAudioNeardup, Some(q300Sql),
      eager = Some("writes a staged store, drains a bounded stream")),
    Gate("q301_stream_video_neardup", q301StreamVideoNeardup, Some(q301Sql),
      eager = Some("writes a staged store, drains a bounded stream")),
    Gate("q305_stream_video_framerun", q305StreamVideoFramerun, Some(q305Sql),
      eager = Some("writes a staged store, drains a bounded stream"))
  )

  // ---- structured streaming -------------------------------------------

  /** Streaming hourly window agg; oracle = the equivalent batch SQL. */
  def q80StreamWindow(s: SparkSession, dir: String): DataFrame =
    EventsStream.hourlyWindow(s, dir)

  val q80Sql: String =
    """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS bucket_ts,
      |event_type, COUNT(*) AS n,
      |CAST(SUM(CAST(value AS DECIMAL(25,4))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY bucket_ts, event_type""".stripMargin

  // ---- streaming dedup (stateful dropDuplicates under readStream) -----

  /** Distinct (user, event_type) pairs computed by a real streaming
    * query with dropDuplicates state; oracle = batch SELECT DISTINCT. */
  def q81StreamDedup(s: SparkSession, dir: String): DataFrame =
    EventsStream.streamDedup(s, dir)

  val q81Sql: String =
    """SELECT DISTINCT user_id, event_type FROM events
      |ORDER BY user_id, event_type""".stripMargin

  /** TTL-bounded streaming dedup (dropDuplicatesWithinWatermark) —
    * bounded state under an unbounded stream; same distinct result as
    * q81 within the watermark, so the same batch oracle applies. */
  def q100StreamDedupTtl(s: SparkSession, dir: String): DataFrame =
    EventsStream.streamDedupTtl(s, dir)

  /** Stream-static join: events enriched with a broadcast customer
    * dimension under readStream; oracle = the batch join. */
  def q82StreamJoin(s: SparkSession, dir: String): DataFrame =
    EventsStream.streamStaticJoin(s, dir)

  val q82Sql: String =
    """SELECT c_mktsegment, COUNT(*) AS n,
      |CAST(SUM(CAST(value AS DECIMAL(25,4))) AS DOUBLE) AS sum_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ---- stream-stream interval join --------------------------------------

  /** Stream-stream interval join at the gate
    * (EventsStream.streamStreamJoin): clicks × same-user purchases
    * within the following hour, both sides real watermarked streams;
    * oracle = the batch inequality join in µs. */
  def q105StreamStreamJoin(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventsStream.streamStreamJoin(s, dir)

  val q105Sql: String =
    """SELECT c.event_id AS c_id, p.event_id AS p_id
      |FROM events c JOIN events p
      |  ON p.user_id = c.user_id
      | AND epoch_us(p.ts) >= epoch_us(c.ts)
      | AND epoch_us(p.ts) <= epoch_us(c.ts) + 3600000000
      |WHERE c.event_type = 'click' AND p.event_type = 'purchase'
      |ORDER BY c_id, p_id""".stripMargin

  // ---- stream-stream LEFT OUTER interval join --------------------------

  /** The outer variant of q105: clicks with no purchase in the hour
    * emit a NULL p_id — the append-mode semantics where unmatched rows
    * only surface on watermark-driven state eviction (see
    * EventsStream.streamStreamOuterJoin for the sentinel that forces
    * the final flush in a bounded run). Fully oracled: DuckDB batch
    * LEFT JOIN over the same µs arithmetic. */
  def q110StreamOuterJoin(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventsStream.streamStreamOuterJoin(s, dir)

  val q110Sql: String =
    """WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
      |p AS (SELECT * FROM events WHERE event_type = 'purchase')
      |SELECT c.event_id AS c_id, p.event_id AS p_id
      |FROM c LEFT JOIN p
      |  ON p.user_id = c.user_id
      | AND epoch_us(p.ts) >= epoch_us(c.ts)
      | AND epoch_us(p.ts) <= epoch_us(c.ts) + 3600000000
      |ORDER BY c_id, p_id""".stripMargin

  // ---- streaming session windows -----------------------------------------

  /** Per-user session windows computed by a real STREAMING query with
    * watermarked state (EventsStream.sessionWindows) — the stateful
    * complement of q118's batch form, sharing its oracle: the
    * single-file micro-batch must produce exactly the batch result,
    * proving the streaming state merge implements the same session
    * semantics (merge at <= gap distance, end = last + gap). */
  def q125StreamSessions(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventsStream.sessionWindows(s, dir)

  // ---- q131: streaming checkpoint recovery (exactly-once) ---------------

  /** The fault-tolerance contract every production stream relies on:
    * a file-source → parquet-file-sink stream is stopped mid-corpus
    * and RESTARTED from its checkpoint, and the sink must hold each
    * input row exactly once — no loss (offsets committed before
    * output would drop rows), no duplication (output committed before
    * offsets would replay). The staged corpus is split into two file
    * batches; run 1 sees only the first, then a second query with the
    * SAME checkpoint + sink processes the remainder. In-gate: run 1
    * must emit a strict subset (else "recovery" proved nothing), the
    * recovered total must equal the batch count, and event_ids must be
    * distinct. The oracled VALUES are the per-type aggregate over the
    * sink — identical to batch SQL over the original table iff
    * exactly-once held. The file sink's _spark_metadata commit log is
    * what makes the sink read transactional (orphan files from a torn
    * run are invisible); state here is the source's processed-file log,
    * so the same recovery works for any deterministic transform. */
  def q131StreamRecovery(parent: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val spark = StreamDrain.session(parent, emptyBatches = true)
    val base = Fs.scratchDir("recovery")
    val (stage, srcDir, sink, chk) =
      (s"$base/stage", s"$base/src", s"$base/sink", s"$base/chk")
    val ev = Tables(parent, dir, "events")
    val expected = ev.count()
    ev.repartition(4).write.parquet(stage)
    val parts = new java.io.File(stage).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    require(parts.length >= 2, s"q131: need >=2 staged files")
    new java.io.File(srcDir).mkdirs()
    def arrive(fs: Seq[java.io.File]): Unit = fs.foreach { f =>
      java.nio.file.Files.copy(f.toPath,
        java.nio.file.Path.of(srcDir, f.getName))
    }
    def runToCompletion(): Unit = {
      val q = spark.readStream
        .schema(graft.streaming.EventsStream.eventsSchema).parquet(srcDir)
        .select($"event_id", $"event_type", $"value")
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    arrive(parts.take(parts.length / 2))
    runToCompletion()
    val afterRun1 = spark.read.parquet(sink).count()
    arrive(parts.drop(parts.length / 2))
    runToCompletion()
    val out = spark.read.parquet(sink)
    val totalRows = out.count()
    val distinctIds = out.select($"event_id").distinct().count()
    val res = out.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
      .orderBy($"event_type").collect().toSeq
    Fs.rmTree(new java.io.File(base))
    require(afterRun1 > 0 && afterRun1 < expected,
      s"q131: run 1 emitted $afterRun1 of $expected rows — the restart " +
        "had nothing to recover")
    require(totalRows == expected,
      s"q131: exactly-once violated — sink has $totalRows rows, " +
        s"batch has $expected")
    require(distinctIds == expected,
      s"q131: duplicate event_ids in sink ($distinctIds distinct of " +
        s"$totalRows)")
    parent.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(res).asJava),
      StructType(Seq(StructField("event_type", StringType),
        StructField("n", LongType),
        StructField("sum_value", DoubleType))))
  }

  val q131Sql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(25,4))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---- q145: foreachBatch idempotent custom sink -----------------------

  /** The exactly-once recipe for sinks WITHOUT a commit log (q131's
    * file sink has one; a JDBC table, a KV store, or a plain directory
    * does not): `foreachBatch` hands the micro-batch AND its batchId
    * to user code, and idempotence comes from keying the write on the
    * batchId — here one overwritten directory per batch, so a replayed
    * batch rewrites its own output instead of duplicating it. Same
    * stop/restart protocol as q131: run 1 sees half the staged corpus,
    * a second query on the SAME checkpoint processes the remainder
    * (batchIds continue across the restart), and the batch-partitioned
    * sink must hold each row exactly once. */
  def q145ForeachBatch(parent: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val spark = StreamDrain.session(parent, emptyBatches = true)
    val base = Fs.scratchDir("fb")
    val (stage, srcDir, sink, chk) =
      (s"$base/stage", s"$base/src", s"$base/sink", s"$base/chk")
    val ev = Tables(parent, dir, "events")
    val expected = ev.count()
    ev.repartition(4).write.parquet(stage)
    val parts = new java.io.File(stage).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    require(parts.length >= 2, "q145: need >=2 staged files")
    new java.io.File(srcDir).mkdirs()
    def arrive(fs: Seq[java.io.File]): Unit = fs.foreach { f =>
      java.nio.file.Files.copy(f.toPath,
        java.nio.file.Path.of(srcDir, f.getName))
    }
    def runToCompletion(): Unit = {
      val q = spark.readStream
        .schema(graft.streaming.EventsStream.eventsSchema).parquet(srcDir)
        .select($"event_id", $"event_type", $"value")
        .writeStream
        .foreachBatch { (df: DataFrame, batchId: Long) =>
          df.write.mode("overwrite").parquet(s"$sink/batch=$batchId")
          ()
        }
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    arrive(parts.take(parts.length / 2))
    runToCompletion()
    val afterRun1 = spark.read.parquet(sink).count()
    arrive(parts.drop(parts.length / 2))
    runToCompletion()
    val out = spark.read.parquet(sink)
    val totalRows = out.count()
    val distinctIds = out.select($"event_id").distinct().count()
    val nBatches = out.select($"batch").distinct().count()
    val res = out.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
      .orderBy($"event_type").collect().toSeq
    Fs.rmTree(new java.io.File(base))
    require(afterRun1 > 0 && afterRun1 < expected,
      s"q145: run 1 emitted $afterRun1 of $expected — nothing to " +
        "recover")
    require(nBatches >= 2,
      s"q145: expected batches from both runs, got $nBatches")
    require(totalRows == expected && distinctIds == expected,
      s"q145: exactly-once violated — $totalRows rows / $distinctIds " +
        s"distinct ids vs $expected")
    parent.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(res).asJava),
      StructType(Seq(StructField("event_type", StringType),
        StructField("n", LongType),
        StructField("sum_value", DoubleType))))
  }

  // ---- q155: rate-limited AvailableNow backfill -------------------------

  /** Bounded-batch streaming backfill: a multi-file corpus processed by
    * ONE `Trigger.AvailableNow` run under `maxFilesPerTrigger` — the
    * production pattern for draining a large directory without melting
    * the cluster (each micro-batch is a bounded unit of work with its
    * own commit, so a mid-backfill failure resumes from the file log,
    * and downstream state/watermarks advance incrementally). q131
    * proves the stop/restart story; THIS gate proves the rate limit:
    * the run must split into ≥3 micro-batches (asserted from query
    * progress), and the drained sink must equal the batch aggregate
    * (the shared q131 oracle). */
  def q155BackfillAvailableNow(parent: SparkSession, dir: String)
      : DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val spark = StreamDrain.session(parent, emptyBatches = true)
    val base = Fs.scratchDir("backfill")
    val (srcDir, sink, chk) = (s"$base/src", s"$base/sink", s"$base/chk")
    val ev = Tables(parent, dir, "events")
    val expected = ev.count()
    ev.repartition(8).write.parquet(srcDir)
    val q = spark.readStream
      .schema(graft.streaming.EventsStream.eventsSchema)
      .option("maxFilesPerTrigger", 2)
      .parquet(srcDir)
      .select($"event_id", $"event_type", $"value")
      .writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", chk)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val nBatches = q.recentProgress.count(_.numInputRows > 0)
    val out = spark.read.parquet(sink)
    val totalRows = out.count()
    val res = out.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
      .orderBy($"event_type").collect().toSeq
    Fs.rmTree(new java.io.File(base))
    require(nBatches >= 3,
      s"q155: rate limit ignored — backfill ran in $nBatches batches")
    require(totalRows == expected,
      s"q155: drained $totalRows rows, batch has $expected")
    parent.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(res).asJava),
      StructType(Seq(StructField("event_type", StringType),
        StructField("n", LongType),
        StructField("sum_value", DoubleType))))
  }

  // ---- q168: transformWithState running aggregate ------------------------

  /** See [[graft.streaming.EventsStream.transformWithStateAgg]] — the
    * arbitrary-state v2 streaming operator (typed ValueState slots on
    * RocksDB). The oracle replays the same per-user aggregate + bucket
    * rollup in batch SQL. */
  val q168Sql: String =
    """WITH per_user AS (
      |  SELECT user_id, count(*) AS n,
      |    sum(CAST("value" AS DECIMAL(25,4))) AS s
      |  FROM events WHERE "value" IS NOT NULL GROUP BY 1)
      |SELECT user_id % 10 AS bucket, count(*) AS n_users,
      |  CAST(sum(n) AS BIGINT) AS n_events,
      |  CAST(sum(s) AS DOUBLE) AS sum_value
      |FROM per_user GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q174: stream-stream left-semi join --------------------------------

  /** Stream-stream LEFT SEMI interval join — "clicks that converted
    * within the hour", emitting each qualifying click ONCE however
    * many purchases matched (the dedup the inner join q105 can't give
    * without a second distinct pass). Both sides are unbounded
    * streams: watermarks + the time-range condition bound the join
    * state exactly as in q105/q110; semi rows emit as soon as the
    * first match arrives. Oracle = batch EXISTS. */
  def q174StreamSemiJoin(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventsStream.streamSemiJoin(s, dir)

  val q174Sql: String =
    """SELECT c.event_id AS c_id
      |FROM events c WHERE c.event_type = 'click' AND EXISTS (
      |  SELECT 1 FROM events p
      |  WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
      |    AND epoch_us(p.ts) >= epoch_us(c.ts)
      |    AND epoch_us(p.ts) <= epoch_us(c.ts) + 3600000000)
      |ORDER BY c_id""".stripMargin

  // ---- q177: streaming late-data drop witness ----------------------------

  /** See [[graft.streaming.EventsStream.lateDataDrop]]: a replayed
    * late batch must be DROPPED by the watermarked aggregation (the
    * state-bounding contract), witnessed end-to-end with an observe
    * counter proving arrival. Oracle = batch aggregate over non-late
    * rows restricted to watermark-closed windows. */
  val q177Sql: String =
    """WITH m AS (SELECT max(epoch_us(ts)) AS mx FROM events),
      |ok AS (
      |  SELECT epoch_us(ts) AS tsu, event_type FROM events, m
      |  WHERE NOT (event_id % 97 = 0
      |             AND epoch_us(ts) < mx - 10800000000)),
      |w AS (
      |  SELECT (tsu // 3600000000) * 3600000000 AS win_us, event_type
      |  FROM ok, m
      |  WHERE (tsu // 3600000000 + 1) * 3600000000 <= mx - 3600000000)
      |SELECT win_us, event_type, count(*) AS n
      |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- q182: update-mode streaming aggregation ---------------------------

  /** UPDATE output mode — the third streaming output contract beside
    * complete (q80) and append (q177): each micro-batch emits ONLY the
    * groups it changed, re-stating their new totals (the
    * low-latency dashboard feed; complete mode re-emits the world,
    * append waits for watermark finality). Two pinned micro-batches
    * (events split by event_id parity, file order forced via mtimes)
    * must produce exactly |types(b1)| + |types(b2)| sink rows — the
    * changed-groups-only contract, asserted in-gate. Counts are
    * monotonic per key, so the final state is each type's max-n row;
    * it must equal the batch aggregate (the oracle). Sums are
    * DECIMAL-mediated in state, so re-emission is exact. */
  def q182StreamUpdateMode(parent: SparkSession, dir: String): DataFrame = {
    val spark = StreamDrain.session(parent, emptyBatches = false)
    val ev = Tables(parent, dir, "events")
    val stage = Fs.scratchDir("upd")
    ev.where($"event_id" % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$stage/b1")
    ev.where($"event_id" % 2 === 1).coalesce(1)
      .write.mode("overwrite").parquet(s"$stage/b2")
    StreamDrain.promote(stage, "b1", "b2")
    val typesB1 = ev.where($"event_id" % 2 === 0)
      .select($"event_type").distinct().count()
    val typesB2 = ev.where($"event_id" % 2 === 1)
      .select($"event_type").distinct().count()
    val stream = spark.readStream
      .schema(graft.streaming.EventsStream.eventsSchema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "batch*.parquet")
      .parquet(stage)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        dsum($"value").as("sum_value"))
    val sink =
      try StreamDrain.toMemory(stream.writeStream.outputMode("update"))
      finally Fs.rmTree(new java.io.File(stage))
    val emitted = sink.count()
    require(emitted == typesB1 + typesB2,
      s"q182: update mode emitted $emitted rows, expected changed " +
        s"groups only = $typesB1 + $typesB2")
    // counts are monotonic per key: the max-n row IS the final state
    sink.groupBy($"event_type")
      .agg(max($"n").as("n"), max_by($"sum_value", $"n").as("sum_value"))
      .orderBy($"event_type")
  }

  val q182Sql: String =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST("value" AS DECIMAL(25,4))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q187: event-time timers (transformWithState) ----------------------

  /** See [[graft.streaming.SessionTimers]]: sessions closed by the
    * WATERMARK through registered event-time timers, not by a next
    * event — the state-reaches-zero contract for unbounded keyed
    * streams. Shares q23's lag-window oracle: the timer formulation
    * must reproduce the batch sessionization value-for-value. */
  def q187SessionTimers(s: SparkSession, dir: String): DataFrame =
    graft.streaming.SessionTimers.sessionsViaTimers(s, dir)

  val q187Sql: String = RelationalGates.q15Sql

  // ---- q200: partitioned streaming parquet sink --------------------------

  /** Streaming into a PARTITIONED at-rest layout: `writeStream
    * .partitionBy(event_type)` on the parquet file sink — the
    * streaming producer of the q119 directory-pruned table (each
    * micro-batch appends into the right `event_type=…` directories;
    * the sink's _spark_metadata commit log keeps exactly-once across
    * restarts, q131's contract). In-gate: every event_type must have
    * its own partition directory, and a type-filtered re-read must
    * scan ONLY that partition's files (numFiles strict subset —
    * directory pruning works on a stream-written table). Oracle:
    * batch aggregate per type. */
  def q200StreamPartitionedSink(parent: SparkSession, dir: String)
      : DataFrame = {
    val spark = StreamDrain.session(parent, emptyBatches = false)
    val base = Fs.scratchDir("psink")
    val sinkDir = s"$base/out"
    val ckpt = s"$base/ckpt"
    val src = graft.streaming.EventsStream.eventsStream(spark, dir)
    val q = src
      .select($"event_id", $"event_type", $"value")
      .writeStream
      .option("checkpointLocation", ckpt)
      .partitionBy("event_type")
      .format("parquet")
      .start(sinkDir)
    try q.processAllAvailable() finally q.stop()
    try {
      val typeDirs = Option(new java.io.File(sinkDir).listFiles()).toSeq
        .flatten.filter(_.getName.startsWith("event_type=")).map(_.getName)
      val nTypes = Tables(parent, dir, "events")
        .select($"event_type").distinct().count()
      require(typeDirs.size == nTypes,
        s"q200: sink has ${typeDirs.size} partition dirs, expected " +
          s"$nTypes (one per event_type)")
      val table = spark.read.parquet(sinkDir)
      val allFiles = table.inputFiles.length
      val filtered = table.where($"event_type" === "click")
      // execute THIS plan instance and read the scan's numFiles
      // metric: Dataset.inputFiles is PRE-pruning (whole relation)
      val qe = filtered.queryExecution
      qe.toRdd.count()
      val scan = planNodes(qe.executedPlan).collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.getOrElse(sys.error(s"q200: no file scan in:\n${qe.executedPlan}"))
      require(scan.toString().contains("PartitionFilters"),
        "q200: type filter did not become a partition filter on the " +
          "stream-written table")
      val scanned = scan.metrics("numFiles").value
      require(scanned > 0 && scanned < allFiles,
        s"q200: partition pruning read $scanned of $allFiles files — " +
          "no subset pruning on the stream-written layout")
      val agg = table.groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          dsum($"value").as("sum_value"))
        .withColumn("pruned_ok", lit(true))
        .orderBy($"event_type")
      import scala.jdk.CollectionConverters._
      parent.createDataFrame(agg.collect().toSeq.asJava, agg.schema)
        .orderBy($"event_type")
    } finally {
      Fs.rmTree(new java.io.File(base))
    }
  }

  val q200Sql: String =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST("value" AS DECIMAL(25,4))) AS DOUBLE) AS sum_value,
      |  true AS pruned_ok
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q214: stream-stream FULL OUTER interval join ----------------------

  /** The last stream-stream join shape (inner q105, left outer q110,
    * left semi q174): FULL OUTER — unmatched rows from BOTH sides
    * materialize on watermark eviction, so the result also carries
    * purchases no click preceded (the orphan-conversion rows an
    * attribution audit needs). Null-safe sentinel filtering is the
    * subtle part — see
    * [[graft.streaming.EventsStream.streamStreamFullOuterJoin]].
    * Oracle: batch FULL JOIN on the same µs arithmetic. */
  def q214StreamFullOuter(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventsStream.streamStreamFullOuterJoin(s, dir)

  val q214Sql: String =
    """SELECT c.event_id AS c_id, p.event_id AS p_id
      |FROM (SELECT event_id, user_id, epoch_us(ts) AS us
      |      FROM events WHERE event_type = 'click') c
      |FULL JOIN (SELECT event_id, user_id, epoch_us(ts) AS us
      |           FROM events WHERE event_type = 'purchase') p
      |  ON c.user_id = p.user_id AND p.us >= c.us
      |     AND p.us <= c.us + 3600000000
      |ORDER BY c_id, p_id""".stripMargin

  // ---- q221: stream-static LEFT OUTER join -------------------------------

  /** Stream-static join, OUTER form (q82 covered inner): every stream
    * event survives, dimension misses surface as NULLs to count —
    * the unreferenced-entity accounting a pipeline needs when the
    * dimension is incomplete (here: only customers with c_custkey
    * divisible by 3, so ~2/3 of events miss). The static side is
    * broadcast per micro-batch; the stream never shuffles for the
    * join. Oracle: batch LEFT JOIN per segment with the miss bucket
    * as its own row. */
  def q221StreamStaticOuter(parent: SparkSession, dir: String)
      : DataFrame = {
    val spark = StreamDrain.session(parent, emptyBatches = false)
    val dim = broadcast(
      Tables(spark, dir, "customer")
        .where(col("c_custkey") % 3 === 0)
        .select(col("c_custkey"), col("c_mktsegment")))
    val stream = graft.streaming.EventsStream.eventsStream(spark, dir)
      .join(dim, col("user_id") === col("c_custkey"), "left_outer")
      .groupBy(coalesce(col("c_mktsegment"), lit("__miss"))
        .as("segment"))
      .agg(count(lit(1)).as("n"),
        dsum(col("value")).as("sum_value"))
    StreamDrain.toMemory(stream.writeStream.outputMode("complete"))
      .orderBy("segment")
  }

  val q221Sql: String =
    """SELECT coalesce(c_mktsegment, '__miss') AS segment,
      |  count(*) AS n,
      |  CAST(sum(CAST("value" AS DECIMAL(25,4))) AS DOUBLE)
      |    AS sum_value
      |FROM events LEFT JOIN (
      |  SELECT c_custkey, c_mktsegment FROM customer
      |  WHERE c_custkey % 3 = 0) c
      |ON user_id = c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q238: Trigger.AvailableNow batch-drain -----------------------------

  /** The incremental-batch trigger: AvailableNow processes everything
    * present at start — honoring source rate limits
    * (maxFilesPerTrigger=1 → one micro-batch per staged file) — then
    * STOPS ON ITS OWN (awaitTermination returns, no processAllAvailable
    * babysitting). This is how a 100 TB ingest runs streaming code on
    * a batch schedule: same query, same exactly-once sink, finite run.
    * The multi-batch witness (≥4 progress entries for 4 staged files)
    * is REQUIRED in-gate; the aggregate must equal the batch oracle
    * over the same rows. */
  def q238AvailableNow(parent: SparkSession, dir: String): DataFrame = {
    val spark = StreamDrain.session(parent, emptyBatches = true)
    val stage = Fs.scratchDir("avnow")
    try {
      Tables(spark, dir, "events")
        .select($"event_type", $"value")
        .repartition(4)
        .write.mode("overwrite").parquet(stage)
      val schema = StructType(Seq(
        StructField("event_type", StringType),
        StructField("value", DoubleType)))
      val agg = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(stage)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          dsum($"value").as("sum_value"))
      // AvailableNow terminates by itself once the staged files are read
      val (drained, progress) = StreamDrain.toMemoryWithProgress(
        agg.writeStream
          .outputMode("complete")
          .trigger(Trigger.AvailableNow()))
      val batches = progress.count(_.numInputRows > 0)
      require(batches >= 4,
        s"q238: expected >=4 rate-limited micro-batches, saw $batches")
      drained.orderBy($"event_type") // memory-sink-backed
    } finally {
      Fs.rmTree(new java.io.File(stage))
    }
  }

  val q238Sql: String =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST("value" AS DECIMAL(25,4))) AS DOUBLE)
      |    AS sum_value
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q241: state-store reader -------------------------------------------

  /** Streaming-state observability (Spark 4 State Data Source): run a
    * checkpointed streaming aggregate, STOP it, then read the RocksDB/
    * HDFS state store back as a DataFrame — the gate reconstructs the
    * per-key aggregate FROM THE CHECKPOINTED BUFFERS (key.event_type,
    * value.count, value.sum) and the batch oracle must match it
    * value-for-value. This is how a 100 TB pipeline debugs a stateful
    * job without replaying it: state is data, queryable offline. The
    * drain reuses q238's AvailableNow shape; the state-metadata
    * source first certifies WHICH stores the checkpoint holds. */
  def q241StateReader(parent: SparkSession, dir: String): DataFrame = {
    val spark = StreamDrain.session(parent, emptyBatches = true)
    val stage = Fs.scratchDir("stsrc")
    val ckpt = Fs.scratchDir("stckpt")
    try {
      Tables(spark, dir, "events")
        .select($"event_type", $"value")
        .repartition(2)
        .write.mode("overwrite").parquet(stage)
      val schema = StructType(Seq(
        StructField("event_type", StringType),
        StructField("value", DoubleType)))
      val agg = spark.readStream.schema(schema).parquet(stage)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          sum($"value".cast(DecimalType(25, 4))).as("sv"))
      StreamDrain.toMemoryWithProgress(agg.writeStream
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()))
      // catalog witness: the checkpoint self-describes its operators
      // (state-metadata source) — REQUIRE the expected aggregation
      // store before reading its contents
      val meta = spark.read.format("state-metadata").load(ckpt)
        .select($"operatorName", $"stateStoreName").collect()
      require(meta.exists(r => r.getString(0) == "stateStoreSave" &&
        r.getString(1) == "default"),
        s"q241: state-metadata missing the aggregation store: " +
          meta.mkString(","))
      // the sink result is NOT used: the claim is about the state files
      val out = spark.read.format("statestore").load(ckpt)
        .select($"key.event_type".as("event_type"),
          $"value.count".as("n"),
          $"value.sum".cast(DoubleType).as("sum_value"))
      // materialize before the finally deletes the checkpoint; the
      // post-collect orderBy is the load-bearing output sort
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(out.collect().toSeq.asJava, out.schema)
        .orderBy($"event_type")
    } finally {
      Fs.rmTree(new java.io.File(stage)); Fs.rmTree(new java.io.File(ckpt))
    }
  }

  val q241Sql: String =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST("value" AS DECIMAL(25,4))) AS DOUBLE)
      |    AS sum_value
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q261: MLM prep as a STREAMING query, hashed ---------------------------

  /** The objective-prep ops are stateless row-local transforms, so
    * the SAME operator runs incrementally under Structured Streaming
    * with no code change and no state store: this gate streams the
    * documents table ([[graft.streaming.EventsStream]]'s
    * single-file-vs-directory reader pattern), applies
    * [[graft.operators.Denoise.mlmMask]] (density 0.2, seed 47, first
    * 12 tokens) in APPEND mode — stateless, so the watermark-free
    * append plan is legal — and drains to a memory sink. The DuckDB
    * oracle is the SAME parameterized replay as batch q253
    * ([[LmPrepGates.mlmSql]]), so a green hash proves stream == batch
    * == cross-engine for the full 80/10/10 pipeline. At scale this is
    * the incremental-corpus path: new shards land, prep runs on
    * exactly the new rows, checkpointed offsets resume.
    *
    * The memory sink is gate-harness-only; see
    * [[graft.streaming.StreamDrain.toMemory]]. */
  def q261StreamMlm(s: SparkSession, dir: String): DataFrame = {
    val spark = StreamDrain.session(s, emptyBatches = false)
    val docs = Tables.stream(spark, dir, "documents").select($"doc_id",
      slice(split(trim($"text"), "\\s+"), 1, 12).as("toks"))
    val out = graft.operators.Denoise.mlmMask(docs, "doc_id", "toks",
      density = 0.2, seed = 47L)
    StreamDrain.toMemory(out.writeStream.outputMode("append"))
  }

  // thresholds: sel floor(0.2*8192)=1638; 80/10/10 constants shared
  // with q253 via the parameterized replay
  val q261Sql: String =
    LmPrepGates.mlmSql(sliceLen = 12, thrSel = 1638, seed = 47L)

  // ---- q291: streaming near-dup ingestion (MinHash store join) --------------

  /** The near-dup complement of q135's incremental exact dedup, run as
    * a STREAMING query: new document shards arrive through readStream,
    * their minhash band signatures probe the static signature store of
    * everything already ingested ([[Dedup.minHashStoreCandidates]] —
    * stateless fresh side, so the watermark-free append plan is
    * legal), and candidates drain to the sink where pair-dedup (the
    * groupBy max) lives, exactly where a production ingest would merge
    * into the store. Self-certifying (the LSH family is hash-defined,
    * q40's no-oracle convention) with two raises:
    *
    *  1. stream == batch: the drained pair set must equal the SAME
    *     operator run in batch mode over the same corpus, element for
    *     element including the est_jaccard doubles (the q261
    *     stream==batch precedent);
    *  2. planted near-dups surface: a verbatim duplicate (est = 1.0
    *     exactly — identical text, identical signature, every band
    *     collides) and a one-token-appended near-dup (shingle Jaccard
    *     78/79) of a store document arrive through the STREAM and must
    *     be caught.
    *
    * The planted fresh shard is written as a real parquet file and
    * arrives through the same file-stream source as the corpus shard —
    * the stream sees files, not fixtures. */
  def q291StreamNeardup(s: SparkSession, dir: String): DataFrame = {
    val spark = StreamDrain.session(s, emptyBatches = false)
    val p0 = DedupGates.plantBase
    val baseText = (0 until 80).map(i => s"planted$i").mkString(" ")
    val plantFreshRows =
      Seq((p0 + 1L, baseText), (p0 + 2L, baseText + " plantedtail"))
    val docs = Tables(spark, dir, "documents").select($"doc_id", $"text")
    val store = docs.where($"doc_id" < 250)
      .unionByName(spark.createDataFrame(Seq((p0, baseText)))
        .toDF("doc_id", "text"))
    // unique dir per run: two concurrent suite runs (Verify + Bench,
    // or two SF dirs) must not overwrite each other's plant shard out
    // from under an active file stream.
    // Fs.scratchDir: tmpfs-backed when roomy (round 22 — the plant
    // shard is harness staging; disk fsync is pure overhead) and
    // nanoTime+counter unique, same concurrent-run safety as before
    val plantDir = new java.io.File(Fs.scratchDir("q291_plants"))
    spark.createDataFrame(plantFreshRows).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(plantDir.getPath)
    val sDocs = Tables.stream(spark, dir, "documents")
      .select($"doc_id", $"text").where($"doc_id" >= 250)
    val sPlants = spark.readStream
      .schema(StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("text", StringType, nullable = true))))
      .parquet(plantDir.getPath)
      .select($"doc_id", $"text")
    val fresh = sDocs.unionByName(sPlants)
    val cand = Dedup.minHashStoreCandidates(store, fresh,
      "text", "doc_id")
    val drained = StreamDrain.toMemory(cand.writeStream.outputMode("append"))
    Fs.rmTree(plantDir) // drained; nothing reads the shard again
    def pairify(c: DataFrame): DataFrame = c
      .groupBy($"id_a", $"id_b")
      .agg(max($"est_jaccard").as("est_jaccard"))
    val streamPairs = pairify(drained)
    val batchFresh = docs.where($"doc_id" >= 250)
      .unionByName(spark.createDataFrame(plantFreshRows)
        .toDF("doc_id", "text"))
    val batchPairs = pairify(
      Dedup.minHashStoreCandidates(store, batchFresh, "text", "doc_id"))
    val ns = streamPairs.agg(count(lit(1)).as("n_stream"))
    val nb = batchPairs.agg(count(lit(1)).as("n_batch"))
    // the inner join keys include est_jaccard: the same deterministic
    // kernel on the same rows must produce the same double bit-for-bit
    val nm = streamPairs
      .join(batchPairs, Seq("id_a", "id_b", "est_jaccard"))
      .agg(count(lit(1)).as("n_match"))
    val planted = streamPairs
      .where($"id_a" === p0 &&
        ($"id_b" === p0 + 1L || $"id_b" === p0 + 2L))
      .agg(count(lit(1)).as("n_planted"),
        max(when($"id_b" === p0 + 1L, $"est_jaccard")).as("est_dup"))
    streamPairs
      .crossJoin(broadcast(ns)).crossJoin(broadcast(nb))
      .crossJoin(broadcast(nm)).crossJoin(broadcast(planted))
      .select($"id_a", $"id_b", $"est_jaccard",
        when($"n_stream" =!= $"n_batch" || $"n_match" =!= $"n_stream",
          raise_error(lit(
            "q291: streamed near-dup pair set differs from the batch " +
              "run of the same operator on the same corpus — " +
              "incremental ingest and batch dedup disagree")))
          .otherwise(lit(true)).as("stream_eq_batch"),
        when($"n_planted" =!= 2L || $"est_dup" =!= 1.0,
          raise_error(lit(
            "q291: a planted near-dup (verbatim duplicate at est 1.0 " +
              "or one-token-appended variant) of a store document " +
              "arrived through the stream and was not caught")))
          .otherwise(lit(true)).as("planted_ok"))
      .orderBy($"id_a", $"id_b")
  }

  // ---- q295: streaming image near-dup, FULL oracle ---------------------------

  /** The streaming ingest pattern of q291 upgraded to a FULL oracle:
    * because image dHashes are arithmetic-restatable (q289), the
    * stream == batch self-check gains a third, external leg — DuckDB
    * re-derives every signature and the exact store×fresh pair set, so
    * stream == batch == cross-engine all hold on the same corpus (the
    * q261 trifecta, now for near-dup dedup). Fresh images arrive
    * through readStream (corpus shard synthesized in-stream from
    * doc_id — stateless udf + kernel; planted variants arrive as REAL
    * blob bytes in a parquet shard) and their dHashes probe the static
    * signature store via [[Dedup.hammingStoreCandidates]]. */
  def q295StreamImageNeardup(s: SparkSession, dir: String): DataFrame = {
    val spark = StreamDrain.session(s, emptyBatches = false)
    val p0 = DedupGates.plantBase
    val synth = udf((id: Long) =>
      Multimodal.encodeGrayPng(Multimodal.synthGray(id, W, H, ImgSeed), W, H))
    def dh(df: DataFrame): DataFrame =
      df.select($"doc_id", Functional.dhash64($"blob").as("dhash"))
    val docs = Tables(spark, dir, "documents").select($"doc_id")
    val storeSig = dh(docs.where($"doc_id" < 250)
      .unionByName(spark.range(1).select(lit(p0).as("doc_id")))
      .select($"doc_id", synth($"doc_id").as("blob")))
    // planted fresh shard: REAL pre-encoded blobs (brightness/upscale/
    // perturbation variants of the store's base image) as a parquet
    // file arriving through the same file-stream source
    val base = Multimodal.synthGray(p0, W, H, ImgSeed)
    val up = Array.tabulate(2 * W * 2 * H) { p =>
      val x = p % (2 * W); val y = p / (2 * W)
      base((y / 2) * W + (x / 2))
    }
    val pert = Array.tabulate(W * H) { p =>
      val x = p % W; val y = p / W
      if (x < 2 && y < 2) 255 else base(p)
    }
    val plantRows = Seq(
      (p0 + 1L, Multimodal.encodeGrayPng(base.map(_ + 5), W, H)),
      (p0 + 2L, Multimodal.encodeGrayPng(up, 2 * W, 2 * H)),
      (p0 + 3L, Multimodal.encodeGrayPng(pert, W, H)))
    // unique per run: see q291's plant-shard race note.
    // Fs.scratchDir: tmpfs-backed when roomy (round 22 — the plant
    // shard is harness staging; disk fsync is pure overhead) and
    // nanoTime+counter unique, same concurrent-run safety as before
    val plantDir = new java.io.File(Fs.scratchDir("q295_plants"))
    spark.createDataFrame(plantRows).toDF("doc_id", "blob")
      .coalesce(1).write.mode("overwrite").parquet(plantDir.getPath)
    val sDocs = Tables.stream(spark, dir, "documents")
      .select($"doc_id").where($"doc_id" >= 250)
      .select($"doc_id", synth($"doc_id").as("blob"))
    val sPlants = spark.readStream
      .schema(StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("blob", BinaryType, nullable = true))))
      .parquet(plantDir.getPath)
    val cand = Dedup.hammingStoreCandidates(
      storeSig, dh(sDocs.unionByName(sPlants)), "doc_id", "dhash",
      maxHamming = 3, maxBucket = 1000)
    val drained = StreamDrain.toMemory(cand.writeStream.outputMode("append"))
    Fs.rmTree(plantDir) // drained; nothing reads the shard again
    val streamPairs = drained.distinct()
    val batchFresh = dh(docs.where($"doc_id" >= 250)
        .select($"doc_id", synth($"doc_id").as("blob"))
        .unionByName(
          spark.createDataFrame(plantRows).toDF("doc_id", "blob")))
    val batchPairs = Dedup.hammingStoreCandidates(
      storeSig, batchFresh, "doc_id", "dhash",
      maxHamming = 3, maxBucket = 1000).distinct()
    val ns = streamPairs.agg(count(lit(1)).as("n_stream"))
    val nb = batchPairs.agg(count(lit(1)).as("n_batch"))
    val nm = streamPairs
      .join(batchPairs, Seq("id_a", "id_b", "hamming"))
      .agg(count(lit(1)).as("n_match"))
    val planted = streamPairs
      .where($"id_a" === p0 && $"id_b" > p0)
      .agg(count(lit(1)).as("n_planted"))
    streamPairs
      .crossJoin(broadcast(ns)).crossJoin(broadcast(nb))
      .crossJoin(broadcast(nm)).crossJoin(broadcast(planted))
      .select($"id_a", $"id_b", $"hamming",
        when($"n_stream" =!= $"n_batch" || $"n_match" =!= $"n_stream",
          raise_error(lit(
            "q295: streamed image near-dup pair set differs from the " +
              "batch run of the same operator on the same corpus")))
          .otherwise(lit(true)).as("stream_eq_batch"),
        when($"n_planted" =!= 3L, raise_error(lit(
          "q295: a planted image variant (brightness/upscale/" +
            "perturbation) arrived through the stream and was not " +
            "caught against the signature store")))
          .otherwise(lit(true)).as("planted_ok"))
      .orderBy($"id_a", $"id_b")
  }

  val q295Sql: String = {
    val p0 = DedupGates.plantBase
    s"""WITH $dhashCtes,
       |su AS (SELECT id, CAST(CASE WHEN dhash < 0
       |    THEN CAST(dhash AS HUGEINT) + 18446744073709551616
       |    ELSE CAST(dhash AS HUGEINT) END AS UBIGINT) AS ud FROM sig),
       |spairs AS (SELECT a.id AS id_a, b.id AS id_b,
       |    CAST(bit_count(xor(a.ud, b.ud)) AS INTEGER) AS hamming
       |  FROM su a JOIN su b
       |    ON (a.id < 250 OR a.id = $p0)
       |    AND ((b.id >= 250 AND b.id < $p0) OR b.id > $p0))
       |SELECT id_a, id_b, hamming, true AS stream_eq_batch,
       |  true AS planted_ok
       |FROM spairs WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin
  }

  // ---- q300: streaming AUDIO near-dup ingest, full oracle --------------------

  /** The q295 streaming trifecta (stream == batch == DuckDB) for the
    * AUDIO modality: fresh clips arrive through readStream (corpus
    * synthesized in-stream from doc_id; half-gain / 2× upsample /
    * burst variants of a store clip arrive as REAL WAV blobs in a
    * parquet shard), their fingerprints probe the static signature
    * store via [[Dedup.hammingStoreCandidates]], and DuckDB re-derives
    * the exact store×fresh pair set from the sample arithmetic. */
  def q300StreamAudioNeardup(s: SparkSession, dir: String): DataFrame = {
    val spark = StreamDrain.session(s, emptyBatches = false)
    val p0 = DedupGates.plantBase
    val synth = udf((id: Long) => Multimodal.encodePcm16Wav(
      Multimodal.synthPcm16(id, NSamp, AudSeed)))
    def fp(df: DataFrame): DataFrame =
      df.select($"doc_id", Functional.audioFp64($"blob").as("afp"))
    val docs = Tables(spark, dir, "documents").select($"doc_id")
    val storeSig = fp(docs.where($"doc_id" < 250)
      .unionByName(spark.range(1).select(lit(p0).as("doc_id")))
      .select($"doc_id", synth($"doc_id").as("blob")))
    val base = Multimodal.synthPcm16(p0, NSamp, AudSeed)
    val plantRows = Seq(
      (p0 + 1L, Multimodal.encodePcm16Wav(
        base.map(v => (v / 2).toShort))),
      (p0 + 2L, Multimodal.encodePcm16Wav(
        Array.tabulate(2 * NSamp)(i => base(i / 2)))),
      (p0 + 3L, Multimodal.encodePcm16Wav(
        base.zipWithIndex.map { case (v, i) =>
          if (i < 4) 16382.toShort else v
        })))
    // Fs.scratchDir: tmpfs-backed when roomy (round 22 — the plant
    // shard is harness staging; disk fsync is pure overhead) and
    // nanoTime+counter unique, same concurrent-run safety as before
    val plantDir = new java.io.File(Fs.scratchDir("q300_plants"))
    spark.createDataFrame(plantRows).toDF("doc_id", "blob")
      .coalesce(1).write.mode("overwrite").parquet(plantDir.getPath)
    val sDocs = Tables.stream(spark, dir, "documents")
      .select($"doc_id").where($"doc_id" >= 250)
      .select($"doc_id", synth($"doc_id").as("blob"))
    val sPlants = spark.readStream
      .schema(StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("blob", BinaryType, nullable = true))))
      .parquet(plantDir.getPath)
    val cand = Dedup.hammingStoreCandidates(
      storeSig, fp(sDocs.unionByName(sPlants)), "doc_id", "afp",
      maxHamming = 3, maxBucket = 1000)
    val drained = StreamDrain.toMemory(cand.writeStream.outputMode("append"))
    Fs.rmTree(plantDir) // drained; nothing reads the shard again
    val streamPairs = drained.distinct()
    val batchFresh = fp(docs.where($"doc_id" >= 250)
      .select($"doc_id", synth($"doc_id").as("blob"))
      .unionByName(
        spark.createDataFrame(plantRows).toDF("doc_id", "blob")))
    val batchPairs = Dedup.hammingStoreCandidates(
      storeSig, batchFresh, "doc_id", "afp",
      maxHamming = 3, maxBucket = 1000).distinct()
    val ns = streamPairs.agg(count(lit(1)).as("n_stream"))
    val nb = batchPairs.agg(count(lit(1)).as("n_batch"))
    val nm = streamPairs
      .join(batchPairs, Seq("id_a", "id_b", "hamming"))
      .agg(count(lit(1)).as("n_match"))
    val planted = streamPairs
      .where($"id_a" === p0 && $"id_b" > p0)
      .agg(count(lit(1)).as("n_planted"))
    streamPairs
      .crossJoin(broadcast(ns)).crossJoin(broadcast(nb))
      .crossJoin(broadcast(nm)).crossJoin(broadcast(planted))
      .select($"id_a", $"id_b", $"hamming",
        when($"n_stream" =!= $"n_batch" || $"n_match" =!= $"n_stream",
          raise_error(lit(
            "q300: streamed audio near-dup pair set differs from the " +
              "batch run of the same operator on the same corpus")))
          .otherwise(lit(true)).as("stream_eq_batch"),
        when($"n_planted" =!= 3L, raise_error(lit(
          "q300: a planted audio variant (half gain/upsample/burst) " +
            "arrived through the stream and was not caught against " +
            "the signature store")))
          .otherwise(lit(true)).as("planted_ok"))
      .orderBy($"id_a", $"id_b")
  }

  val q300Sql: String = {
    val p0 = DedupGates.plantBase
    s"""WITH ${MediaGates.audioFpCtes},
       |apu AS (SELECT id, CAST(CASE WHEN afp < 0
       |    THEN CAST(afp AS HUGEINT) + 18446744073709551616
       |    ELSE CAST(afp AS HUGEINT) END AS UBIGINT) AS ua FROM asig),
       |spairs AS (SELECT a.id AS id_a, b.id AS id_b,
       |    CAST(bit_count(xor(a.ua, b.ua)) AS INTEGER) AS hamming
       |  FROM apu a JOIN apu b
       |    ON (a.id < 250 OR a.id = $p0)
       |    AND ((b.id >= 250 AND b.id < $p0) OR b.id > $p0))
       |SELECT id_a, id_b, hamming, true AS stream_eq_batch,
       |  true AS planted_ok
       |FROM spairs WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin
  }

  // ---- q301: streaming VIDEO near-dup ingest, full oracle --------------------

  /** The streaming trifecta for the VIDEO modality — and the gate for
    * [[Dedup.fingerprintStoreCandidates]], the store-candidate face of
    * the SET-signature dedup family: fresh videos arrive through
    * readStream (corpus synthesized in-stream; the planted variants
    * arrive as REAL MULTI-CHUNK MP4 blobs in a parquet shard — the
    * production container shape exercised on the streaming path), each
    * frame hash probes the static store, and the sink's merge step
    * aggregates shared-frame counts. DuckDB re-derives the exact
    * store×fresh shared counts from the pixel arithmetic. */
  def q301StreamVideoNeardup(s: SparkSession, dir: String): DataFrame = {
    val spark = StreamDrain.session(s, emptyBatches = false)
    val p0 = DedupGates.plantBase
    val synth = udf((id: Long) => Multimodal.synthesizeMp4WithFrames(
      (0 until NFrames).map(f => encFrame(id * 16L + f))))
    def fps(df: DataFrame): DataFrame =
      df.select($"doc_id",
        explode(Functional.videoFrameHashes($"blob")).as("fhash"))
    val docs = Tables(spark, dir, "documents").select($"doc_id")
    val storeFps = fps(docs.where($"doc_id" < 250)
      .unionByName(spark.range(1).select(lit(p0).as("doc_id")))
      .select($"doc_id", synth($"doc_id").as("blob")))
    val baseFids = (0 until NFrames).map(f => p0 * 16L + f)
    val plantRows = Seq(
      (p0 + 1L, multiChunkBlob(p0 + 1L, baseFids.map(fid =>
        Multimodal.encodeGrayPng(
          Multimodal.synthGray(fid, W, H, VidSeed).map(_ + 5), W, H)))),
      (p0 + 2L, multiChunkBlob(p0 + 2L,
        (1 to NFrames).map(f => encFrame(p0 * 16L + f)))),
      (p0 + 3L, multiChunkBlob(p0 + 3L, Seq(encFrame(p0 * 16L)) ++
        (1 until NFrames).map(f => encFrame(p0 * 16L + 8 + f)))))
    // Fs.scratchDir: tmpfs-backed when roomy (round 22 — the plant
    // shard is harness staging; disk fsync is pure overhead) and
    // nanoTime+counter unique, same concurrent-run safety as before
    val plantDir = new java.io.File(Fs.scratchDir("q301_plants"))
    spark.createDataFrame(plantRows).toDF("doc_id", "blob")
      .coalesce(1).write.mode("overwrite").parquet(plantDir.getPath)
    val sDocs = Tables.stream(spark, dir, "documents")
      .select($"doc_id").where($"doc_id" >= 250)
      .select($"doc_id", synth($"doc_id").as("blob"))
    val sPlants = spark.readStream
      .schema(StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("blob", BinaryType, nullable = true))))
      .parquet(plantDir.getPath)
    val cand = Dedup.fingerprintStoreCandidates(
      storeFps, fps(sDocs.unionByName(sPlants)), "doc_id", "fhash",
      maxBucket = 1000)
    val drained = StreamDrain.toMemory(cand.writeStream.outputMode("append"))
    Fs.rmTree(plantDir) // drained; nothing reads the shard again
    // the sink's merge step: distinct shared fingerprints per pair
    def pairify(c: DataFrame): DataFrame = c
      .groupBy($"id_a", $"id_b")
      .agg(countDistinct($"fp").as("shared_fps"))
    val streamPairs = pairify(drained)
    val batchFresh = fps(docs.where($"doc_id" >= 250)
      .select($"doc_id", synth($"doc_id").as("blob"))
      .unionByName(
        spark.createDataFrame(plantRows).toDF("doc_id", "blob")))
    val batchPairs = pairify(Dedup.fingerprintStoreCandidates(
      storeFps, batchFresh, "doc_id", "fhash", maxBucket = 1000))
    val ns = streamPairs.agg(count(lit(1)).as("n_stream"))
    val nb = batchPairs.agg(count(lit(1)).as("n_batch"))
    val nm = streamPairs
      .join(batchPairs, Seq("id_a", "id_b", "shared_fps"))
      .agg(count(lit(1)).as("n_match"))
    val planted = streamPairs
      .where($"id_a" === p0 && $"id_b" > p0)
      .agg(count(lit(1)).as("n_planted"),
        max(when($"id_b" === p0 + 1L, $"shared_fps")).as("__s1"),
        max(when($"id_b" === p0 + 2L, $"shared_fps")).as("__s2"),
        max(when($"id_b" === p0 + 3L, $"shared_fps")).as("__s3"))
    streamPairs
      .crossJoin(broadcast(ns)).crossJoin(broadcast(nb))
      .crossJoin(broadcast(nm)).crossJoin(broadcast(planted))
      .select($"id_a", $"id_b", $"shared_fps",
        when($"n_stream" =!= $"n_batch" || $"n_match" =!= $"n_stream",
          raise_error(lit(
            "q301: streamed video shared-frame pair set differs from " +
              "the batch run of the same operator on the same corpus")))
          .otherwise(lit(true)).as("stream_eq_batch"),
        when($"n_planted" =!= 3L || $"__s1" =!= 4L || $"__s2" =!= 3L ||
            $"__s3" =!= 1L,
          raise_error(lit(
            "q301: planted video variants (brightness/shifted-window/" +
              "mostly-new, expected 4/3/1 shared frames) were not " +
              "recovered against the frame-hash store")))
          .otherwise(lit(true)).as("planted_ok"))
      .orderBy($"id_a", $"id_b")
  }

  val q301Sql: String = {
    val p0 = DedupGates.plantBase
    s"""WITH ${MediaGates.videoCtes},
       |vd AS (SELECT DISTINCT id, fhash FROM vsig),
       |vp AS (SELECT a.id AS id_a, b.id AS id_b,
       |    CAST(COUNT(*) AS BIGINT) AS shared_fps
       |  FROM vd a JOIN vd b ON a.fhash = b.fhash
       |    AND (a.id < 250 OR a.id = $p0)
       |    AND ((b.id >= 250 AND b.id < $p0) OR b.id > $p0)
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, shared_fps, true AS stream_eq_batch,
       |  true AS planted_ok
       |FROM vp ORDER BY id_a, id_b""".stripMargin
  }

  // ---- q305: streaming SEQUENCE-aware video near-dup, full oracle ------------

  /** The q302 sequence discriminator run as a STREAMING ingest — the
    * trifecta gate for [[Dedup.frameRunStoreCandidates]]: fresh videos
    * arrive through readStream (corpus synthesized in-stream; planted
    * variants as REAL multi-chunk MP4 blobs in a parquet shard), each
    * (frame-hash, index) row probes the static store, and the sink's
    * merge step ([[Dedup.frameRunStats]] — the SAME tail the batch
    * operator uses) computes shared counts AND longest aligned
    * contiguous runs. Plants: a brightness clone (shared 4 / run 4),
    * a one-frame-shifted window (3/3), and a REVERSED cut — shared 4
    * but run 1, the reorder case only sequence awareness catches,
    * now detected AT INGEST TIME. stream == batch == DuckDB. */
  def q305StreamVideoFramerun(s: SparkSession, dir: String): DataFrame = {
    val spark = StreamDrain.session(s, emptyBatches = false)
    val p0 = DedupGates.plantBase
    val synth = udf((id: Long) => Multimodal.synthesizeMp4WithFrames(
      (0 until NFrames).map(f => encFrame(id * 16L + f))))
    def fr(df: DataFrame): DataFrame = df
      .select($"doc_id",
        posexplode(Functional.videoFrameHashes($"blob")))
      .select($"doc_id", $"pos".cast(LongType).as("idx"),
        $"col".as("fhash"))
    val docs = Tables(spark, dir, "documents").select($"doc_id")
    val storeFrames = fr(docs.where($"doc_id" < 250)
      .unionByName(spark.range(1).select(lit(p0).as("doc_id")))
      .select($"doc_id", synth($"doc_id").as("blob")))
    val baseFids = (0 until NFrames).map(f => p0 * 16L + f)
    val plantRows = Seq(
      (p0 + 1L, multiChunkBlob(p0 + 1L, baseFids.map(fid =>
        Multimodal.encodeGrayPng(
          Multimodal.synthGray(fid, W, H, VidSeed).map(_ + 5), W, H)))),
      (p0 + 2L, multiChunkBlob(p0 + 2L,
        (1 to NFrames).map(f => encFrame(p0 * 16L + f)))),
      (p0 + 4L, multiChunkBlob(p0 + 4L, baseFids.reverse.map(encFrame))))
    // Fs.scratchDir: tmpfs-backed when roomy (round 22 — the plant
    // shard is harness staging; disk fsync is pure overhead) and
    // nanoTime+counter unique, same concurrent-run safety as before
    val plantDir = new java.io.File(Fs.scratchDir("q305_plants"))
    spark.createDataFrame(plantRows).toDF("doc_id", "blob")
      .coalesce(1).write.mode("overwrite").parquet(plantDir.getPath)
    val sDocs = Tables.stream(spark, dir, "documents")
      .select($"doc_id").where($"doc_id" >= 250)
      .select($"doc_id", synth($"doc_id").as("blob"))
    val sPlants = spark.readStream
      .schema(StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("blob", BinaryType, nullable = true))))
      .parquet(plantDir.getPath)
    val cand = Dedup.frameRunStoreCandidates(
      storeFrames, fr(sDocs.unionByName(sPlants)), "doc_id", "idx",
      "fhash", maxBucket = 1000)
    val drained = StreamDrain.toMemory(cand.writeStream.outputMode("append"))
    Fs.rmTree(plantDir) // drained; nothing reads the shard again
    val streamPairs = Dedup.frameRunStats(drained)
    val batchFresh = fr(docs.where($"doc_id" >= 250)
      .select($"doc_id", synth($"doc_id").as("blob"))
      .unionByName(
        spark.createDataFrame(plantRows).toDF("doc_id", "blob")))
    val batchPairs = Dedup.frameRunStats(Dedup.frameRunStoreCandidates(
      storeFrames, batchFresh, "doc_id", "idx", "fhash",
      maxBucket = 1000))
    val ns = streamPairs.agg(count(lit(1)).as("n_stream"))
    val nb = batchPairs.agg(count(lit(1)).as("n_batch"))
    val nm = streamPairs
      .join(batchPairs, Seq("id_a", "id_b", "shared_fps", "lcr"))
      .agg(count(lit(1)).as("n_match"))
    val planted = streamPairs
      .where($"id_a" === p0 && $"id_b" > p0)
      .agg(count(lit(1)).as("n_planted"),
        max(when($"id_b" === p0 + 1L, $"lcr")).as("__r1"),
        max(when($"id_b" === p0 + 2L, $"lcr")).as("__r2"),
        max(when($"id_b" === p0 + 4L, $"lcr")).as("__r4"),
        max(when($"id_b" === p0 + 4L, $"shared_fps")).as("__s4"))
    streamPairs
      .crossJoin(broadcast(ns)).crossJoin(broadcast(nb))
      .crossJoin(broadcast(nm)).crossJoin(broadcast(planted))
      .select($"id_a", $"id_b", $"shared_fps", $"lcr",
        when($"n_stream" =!= $"n_batch" || $"n_match" =!= $"n_stream",
          raise_error(lit(
            "q305: streamed sequence near-dup (shared, run) set " +
              "differs from the batch run of the same operator on " +
              "the same corpus")))
          .otherwise(lit(true)).as("stream_eq_batch"),
        when($"n_planted" =!= 3L || $"__r1" =!= 4L || $"__r2" =!= 3L ||
            $"__r4" =!= 1L || $"__s4" =!= 4L,
          raise_error(lit(
            "q305: planted temporal design not recovered at ingest " +
              "(clone run 4, shifted-window run 3, REVERSED cut " +
              "shared 4 but run 1)")))
          .otherwise(lit(true)).as("planted_ok"))
      .orderBy($"id_a", $"id_b")
  }

  val q305Sql: String = {
    val p0 = DedupGates.plantBase
    val extra = (0 until NFrames).map(f =>
      s"UNION ALL SELECT ${p0 + 4}, $f, ${p0 * 16} + ${NFrames - 1 - f}, 0")
    s"""WITH ${MediaGates.videoCtesWith(extra)},
       |vd3 AS (SELECT DISTINCT id, idx, fhash FROM vsig),
       |vm3 AS (SELECT DISTINCT a.fhash, a.id AS id_a, b.id AS id_b,
       |    a.idx AS ia, a.idx - b.idx AS off
       |  FROM vd3 a JOIN vd3 b ON a.fhash = b.fhash
       |    AND (a.id < 250 OR a.id = $p0)
       |    AND ((b.id >= 250 AND b.id < $p0) OR b.id = ${p0 + 1}
       |      OR b.id = ${p0 + 2} OR b.id = ${p0 + 4})),
       |vr3 AS (SELECT id_a, id_b, off, ia,
       |    ia - ROW_NUMBER() OVER (
       |      PARTITION BY id_a, id_b, off ORDER BY ia) AS isl
       |  FROM vm3),
       |vruns3 AS (SELECT id_a, id_b, off, isl, COUNT(*) AS run
       |  FROM vr3 GROUP BY 1, 2, 3, 4),
       |vlcr3 AS (SELECT id_a, id_b, CAST(MAX(run) AS BIGINT) AS lcr
       |  FROM vruns3 GROUP BY 1, 2),
       |vsh3 AS (SELECT id_a, id_b,
       |    CAST(COUNT(DISTINCT fhash) AS BIGINT) AS shared_fps
       |  FROM vm3 GROUP BY 1, 2)
       |SELECT s.id_a, s.id_b, s.shared_fps, l.lcr,
       |  true AS stream_eq_batch, true AS planted_ok
       |FROM vsh3 s JOIN vlcr3 l ON s.id_a = l.id_a AND s.id_b = l.id_b
       |ORDER BY s.id_a, s.id_b""".stripMargin
  }
}
