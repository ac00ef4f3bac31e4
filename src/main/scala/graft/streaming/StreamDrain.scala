package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter,
  StreamingQueryProgress}

/** The plumbing every bounded streaming gate shares: its session, its
  * staged micro-batches, and the drain of its result into a frame. */
object StreamDrain {

  private val seq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** A child session for one streaming gate. Four shuffle partitions,
    * not one per core: each is a state store to initialize for a
    * single-file micro-batch, and the result does not depend on the
    * count (on a cluster it is sized to the key cardinality instead).
    * `emptyBatches` is whether no-data micro-batches run. Watermark-
    * driven output (outer-join eviction, event-time timers, late-data
    * drop) needs them: it happens in the trigger after the watermark
    * advances. A single-batch query has nothing to flush, and skipping
    * the empty batch trims fixed per-query startup. */
  def session(parent: SparkSession, emptyBatches: Boolean): SparkSession = {
    val spark = parent.newSession()
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
      emptyBatches.toString)
    spark
  }

  /** Stages written batches as the files a file-stream source with
    * `maxFilesPerTrigger = 1` and `pathGlobFilter = "batch*.parquet"`
    * reads one per trigger, in the given order: the single part file
    * of `stage/<sub>` becomes `stage/batch<i>.parquet`, its mtime
    * pinning it i-th (the file source orders by mtime, then path). */
  def promote(stage: String, subs: String*): Unit =
    subs.zipWithIndex.foreach { case (sub, i) =>
      val f = new java.io.File(s"$stage/$sub").listFiles()
        .find(_.getName.startsWith("part-")).get
      val d = new java.io.File(s"$stage/batch${i + 1}.parquet")
      f.renameTo(d); d.setLastModified((i + 1) * 1000000L)
    }

  /** Runs `writer` into a memory sink until everything available is
    * processed, stops it, and returns the sink's rows.
    *
    * The frame is resolved first (analysis binds the memory sink's
    * relation into the plan), then the sink's temp view is dropped: the
    * frame stays readable, and repeated in-JVM runs (bench loops,
    * parallelism sweeps) do not accumulate one view and one result copy
    * per call.
    *
    * The memory sink holds the whole result in driver memory. That is
    * right for a bounded gate fixture, whose drained result the driver
    * hashes, and wrong for production, which writes the same stream
    * through `foreachBatch` or a file/table sink (the q200
    * partitioned-sink gate). */
  def toMemory(writer: DataStreamWriter[Row]): DataFrame =
    toMemoryWithProgress(writer)._1

  /** [[toMemory]], plus the stopped query's progress reports. */
  def toMemoryWithProgress(writer: DataStreamWriter[Row])
      : (DataFrame, Array[StreamingQueryProgress]) = {
    val name = s"graft_drain_${seq.incrementAndGet()}"
    val q = writer.format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    val drained = q.sparkSession.table(name)
    drained.queryExecution.assertAnalyzed()
    q.sparkSession.catalog.dropTempView(name)
    (drained, q.recentProgress)
  }
}
