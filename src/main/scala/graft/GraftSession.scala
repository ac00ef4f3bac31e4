package graft

import org.apache.spark.sql.SparkSession

import graft.operators.GraftExtensions

/** The one engine configuration that every main and every test runs:
  * `local[cores]` with one shuffle partition per core, UTC session
  * time (the NTZ→TIMESTAMP cast in [[Tables.normalizeEventsTs]] is an
  * identity only under UTC), `events.parquet`'s TIMESTAMP(NANOS) read
  * as long nanoseconds, no UI, and the graft planner strategy and
  * optimizer rules ([[graft.operators.GraftExtensions]]). */
object GraftSession {

  def apply(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // A 290-gate suite in ONE JVM accumulates broadcast blocks and
      // shuffle state that the ContextCleaner only reclaims when their
      // references get GC'd — and with a large heap, full GCs are rare,
      // so STORAGE occupancy quietly squeezes the unified-memory
      // EXECUTION share and the suite's biggest hash aggregates start
      // spilling (observed: q216's wedge agg at 17 s in a fresh JVM vs
      // 63 s late in a long pass, bimodal across rounds 18-19). The
      // documented knob for long-running drivers: force the cleaner's
      // periodic GC often enough to matter within one pass (default
      // 30min — longer than the whole suite). 300s, not 60s: a forced
      // full GC at a 24g heap pauses all 32 threads for seconds, and
      // at 60s those pauses landed INSIDE sub-second gates (measured:
      // the sf0.1 suite read 475/464 s with six small-gate over_2x
      // flags at 60s vs 408/311 clean at none) — one reclamation per
      // pass captures the memory benefit without the jitter.
      .config("spark.cleaner.periodicGC.interval", "300s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The core count a main runs on: `SPARK_GRAFT_CPUS`, or every core
    * of the host when it is unset. */
  def hostCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)
}
