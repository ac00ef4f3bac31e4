package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.graftshim.FooterSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Parquet table loader for the driver-generated star schema
  * (TESTDATA.md). At cluster scale these reads are plain distributed
  * parquet scans — filters/projections in the queries below push down
  * into them (verify via .explain: PushedFilters / ReadSchema).
  *
  * Every read of an input table goes through [[parquet]] or [[stream]],
  * which take the schema from one parquet footer read in the calling
  * thread ([[FooterSchema]]), so building a gate's plan runs no
  * schema-inference job (`spark.read.parquet` runs one per load) and
  * starts no thread pool. The schema is whatever the file declares,
  * converted by Spark's own code under the session's conf — never a
  * hand-declared copy of the generator's.
  */
object Tables {

  /** `spark.read.parquet(path)` without its schema-inference job: the
    * same relation, from one listing of `path` and one footer read
    * ([[FooterSchema.relation]]). */
  def parquet(spark: SparkSession, path: String): DataFrame =
    FooterSchema.relation(spark, path)

  /** Streaming reader over table `name` with the footer schema (the
    * file source needs one). Handles both layouts: a single file at
    * the small test SFs (the file source requires a directory, so the
    * parent dir is streamed with a glob filter) and a directory of
    * part-files at sf1.0+ (where the glob filter would match nothing,
    * and the stream would silently be empty). */
  def stream(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = new java.io.File(s"$dir/$name.parquet")
    val base = spark.readStream.schema(FooterSchema(spark, path.getPath))
    if (path.isDirectory) base.parquet(path.getPath)
    else base.option("pathGlobFilter", path.getName).parquet(dir)
  }

  /** events.ts contract for every consumer in this repo: LONG
    * nanoseconds since epoch. Early testdata generations annotated the
    * column TIMESTAMP(NANOS), which Spark surfaces as exactly that long
    * under spark.sql.legacy.parquet.nanosAsLong; current generations
    * write TIMESTAMP(MICROS) (surfaced as TIMESTAMP_NTZ). Normalizing
    * here — one projection on the scan, µs·1000 is exact — keeps the
    * whole query surface agnostic to the file's physical annotation.
    * Sessions run UTC, so the NTZ→TIMESTAMP cast is the identity.
    * Trade-off, micros layout only: ts becomes a computed column, so
    * ts-range predicates no longer push into the parquet scan
    * (row-group min/max pruning on ts is lost); predicates on every
    * OTHER column still push down. Hot ts-range queries should filter
    * at timestamp granularity before this projection. Shared with the
    * streaming reader (EventsStream) so stream and batch see one ts
    * contract. */
  private[graft] def normalizeEventsTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df // TIMESTAMP(NANOS) under nanosAsLong
      case TimestampNTZType | TimestampType =>
        df.withColumn("ts",
          unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case other => throw new IllegalStateException(
        s"events.ts: expected long ns or a timestamp, got $other")
    }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = parquet(spark, s"$dir/$name.parquet")
    if (name == "events") normalizeEventsTs(df) else df
  }

  /** The hot-path events reader for ts-RANGE queries: filters at the
    * file's native timestamp granularity BEFORE the ns normalization
    * projection, so the range predicate pushes into the parquet scan
    * (PushedFilters + row-group min/max pruning) — the cost the plain
    * loader's computed-ts column gives up (see [[normalizeEventsTs]]'s
    * trade-off note). Bounds are MICROseconds since epoch — exact in
    * both physical layouts (µs native; ns = µs·1000). Returns the same
    * normalized schema as [[apply]]: ts = long ns. */
  def eventsRange(spark: SparkSession, dir: String,
      fromUs: Long, untilUs: Long): DataFrame = {
    val raw = parquet(spark, s"$dir/events.parquet")
    val filtered = raw.schema("ts").dataType match {
      case LongType => // ns layout: long predicate pushes natively
        raw.where(col("ts") >= fromUs * 1000L &&
          col("ts") < untilUs * 1000L)
      case TimestampNTZType | TimestampType =>
        // literal NTZ bounds (UTC sessions) fold at plan time, so the
        // comparison is scan-native and pushes down
        def ntz(us: Long) = lit(java.time.LocalDateTime.ofEpochSecond(
          us / 1000000L, ((us % 1000000L) * 1000L).toInt,
          java.time.ZoneOffset.UTC))
        raw.where(col("ts") >= ntz(fromUs) && col("ts") < ntz(untilUs))
      case other => throw new IllegalStateException(
        s"events.ts: expected long ns or a timestamp, got $other")
    }
    normalizeEventsTs(filtered)
  }
}
