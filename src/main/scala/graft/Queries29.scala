package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.StreamDrain

/** Round-12 session gates past q220: stream-static LEFT OUTER join
  * (q221) and GROUP BY ALL syntax parity (q222). Naming/oracle/float
  * conventions as in [[Queries]].
  */
object Queries29 {

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

  // ---- q222: GROUP BY ALL ------------------------------------------------

  /** `GROUP BY ALL` / `ORDER BY ALL` — the analyst shorthand both
    * engines resolve to every non-aggregate select item; parity
    * matters because a resolution difference silently regroups a
    * query migrated between engines. Identical statement both
    * sides. */
  def q222GroupByAll(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "lineitem").createOrReplaceTempView("q222_li")
    s.sql(
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE)
        |    AS qty
        |FROM q222_li GROUP BY ALL ORDER BY ALL""".stripMargin)
  }

  val q222Sql: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) AS qty
      |FROM lineitem GROUP BY ALL ORDER BY ALL""".stripMargin

  // ---- q223: audio (WAV) metadata extraction ------------------------------

  /** Real RIFF/WAVE chunk-walk end-to-end — the audio face of q70's
    * image decode: each document gets a synthesized VALID WAV blob
    * (seeded PCM sample rate / bit depth / channel count,
    * [[graft.operators.Multimodal.synthesizeWavBlob]]), decodeMeta
    * parses the actual bytes back partition-wise (no shuffle until the
    * tiny grouped aggregate), and the oracle predicts every field
    * arithmetically from the seed — a green row proves the LE chunk
    * parser is exact. Format maps onto the shared media_meta tuple as
    * width=sampleRate, height=bitsPerSample. */
  def q223AudioMeta(s: SparkSession, dir: String): DataFrame = {
    val synth = udf((id: Long) =>
      graft.operators.Multimodal.synthesizeWavBlob(id * 1048573L + 13L))
    val docs = Tables(s, dir, "documents")
      .select($"doc_id", synth($"doc_id").as("blob"))
    graft.operators.Multimodal.decodeMeta(docs)
      .select($"media_meta.format".as("format"),
        $"media_meta.width".as("sample_rate"),
        $"media_meta.height".as("bits"),
        $"media_meta.channels".as("channels"),
        $"media_meta.n_bytes".as("n_bytes"))
      .groupBy($"format", $"channels", $"bits")
      .agg(count(lit(1)).as("n"),
        sum($"sample_rate").cast(LongType).as("sum_rate"),
        sum($"n_bytes").cast(LongType).as("total_bytes"))
      .orderBy($"channels", $"bits")
  }

  val q223Sql: String =
    """WITH d AS (SELECT doc_id * 1048573 + 13 AS seed FROM documents)
      |SELECT 'wav' AS format,
      |  CAST(1 + (seed // 1073741824) % 2 AS INTEGER) AS channels,
      |  CAST(8 * (1 + (seed // 1048576) % 4) AS INTEGER) AS bits,
      |  count(*) AS n,
      |  CAST(sum(8000 + (seed // 16) % 40000) AS BIGINT) AS sum_rate,
      |  CAST(count(*) * 64 AS BIGINT) AS total_bytes
      |FROM d GROUP BY 1, 2, 3 ORDER BY channels, bits""".stripMargin

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q221_stream_static_outer" -> (q221StreamStaticOuter _),
    "q222_group_by_all" -> (q222GroupByAll _),
    "q223_audio_meta" -> (q223AudioMeta _)
  )

  val oracles: Map[String, String] = Map(
    "q221_stream_static_outer" -> q221Sql,
    "q222_group_by_all" -> q222Sql,
    "q223_audio_meta" -> q223Sql
  )
}
