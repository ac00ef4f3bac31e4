package graft

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-13 session gates past q233: one-pass observed metrics (q234),
  * the TIME type (q235), and AES column-encryption round-trip (q236).
  * Naming/oracle/float conventions as in [[Queries]].
  */
object Queries32 {

  // ---- q234: observed metrics (Dataset.observe) ---------------------------

  /** Pipeline observability without a second scan (q126's observe
    * witness, upgraded: there the metrics back an in-gate require and
    * the output only carries `observed_ok`; HERE the observed VALUES
    * are output columns the DuckDB oracle hashes — the driver itself
    * falsifies the metric arithmetic): `observe` attaches
    * accumulator-backed metrics (row count, quantity total, discount
    * counter) to the SAME pass that computes the grouped aggregate —
    * at 100 TB the alternative is re-scanning the table for every
    * data-quality counter. The grouped result is group-sized, so the
    * in-gate action that fires the observation is bounded; the
    * conservation law (observed rows == Σ group counts) is REQUIRED
    * in-gate, and the oracle restates both the groups and the global
    * metrics relationally — a metric that drifted from its scan would
    * hash-mismatch. */
  def q234Observe(s: SparkSession, dir: String): DataFrame = {
    val obs = new Observation(s"q234_${System.nanoTime()}")
    val grouped = Tables(s, dir, "lineitem")
      .observe(obs,
        count(lit(1)).as("obs_rows"),
        sum($"l_quantity".cast(DecimalType(25, 4))).as("obs_qty"),
        count(when($"l_discount" > lit(0.05), 1)).as("obs_disc"))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        dsum($"l_quantity").as("qty"))
    val rows = grouped.collect() // group-sized (|returnflag| = 3)
    val m = obs.get
    val obsRows = m("obs_rows").asInstanceOf[Long]
    val obsDisc = m("obs_disc").asInstanceOf[Long]
    val obsQty = m("obs_qty").asInstanceOf[java.math.BigDecimal]
      .doubleValue()
    require(obsRows == rows.map(_.getAs[Long]("n")).sum,
      s"observe conservation: obs_rows=$obsRows != sum of group counts")
    val outSchema = StructType(Seq(
      StructField("l_returnflag", StringType),
      StructField("n", LongType),
      StructField("qty", DoubleType)))
    s.createDataFrame(
        java.util.Arrays.asList(rows.map(r => org.apache.spark.sql.Row(
          r.getString(0), r.getAs[Long]("n"), r.getAs[Double]("qty")))
          : _*),
        outSchema)
      .withColumn("obs_rows", lit(obsRows))
      .withColumn("obs_disc", lit(obsDisc))
      .withColumn("obs_qty", lit(obsQty))
      .orderBy($"l_returnflag")
  }

  val q234Sql: String =
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) AS qty,
      |  (SELECT count(*) FROM lineitem) AS obs_rows,
      |  (SELECT count(*) FROM lineitem
      |   WHERE l_discount > CAST(0.05 AS DOUBLE)) AS obs_disc,
      |  (SELECT CAST(sum(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE)
      |   FROM lineitem) AS obs_qty
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q235: TIME type ----------------------------------------------------

  /** The SQL TIME type (Spark 4.1, behind spark.sql.timeType.enabled):
    * time-of-day as a first-class comparable/truncatable type instead
    * of a string convention — the hourly-traffic shape every events
    * pipeline computes. ts (long ns, UTC contract) → TIME via the
    * formatted string, time_trunc('HOUR') grouping, TIME min/max
    * ordering — all cast back to strings on output so the driver can
    * hash them. Oracle restates with DuckDB's native TIME/strftime. */
  def q235TimeType(parent: SparkSession, dir: String): DataFrame = {
    // child session so the flag cannot leak into sibling gates (the
    // queries Map is unordered — a shared-session conf would make
    // other gates' environment depend on iteration order)
    val s = parent.newSession()
    s.conf.set("spark.sql.timeType.enabled", "true")
    Tables(s, dir, "events").createOrReplaceTempView("q235_e")
    s.sql(
      """SELECT CAST(time_trunc('HOUR', t) AS STRING) AS hr,
        |  count(*) AS n,
        |  CAST(min(t) AS STRING) AS min_t,
        |  CAST(max(t) AS STRING) AS max_t
        |FROM (SELECT to_time(date_format(
        |        timestamp_micros(ts DIV 1000), 'HH:mm:ss')) AS t
        |      FROM q235_e)
        |GROUP BY time_trunc('HOUR', t) ORDER BY hr""".stripMargin)
  }

  val q235Sql: String =
    """SELECT strftime(date_trunc('hour', ts), '%H:%M:%S') AS hr,
      |  count(*) AS n,
      |  min(strftime(ts, '%H:%M:%S')) AS min_t,
      |  max(strftime(ts, '%H:%M:%S')) AS max_t
      |FROM events GROUP BY 1 ORDER BY hr""".stripMargin

  // ---- q236: AES column-encryption round-trip -----------------------------

  /** Column-level encryption at rest (the cryptographic face of q86's
    * pattern scrub and q215's mask): aes_encrypt → aes_decrypt under a
    * 128-bit key must be the identity — GCM's random IV rides inside
    * the ciphertext, so the ENCRYPTED bytes are non-deterministic but
    * the decrypted values are exact, which is why the gate surfaces
    * only the decrypted side. Both calls are row-local codegen
    * expressions (scan-side, no shuffle until the aggregate). n_rt
    * counts null-safe matches Spark-side; the oracle states the
    * identity relationally (DuckDB has no AES — a dropped or corrupted
    * row moves n/n_rt/first_name). */
  def q236AesRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val key = "0123456789abcdef" // fixture key: gate tests the identity
    Tables(s, dir, "customer")
      .selectExpr("c_nationkey", "c_name",
        s"CAST(aes_decrypt(aes_encrypt(CAST(c_name AS BINARY), '$key'), '$key') AS STRING) AS dec")
      .groupBy($"c_nationkey")
      .agg(count(lit(1)).as("n"),
        sum(when($"dec" <=> $"c_name", 1L).otherwise(0L)).as("n_rt"),
        min($"dec").as("first_name"))
      .orderBy($"c_nationkey")
  }

  val q236Sql: String =
    """SELECT c_nationkey, count(*) AS n,
      |  CAST(count(*) AS BIGINT) AS n_rt,
      |  min(c_name) AS first_name
      |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q234_observe" -> (q234Observe _),
    "q235_time_type" -> (q235TimeType _),
    "q236_aes_roundtrip" -> (q236AesRoundtrip _)
  )

  val oracles: Map[String, String] = Map(
    "q234_observe" -> q234Sql,
    "q235_time_type" -> q235Sql,
    "q236_aes_roundtrip" -> q236Sql
  )
}
