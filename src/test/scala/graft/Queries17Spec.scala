package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pins for the q184-q188 gate family: map-HOF values, string-battery
  * fixtures, and VARIANT miss/round-trip semantics.
  */
class Queries17Spec extends SparkSpec {
  import spark.implicits._

  test("q184 map HOFs compute the hand values on a 2-key map") {
    // mq = {1 -> 30000, 2 -> 50000}, mc = {1 -> 2, 2 -> 1}
    val li = Seq((9L, 1L, 1.0, 0.0), (9L, 1L, 2.0, 0.0),
      (9L, 2L, 5.0, 0.0))
      .toDF("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    val perLine = li.groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(sum((col("l_quantity").cast(DecimalType(25, 4)) * 10000)
        .cast(LongType)).as("sq"), count(lit(1)).as("cnt"))
    val out = perLine.groupBy(col("l_orderkey"))
      .agg(map_from_entries(sort_array(collect_list(
        struct(col("l_linenumber"), col("sq"))))).as("mq"),
        map_from_entries(sort_array(collect_list(
          struct(col("l_linenumber"), col("cnt"))))).as("mc"))
      .select(
        size(map_filter(col("mq"), (k, _) => k <= 1)).as("small"),
        aggregate(map_keys(transform_keys(col("mq"), (k, _) => k + 100)),
          lit(0L), (a, x) => a + x).as("ks"),
        aggregate(map_values(transform_values(col("mq"), (_, v) => v * 2)),
          lit(0L), (a, x) => a + x).as("dbl"),
        aggregate(map_values(map_zip_with(col("mq"), col("mc"),
          (_, v1, v2) => v1 * v2)), lit(0L), (a, x) => a + x).as("dot"))
      .head()
    assert(out.getInt(0) == 1)
    assert(out.getLong(1) == 101 + 102) // keys shifted by 100
    assert(out.getLong(2) == 2 * (30000 + 50000))
    assert(out.getLong(3) == 30000 * 2 + 50000 * 1)
  }

  test("q186 string battery matches hand-computed fixtures") {
    val df = Seq(("small ring", "ECONOMY")).toDF("p_name", "p_type")
    val r = df.select(
      levenshtein(col("p_name"), lower(col("p_type"))).as("lev"),
      translate(col("p_name"), "aeiou", "AEIOU").as("tr"),
      lpad(col("p_type"), 12, "*").as("lp"),
      reverse(col("p_name")).as("rev"),
      repeat(substring(col("p_name"), 1, 2), 3).as("rep"),
      ascii(col("p_name")).as("asc"),
      instr(col("p_name"), "e").as("pos_e"),
      substring_index(col("p_name"), " ", 1).as("fw"),
      col("p_name").substr(length(col("p_name")) - 1, lit(2)).as("r2"))
      .head()
    // levenshtein("small ring", "economy") = 10 (DuckDB agrees;
    // cross-engine parity is what the q186 oracle certifies)
    assert(r.getInt(0) == 10)
    assert(r.getString(1) == "smAll rIng")
    assert(r.getString(2) == "*****ECONOMY")
    assert(r.getString(3) == "gnir llams")
    assert(r.getString(4) == "smsmsm")
    assert(r.getInt(5) == 115) // 's'
    assert(r.getInt(6) == 0)   // no 'e' in "small ring"
    assert(r.getString(7) == "small")
    assert(r.getString(8) == "ng")
  }

  test("q188 variant_get misses yield NULL via try_variant_get and " +
      "the semantic round trip holds") {
    val df = Seq("""{"k": 42}""").toDF("props")
    val v = parse_json(col("props"))
    val r = df.select(
      variant_get(v, "$.k", "bigint").as("k"),
      try_variant_get(v, "$.missing", "bigint").as("miss"),
      (variant_get(parse_json(to_json(v)), "$.k", "bigint") ===
        variant_get(v, "$.k", "bigint")).as("rt"))
      .head()
    assert(r.getLong(0) == 42L)
    assert(r.isNullAt(1))
    assert(r.getBoolean(2))
  }

  test("q158/q188 round-trip flags are null-safe: a props row " +
      "without $.k still counts as preserved (n_rt == n)") {
    // the real gates against a fixture corpus whose click group holds
    // a k-less row — under the old null-unsafe === this row silently
    // fell out of n_rt, diverging from the oracle's count(*)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_nullk").toString
    try {
      val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      Seq(
        (1L, ts, 10L, "click", 1.0, """{"k": 5}"""),
        (2L, ts, 11L, "click", 1.0, """{"x": 1}"""), // no $.k
        (3L, ts, 12L, "view", 2.0, """{"k": 7}"""))
        .toDF("event_id", "ts", "user_id", "event_type", "value",
          "props")
        .write.parquet(s"$dir/events.parquet")
      for (rows <- Seq(RelationalGates.q158JsonOps(spark, dir).collect(),
          FormatGates.q188Variant(spark, dir).collect())) {
        assert(rows.length === 2)
        rows.foreach { r =>
          assert(r.getAs[Long]("n_rt") === r.getAs[Long]("n"),
            s"round trip lost a row in group ${r.getString(0)}")
        }
        val click = rows.find(_.getString(0) == "click").get
        assert(click.getAs[Long]("n") === 2L) // k-less row included
        assert(click.getAs[Long]("sum_k") === 5L) // null k not summed
      }
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("q187 sentinel convention: negative keys hold no state and " +
      "the ns->ms timer floor keeps expiry within the session gap") {
    // ms-floored expiry is at most 1 ms before lastTs+gap in ns —
    // dwarfed by the 30 min margin between gap and watermark delay
    val lastNs = 1700000000123456789L
    val expiryMs = lastNs / 1000000L + graft.streaming.SessionTimers.gapMs
    val exactMs = (lastNs + graft.streaming.SessionTimers.gapNs) / 1000000L
    assert(expiryMs == exactMs || expiryMs == exactMs - 1)
  }
}
