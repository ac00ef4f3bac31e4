package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Functional
import graft.operators.{Sketches, TextAnalysis}

/** Round-11 continuation queries: corpus-hygiene and format operators
  * past q111 — C4-style document filtering, exact-substring span dedup,
  * sketch-based cardinality/membership, ORC round trips, and the
  * composed filter pipeline. Naming/oracle/float conventions as in
  * [[Queries]]; every gate here is fully DuckDB-oracled unless the
  * semantics are sketch-approximate (then the gate self-checks the
  * published error bound in-query via raise_error).
  */
object Queries7 {

  // ---- C4-style document filter ----------------------------------------

  /** C4 document-quality filter (Raffel et al. 2020 §2.2; see
    * TextAnalysis.c4Filter for the rule set and the integer-threshold
    * determinism argument). Emits the verdict for EVERY document —
    * (doc_id, keep, reason) — rather than only survivors, so the oracle
    * checks both directions of every rule. Plan: one scan, pure column
    * expressions (the top-word count is a row-local sorted-run fold),
    * no shuffle. */
  def q112C4Filter(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select($"doc_id", TextAnalysis.c4Filter($"text").as("f"))
      .select($"doc_id", $"f.keep".as("keep"), $"f.reason".as("reason"))
      .orderBy($"doc_id")

  val q112Sql: String =
    """WITH w AS (
      |  SELECT doc_id, text,
      |    string_split_regex(trim(text), '\s+') AS words
      |  FROM documents),
      |u AS (SELECT doc_id, x FROM w, UNNEST(words) AS t(x)),
      |cnt AS (SELECT doc_id, max(c) AS topc FROM (
      |  SELECT doc_id, x, count(*) AS c FROM u GROUP BY 1, 2)
      |  GROUP BY 1),
      |stp AS (SELECT doc_id, count(DISTINCT x) AS nstop FROM u
      |  WHERE x IN ('the','a','of','and','to','in','is','that','it',
      |    'for','on','with','as','are','this')
      |  GROUP BY 1),
      |s AS (SELECT w.doc_id, coalesce(len(words), 0) AS n,
      |    len(regexp_replace(text, '\s', '', 'g')) AS sumlen,
      |    coalesce(topc, 0) AS topc, coalesce(nstop, 0) AS nstop,
      |    (position('lorem ipsum' IN lower(text)) > 0 OR
      |     position('javascript' IN lower(text)) > 0) AS banned
      |  FROM w LEFT JOIN cnt USING (doc_id)
      |         LEFT JOIN stp USING (doc_id)),
      |r AS (SELECT doc_id, CASE
      |    WHEN n < 15 OR n > 10000 THEN 'word_count'
      |    WHEN sumlen * 10 < n * 42 OR sumlen * 10 > n * 100
      |      THEN 'word_length'
      |    WHEN topc * 100 > n * 20 THEN 'repetition'
      |    WHEN nstop < 2 THEN 'stopwords'
      |    WHEN banned THEN 'banned'
      |    ELSE NULL END AS reason
      |  FROM s)
      |SELECT doc_id, reason IS NULL AS keep, reason
      |FROM r ORDER BY doc_id""".stripMargin

  // ---- exact-substring span dedup --------------------------------------

  /** Exact-substring dedup at k = 8 words (Lee et al., ACL 2022; see
    * Dedup.dedupSpans for semantics and the triplets-only shuffle
    * story). The synthetic corpus genuinely contains ~1k duplicated
    * 8-word spans at sf0.01, so removal is exercised, not vacuous.
    * Fully oracled: DuckDB picks winners by span CONTENT (which also
    * witnesses xxhash64 collision-freedom, as in q107), expands loser
    * positions, and rebuilds kept_text from the uncovered words. */
  def q113SpanDedup(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.dedupSpans(Tables(s, dir, "documents"),
        "doc_id", "text", k = 8)
      .select($"id".as("doc_id"), $"kept_text", $"n_removed")
      .orderBy($"doc_id")

  val q113Sql: String =
    """WITH w AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, i - 1 AS pos,
      |    array_to_string(words[(i):(i+7)], ' ') AS gram
      |  FROM w, UNNEST(range(1, len(words) - 8 + 2)) AS t(i)),
      |r AS (
      |  SELECT doc_id, pos,
      |    ROW_NUMBER() OVER (PARTITION BY gram ORDER BY doc_id, pos)
      |      AS rk
      |  FROM g),
      |cov AS (
      |  SELECT DISTINCT doc_id, pos + j.j AS cp
      |  FROM r, UNNEST(range(0, 8)) AS j(j) WHERE rk > 1),
      |wp AS (
      |  SELECT doc_id, i - 1 AS wpos, words[i] AS word
      |  FROM w, UNNEST(range(1, len(words) + 1)) AS t(i)),
      |kept AS (
      |  SELECT wp.doc_id,
      |    string_agg(word, ' ' ORDER BY wpos) AS kept_text
      |  FROM wp LEFT JOIN cov
      |    ON wp.doc_id = cov.doc_id AND wp.wpos = cov.cp
      |  WHERE cov.doc_id IS NULL GROUP BY wp.doc_id),
      |nrem AS (SELECT doc_id, count(*) AS n_removed FROM cov GROUP BY 1)
      |SELECT w.doc_id, coalesce(kept_text, '') AS kept_text,
      |  coalesce(n_removed, 0) AS n_removed
      |FROM w LEFT JOIN kept USING (doc_id) LEFT JOIN nrem USING (doc_id)
      |ORDER BY w.doc_id""".stripMargin

  // ---- sketch cardinality (HLL + Count-Min) ------------------------------

  /** Sketch-based counting vs exact (Sketches.approxDistinct /
    * cmsCounts): per-lang distinct 8-word shingles — ~5k per lang, past
    * the HLL++ sparse/dense switch at rsd 0.05, so real register
    * estimation is exercised, not the exact sparse mode. The oracled
    * output is the EXACT distinct count (the small-SF baseline); the
    * sketches are checked in-gate: the deterministic HLL estimate must
    * sit within 4 sigma (20%) of exact per lang, and every Count-Min
    * word-count estimate must obey true <= est <= true + eps*N (CMS
    * never undercounts; the grid is seeded, so the bound is a pinned
    * fact, not a flake). At 100 TB the HLL column IS the plan — one
    * scan, fixed-size registers, no shuffle of values — where the
    * exact count here shuffles every distinct shingle. */
  def q114SketchDistinct(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val grams = docs.select($"lang",
      explode(when(size(TextAnalysis.tokens($"text")) >= 8,
        Functional.wordShingles($"text", 8))
        .otherwise(typedLit(Seq.empty[String]))).as("gram"))
    val exact = grams.groupBy($"lang")
      .agg(count_distinct($"gram").as("nd_exact"))
    val worstRow = exact
      .join(Sketches.approxDistinct(grams, Seq("lang"), "gram", rsd = 0.05),
        "lang")
      .agg(max(abs($"nd_approx" - $"nd_exact").cast(DoubleType) /
        $"nd_exact".cast(DoubleType)).as("e"))
      .head()
    require(!worstRow.isNullAt(0),
      "q114: no lang has any >=8-token document — empty gram population")
    val worst = worstRow.getDouble(0)
    require(worst <= 0.20,
      f"q114: HLL relative error $worst%.4f above the 4-sigma bound " +
        "0.20 at rsd 0.05")
    // Count-Min: the exact word-count table is vocabulary-sized, so
    // collecting it as the truth side is bounded
    val words = docs.select(explode(TextAnalysis.tokens($"text")).as("w"))
    val eps = 0.001
    val cms = Sketches.cmsCounts(words, "w", eps, confidence = 0.99,
      seed = 42)
    val slack = math.ceil(eps * cms.totalCount()).toLong
    words.groupBy($"w").agg(count(lit(1)).as("c")).collect().foreach { r =>
      val (w, c) = (r.getString(0), r.getLong(1))
      val est = cms.estimateCount(w)
      require(est >= c && est <= c + slack,
        s"q114: CMS estimate $est for '$w' outside [$c, ${c + slack}]")
    }
    exact.withColumn("hll_ok", lit(true)).withColumn("cms_ok", lit(true))
      .orderBy($"lang")
  }

  val q114Sql: String =
    """WITH w AS (
      |  SELECT lang, string_split_regex(trim(text), '\s+') AS words
      |  FROM documents),
      |g AS (
      |  SELECT lang, array_to_string(words[(i):(i+7)], ' ') AS gram
      |  FROM w, UNNEST(range(1, len(words) - 8 + 2)) AS t(i))
      |SELECT lang, count(DISTINCT gram) AS nd_exact,
      |  true AS hll_ok, true AS cms_ok
      |FROM g GROUP BY lang ORDER BY lang""".stripMargin

  // ---- bloom semi-join prefilter ----------------------------------------

  /** Bloom-prefiltered semi-join (Sketches.bloomPrefilter — the
    * explicit form of Spark's runtime row-group filters): lineitem
    * rows are pre-filtered by a bounded binary sketch of the qualifying
    * part keys (codegen'd probe on the scan, no join, no shuffle), then
    * the exact semi-join removes the false positives. In-gate checks:
    * the prefilter must preserve EVERY true match (bloom false
    * negatives are impossible — a drop is a bug), and the measured
    * false-positive rate must stay under 3x the 0.01 target (the
    * sketch is deterministic, so this is pinned, not sampled). The
    * oracled output is the exact post-join aggregate. */
  def q115BloomSemijoin(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
    val keys = Tables(s, dir, "part").where($"p_size" < 10).select($"p_partkey")
    val pre = Sketches.bloomPrefilter(li, "l_partkey", keys, "p_partkey",
      expectedItems = keys.count(), fpp = 0.01)
    val exact = pre.join(broadcast(keys), $"l_partkey" === $"p_partkey",
      "left_semi")
    val directCount = li.join(broadcast(keys),
      $"l_partkey" === $"p_partkey", "left_semi").count()
    val exactCount = exact.count()
    require(exactCount == directCount,
      s"q115: bloom prefilter dropped true matches ($exactCount vs " +
        s"$directCount) — false negatives are impossible, this is a bug")
    val liCount = li.count()
    val fpRate = (pre.count() - exactCount).toDouble /
      math.max(1L, liCount - exactCount)
    require(fpRate <= 0.03,
      f"q115: bloom false-positive rate $fpRate%.4f above 3x the 0.01 " +
        "target")
    exact.groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"), dsum($"l_quantity").as("sum_qty"))
      .withColumn("no_false_negatives", lit(true))
      .withColumn("fp_ok", lit(true))
      .orderBy($"l_returnflag")
  }

  val q115Sql: String =
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE)
      |    AS sum_qty,
      |  true AS no_false_negatives, true AS fp_ok
      |FROM lineitem
      |WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size < 10)
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---- ORC round trip ----------------------------------------------------

  /** ORC sink/source round trip, the q102/q103 contract for the third
    * columnar format Spark ships natively: a five-type lineitem
    * projection (int64, int32, double, string, timestamp_ntz) written
    * to ORC and read back with an explicit schema must hash-match the
    * parquet original row-for-row — byte fidelity through the
    * encode/decode including the timestamp column. */
  def q116OrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val path = "/tmp/graft_formats/orc_lineitem"
    Tables(s, dir, "lineitem")
      .select($"l_orderkey", $"l_linenumber", $"l_quantity",
        $"l_returnflag", $"l_shipdate")
      .write.mode("overwrite").orc(path)
    s.read.schema(StructType(Seq(
        StructField("l_orderkey", LongType),
        StructField("l_linenumber", IntegerType),
        StructField("l_quantity", DoubleType),
        StructField("l_returnflag", StringType),
        StructField("l_shipdate", TimestampNTZType))))
      .orc(path)
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  val q116Sql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag,
      |  l_shipdate
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---- composed hygiene pipeline -----------------------------------------

  /** The composed corpus-hygiene pipeline — the shape a real
    * pretraining-data run chains: C4 quality filter (q112) → exact
    * substring span dedup over the SURVIVORS (q113 — running dedup
    * after filtering changes the winners, which is exactly what the
    * composition must get right) → post-dedup length re-filter
    * (documents hollowed out by span removal drop). Fully oracled:
    * DuckDB chains the q112 and q113 CTEs over the same intermediate
    * population. Output = surviving (doc_id, n_words_final). */
  def q117HygienePipeline(s: SparkSession, dir: String): DataFrame = {
    val kept = Tables(s, dir, "documents")
      .where(TextAnalysis.c4Filter($"text").getField("keep"))
    graft.operators.Dedup.dedupSpans(kept, "doc_id", "text", k = 8)
      .select($"id".as("doc_id"),
        ($"n_words" - $"n_removed").as("n_words_final"))
      .where($"n_words_final" >= 15)
      .orderBy($"doc_id")
  }

  val q117Sql: String =
    """WITH w0 AS (
      |  SELECT doc_id, text,
      |    string_split_regex(trim(text), '\s+') AS words
      |  FROM documents),
      |u AS (SELECT doc_id, x FROM w0, UNNEST(words) AS t(x)),
      |cnt AS (SELECT doc_id, max(c) AS topc FROM (
      |  SELECT doc_id, x, count(*) AS c FROM u GROUP BY 1, 2)
      |  GROUP BY 1),
      |stp AS (SELECT doc_id, count(DISTINCT x) AS nstop FROM u
      |  WHERE x IN ('the','a','of','and','to','in','is','that','it',
      |    'for','on','with','as','are','this')
      |  GROUP BY 1),
      |keepers AS (
      |  SELECT w0.doc_id, words FROM w0
      |  LEFT JOIN cnt USING (doc_id) LEFT JOIN stp USING (doc_id)
      |  WHERE NOT (len(words) < 15 OR len(words) > 10000)
      |    AND NOT (len(regexp_replace(text, '\s', '', 'g')) * 10
      |             < len(words) * 42
      |          OR len(regexp_replace(text, '\s', '', 'g')) * 10
      |             > len(words) * 100)
      |    AND NOT (coalesce(topc, 0) * 100 > len(words) * 20)
      |    AND NOT (coalesce(nstop, 0) < 2)
      |    AND NOT (position('lorem ipsum' IN lower(text)) > 0 OR
      |             position('javascript' IN lower(text)) > 0)),
      |g AS (
      |  SELECT doc_id, i - 1 AS pos,
      |    array_to_string(words[(i):(i+7)], ' ') AS gram
      |  FROM keepers, UNNEST(range(1, len(words) - 8 + 2)) AS t(i)),
      |r AS (
      |  SELECT doc_id, pos,
      |    ROW_NUMBER() OVER (PARTITION BY gram ORDER BY doc_id, pos)
      |      AS rk
      |  FROM g),
      |cov AS (
      |  SELECT DISTINCT doc_id, pos + j.j AS cp
      |  FROM r, UNNEST(range(0, 8)) AS j(j) WHERE rk > 1),
      |nrem AS (SELECT doc_id, count(*) AS n_removed FROM cov GROUP BY 1)
      |SELECT k.doc_id,
      |  len(words) - coalesce(n_removed, 0) AS n_words_final
      |FROM keepers k LEFT JOIN nrem USING (doc_id)
      |WHERE len(words) - coalesce(n_removed, 0) >= 15
      |ORDER BY k.doc_id""".stripMargin

  // ---- native session windows --------------------------------------------

  /** Session windows via Spark's native `session_window` (the built-in
    * gaps-and-islands operator — complementary to q23's
    * mapGroupsWithState sessionizer, which demonstrates CUSTOM state;
    * this is the declarative form Catalyst can optimize). 30-minute
    * gap; window end = last event + gap; an event at EXACTLY gap
    * distance MERGES into the session (Spark's merge condition is
    * sessionStart <= currentSessionEnd — adjacency counts), which the
    * oracle's strict `> gap` break condition mirrors; pinned against a
    * hand-built exact-gap fixture in Queries7Spec. Event-time ns are
    * truncated to µs identically on both sides. */
  def q118SessionWindow(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .groupBy($"user_id",
        session_window(timestamp_micros(expr("ts div 1000")),
          "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id", unix_micros($"sw.start").as("start_us"),
        unix_micros($"sw.end").as("end_us"), $"n_events")
      .orderBy($"user_id", $"start_us")

  val q118Sql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS us FROM events),
      |x AS (
      |  SELECT user_id, us,
      |    CASE WHEN lag(us) OVER w IS NULL
      |           OR us - lag(us) OVER w > 1800000000
      |         THEN 1 ELSE 0 END AS brk
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
      |y AS (
      |  SELECT user_id, us,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY us
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM x)
      |SELECT user_id, min(us) AS start_us,
      |  max(us) + 1800000000 AS end_us, count(*) AS n_events
      |FROM y GROUP BY user_id, sid ORDER BY user_id, start_us""".stripMargin

  // ---- hive-partitioned at-rest layout ------------------------------------

  /** Hive-style partitioned at-rest layout — the directory-pruning
    * complement of q92's bucketing: lineitem written
    * `partitionBy(l_returnflag)`, then a partition-key filter must
    * read ONLY the matching directory. The gate asserts the pruning
    * at the FILE level (`inputFiles` all under `l_returnflag=R/`) —
    * stronger than a plan-string check — then aggregates the pruned
    * scan; the oracle recomputes from the unpartitioned original. At
    * 100 TB this layout turns a full-corpus scan into a
    * 1/|partitions| scan for partition-aligned predicates. */
  def q119PartitionedScan(s: SparkSession, dir: String): DataFrame = {
    val path = "/tmp/graft_formats/part_lineitem"
    Tables(s, dir, "lineitem")
      .select($"l_orderkey", $"l_linenumber", $"l_quantity",
        $"l_returnflag")
      .write.mode("overwrite").partitionBy("l_returnflag").parquet(path)
    val pruned = s.read.parquet(path).where($"l_returnflag" === "R")
    // pruning witness, file-level: execute THIS plan instance and read
    // the scan's numFiles metric (Dataset.inputFiles is pre-pruning —
    // it lists the whole relation)
    val qe = pruned.queryExecution
    qe.toRdd.count()
    val scan = planNodes(qe.executedPlan).collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(sys.error(s"q119: no file scan in:\n${qe.executedPlan}"))
    require(scan.toString().contains("PartitionFilters"),
      s"q119: scan carries no partition filter:\n$scan")
    val filesRead = scan.metrics("numFiles").value
    val totalFiles = s.read.parquet(path).inputFiles.length
    require(filesRead > 0 && filesRead < totalFiles,
      s"q119: partition pruning failed — read $filesRead of " +
        s"$totalFiles files")
    pruned.groupBy($"l_linenumber")
      .agg(count(lit(1)).as("n"), dsum($"l_quantity").as("sum_qty"))
      .withColumn("pruned_ok", lit(true))
      .orderBy($"l_linenumber")
  }

  val q119Sql: String =
    """SELECT l_linenumber, count(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE)
      |    AS sum_qty,
      |  true AS pruned_ok
      |FROM lineitem WHERE l_returnflag = 'R'
      |GROUP BY l_linenumber ORDER BY l_linenumber""".stripMargin

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q112_c4_filter" -> (q112C4Filter _),
    "q113_span_dedup" -> (q113SpanDedup _),
    "q114_sketch_distinct" -> (q114SketchDistinct _),
    "q115_bloom_semijoin" -> (q115BloomSemijoin _),
    "q116_orc_roundtrip" -> (q116OrcRoundtrip _),
    "q117_hygiene_pipeline" -> (q117HygienePipeline _),
    "q118_session_window" -> (q118SessionWindow _),
    "q119_partitioned_scan" -> (q119PartitionedScan _)
  )

  val oracles: Map[String, String] = Map(
    "q112_c4_filter" -> q112Sql,
    "q113_span_dedup" -> q113Sql,
    "q114_sketch_distinct" -> q114Sql,
    "q115_bloom_semijoin" -> q115Sql,
    "q116_orc_roundtrip" -> q116Sql,
    "q117_hygiene_pipeline" -> q117Sql,
    "q118_session_window" -> q118Sql,
    "q119_partitioned_scan" -> q119Sql
  )
}
