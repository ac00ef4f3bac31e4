package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Skew

/** Round-13 session gates: SCD2 dimension build (q224), blocked
  * entity resolution (q225), data-quality constraint report (q226),
  * parquet schema evolution (q227), and capped triangle counting
  * (q228). Naming/oracle/float conventions as in [[Queries]].
  */
object Queries30 {

  // ---- q224: SCD2 (slowly-changing dimension, type 2) ---------------------

  /** Build SCD2 history from an update log: orders as versioned status
    * updates per customer — one row per status CHANGE carrying
    * [valid_from, valid_to) and an is_current flag. The warehouse
    * primitive behind every dimension table that must answer "what was
    * this entity's state at time T".
    *
    * Shape: ONE shuffle on the entity key; the lag (change detection),
    * the filter, and the lead (validity close) all share the same
    * (key, eff, ver) partitioning+ordering, so Catalyst plans a single
    * Exchange+Sort with stacked Window nodes — the filter between them
    * preserves order. At 100 TB this is exactly the nightly dim-build:
    * update-log-sized shuffle, no self-join, no driver state.
    * (ver = o_orderkey breaks same-timestamp ties, making both the
    * change detection and the validity intervals engine-portable.) */
  def q224Scd2(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"custkey").orderBy($"eff", $"ver")
    val upd = Tables(s, dir, "orders")
      .select($"o_custkey".as("custkey"),
        $"o_orderdate".cast(TimestampType).as("eff"),
        $"o_orderkey".as("ver"),
        $"o_orderstatus".as("status"))
    val changed = upd
      .withColumn("__prev", lag($"status", 1).over(w))
      .where($"__prev".isNull || $"__prev" =!= $"status")
    changed
      .withColumn("__next_eff", lead($"eff", 1).over(w))
      .select($"custkey",
        unix_micros($"eff").as("valid_from"),
        unix_micros($"__next_eff").as("valid_to"), // null while current
        $"status",
        $"__next_eff".isNull.as("is_current"),
        $"ver".as("from_ver"))
      .orderBy($"custkey", $"valid_from", $"from_ver")
  }

  val q224Sql: String =
    """WITH upd AS (
      |  SELECT o_custkey AS custkey, o_orderdate AS eff,
      |    o_orderkey AS ver, o_orderstatus AS status
      |  FROM orders),
      |ch AS (
      |  SELECT *, lag(status) OVER
      |    (PARTITION BY custkey ORDER BY eff, ver) AS prev
      |  FROM upd),
      |scd AS (
      |  SELECT custkey, eff, ver, status FROM ch
      |  WHERE prev IS NULL OR prev <> status)
      |SELECT custkey, epoch_us(eff) AS valid_from,
      |  epoch_us(lead(eff) OVER
      |    (PARTITION BY custkey ORDER BY eff, ver)) AS valid_to,
      |  status,
      |  (lead(eff) OVER (PARTITION BY custkey ORDER BY eff, ver)
      |    IS NULL) AS is_current,
      |  ver AS from_ver
      |FROM scd ORDER BY custkey, valid_from, from_ver""".stripMargin

  // ---- q225: entity resolution (blocked + edit-distance verify) -----------

  /** Record linkage with DUAL BLOCKING: the corpus is part names plus
    * planted single-character substitutions (one per part under id
    * 300, mutated mid-string at a deterministic position, new ids
    * offset by 1,000,000). Candidates come from two blocking passes —
    * (length, first-2-chars) and (length, last-2-chars) — which is
    * COMPLETE for substitution edits by pigeonhole: one substitution
    * cannot hit both the first two and the last two characters of a
    * name longer than 4 chars. Blocks are capped via [[Skew.capGroups]]
    * (drop-accounted) before the quadratic verify; exact
    * `levenshtein ≤ 1` confirms. The oracle replays blocking, cap, and
    * distance — so a green row certifies completeness AND the cap
    * arithmetic. At 100 TB: only (block-key, id, name) pairs shuffle,
    * the verify is confined to capped blocks (≤ cap² each), and the
    * planted containment is asserted in-gate. */
  def q225EntityResolution(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir, "part").where($"p_partkey" < 300)
      .select($"p_partkey".as("id"), $"p_name".as("name"))
    // mutate one mid-string char to 'q' at pos 3 + id % (len-4): never
    // the first two or last two chars, so both blocks still match
    val pos = lit(3) + ($"id" % (length($"name") - 4)).cast(IntegerType)
    val variants = base
      .where(length($"name") > 6)
      .select(($"id" + 1000000L).as("id"),
        concat(substring2($"name", lit(1), pos - 1), lit("q"),
          substring2($"name", pos + 1, length($"name"))).as("name"))
    val corpus = base.unionByName(variants)
    def blocked(key: Column): DataFrame = {
      val keyed = corpus.select(key.as("bk"), $"id", $"name")
      val cap = Skew.capGroups(keyed, Seq("bk"), Seq($"id"), 64)
      val l = cap.kept.select($"bk", $"id".as("id_a"), $"name".as("n_a"))
      val r = cap.kept.select($"bk", $"id".as("id_b"), $"name".as("n_b"))
      l.join(r, Seq("bk")).where($"id_a" < $"id_b")
        .select($"id_a", $"id_b", $"n_a", $"n_b")
    }
    val cands = blocked(
        concat(length($"name").cast(StringType), lit("|"),
          substring($"name", 1, 2)))
      .unionByName(blocked(
        concat(length($"name").cast(StringType), lit("|"),
          substring2($"name", length($"name") - 1, lit(2)))))
      .distinct()
    val matches = cands
      .select($"id_a", $"id_b",
        levenshtein($"n_a", $"n_b").as("dist"))
      .where($"dist" <= 1)
    // planted containment: every variant must match its source
    val planted = matches
      .where($"id_b" >= 1000000L && $"id_b" - 1000000L === $"id_a")
    // recall floor as a LAZY in-query invariant (no job at gate
    // construction — SchemaContractSpec derives schemas without
    // running work): both counts are 1-row aggregates compared in
    // the expression layer
    val check = planted.agg(count(lit(1)).as("__found"))
      .crossJoin(variants.agg(count(lit(1)).as("__planted")))
      .select(when($"__found" === $"__planted", lit(true))
        .otherwise(raise_error(concat(
          lit("q225: planted recall "), $"__found".cast(StringType),
          lit(" of "), $"__planted".cast(StringType)))).as("recall_ok"))
    matches.crossJoin(broadcast(check))
      .orderBy($"id_a", $"id_b")
  }

  // Spark's substring() wants literal ints; this is the expression
  // form (substr(col, pos_expr, len_expr)) both engines share
  private def substring2(c: Column, pos: Column, len: Column): Column =
    c.substr(pos, len)

  val q225Sql: String =
    """WITH base AS (
      |  SELECT p_partkey AS id, p_name AS name FROM part
      |  WHERE p_partkey < 300),
      |variants AS (
      |  SELECT id + 1000000 AS id,
      |    substr(name, 1, CAST(3 + id % (length(name) - 4) AS INTEGER) - 1)
      |      || 'q' ||
      |    substr(name, CAST(3 + id % (length(name) - 4) AS INTEGER) + 1)
      |      AS name
      |  FROM base WHERE length(name) > 6),
      |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM variants),
      |hb AS (
      |  SELECT CAST(length(name) AS VARCHAR) || '|' || substr(name, 1, 2)
      |    AS bk, id, name FROM corpus),
      |tb AS (
      |  SELECT CAST(length(name) AS VARCHAR) || '|' ||
      |    substr(name, length(name) - 1, 2) AS bk, id, name FROM corpus),
      |hc AS (SELECT bk, id, name FROM
      |  (SELECT *, row_number() OVER (PARTITION BY bk ORDER BY id) AS rn
      |   FROM hb) WHERE rn <= 64),
      |tc AS (SELECT bk, id, name FROM
      |  (SELECT *, row_number() OVER (PARTITION BY bk ORDER BY id) AS rn
      |   FROM tb) WHERE rn <= 64),
      |cands AS (
      |  SELECT DISTINCT l.id AS id_a, r.id AS id_b,
      |    l.name AS n_a, r.name AS n_b
      |  FROM hc l JOIN hc r ON l.bk = r.bk AND l.id < r.id
      |  UNION
      |  SELECT DISTINCT l.id AS id_a, r.id AS id_b,
      |    l.name AS n_a, r.name AS n_b
      |  FROM tc l JOIN tc r ON l.bk = r.bk AND l.id < r.id)
      |SELECT id_a, id_b, CAST(levenshtein(n_a, n_b) AS INTEGER) AS dist,
      |  true AS recall_ok
      |FROM cands WHERE levenshtein(n_a, n_b) <= 1
      |ORDER BY id_a, id_b""".stripMargin

  // ---- q226: data-quality constraint report -------------------------------

  /** The Deequ-style one-shot DQ report: named constraints over the
    * star schema — primary-key uniqueness, referential integrity
    * (left-anti count), domain membership, range bounds, and
    * completeness — each emitted as (constraint, violations, checked).
    * Production shape: every check is a map-side-partial aggregate or
    * one semi-join; the report is constraints-sized, never row-sized,
    * and a scheduler alerts on violations > 0 instead of eyeballing
    * dashboards. */
  def q226DqReport(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables(s, dir, "orders")
    val li = Tables(s, dir, "lineitem")
    val ev = Tables(s, dir, "events")
    def row(name: String, violations: Column, checked: Column,
        df: DataFrame): DataFrame =
      df.agg(violations.cast(LongType).as("violations"),
        checked.cast(LongType).as("checked"))
        .select(lit(name).as("check_name"), $"violations", $"checked",
          ($"violations" === 0L).as("passed"))
    val pkUnique = row("orders_pk_unique",
      count(lit(1)) - countDistinct($"o_orderkey"), count(lit(1)), orders)
    // violations come from the anti-join; checked is the number of
    // rows the constraint COVERS (all of lineitem) — reporting the
    // anti-join count for both would make checked==violations always
    val fk = li.select($"l_orderkey")
      .join(orders.select($"o_orderkey"),
        $"l_orderkey" === $"o_orderkey", "left_anti")
      .agg(count(lit(1)).cast(LongType).as("violations"))
      .crossJoin(li.agg(count(lit(1)).cast(LongType).as("checked")))
      .select(lit("lineitem_fk_orders").as("check_name"),
        $"violations", $"checked", ($"violations" === 0L).as("passed"))
    val qtyRange = row("lineitem_qty_in_1_50",
      sum(when($"l_quantity".between(1, 50), 0L).otherwise(1L)),
      count(lit(1)), li)
    val domain = row("orders_status_domain",
      sum(when($"o_orderstatus".isin("F", "O", "P"), 0L).otherwise(1L)),
      count(lit(1)), orders)
    val complete = row("events_props_complete",
      sum(when($"props".isNull, 1L).otherwise(0L)), count(lit(1)), ev)
    pkUnique.unionByName(fk).unionByName(qtyRange)
      .unionByName(domain).unionByName(complete)
      .orderBy($"check_name")
  }

  val q226Sql: String =
    """SELECT * FROM (
      |  SELECT 'orders_pk_unique' AS check_name,
      |    CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
      |      AS violations,
      |    count(*) AS checked,
      |    (count(*) - count(DISTINCT o_orderkey)) = 0 AS passed
      |  FROM orders
      |  UNION ALL
      |  SELECT 'lineitem_fk_orders',
      |    CAST(count(*) AS BIGINT),
      |    (SELECT count(*) FROM lineitem),
      |    count(*) = 0
      |  FROM lineitem l WHERE NOT EXISTS
      |    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
      |  UNION ALL
      |  SELECT 'lineitem_qty_in_1_50',
      |    CAST(sum(CASE WHEN l_quantity BETWEEN 1 AND 50
      |      THEN 0 ELSE 1 END) AS BIGINT),
      |    count(*),
      |    sum(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 0 ELSE 1 END) = 0
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'orders_status_domain',
      |    CAST(sum(CASE WHEN o_orderstatus IN ('F','O','P')
      |      THEN 0 ELSE 1 END) AS BIGINT),
      |    count(*),
      |    sum(CASE WHEN o_orderstatus IN ('F','O','P')
      |      THEN 0 ELSE 1 END) = 0
      |  FROM orders
      |  UNION ALL
      |  SELECT 'events_props_complete',
      |    CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |    count(*),
      |    sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) = 0
      |  FROM events)
      |ORDER BY check_name""".stripMargin

  // ---- q227: parquet schema evolution (mergeSchema) ------------------------

  /** Schema evolution at the file level: two staged parquet
    * generations — gen1 (doc_id, n_chars), gen2 adds a `lang` column —
    * read back as ONE table under mergeSchema=true; gen1 rows surface
    * lang = NULL. This is how a 100 TB lake absorbs a producer adding
    * a column mid-stream without rewriting history: schema union at
    * plan time, per-file projection at scan time (the missing column
    * costs nothing to "read"). The oracle replays the expected merged
    * semantics from the source table directly. */
  def q227SchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    // Fs.scratchDir (round 22): tmpfs-backed when roomy — the staged
    // two-generation table is harness scaffolding, not the measured
    // operator; disk fsync on /tmp was pure overhead
    val stage = Fs.scratchDir("evo")
    try {
      docs.where($"doc_id" % 2 === 0)
        .select($"doc_id", $"n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$stage/gen=1")
      docs.where($"doc_id" % 2 === 1)
        .select($"doc_id", $"n_chars", $"lang")
        .coalesce(1).write.mode("overwrite").parquet(s"$stage/gen=2")
      val merged = s.read.option("mergeSchema", "true").parquet(stage)
      require(merged.schema.fieldNames.contains("lang"),
        "q227: merged schema lost the evolved column")
      val agg = merged
        .groupBy(coalesce($"lang", lit("__pre_evolution")).as("lang"))
        .agg(count(lit(1)).as("n"),
          sum($"n_chars").cast(LongType).as("chars"),
          min($"doc_id").as("min_id"), max($"doc_id").as("max_id"))
        .orderBy($"lang")
      // materialize before the finally deletes the staged files
      import scala.jdk.CollectionConverters._
      s.createDataFrame(agg.collect().toSeq.asJava, agg.schema)
        .orderBy($"lang")
    } finally {
      Fs.rmTree(new java.io.File(stage))
    }
  }

  val q227Sql: String =
    """SELECT CASE WHEN doc_id % 2 = 1 THEN coalesce(lang,
      |    '__pre_evolution')
      |  ELSE '__pre_evolution' END AS lang,
      |  count(*) AS n,
      |  CAST(sum(n_chars) AS BIGINT) AS chars,
      |  min(doc_id) AS min_id, max(doc_id) AS max_id
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q228: triangle counting (capped adjacency) --------------------------

  /** Triangle counting on the part co-purchase graph (edges = part
    * pairs sharing an order), the clustering-coefficient numerator.
    * Orientation a<b<c kills mirror/rotation duplicates; adjacency
    * lists are capped at 16 via [[Skew.capGroups]] BEFORE the wedge
    * join (dropped pairs accounted), so a hub part costs C(16,2)
    * wedges instead of deg² — the same bound q216 applies to customers.
    * The closing edge check is one more equi-join against the FULL
    * edge set (cheap: wedges are bounded). The oracle replays edge
    * derivation, the identical row_number cap, and both joins. Output:
    * one summary row — edges, capped wedges, triangles, and the
    * honest dropped count. */
  def q228Triangles(s: SparkSession, dir: String): DataFrame = {
    val items = Tables(s, dir, "lineitem")
      .select($"l_orderkey".as("o"), $"l_partkey".as("p")).distinct()
    val edges = items.select($"o", $"p".as("a"))
      .join(items.select($"o", $"p".as("b")), "o")
      .where($"a" < $"b")
      .select($"a", $"b").distinct()
      // materialize ONCE (round 21, guide §2.4/§5): edges feeds four
      // consumers (the cap, the wedge join's semi-probe, the edge
      // count, the dropped accounting) and its lineage is the
      // lineitem-pair self-join — without the checkpoint the plan
      // re-executed that subtree per consumer (28 parquet scans in the
      // before plan, 8 after). Cluster caveat (SCALE.md "localCheckpoint
      // and executor loss"): executor-local blocks are unrecoverable
      // after executor loss; on preemptible capacity use
      // persist(MEMORY_AND_DISK)+count instead (same rows, lineage
      // kept). Measured round 22 (isolated pair-min A/B): persist
      // 4.45 s vs localCheckpoint 2.77 s at sf0.1, 11.4 vs 11.9 s at
      // sf1.0 — the persist form pays an extra scheduled pass over the
      // cached blocks at small scale and ties at sf1.0, so the faster
      // local form stays for the bench; flip on preemptible clusters.
      .localCheckpoint()
    val cap = Skew.capGroups(edges, Seq("a"), Seq($"b"), 16)
    val adj = cap.kept.select($"a", $"b")
    val wedges = adj.select($"a", $"b")
      .join(adj.select($"a".as("a2"), $"b".as("c")),
        $"a" === $"a2" && $"b" < $"c")
      .select($"a", $"b", $"c")
    val tris = wedges.join(edges.toDF("b", "c"), Seq("b", "c"),
      "left_semi")
    val summary = edges.agg(count(lit(1)).as("n_edges"))
      .crossJoin(wedges.agg(count(lit(1)).as("n_wedges")))
      .crossJoin(tris.agg(count(lit(1)).as("n_triangles")))
      .select($"n_edges", $"n_wedges", $"n_triangles")
    cap.attachDroppedPairs(summary, "dropped_wedges")
  }

  val q228Sql: String =
    """WITH items AS (
      |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |edges AS (
      |  SELECT DISTINCT x.p AS a, y.p AS b
      |  FROM items x JOIN items y ON x.o = y.o AND x.p < y.p),
      |adj AS (
      |  SELECT a, b FROM
      |    (SELECT a, b, row_number() OVER
      |      (PARTITION BY a ORDER BY b) AS rn FROM edges)
      |  WHERE rn <= 16),
      |wedges AS (
      |  SELECT x.a, x.b, y.b AS c
      |  FROM adj x JOIN adj y ON x.a = y.a AND x.b < y.b),
      |drops AS (
      |  SELECT CAST(coalesce(sum(d*(d-1)/2 - 16*15/2), 0) AS BIGINT)
      |    AS dropped_wedges
      |  FROM (SELECT a, count(*) AS d FROM edges GROUP BY 1)
      |  WHERE d > 16)
      |SELECT
      |  (SELECT count(*) FROM edges) AS n_edges,
      |  (SELECT count(*) FROM wedges) AS n_wedges,
      |  (SELECT count(*) FROM wedges w WHERE EXISTS
      |    (SELECT 1 FROM edges e WHERE e.a = w.b AND e.b = w.c))
      |    AS n_triangles,
      |  dropped_wedges
      |FROM drops""".stripMargin

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q224_scd2" -> (q224Scd2 _),
    "q225_entity_resolution" -> (q225EntityResolution _),
    "q226_dq_report" -> (q226DqReport _),
    "q227_schema_evolution" -> (q227SchemaEvolution _),
    "q228_triangles" -> (q228Triangles _)
  )

  val oracles: Map[String, String] = Map(
    "q224_scd2" -> q224Sql,
    "q225_entity_resolution" -> q225Sql,
    "q226_dq_report" -> q226Sql,
    "q227_schema_evolution" -> q227Sql,
    "q228_triangles" -> q228Sql
  )
}
