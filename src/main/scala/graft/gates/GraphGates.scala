package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Skew

/** Graph gates: PageRank, triangle counting, link prediction, recursive
  * CTEs and entity resolution by connected components.
  */
object GraphGates extends GateFamily("graph") {

  lazy val gates: Seq[Gate] = Seq(
    Gate("q178_pagerank", q178PageRank, Some(q178Sql),
      eager = Some("5-round localCheckpoint loop with row-count checks")),
    Gate("q216_link_prediction", q216LinkPrediction, Some(q216Sql)),
    Gate("q217_recursive_cte", q217RecursiveCte, Some(q217Sql)),
    Gate("q225_entity_resolution", q225EntityResolution, Some(q225Sql)),
    Gate("q228_triangles", q228Triangles, Some(q228Sql),
      eager = Some("checkpointed degree-capped edge set"))
  )

  // ---- q178: PageRank (integer-exact power iteration) --------------------

  /** PageRank over the customer–supplier interaction graph — the
    * canonical iterative-join workload (dup-graph authority scoring,
    * source reputation for corpus curation). Both engine and oracle
    * run the SAME fixed-point-free formulation: 5 power iterations
    * with every quantity held in INTEGER form — rank starts at
    * SCALE=1e9 per node, a node's contribution is `rank div deg`
    * (floor), and the damped update is `(15·SCALE + 85·S) div 100` —
    * so no float ever crosses the engine boundary and the result is
    * bit-exact at any SF.
    *
    * Graph: distinct (customer, supplier) trade pairs from
    * orders⨝lineitem, symmetrized (random walk on the bipartite
    * graph); node ids disambiguate the two sides (2k / 2k+1). Every
    * node therefore has both in- and out-edges: no dangling-mass term,
    * and the per-iteration inner join is total (asserted).
    *
    * Scale shape: only (node, rank) pairs move per iteration — the
    * edge list is built once, localCheckpoint-ed, and re-joined; at
    * 100 TB the edge list is the pay-once bucketed layout (q92) so the
    * 5 iterations reuse one at-rest partitioning instead of
    * re-shuffling. Rank state is O(|V|), never O(|E|). */
  def q178PageRank(s: SparkSession, dir: String): DataFrame = {
    val SCALE = 1000000000L
    val pairs = Tables(s, dir, "orders")
      .join(Tables(s, dir, "lineitem"),
        $"o_orderkey" === $"l_orderkey")
      .select(($"o_custkey" * 2).as("c"), ($"l_suppkey" * 2 + 1).as("s"))
      .distinct()
    // symmetrize; eager checkpoint so 5 iterations re-join one
    // materialized edge list instead of re-deriving it from the scan
    val edges = pairs.select($"c".as("src"), $"s".as("dst"))
      .unionByName(pairs.select($"s".as("src"), $"c".as("dst")))
      .localCheckpoint()
    val deg = edges.groupBy($"src".as("node"))
      .agg(count(lit(1)).as("deg")).localCheckpoint()
    val nNodes = deg.count()
    var ranks = deg.select($"node", $"deg", lit(SCALE).as("r"))
    for (_ <- 1 to 5) {
      val contrib = ranks
        .join(edges, $"node" === $"src")
        .groupBy($"dst")
        .agg(sum(expr("r div deg")).as("sc"))
      ranks = deg.join(contrib, $"node" === $"dst")
        .select($"node", $"deg",
          // 15·SCALE pre-folded: a 15 * 1000000000 INT product would
          // overflow under ANSI before promotion to BIGINT
          expr(s"(${15 * SCALE} + 85 * sc) div 100").as("r"))
        .localCheckpoint()
      require(ranks.count() == nNodes,
        "q178: an iteration dropped nodes — the symmetric graph " +
          "guarantee (every node has in-edges) was violated")
    }
    ranks.select($"node", $"r".as("rank"))
      .orderBy($"rank".desc, $"node").limit(20)
  }

  val q178Sql: String = {
    def iter(prev: String, cur: String): String =
      s"""$cur AS (
         |  SELECT d.node, d.deg,
         |    CAST((15000000000 + 85 * s.sc) // 100 AS BIGINT) AS r
         |  FROM d JOIN (
         |    SELECT e.dst AS node, sum(r.r // r.deg) AS sc
         |    FROM $prev r JOIN e ON r.node = e.src GROUP BY 1) s
         |  ON d.node = s.node)""".stripMargin
    s"""WITH p AS (
       |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |e AS (SELECT c AS src, s AS dst FROM p
       |      UNION ALL SELECT s, c FROM p),
       |d AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY 1),
       |r0 AS (SELECT node, deg, CAST(1000000000 AS BIGINT) AS r FROM d),
       |${iter("r0", "r1")},
       |${iter("r1", "r2")},
       |${iter("r2", "r3")},
       |${iter("r3", "r4")},
       |${iter("r4", "r5")}
       |SELECT node, r AS rank FROM r5
       |ORDER BY rank DESC, node LIMIT 20""".stripMargin
  }

  // ---- q216: common-neighbor link prediction -----------------------------

  /** Link prediction on the bipartite trade graph: supplier pairs
    * ranked by SHARED CUSTOMERS (common neighbors) with their exact
    * Jaccard overlap — the second-order graph feature behind
    * recommend-a-counterparty. Shape: the (customer, supplier)
    * incidence list self-joins ON CUSTOMER (wedge generation — rows
    * scale as Σ deg(c)²) — CAPPED at [[wedgeCap]] suppliers per
    * customer via [[Skew.capGroups]] (the shared q40 maxBucket
    * discipline), with the honest cost surfaced as a constant
    * `dropped_wedges` column (Σ C(d,2)−C(cap,2) over capped baskets):
    * a hub customer at 100 TB bounds the quadratic step at cap²
    * instead of blowing up the join, and the drop count says exactly
    * how many candidate wedges that bound removed (0 here — sf
    * baskets are ~40 < 64 — asserted by the oracle replaying the SAME
    * cap). Then one pair aggregate; degree table broadcast back.
    * Degrees come from the UNCAPPED incidence list so jaccard
    * denominators stay exact. Integer counts, 6-dp Jaccard from the
    * same integers both engines. Top-20 by (shared desc, pair) —
    * fully deterministic. */
  val wedgeCap = 64

  def q216LinkPrediction(s: SparkSession, dir: String): DataFrame = {
    val cs = Tables(s, dir, "orders")
      .join(Tables(s, dir, "lineitem"), $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("c"), $"l_suppkey".as("sk"))
      .distinct()
    val deg = cs.groupBy($"sk").agg(count(lit(1)).as("deg"))
    val cap = Skew.capGroups(cs, Seq("c"), Seq($"sk"), wedgeCap)
    val basket = cap.kept.select($"c", $"sk")
    // The wedge aggregate is the suite's biggest hash table (Σ C(d,2)
    // wedge rows over ~1e5 distinct supplier pairs): repartitioning
    // the wedges BY PAIR KEY first bounds every task's table to its
    // own key subset, so the aggregate cannot fall back to
    // sort-and-spill when the long-suite JVM runs memory-tight — the
    // 2.8 GB raw-wedge exchange costs ~2 s and buys away the 17→63 s
    // spill mode. At cluster scale the same knob is the safety margin
    // for hub-heavy graphs. Partition COUNT inherits
    // spark.sql.shuffle.partitions / AQE — a pinned constant tuned to
    // one machine would itself bottleneck a 100x scale-up.
    val pairs = basket.select($"c", $"sk".as("a"))
      .join(basket.select($"c", $"sk".as("b")), "c")
      .where($"a" < $"b")
      .repartition($"a", $"b")
      .groupBy($"a", $"b")
      .agg(count(lit(1)).as("shared"))
    cap.attachDroppedPairs(
      pairs
        .join(broadcast(deg.select($"sk".as("a"), $"deg".as("da"))), "a")
        .join(broadcast(deg.select($"sk".as("b"), $"deg".as("db"))), "b")
        .select($"a", $"b", $"shared", $"da", $"db",
          round($"shared" / ($"da" + $"db" - $"shared"), 6).as("jaccard"))
        .orderBy($"shared".desc, $"a", $"b")
        .limit(20),
      name = "dropped_wedges")
  }

  val q216Sql: String =
    """WITH cs AS (
      |  SELECT DISTINCT o_custkey AS c, l_suppkey AS sk
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |deg AS (SELECT sk, count(*) AS deg FROM cs GROUP BY 1),
      |basket AS (
      |  SELECT c, sk FROM (
      |    SELECT c, sk,
      |      row_number() OVER (PARTITION BY c ORDER BY sk) AS rn
      |    FROM cs) WHERE rn <= 64),
      |drops AS (
      |  SELECT CAST(coalesce(sum(d*(d-1)/2 - 64*63/2), 0) AS BIGINT)
      |    AS dropped_wedges
      |  FROM (SELECT c, count(*) AS d FROM cs GROUP BY 1)
      |  WHERE d > 64),
      |pairs AS (
      |  SELECT x.sk AS a, y.sk AS b, count(*) AS shared
      |  FROM basket x JOIN basket y ON x.c = y.c AND x.sk < y.sk
      |  GROUP BY 1, 2)
      |SELECT a, b, shared, da.deg AS da, db.deg AS db,
      |  round(shared / CAST(da.deg + db.deg - shared AS DOUBLE), 6)
      |    AS jaccard, dropped_wedges
      |FROM pairs
      |JOIN deg da ON pairs.a = da.sk
      |JOIN deg db ON pairs.b = db.sk
      |CROSS JOIN drops
      |ORDER BY shared DESC, a, b LIMIT 20""".stripMargin

  // ---- q217: recursive CTE -----------------------------------------------

  /** `WITH RECURSIVE` (new in Spark 4.x) — two classic shapes in one
    * statement, both replayed verbatim by DuckDB: (a) a month SPINE
    * from the data's own min/max order dates — the gap-free calendar
    * axis q141 built with spark.range, now in pure SQL, LEFT-joined
    * so any zero-order month surfaces as a 0 row, not an absent row;
    * (b) a HIERARCHY walk — every customer key ≤ 1023 walks the
    * implicit binary-heap parent chain (k → k div 2) to the root,
    * yielding depth = ⌊log₂ k⌋ and the ancestor-sum, integer-exact.
    *
    * Recursion DEPTH is a count of SEQUENTIAL distributed jobs — the
    * scale lesson this gate carries: a month-at-a-time spine is ~80
    * barriers of per-job overhead (measured 13.8 s at sf0.1 for KB of
    * data), so the spine here seeds all 12 month-of-year rows and
    * recurses BY YEAR — identical output, ~7 rounds, in band. Shape
    * recursions wide-and-shallow; depth, not data, is what costs. */
  def q217RecursiveCte(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "orders").createOrReplaceTempView("q217_ord")
    Tables(s, dir, "customer").createOrReplaceTempView("q217_cust")
    s.sql(
      """WITH RECURSIVE bounds AS (
        |  SELECT date_trunc('MONTH', min(o_orderdate)) AS lo,
        |    date_trunc('MONTH', max(o_orderdate)) AS hi FROM q217_ord),
        |months(m) AS (
        |  SELECT lo + make_interval(0, k) FROM bounds
        |  LATERAL VIEW explode(sequence(0, 11)) AS k
        |  WHERE lo + make_interval(0, k) <= hi
        |  UNION ALL
        |  SELECT m + INTERVAL 1 YEAR FROM months
        |  WHERE m + INTERVAL 1 YEAR <=
        |    (SELECT hi FROM bounds)),
        |per_month AS (
        |  SELECT date_trunc('MONTH', o_orderdate) AS m, count(*) AS n
        |  FROM q217_ord GROUP BY 1),
        |walk(node, anc, d) AS (
        |  SELECT c_custkey, c_custkey, 0 FROM q217_cust
        |  WHERE c_custkey BETWEEN 1 AND 1023
        |  UNION ALL
        |  SELECT node, anc DIV 2, d + 1 FROM walk WHERE anc > 1),
        |hier AS (
        |  SELECT CAST(max(d) AS BIGINT) AS depth,
        |    CAST(sum(anc) AS BIGINT) AS anc_sum, node
        |  FROM walk GROUP BY node)
        |SELECT CAST(unix_micros(CAST(m AS TIMESTAMP)) AS BIGINT)
        |  AS month_us,
        |  coalesce(n, 0) AS n_orders,
        |  (SELECT count(*) FROM hier) AS n_walked,
        |  (SELECT sum(depth) FROM hier) AS depth_sum,
        |  (SELECT sum(anc_sum) FROM hier) AS anc_total
        |FROM months LEFT JOIN per_month USING (m)
        |ORDER BY month_us""".stripMargin)
  }

  val q217Sql: String =
    """WITH RECURSIVE bounds AS (
      |  SELECT date_trunc('MONTH', min(o_orderdate)) AS lo,
      |    date_trunc('MONTH', max(o_orderdate)) AS hi FROM orders),
      |months(m) AS (
      |  SELECT lo + k * INTERVAL 1 MONTH FROM bounds
      |  CROSS JOIN (SELECT unnest(range(12)) AS k)
      |  WHERE lo + k * INTERVAL 1 MONTH <= hi
      |  UNION ALL
      |  SELECT m + INTERVAL 1 YEAR FROM months
      |  WHERE m + INTERVAL 1 YEAR <= (SELECT hi FROM bounds)),
      |per_month AS (
      |  SELECT date_trunc('MONTH', o_orderdate) AS m, count(*) AS n
      |  FROM orders GROUP BY 1),
      |walk(node, anc, d) AS (
      |  SELECT c_custkey, c_custkey, 0 FROM customer
      |  WHERE c_custkey BETWEEN 1 AND 1023
      |  UNION ALL
      |  SELECT node, anc // 2, d + 1 FROM walk WHERE anc > 1),
      |hier AS (
      |  SELECT CAST(max(d) AS BIGINT) AS depth,
      |    CAST(sum(anc) AS BIGINT) AS anc_sum, node
      |  FROM walk GROUP BY node)
      |SELECT CAST(epoch_us(m) AS BIGINT) AS month_us,
      |  coalesce(n, 0) AS n_orders,
      |  (SELECT count(*) FROM hier) AS n_walked,
      |  CAST((SELECT sum(depth) FROM hier) AS BIGINT) AS depth_sum,
      |  CAST((SELECT sum(anc_sum) FROM hier) AS BIGINT) AS anc_total
      |FROM months LEFT JOIN per_month USING (m)
      |ORDER BY month_us""".stripMargin

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
}
