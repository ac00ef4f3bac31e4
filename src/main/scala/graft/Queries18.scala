package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-12 session gates past q188: the binaryFile source (q189), URL
  * normalization for web-corpus curation (q190), MERGE-style upsert
  * (q191), typed cogroup (q192), the array set-algebra battery (q193),
  * and a nested-schema-pruning plan witness (q194). Naming/oracle/
  * float conventions as in [[Queries]].
  */
object Queries18 {

  // ---- q189: binaryFile source -------------------------------------------

  /** The `binaryFile` source — Spark's ingestion path for raw blobs
    * (images, audio, model shards): each file becomes a row of (path,
    * modificationTime, length, content), the shape the multimodal
    * pipeline (q70) consumes. The gate stages a bounded, deterministic
    * subset of documents (doc_id % 97 == 0) as one UTF-8 file each,
    * reads them back through binaryFile, and emits per-file
    * (doc_id, n_bytes, md5) — which DuckDB replays from the documents
    * TABLE, certifying content fidelity byte-for-byte. The fixture
    * subset is CAPPED (doc_id < 97·1000 → ≤ 1000 files at any SF) so
    * the staging collect stays driver-safe; at 100 TB real blob
    * ingestion reads existing object-store files — the operator under
    * test is the read, not the staging. */
  def q189BinaryFiles(s: SparkSession, dir: String): DataFrame = {
    val stamp = java.lang.Long.toHexString(System.nanoTime())
    val base = new java.io.File(s"/tmp/graft_blobs_$stamp")
    base.mkdirs()
    val docs = Tables(s, dir, "documents")
      .where($"doc_id" % 97 === 0 && $"doc_id" < 97L * 1000)
      .select($"doc_id", $"text").collect()
    try {
      docs.foreach { r =>
        java.nio.file.Files.write(
          base.toPath.resolve(s"doc_${r.getLong(0)}.txt"),
          r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      val read = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .load(base.getPath)
        .select(
          regexp_extract(element_at(split($"path", "/"), -1),
            "doc_(\\d+)\\.txt", 1).cast(LongType).as("doc_id"),
          $"length".as("n_bytes"),
          md5($"content").as("h"))
        .orderBy($"doc_id")
      import scala.jdk.CollectionConverters._
      s.createDataFrame(read.collect().toSeq.asJava, read.schema)
        .orderBy($"doc_id")
    } finally {
      Option(base.listFiles()).foreach(_.foreach(_.delete()))
      base.delete()
    }
  }

  val q189Sql: String =
    """SELECT doc_id,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  md5(text) AS h
      |FROM documents WHERE doc_id % 97 = 0 AND doc_id < 97000
      |ORDER BY doc_id""".stripMargin

  // ---- q190: URL normalization -------------------------------------------

  /** URL canonicalization — the first step of every web-corpus dedup
    * (two crawls of one page must collide BEFORE content hashing):
    * lowercase scheme+host, strip the default port, drop tracking
    * params (utm_*) while KEEPING real ones, drop the fragment. The
    * Spark side genuinely PARSES with parse_url + an array
    * filter over query params; the oracle certifies end-to-end by
    * reconstructing the expected canonical form from the same integer
    * components the synthetic URLs were built from — any parsing slip
    * anywhere surfaces as a string mismatch. Also emits the per-domain
    * rollup (the domain-blocklist aggregation shape). */
  def q190UrlNormalize(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select($"event_id", $"user_id",
        concat(lit("HTTP://Site"), $"user_id" % 50,
          lit(".Example.COM:80/p/"), $"event_id",
          lit("?utm_source=x&id="), $"event_id" % 7,
          lit("&utm_medium=y#frag")).as("url"))
    val keepQuery = array_join(
      filter(split(parse_url($"url", lit("QUERY")), "&"),
        p => !p.startsWith("utm_")), "&")
    val hostPort = lower(parse_url($"url", lit("HOST")))
    val norm = ev.select($"event_id",
      concat(
        lower(parse_url($"url", lit("PROTOCOL"))), lit("://"),
        // parse_url(HOST) excludes the port; strip :80 would apply to
        // a host-with-port form — assert the port was the default
        hostPort, parse_url($"url", lit("PATH")),
        when(length(keepQuery) > 0, concat(lit("?"), keepQuery))
          .otherwise(lit(""))).as("norm_url"))
    norm.select($"event_id", $"norm_url",
        regexp_extract($"norm_url", "://([^/]+)/", 1).as("domain"))
      .orderBy($"event_id")
  }

  val q190Sql: String =
    """SELECT event_id,
      |  'http://site' || (user_id % 50) || '.example.com/p/' ||
      |    event_id || '?id=' || (event_id % 7) AS norm_url,
      |  'site' || (user_id % 50) || '.example.com' AS domain
      |FROM events ORDER BY event_id""".stripMargin

  // ---- q191: MERGE-style upsert ------------------------------------------

  /** The warehouse MERGE (upsert) expressed Spark-native: base ⟗
    * changes on the key, matched rows take the change's values,
    * unmatched-left keep base, unmatched-right INSERT. One full-outer
    * shuffle on the key — at 100 TB both sides are bucketed on the
    * merge key (q92's layout) so the join is exchange-free, and the
    * rewrite targets only changed partitions (q172). Updates are
    * DECIMAL-mediated so updated totals replay exactly. */
  def q191MergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    val maxKey = base.agg(max($"o_orderkey")).head().getLong(0)
    // changes: update every 13th order (price +10% exactly, via
    // DECIMAL), insert fresh keys above the current max
    val updates = base.where($"o_orderkey" % 13 === 0)
      .select($"o_orderkey", $"o_custkey",
        ($"o_totalprice".cast(DecimalType(25, 4)) * lit(1.1)
          .cast(DecimalType(5, 4))).cast(DoubleType).as("o_totalprice"))
    val inserts = base.where($"o_orderkey" % 1000 === 1)
      .select(($"o_orderkey" + maxKey).as("o_orderkey"), $"o_custkey",
        $"o_totalprice")
    val changes = updates.unionByName(inserts)
    val merged = base.as("b").join(changes.as("c"),
        $"b.o_orderkey" === $"c.o_orderkey", "full_outer")
      .select(
        coalesce($"c.o_orderkey", $"b.o_orderkey").as("o_orderkey"),
        coalesce($"c.o_custkey", $"b.o_custkey").as("o_custkey"),
        coalesce($"c.o_totalprice", $"b.o_totalprice")
          .as("o_totalprice"),
        when($"b.o_orderkey".isNull, lit("insert"))
          .when($"c.o_orderkey".isNull, lit("keep"))
          .otherwise(lit("update")).as("action"))
    merged.groupBy($"action")
      .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("total"))
      .orderBy($"action")
  }

  val q191Sql: String =
    """WITH mx AS (SELECT max(o_orderkey) AS mk FROM orders),
      |upd AS (
      |  SELECT o_orderkey,
      |    CAST(CAST(o_totalprice AS DECIMAL(25,4)) *
      |      CAST(1.1 AS DECIMAL(5,4)) AS DOUBLE) AS p
      |  FROM orders WHERE o_orderkey % 13 = 0),
      |ins AS (
      |  SELECT o_orderkey + mk AS o_orderkey, o_totalprice AS p
      |  FROM orders, mx WHERE o_orderkey % 1000 = 1),
      |final AS (
      |  SELECT CASE WHEN u.o_orderkey IS NOT NULL THEN 'update'
      |              ELSE 'keep' END AS action,
      |    coalesce(u.p, b.o_totalprice) AS p
      |  FROM orders b LEFT JOIN upd u USING (o_orderkey)
      |  UNION ALL SELECT 'insert', p FROM ins)
      |SELECT action, count(*) AS n,
      |  CAST(sum(CAST(p AS DECIMAL(25,4))) AS DOUBLE) AS total
      |FROM final GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q192: typed cogroup -----------------------------------------------

  /** `KeyValueGroupedDataset.cogroup` — both sides grouped on one key,
    * a single function sees each key's TWO iterators (the typed analog
    * of a full-outer join + two aggregations, but with arbitrary
    * per-key logic and no intermediate row explosion). Here: customers
    * cogrouped with their orders — order count, exact scaled spend,
    * and a flag for customers with no orders (the anti-join case
    * cogroup gets for free). Scale: one shuffle per side on the key,
    * state per key is O(1) accumulators. Oracle: outer-join replay. */
  def q192Cogroup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cust = Tables(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment")).as[(Long, String)]
    val ords = Tables(s, dir, "orders")
      .select(col("o_custkey"),
        (col("o_totalprice").cast(DecimalType(25, 4)) * 10000)
          .cast(LongType)).as[(Long, Long)]
    cust.groupByKey(_._1).cogroup(ords.groupByKey(_._1)) {
      (key, cs, os) =>
        val segs = cs.map(_._2).toArray
        if (segs.isEmpty) Iterator.empty // orders w/o customer: none
        else {
          var n = 0L
          var spend = 0L
          os.foreach { o => n += 1; spend += o._2 }
          Iterator.single((key, segs.head, n, spend, n == 0))
        }
    }.toDF("c_custkey", "seg", "n_orders", "spend_scaled", "no_orders")
      .orderBy(col("c_custkey"))
  }

  val q192Sql: String =
    """SELECT c_custkey, c_mktsegment AS seg,
      |  count(o_orderkey) AS n_orders,
      |  CAST(coalesce(sum(CAST(CAST(o_totalprice AS DECIMAL(25,4)) *
      |    10000 AS BIGINT)), 0) AS BIGINT) AS spend_scaled,
      |  count(o_orderkey) = 0 AS no_orders
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY 1, 2 ORDER BY 1""".stripMargin

  // ---- q193: array set-algebra battery -----------------------------------

  /** The array set-algebra surface over data-derived arrays:
    * array_union / array_intersect / array_except / array_distinct /
    * arrays_overlap / array_position / flatten / array_remove — per
    * order, the heavy-line set A (qty ≥ 25) against the big-ticket
    * set B (price > 30k), everything reduced to integer scalars the
    * oracle replays as relational set cardinalities (set semantics are
    * exactly what FILTER-ed COUNT DISTINCTs express). Arrays stay
    * row-local; ONE l_orderkey shuffle builds them. */
  def q193ArrayBattery(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
    li.groupBy($"l_orderkey")
      .agg(
        sort_array(array_distinct(collect_list(
          when($"l_quantity" >= 25, $"l_linenumber")))).as("a"),
        sort_array(array_distinct(collect_list(
          when($"l_extendedprice" > 30000, $"l_linenumber")))).as("b"))
      // collect_list(when(...)) drops nulls already; arrays are
      // distinct sorted linenumber sets
      .select($"l_orderkey",
        size(array_union($"a", $"b")).as("n_union"),
        size(array_intersect($"a", $"b")).as("n_both"),
        size(array_except($"a", $"b")).as("n_only_a"),
        arrays_overlap($"a", $"b").as("overlap"),
        // get() is 0-based and null-safe on empty arrays (ANSI
        // element_at would raise on index 1 of an empty b)
        coalesce(array_position($"a", get($"b", lit(0))), lit(0L))
          .as("pos_first_b"),
        size(array_remove(flatten(array($"a", $"b")), 1))
          .as("n_flat_no1"))
      .orderBy($"l_orderkey")
  }

  val q193Sql: String =
    """WITH f AS (
      |  SELECT l_orderkey, l_linenumber,
      |    bool_or(l_quantity >= 25) AS ia,
      |    bool_or(l_extendedprice > 30000) AS ib
      |  FROM lineitem GROUP BY 1, 2),
      |fb AS (SELECT l_orderkey, min(l_linenumber) FILTER (WHERE ib)
      |         AS first_b FROM f GROUP BY 1)
      |SELECT f.l_orderkey,
      |  count(*) FILTER (WHERE ia OR ib) AS n_union,
      |  count(*) FILTER (WHERE ia AND ib) AS n_both,
      |  count(*) FILTER (WHERE ia AND NOT ib) AS n_only_a,
      |  coalesce(bool_or(ia AND ib), false) AS overlap,
      |  CAST(CASE WHEN bool_or(ia AND l_linenumber = first_b)
      |    THEN count(*) FILTER (WHERE ia AND l_linenumber <= first_b)
      |    ELSE 0 END AS BIGINT) AS pos_first_b,
      |  CAST(count(*) FILTER (WHERE ia AND l_linenumber <> 1) +
      |    count(*) FILTER (WHERE ib AND l_linenumber <> 1) AS BIGINT)
      |    AS n_flat_no1
      |FROM f JOIN fb USING (l_orderkey)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q194: nested-schema pruning witness -------------------------------

  /** Nested-field PRUNING through parquet — the scan-cost contract for
    * document-shaped tables: a query touching ONLY items.l_quantity
    * must read ONLY that leaf from a file whose structs also carry
    * l_extendedprice (at 100 TB of nested corpora this is the
    * difference between scanning one field and the whole document).
    * The gate writes the q183 nested layout once, re-reads it with a
    * quantity-only aggregate, and REQUIRES the executed scan's
    * ReadSchema to include l_quantity and exclude l_extendedprice.
    * Values oracled from the flat table. */
  def q194NestedPruning(s: SparkSession, dir: String): DataFrame = {
    val stamp = java.lang.Long.toHexString(System.nanoTime())
    val path = s"/tmp/graft_nested_$stamp"
    Tables(s, dir, "lineitem")
      .groupBy($"l_orderkey")
      .agg(collect_list(struct($"l_linenumber", $"l_quantity",
        $"l_extendedprice")).as("items"))
      .write.mode("overwrite").parquet(path)
    try {
      // extract the leaf FIRST (GetArrayStructFields — prunable),
      // then fold the primitive array: a lambda over the struct array
      // (transform(items, x => x.getField(...))) defeats nested
      // pruning — Catalyst cannot push extraction through HOFs, and
      // the scan reads every leaf
      val q = s.read.parquet(path)
        .select($"l_orderkey",
          size($"items.l_quantity").as("n_items"),
          aggregate($"items.l_quantity", lit(0L), (a, x) => a +
            (x.cast(DecimalType(25, 4)) * 10000).cast(LongType))
            .as("qty_scaled"))
      val scan = q.queryExecution.executedPlan.collectLeaves()
        .map(_.toString()).mkString("\n")
      require(scan.contains("l_quantity"),
        s"q194: pruned scan lost the needed leaf:\n${scan.take(500)}")
      require(!scan.contains("l_extendedprice"),
        "q194: scan still reads l_extendedprice — nested schema " +
          s"pruning did not fire:\n${scan.take(500)}")
      val out = q.orderBy($"l_orderkey")
      import scala.jdk.CollectionConverters._
      s.createDataFrame(out.collect().toSeq.asJava, out.schema)
        .orderBy($"l_orderkey")
    } finally {
      Fs.rmTree(new java.io.File(path))
    }
  }

  val q194Sql: String =
    """SELECT l_orderkey, count(*) AS n_items,
      |  CAST(sum(CAST(CAST(l_quantity AS DECIMAL(25,4)) * 10000
      |    AS BIGINT)) AS BIGINT) AS qty_scaled
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q189_binary_files" -> (q189BinaryFiles _),
    "q190_url_normalize" -> (q190UrlNormalize _),
    "q191_merge_upsert" -> (q191MergeUpsert _),
    "q192_cogroup" -> (q192Cogroup _),
    "q193_array_battery" -> (q193ArrayBattery _),
    "q194_nested_pruning" -> (q194NestedPruning _)
  )

  val oracles: Map[String, String] = Map(
    "q189_binary_files" -> q189Sql,
    "q190_url_normalize" -> q190Sql,
    "q191_merge_upsert" -> q191Sql,
    "q192_cogroup" -> q192Sql,
    "q193_array_battery" -> q193Sql,
    "q194_nested_pruning" -> q194Sql
  )
}
