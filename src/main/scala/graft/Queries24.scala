package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.TextAnalysis

/** Round-12 session gates past q209: the hashing-trick featurizer
  * (q210) and one-hot + crossed categorical features (q211) — the
  * classic ML featurization surface, engine-portable by construction.
  * Naming/oracle/float conventions as in [[Queries]].
  */
object Queries24 {

  /** Engine-portable feature hash: first 8 hex chars of md5 as an
    * integer, mod the feature-space size — identical in Spark
    * (conv(hex,16,10)) and DuckDB (CAST('0x'||hex AS BIGINT)), unlike
    * murmur/xxhash whose seeds differ across engines. */
  private def featHash(c: Column, dims: Int): Column =
    pmod(conv(substring(md5(c), 1, 8), 16, 10).cast(LongType),
      lit(dims.toLong))

  // ---- q210: hashing-trick featurizer ------------------------------------

  /** The hashing trick (Weinberger et al., ICML 2009): token →
    * fixed-dimension feature index via a hash, no vocabulary pass at
    * all — the featurizer that never needs a fit step and whose
    * memory is constant in corpus size. 1024 dims over the document
    * tokens; per language the gate emits the used-dimension count
    * (collision visibility), the exact sum of squared counts (the
    * un-normalized L2² of the per-lang count vector), and the
    * deterministic argmax feature (max count, min index tie-break).
    * Every number is integer-exact and replayed by DuckDB through the
    * same md5-prefix hash. */
  def q210HashingTrick(s: SparkSession, dir: String): DataFrame = {
    val D = 1024
    val counts = Tables(s, dir, "documents")
      .select($"lang",
        explode(TextAnalysis.tokens($"text")).as("term"))
      .select($"lang", featHash($"term", D).as("feat"))
      .groupBy($"lang", $"feat")
      .agg(count(lit(1)).as("cnt"))
    counts.groupBy($"lang")
      .agg(countDistinct($"feat").as("dims_used"),
        sum($"cnt" * $"cnt").as("l2sq"),
        max(struct($"cnt", (-$"feat").as("nf"))).as("top"))
      .select($"lang", $"dims_used", $"l2sq",
        (-$"top.nf").as("top_feat"), $"top.cnt".as("top_cnt"))
      .orderBy($"lang")
  }

  val q210Sql: String =
    """WITH f AS (
      |  SELECT lang,
      |    CAST(('0x' || substr(md5(term), 1, 8)) AS BIGINT) % 1024
      |      AS feat
      |  FROM (SELECT lang, unnest(string_split_regex(trim(text),
      |          '\s+')) AS term FROM documents)),
      |c AS (SELECT lang, feat, count(*) AS cnt FROM f GROUP BY 1, 2),
      |m AS (SELECT lang, max(cnt) AS mc FROM c GROUP BY 1)
      |SELECT c.lang, count(*) AS dims_used,
      |  CAST(sum(cnt * cnt) AS BIGINT) AS l2sq,
      |  CAST(min(CASE WHEN cnt = mc THEN feat END) AS BIGINT)
      |    AS top_feat,
      |  CAST(max(mc) AS BIGINT) AS top_cnt
      |FROM c JOIN m USING (lang)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q211: one-hot + crossed categorical features -----------------------

  /** One-hot and CROSSED categorical features: segment × priority
    * crosses hashed into 256 dims (the feature-cross trick — the
    * interaction a linear model cannot see from the two one-hots
    * alone), with the one-hot conservation law asserted through the
    * oracle: each segment's indicator SUM equals its row count, each
    * cross dimension's count is replayed exactly, and hash COLLISIONS
    * are made visible (distinct crosses vs distinct dims). */
  def q211FeatureCross(s: SparkSession, dir: String): DataFrame = {
    val joined = Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer"), $"o_custkey" === $"c_custkey")
      .select($"c_mktsegment".as("seg"), $"o_orderpriority".as("prio"))
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
      "MACHINERY")
    val oneHot = array(segs.map(v =>
      when($"seg" === v, 1L).otherwise(0L)): _*)
    joined
      .select($"seg", $"prio", oneHot.as("oh"),
        featHash(concat($"seg", lit("#"), $"prio"), 256).as("xdim"))
      .groupBy($"seg")
      .agg(count(lit(1)).as("n"),
        // one-hot conservation: the indicator at this segment's own
        // position must sum to n; all positions summed elementwise
        aggregate(
          array((0 until 5).map(i =>
            sum(element_at($"oh", i + 1))): _*),
          lit(0L), (a, x) => a + x).as("oh_total"),
        countDistinct($"prio").as("n_prio"),
        countDistinct($"xdim").as("n_cross_dims"),
        min($"xdim").as("xdim_min"),
        max($"xdim").as("xdim_max"))
      .orderBy($"seg")
  }

  val q211Sql: String =
    """SELECT c_mktsegment AS seg, count(*) AS n,
      |  count(*) AS oh_total,
      |  count(DISTINCT o_orderpriority) AS n_prio,
      |  count(DISTINCT CAST(('0x' || substr(md5(c_mktsegment || '#' ||
      |    o_orderpriority), 1, 8)) AS BIGINT) % 256) AS n_cross_dims,
      |  CAST(min(CAST(('0x' || substr(md5(c_mktsegment || '#' ||
      |    o_orderpriority), 1, 8)) AS BIGINT) % 256) AS BIGINT)
      |    AS xdim_min,
      |  CAST(max(CAST(('0x' || substr(md5(c_mktsegment || '#' ||
      |    o_orderpriority), 1, 8)) AS BIGINT) % 256) AS BIGINT)
      |    AS xdim_max
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q210_hashing_trick" -> (q210HashingTrick _),
    "q211_feature_cross" -> (q211FeatureCross _)
  )

  val oracles: Map[String, String] = Map(
    "q210_hashing_trick" -> q210Sql,
    "q211_feature_cross" -> q211Sql
  )
}
