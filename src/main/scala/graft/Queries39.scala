package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{QualityModel, TextAnalysis}

/** Round-19 gates: the trained quality classifier — the last
  * widely-used pipeline stage (a quality MODEL, not just quality
  * features) the engine lacked. q287 certifies the fit end-to-end
  * (exact Gram/moment sums, the Cramer solve, and the model actually
  * LEARNING — R² against the mean-only baseline); q288 certifies every
  * per-document score of the one-scan filter pass. Naming/oracle/float
  * conventions as in [[Queries]].
  */
object Queries39 {

  // ---- q287/q288: distilled quality filter (ridge regression) ---------------
  //
  // Target: the composite [[TextAnalysis.qualityScore]] (soft-windowed
  // C4/Gopher heuristics — length band, token-length band, alpha
  // ratio, clamped stopword ratio). Features: the two q32-oracled
  // ratio kernels alone. Distilling the 4-signal scorer into a
  // 2-feature affine model is the standard "cheap linear proxy of an
  // expensive scorer" filter (CCNet fits fastText against Wikipedia;
  // same engine shape): the fit must RECOVER the two linear target
  // components and APPROXIMATE the two windowed ones from correlated
  // features — a genuine regression (R² ≈ 0.64 at sf0.01, certified
  // > 0 by an in-gate raise), not an identity.

  private def lambdaRidge = 1.0

  private def fitQuality(s: SparkSession, dir: String): QualityModel.Fit = {
    val docs = Tables(s, dir, "documents")
    QualityModel.fit(
      QualityModel.gramSums(docs,
        QualityModel.featureX1($"text"),
        QualityModel.featureX2($"text"),
        TextAnalysis.qualityScore($"text")),
      lambdaRidge)
  }

  /** One row: the nine exact fitting sums, the solved weights, and the
    * exact residual certification (SSE of the model vs the mean-only
    * baseline, both floor-unit-mediated integer sums; R² from one IEEE
    * chain). Raises if the model fails to beat the baseline — a
    * quality filter that learned nothing must not ship silently. */
  def q287QualityFit(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val fit = fitQuality(s, dir)
    val yBar = fit.syu.toDouble / 1.0e9 / fit.nDocs.toDouble
    def u(c: Column): Column =
      sum(floor(c * lit(1.0e9)).cast(LongType)).cast(LongType)
    val resid = docs
      .select(QualityModel.featureX1($"text").as("__x1"),
        QualityModel.featureX2($"text").as("__x2"),
        TextAnalysis.qualityScore($"text").as("__y"))
      .select(
        ($"__y" - (lit(fit.w0) + lit(fit.w1) * $"__x1" +
          lit(fit.w2) * $"__x2")).as("__rm"),
        ($"__y" - lit(yBar)).as("__rb"))
      .agg(
        u($"__rm" * $"__rm").as("sse_model_units"),
        u($"__rb" * $"__rb").as("sse_base_units"))
    def d(c: Column): Column = c.cast(DoubleType)
    val r2 = lit(1.0) -
      (d($"sse_model_units") / lit(1.0e9)) /
        (d($"sse_base_units") / lit(1.0e9))
    resid.select(
      lit(fit.nDocs).as("n_docs"),
      lit(fit.s1u).as("s1_units"), lit(fit.s2u).as("s2_units"),
      lit(fit.s11u).as("s11_units"), lit(fit.s12u).as("s12_units"),
      lit(fit.s22u).as("s22_units"),
      lit(fit.syu).as("sy_units"),
      lit(fit.s1yu).as("s1y_units"), lit(fit.s2yu).as("s2y_units"),
      round(lit(fit.w0), 6).as("w0"),
      round(lit(fit.w1), 6).as("w1"),
      round(lit(fit.w2), 6).as("w2"),
      $"sse_model_units", $"sse_base_units",
      when($"sse_base_units" <= 0L, raise_error(lit(
        "q287: zero baseline SSE — every document has the identical " +
          "quality score; the fit is vacuous on this corpus")))
        .when($"sse_model_units" >= $"sse_base_units", raise_error(lit(
          "q287: model SSE >= baseline SSE — the quality filter " +
            "learned nothing; shipping it would filter noise")))
        .otherwise(round(r2, 6)).as("r2"))
  }

  /** Per-document scores of the fitted filter — the one-scan pass that
    * would gate a 100 TB corpus, certified row by row. `keep` is the
    * filter decision at the conventional 0.5 threshold. */
  def q288QualityScores(s: SparkSession, dir: String): DataFrame = {
    val fit = fitQuality(s, dir)
    val score = QualityModel.score(fit,
      QualityModel.featureX1($"text"), QualityModel.featureX2($"text"))
    Tables(s, dir, "documents")
      .select($"doc_id",
        round(TextAnalysis.qualityScore($"text"), 6).as("target"),
        round(score, 6).as("score"),
        (score >= 0.5).as("keep"))
      .orderBy($"doc_id")
  }

  // The feature/target restatement shared by both oracles: x1/x2 are
  // the q32-certified regex forms of the ratio kernels; y is the
  // qualityScore chain term by term, left-associated exactly as the
  // Column expression builds it.
  private val enList = TextAnalysis.stopwordProfiles("en")
    .map(w => s"'$w'").mkString(", ")
  private val featsSql: String =
    s"""SELECT doc_id,
       |  CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) /
       |  CAST(greatest(length(text), 1) AS DOUBLE) AS x1,
       |  CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
       |    x -> x IN ($enList))) AS DOUBLE) /
       |  CAST(greatest(len(string_split_regex(trim(lower(text)), '\\s+')), 1)
       |    AS DOUBLE) AS x2,
       |  (CASE WHEN len(string_split_regex(trim(text), '\\s+'))
       |      BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.0 END) * 0.25
       |  + (CASE WHEN CAST(length(regexp_replace(text, '\\s+', '', 'g'))
       |        AS DOUBLE) /
       |      CAST(greatest(len(string_split_regex(trim(text), '\\s+')), 1)
       |        AS DOUBLE) BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END) * 0.25
       |  + (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) /
       |     CAST(greatest(length(text), 1) AS DOUBLE)) * 0.25
       |  + least(CAST(len(list_filter(string_split_regex(trim(lower(text)),
       |        '\\s+'), x -> x IN ($enList))) AS DOUBLE) /
       |      CAST(greatest(len(string_split_regex(trim(lower(text)), '\\s+')),
       |        1) AS DOUBLE) * 5.0, 1.0) * 0.25 AS y
       |FROM documents""".stripMargin

  // sums → double components → Cramer weights, one CTE chain reused by
  // both oracles (every product ordered exactly as det3's cofactor
  // expansion evaluates it). Unit mediation is floor(v*1e9) — NOT the
  // DECIMAL cast: a dyadic-rational product (doc 74's x1*y =
  // 0.5712890625) lands exactly on the half of the 1e-9 grid, where
  // Spark rounds HALF_UP and DuckDB HALF_EVEN; floor of the identical
  // IEEE double is rounding-mode-free.
  private val fitCteSql: String =
    s"""feats AS ($featsSql),
       |sums AS (SELECT
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CAST(floor(x1 * 1000000000.0) AS BIGINT)) AS BIGINT) AS s1_units,
       |  CAST(SUM(CAST(floor(x2 * 1000000000.0) AS BIGINT)) AS BIGINT) AS s2_units,
       |  CAST(SUM(CAST(floor(x1*x1 * 1000000000.0) AS BIGINT)) AS BIGINT) AS s11_units,
       |  CAST(SUM(CAST(floor(x1*x2 * 1000000000.0) AS BIGINT)) AS BIGINT) AS s12_units,
       |  CAST(SUM(CAST(floor(x2*x2 * 1000000000.0) AS BIGINT)) AS BIGINT) AS s22_units,
       |  CAST(SUM(CAST(floor(y * 1000000000.0) AS BIGINT)) AS BIGINT) AS sy_units,
       |  CAST(SUM(CAST(floor(x1*y * 1000000000.0) AS BIGINT)) AS BIGINT) AS s1y_units,
       |  CAST(SUM(CAST(floor(x2*y * 1000000000.0) AS BIGINT)) AS BIGINT) AS s2y_units
       |  FROM feats),
       |m AS (SELECT *,
       |  CAST(n_docs AS DOUBLE) AS nd,
       |  CAST(s1_units AS DOUBLE) / 1e9 AS s1,
       |  CAST(s2_units AS DOUBLE) / 1e9 AS s2,
       |  CAST(s11_units AS DOUBLE) / 1e9 + 1.0 AS a22,
       |  CAST(s12_units AS DOUBLE) / 1e9 AS s12,
       |  CAST(s22_units AS DOUBLE) / 1e9 + 1.0 AS a33,
       |  CAST(sy_units AS DOUBLE) / 1e9 AS sy,
       |  CAST(s1y_units AS DOUBLE) / 1e9 AS s1y,
       |  CAST(s2y_units AS DOUBLE) / 1e9 AS s2y
       |  FROM sums),
       |w AS (SELECT *,
       |  (sy*(a22*a33 - s12*s12) - s1*(s1y*a33 - s12*s2y)
       |    + s2*(s1y*s12 - a22*s2y)) /
       |  (nd*(a22*a33 - s12*s12) - s1*(s1*a33 - s12*s2)
       |    + s2*(s1*s12 - a22*s2)) AS w0,
       |  (nd*(s1y*a33 - s12*s2y) - sy*(s1*a33 - s12*s2)
       |    + s2*(s1*s2y - s1y*s2)) /
       |  (nd*(a22*a33 - s12*s12) - s1*(s1*a33 - s12*s2)
       |    + s2*(s1*s12 - a22*s2)) AS w1,
       |  (nd*(a22*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2)
       |    + sy*(s1*s12 - a22*s2)) /
       |  (nd*(a22*a33 - s12*s12) - s1*(s1*a33 - s12*s2)
       |    + s2*(s1*s12 - a22*s2)) AS w2
       |  FROM m)""".stripMargin

  val q287Sql: String =
    s"""WITH $fitCteSql,
       |resid AS (SELECT
       |  CAST(SUM(CAST(floor((y - (w.w0 + w.w1*x1 + w.w2*x2))
       |    * (y - (w.w0 + w.w1*x1 + w.w2*x2)) * 1000000000.0)
       |    AS BIGINT)) AS BIGINT) AS sse_model_units,
       |  CAST(SUM(CAST(floor((y - (w.sy / w.nd)) * (y - (w.sy / w.nd))
       |    * 1000000000.0) AS BIGINT)) AS BIGINT) AS sse_base_units
       |  FROM feats CROSS JOIN w)
       |SELECT w.n_docs, w.s1_units, w.s2_units, w.s11_units, w.s12_units,
       |  w.s22_units, w.sy_units, w.s1y_units, w.s2y_units,
       |  round(w.w0, 6) AS w0, round(w.w1, 6) AS w1, round(w.w2, 6) AS w2,
       |  resid.sse_model_units, resid.sse_base_units,
       |  round(1.0 - (CAST(resid.sse_model_units AS DOUBLE) / 1e9)
       |    / (CAST(resid.sse_base_units AS DOUBLE) / 1e9), 6) AS r2
       |FROM w CROSS JOIN resid""".stripMargin

  val q288Sql: String =
    s"""WITH $fitCteSql
       |SELECT feats.doc_id, round(feats.y, 6) AS target,
       |  round(w.w0 + w.w1*feats.x1 + w.w2*feats.x2, 6) AS score,
       |  (w.w0 + w.w1*feats.x1 + w.w2*feats.x2) >= 0.5 AS keep
       |FROM feats CROSS JOIN w ORDER BY feats.doc_id""".stripMargin

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q287_quality_fit" -> (q287QualityFit _),
    "q288_quality_scores" -> (q288QualityScores _)
  )

  val oracles: Map[String, String] = Map(
    "q287_quality_fit" -> q287Sql,
    "q288_quality_scores" -> q288Sql
  )
}
