package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Functional
import graft.operators.{Dedup, Packing, QualityModel, Sampling, TextAnalysis}

/** Text gates: string functions, tokenization statistics, language and
  * quality filters, PII scrubbing, TF-IDF, perplexity and the composed
  * corpus-cleaning pipelines.
  */
object TextGates extends GateFamily("text") {

  import LmPrepGates.bucketCtes

  lazy val gates: Seq[Gate] = Seq(
    Gate("q30_token_stats", q30TokenStats, Some(q30Sql)),
    Gate("q31_lang_id", q31LangId, Some(q31Sql)),
    Gate("q32_quality", q32Quality, Some(q32Sql)),
    Gate("q34_vocab_lookup", q34VocabLookup, Some(q34Sql)),
    Gate("q64_str_predicates", q64StrPredicates, Some(q64Sql)),
    Gate("q65_string_funcs", q65StringFuncs, Some(q65Sql)),
    Gate("q66_split_join", q66SplitJoin, Some(q66Sql)),
    Gate("q79_repetition", q79Repetition),
    Gate("q84_pipeline", q84Pipeline, Some(q84Sql)),
    Gate("q85_decontaminate", q85Decontaminate, Some(q85Sql)),
    Gate("q86_pii_redact", q86PiiRedact, Some(q86Sql)),
    Gate("q87_tfidf", q87Tfidf, Some(q87Sql)),
    Gate("q89_perplexity", q89Perplexity, Some(q89Sql)),
    Gate("q112_c4_filter", q112C4Filter, Some(q112Sql)),
    Gate("q117_hygiene_pipeline", q117HygienePipeline, Some(q117Sql)),
    Gate("q148_normalize", q148Normalize, Some(q148Sql),
      eager = Some("driver pull of a one-row NFC probe")),
    Gate("q186_string_battery", q186StringBattery, Some(q186Sql)),
    Gate("q190_url_normalize", q190UrlNormalize, Some(q190Sql)),
    Gate("q201_corpus_report", q201CorpusReport, Some(q201Sql)),
    Gate("q202_oov_stats", q202OovStats, Some(q202Sql)),
    Gate("q215_mask", q215Mask, Some(q215Sql)),
    Gate("q220_corpus_refresh", q220CorpusRefresh, Some(q220Sql)),
    Gate("q284_zipf_fit", q284ZipfFit, Some(q284Sql),
      eager = Some("driver pull of per-partition sums for offsets")),
    Gate("q287_quality_fit", q287QualityFit, Some(q287Sql),
      eager = Some("driver pull of the least-squares sums")),
    Gate("q288_quality_scores", q288QualityScores, Some(q288Sql),
      eager = Some("driver pull of the least-squares sums"))
  )

  // ---- text analysis --------------------------------------------------

  def q30TokenStats(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select($"doc_id",
        TextAnalysis.tokenCount($"text").cast(LongType).as("n_tokens"),
        (length(regexp_replace($"text", "\\s+", "")).cast(DoubleType) /
          TextAnalysis.tokenCount($"text").cast(DoubleType))
          .as("mean_token_len"))
      .orderBy($"doc_id")

  val q30Sql: String =
    """SELECT doc_id,
      |CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
      |CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) /
      |CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE)
      |  AS mean_token_len
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Language ID, DRIVER-HASHABLE (round 12 recorded this gate
    * `no_oracle`): the output is one row per supported stopword
    * profile (en/de/fr/es/zh) plus the no-hit case (→ "und"), each
    * classifying a fixed sentence through the real distributed
    * kernel — the driver's DuckDB compare falsifies the whole profile
    * table against a VALUES literal instead of trusting an in-gate
    * raise. The corpus scan stays as oracle-restatable invariants:
    * n_docs crosses engines, dist_ok raises in-query unless every
    * document classifies into a known profile or "und". */
  def q31LangId(s: SparkSession, dir: String): DataFrame = {
    val casesRaw = { // scoped: s.implicits' $ clashes with graft's
      import s.implicits._
      Seq(
        ("case_en", "the cat sat on the mat and it is warm"),
        ("case_de", "der hund und die katze sind nicht im haus"),
        ("case_fr", "le chat est dans la maison et il dort pour le moment"),
        ("case_es",
          "el perro es un animal que vive en la casa con una familia"),
        ("case_zh", "我 是 中 文 的 人 他 们 不 在 这 个"),
        ("case_und", "zzz qqq xxx")).toDF("case_id", "sentence")
    }
    val cases = casesRaw
      .select($"case_id", TextAnalysis.langId($"sentence").as("lang_pred"))
    val known = Seq("en", "de", "fr", "es", "zh", "und")
    val dist = Tables(s, dir, "documents")
      .select(TextAnalysis.langId($"text").as("p"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"p".isin(known: _*), 0L).otherwise(1L)).as("__bad"))
      .select($"n_docs",
        when($"__bad" === 0L, lit(true))
          .otherwise(raise_error(lit(
            "q31: langId produced a label outside the profile table")))
          .as("dist_ok"))
    cases.crossJoin(broadcast(dist))
      .select($"case_id", $"lang_pred", $"n_docs", $"dist_ok")
      .orderBy($"case_id")
  }

  val q31Sql: String =
    """SELECT case_id, lang_pred,
      |  (SELECT count(*) FROM documents) AS n_docs, true AS dist_ok
      |FROM (VALUES ('case_de','de'),('case_en','en'),('case_es','es'),
      |  ('case_fr','fr'),('case_und','und'),('case_zh','zh'))
      |  AS t(case_id, lang_pred)
      |ORDER BY case_id""".stripMargin

  /** Quality ratios as fused single-scan kernels (asciiAlphaRatio /
    * stopwordRatioEn) — numerators/denominators are the same integers
    * the regex formulation counts, so the divisions are bit-identical
    * to the DuckDB oracle's regex restatement. */
  def q32Quality(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select($"doc_id",
        Functional.asciiAlphaRatio($"text").as("alpha_ratio"),
        Functional.stopwordRatioEn($"text").as("stopword_ratio"))
      .orderBy($"doc_id")

  val q32Sql: String = {
    val en = TextAnalysis.stopwordProfiles("en")
      .map(w => s"'$w'").mkString(", ")
    s"""SELECT doc_id,
       |CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) /
       |CAST(greatest(length(text), 1) AS DOUBLE) AS alpha_ratio,
       |CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
       |  x -> x IN ($en))) AS DOUBLE) /
       |CAST(greatest(len(string_split_regex(trim(lower(text)), '\\s+')), 1)
       |  AS DOUBLE) AS stopword_ratio
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Python-semantics string predicates (ASCII slice is oracle-able). */
  def q64StrPredicates(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "part")
      .select($"p_partkey",
        Functional.isalpha(regexp_replace($"p_name", " ", ""))
          .as("name_alpha"),
        Functional.isalnum($"p_brand").as("brand_alnum"),
        Functional.isdigit(regexp_extract($"p_brand", "[0-9]+", 0))
          .as("brandnum_digit"))
      .orderBy($"p_partkey")

  val q64Sql: String =
    """SELECT p_partkey,
      |regexp_matches(replace(p_name, ' ', ''), '^[A-Za-z]+$') AS name_alpha,
      |regexp_matches(p_brand, '^[A-Za-z0-9]+$') AS brand_alnum,
      |regexp_matches(regexp_extract(p_brand, '[0-9]+', 0), '^[0-9]+$')
      |  AS brandnum_digit
      |FROM part ORDER BY p_partkey""".stripMargin

  /** str namespace built-ins (§2.10): length/upper/slice/find/replace. */
  def q65StringFuncs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "part")
      .select($"p_partkey",
        length($"p_name").as("name_len"),
        upper($"p_brand").as("brand_upper"),
        substring($"p_name", 1, 8).as("name_slice"),
        (instr($"p_name", "a") - 1).as("find_a"),
        regexp_replace($"p_name", " ", "_").as("name_snake"),
        $"p_type".startsWith("STANDARD").as("is_standard"))
      .orderBy($"p_partkey")

  val q65Sql: String =
    """SELECT p_partkey, length(p_name) AS name_len,
      |upper(p_brand) AS brand_upper, substring(p_name, 1, 8) AS name_slice,
      |CAST(strpos(p_name, 'a') - 1 AS BIGINT) AS find_a,
      |replace(p_name, ' ', '_') AS name_snake,
      |starts_with(p_type, 'STANDARD') AS is_standard
      |FROM part ORDER BY p_partkey""".stripMargin

  /** list namespace (§2.11): split → join round-trip + element access. */
  def q66SplitJoin(s: SparkSession, dir: String): DataFrame = {
    val toks = split($"p_name", " ")
    Tables(s, dir, "part")
      .select($"p_partkey",
        array_join(toks, "|").as("joined"),
        toks.getItem(0).as("first_tok"),
        element_at(toks, -1).as("last_tok"),
        size(toks).as("n_toks"))
      .orderBy($"p_partkey")
  }

  val q66Sql: String =
    """SELECT p_partkey, replace(p_name, ' ', '|') AS joined,
      |string_split(p_name, ' ')[1] AS first_tok,
      |string_split(p_name, ' ')[-1] AS last_tok,
      |CAST(len(string_split(p_name, ' ')) AS INT) AS n_toks
      |FROM part ORDER BY p_partkey""".stripMargin

  // ---- lookup_indices at the gate (§2.14 vocab path) ------------------

  /** Token→id lookup over a literal vocabulary with default index
    * (text/vocab_ops.h surface): ids of the first 5 tokens of each doc
    * summed; oracle replicates the vocab as a CASE expression. */
  def q34VocabLookup(s: SparkSession, dir: String): DataFrame = {
    val vocab = Map("the" -> 1L, "of" -> 2L, "and" -> 3L, "to" -> 4L,
      "data" -> 5L, "model" -> 6L)
    val toks = slice(split(trim(lower($"text")), "\\s+"), 1, 5)
    Tables(s, dir, "documents")
      .select($"doc_id",
        aggregate(
          graft.functions.Functional.lookupIndices(vocab, 0L)(toks),
          lit(0L), (acc, x) => acc + x).as("id_sum"))
      .orderBy($"doc_id")
  }

  val q34Sql: String = {
    val cases = Seq("the" -> 1, "of" -> 2, "and" -> 3, "to" -> 4,
      "data" -> 5, "model" -> 6)
      .map { case (w, i) => s"WHEN '$w' THEN $i" }.mkString(" ")
    s"""SELECT doc_id, CAST(list_sum(list_transform(
       |  list_slice(string_split_regex(trim(lower(text)), '\\s+'), 1, 5),
       |  t -> CASE t $cases ELSE 0 END)) AS BIGINT) AS id_sum
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // ---- LLM-pipeline: repetition signals (Gopher) -----------------------

  /** Gopher repetition signals (Rae et al. 2021, Table A1 family) at
    * the gate. Self-checking in the q61/q36 pinned-fixture discipline:
    * three hand-computed documents exercise every signal family —
    * duplicated lines, blank-line-separated duplicate paragraphs, a
    * dominant 2-gram, and an 11-word text whose repeated 5-gram covers
    * 10/11 word bytes (with its 2/3/4-gram shadows) — plus the empty
    * document (all-zero) edge. raise_error unless every one of the
    * 4×13 kernel slots matches its hand-derived value within 1e-12.
    * Output: per-document signals + the Gopher threshold verdict over
    * `documents` — a single fused kernel scan, no shuffle, the
    * 100 TB-relevant shape (signals are computed where the text lives;
    * only doc_id + 13 doubles ever leave the scan). */
  def q79Repetition(s: SparkSession, dir: String): DataFrame = {
    val third = 1.0 / 3
    // slots: dupLine, dupLineChar, dupPara, dupParaChar, top2, top3,
    // top4, dup5..dup10 — see Kernels.repetitionSignals
    val fixture: Seq[(String, Seq[Double])] = Seq(
      // lines "x y","x y","z w": 1 of 3 repeats, 3 of 9 bytes; one
      // paragraph; words x y x y z w: top 2-gram "x y" ×2 → 4/6
      ("x y\nx y\nz w",
        Seq(third, third, 0, 0, 4.0 / 6, 0, 0, 0, 0, 0, 0, 0, 0)),
      // same shape through the paragraph splitter ("\n\n"); the line
      // splitter sees the same 3 non-empty lines
      ("p q\n\np q\n\nr s",
        Seq(third, third, third, third, 4.0 / 6, 0, 0, 0, 0, 0, 0, 0, 0)),
      // 11 unit-length words; "a b c d e" repeats at 0 and 5: top2
      // (any of ab/bc/cd/de ×2) → 4/11, top3 → 6/11, top4 → 8/11,
      // dup5 covers word positions 0-9 → 10/11; no 6..10-gram repeats
      ("a b c d e a b c d e f",
        Seq(0, 0, 0, 0, 4.0 / 11, 6.0 / 11, 8.0 / 11, 10.0 / 11,
          0, 0, 0, 0, 0)),
      ("", Seq.fill(13)(0.0)))
    val bad = s.createDataFrame(fixture).toDF("ftext", "expected")
      .select(Functional.repetitionSignals($"ftext").as("got"), $"expected")
      .select(aggregate(
        zip_with($"got", $"expected",
          (g, e) => when(abs(g - e) > 1e-12, 1).otherwise(0)),
        lit(0), (acc, x) => acc + x).as("nbad"))
      .agg(sum($"nbad").as("nbad"))
    val ok = bad.select(when($"nbad" === 0, lit(true))
      .otherwise(raise_error(concat(
        lit("q79: repetition fixture mismatch ("),
        $"nbad".cast(StringType), lit(" slots)")))).as("rep_ok"))
    Tables(s, dir, "documents")
      .select($"doc_id", TextAnalysis.repetitionSignals($"text").as("r"),
        TextAnalysis.gopherRepetitionOk($"text").as("gopher_ok"))
      .select($"doc_id",
        round($"r.dup_line_frac", 4).as("dup_line_frac"),
        round($"r.top_2gram_char_frac", 4).as("top_2gram_char_frac"),
        round($"r.dup_5gram_char_frac", 4).as("dup_5gram_char_frac"),
        round($"r.dup_10gram_char_frac", 4).as("dup_10gram_char_frac"),
        $"gopher_ok")
      .crossJoin(broadcast(ok))
      // (b) one narrow row per document from repetitionSignals
      .orderByInOnePartition($"doc_id")
  }

  // ---- end-to-end training-data pipeline -------------------------------

  private val q84Weights = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)

  /** End-to-end pipeline gate, the shape a real corpus run takes
    * (reference analog: test/integration/test_criteo.py, a
    * scan→transform→split flow): scan documents → quality filter
    * (the q30/q32-oracled token-count and alpha-ratio kernels) → exact
    * dedup keep-first (q33's operator) → deterministic train/val/test
    * split (q83's operator, seed 99) → per-split doc counts, token
    * sums, and id checksums. Every stage is SQL-expressible, so the
    * WHOLE pipeline is oracled — this catches cross-operator interface
    * drift (filter-then-dedup ordering, dedup keep-first tie-breaks
    * feeding the split hash) that per-operator gates cannot. */
  def q84Pipeline(s: SparkSession, dir: String): DataFrame = {
    val scored = Tables(s, dir, "documents")
      .select($"doc_id", $"text",
        TextAnalysis.tokenCount($"text").cast(LongType).as("n_tokens"),
        Functional.asciiAlphaRatio($"text").as("alpha_ratio"))
    val kept = scored.where($"alpha_ratio" >= 0.5 && $"n_tokens" >= 5)
    val deduped = Dedup.exact(kept, "text", "doc_id")
    deduped
      .select($"doc_id", $"n_tokens",
        Sampling.splitLabel($"doc_id", q84Weights, 99L).as("split"))
      .groupBy($"split")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("token_sum"),
        sum($"doc_id").as("id_sum"))
      .orderBy($"split")
  }

  // thresholds: floor(0.9*8192)=7372, floor(0.95*8192)=7782. Dedup via
  // PARTITION BY text (Dedup.exact's fingerprint64 is collision-free at
  // this cardinality and keeps min id — same keep-first row).
  val q84Sql: String =
    s"""WITH scored AS (
       |  SELECT doc_id, text,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
       |      AS n_tokens,
       |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
       |      AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE)
       |      AS alpha_ratio
       |  FROM documents),
       |kept AS (
       |  SELECT * FROM scored WHERE alpha_ratio >= 0.5 AND n_tokens >= 5),
       |dedup AS (
       |  SELECT doc_id, n_tokens FROM (
       |    SELECT doc_id, n_tokens, ROW_NUMBER() OVER (
       |      PARTITION BY text ORDER BY doc_id) AS rn FROM kept)
       |  WHERE rn = 1),
       |${bucketCtes("pp", 99L, "dedup", "doc_id")}
       |SELECT CASE WHEN b.bucket < 7372 THEN 'train'
       |            WHEN b.bucket < 7782 THEN 'val' ELSE 'test' END AS split,
       |  COUNT(*) AS n_docs, CAST(SUM(d.n_tokens) AS BIGINT) AS token_sum,
       |  CAST(SUM(d.doc_id) AS BIGINT) AS id_sum
       |FROM dedup d JOIN ppb b ON d.doc_id = b.k
       |GROUP BY 1 ORDER BY split""".stripMargin

  // ---- benchmark decontamination ---------------------------------------

  /** Eval-overlap decontamination (GPT-3 Appendix C / Gopher pattern):
    * documents with doc_id % 20 == 0 stand in for the benchmark suite;
    * every other document sharing a word n-gram with them is flagged
    * with its distinct-contaminating-gram count. n = 3 here because the
    * synthetic corpus draws from a ~30-word vocabulary (production runs
    * use 8-13); the plan shape — distinct benchmark grams BROADCAST,
    * corpus probed map-side, no corpus shuffle — is the 100 TB design
    * and is independent of n. The oracle recomputes grams as raw
    * strings; Spark joins on xxhash64 of the gram (collision odds
    * ~1e-12 at these cardinalities). */
  def q85Decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val evalSet = docs.where($"doc_id" % 20 === 0)
    val train = docs.where($"doc_id" % 20 =!= 0)
    Dedup.decontaminate(train, evalSet, "text", "doc_id", n = 3)
      .orderBy($"doc_id")
  }

  // tokenization matches the Spark kernel exactly: regex \s+ over the
  // trimmed text (NOT single-space split — double spaces/tabs would
  // diverge), plus the whole-text gram for docs shorter than n tokens
  // (TextAnalysis.shingles' n<k fallback)
  val q85Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id, array_to_string(w[i:i+2], ' ') AS g
      |  FROM tok, UNNEST(range(1, len(w) - 1)) AS t(i)
      |  WHERE len(w) >= 3
      |  UNION ALL
      |  SELECT doc_id, array_to_string(w, ' ') AS g FROM tok
      |  WHERE len(w) < 3),
      |ev AS (SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 0)
      |SELECT g.doc_id, COUNT(DISTINCT g.g) AS n_hits
      |FROM grams g JOIN ev ON g.g = ev.g
      |WHERE g.doc_id % 20 != 0
      |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin

  // ---- PII scrubbing ---------------------------------------------------

  /** PII redaction gate: the synthetic corpus carries no PII, so both
    * engines deterministically plant the same email/phone/IPv4 spans
    * (derived from doc_id; docs with doc_id % 3 == 0 stay clean, a
    * second email lands on doc_id % 5 == 0) and then redact. The green
    * hash row proves pattern semantics, replace-all behavior, and
    * pass ordering are engine-portable. Single codegen'd scan — the
    * 100 TB shape for scrubbing. */
  def q86PiiRedact(s: SparkSession, dir: String): DataFrame = {
    val planted = when($"doc_id" % 3 =!= 0, concat(
        lit("contact user"), $"doc_id".cast(StringType),
        lit("@mail.example.com or +1-"),
        lpad(($"doc_id" % 1000).cast(StringType), 3, "0"), lit("-"),
        lpad(($"doc_id" % 10000).cast(StringType), 4, "0"),
        lit(" from 10.0."), ($"doc_id" % 256).cast(StringType),
        lit(".77 "))).otherwise(lit(""))
    val extra = when($"doc_id" % 5 === 0,
      lit(" also admin@example.org")).otherwise(lit(""))
    val ptext = concat(planted, $"text", extra)
    Tables(s, dir, "documents")
      .select($"doc_id", ptext.as("ptext"))
      .select($"doc_id",
        TextAnalysis.piiRedact($"ptext").as("redacted"),
        TextAnalysis.piiCounts($"ptext").as("c"))
      .select($"doc_id", $"redacted",
        $"c.n_email".as("n_email"), $"c.n_phone".as("n_phone"),
        $"c.n_ipv4".as("n_ipv4"))
      .orderBy($"doc_id")
  }

  val q86Sql: String =
    """WITH planted AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 3 != 0 THEN
      |      'contact user' || CAST(doc_id AS VARCHAR) ||
      |      '@mail.example.com or +1-' ||
      |      lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
      |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
      |      ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.77 '
      |    ELSE '' END || text ||
      |    CASE WHEN doc_id % 5 = 0 THEN ' also admin@example.org'
      |    ELSE '' END AS ptext
      |  FROM documents)
      |SELECT doc_id,
      |  regexp_replace(regexp_replace(regexp_replace(ptext,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |    '\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}|\+1-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
      |    '\b([0-9]{1,3}\.)([0-9]{1,3}\.)([0-9]{1,3})\.[0-9]{1,3}\b',
      |    '<IPV4>', 'g') AS redacted,
      |  len(regexp_extract_all(ptext,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
      |  len(regexp_extract_all(ptext,
      |    '\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}|\+1-[0-9]{3}-[0-9]{4}')) AS n_phone,
      |  len(regexp_extract_all(ptext,
      |    '\b([0-9]{1,3}\.)([0-9]{1,3}\.)([0-9]{1,3})\.[0-9]{1,3}\b'))
      |    AS n_ipv4
      |FROM planted ORDER BY doc_id""".stripMargin

  // ---- TF-IDF ----------------------------------------------------------

  /** TF-IDF top-3 terms per document (raw tf × ln(N/df), ties broken by
    * term) — the frequency-analysis building block for vocab pruning
    * and keyword extraction. Both engines compute the score as the
    * same double expression over identical integer (tf, df, N), so the
    * rounded values hash-match exactly. */
  def q87Tfidf(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tfIdfTopTerms(Tables(s, dir, "documents"), "text", "doc_id", 3)
      .select($"doc_id", $"term", round($"score", 4).as("score"), $"rk")
      .orderBy($"doc_id", $"rk")

  val q87Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, UNNEST(string_split_regex(trim(text), '\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
      |ranked AS (
      |  SELECT tf.doc_id, tf.term,
      |    tf.tf * ln(CAST(n.n AS DOUBLE) / CAST(df.df AS DOUBLE)) AS score,
      |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
      |      ORDER BY tf.tf * ln(CAST(n.n AS DOUBLE) / CAST(df.df AS DOUBLE))
      |        DESC, tf.term) AS rk
      |  FROM tf JOIN df USING (term) CROSS JOIN n)
      |SELECT doc_id, term, ROUND(score, 4) AS score, rk
      |FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  // ---- bigram-LM perplexity (CCNet-style quality filter) ---------------

  /** Per-document perplexity under an add-alpha bigram LM estimated
    * from the corpus itself — the self-contained equivalent of the
    * CCNet/C4 KenLM quality filter. Fully oracled: per-bigram
    * log-probs go through DECIMAL(25,12) before the per-doc mean so
    * both engines sum exactly (double summation would be
    * partition-order-sensitive), and q87 already proved ln() is
    * bit-identical across engines. */
  def q89Perplexity(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bigramPerplexity(Tables(s, dir, "documents"), "text", "doc_id")
      .select($"doc_id", $"n_bigrams", round($"ppl", 4).as("ppl"))
      .orderBy($"doc_id")

  val q89Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
      |  FROM documents),
      |uni AS (SELECT doc_id, UNNEST(w) AS term FROM tok),
      |c1 AS (SELECT term, COUNT(*) AS c1 FROM uni GROUP BY 1),
      |v AS (SELECT COUNT(DISTINCT term) AS v FROM uni),
      |big AS (
      |  SELECT doc_id, array_to_string(w[i:i+1], ' ') AS g, w[i] AS w1
      |  FROM tok, UNNEST(range(1, len(w))) AS t(i) WHERE len(w) >= 2),
      |c2 AS (SELECT g, COUNT(*) AS c2 FROM big GROUP BY 1),
      |lp AS (
      |  SELECT b.doc_id,
      |    CAST(ln((c2.c2 + 0.5) / (c1.c1 + 0.5 * v.v)) AS DECIMAL(25,12))
      |      AS lp
      |  FROM big b JOIN c2 USING (g) JOIN c1 ON b.w1 = c1.term
      |  CROSS JOIN v)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |  ROUND(exp(-(CAST(SUM(lp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))), 4)
      |    AS ppl
      |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin

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

  // ---- q148: corpus text normalization ----------------------------------

  /** [[TextAnalysis.normalizeText]] over adversarially decorated text:
    * each document is wrapped with decomposed accent sequences
    * (e + U+0301, A + U+030A), a tab, and a BEL control character, so
    * the gate exercises every normalization step — NFC composition
    * (é / Å appear composed in the output), control→space, whitespace
    * collapse, trim. Pure row-local scan (codegen'd NFC kernel + two
    * regexes), no shuffle; the oracle replays the identical pipeline
    * through DuckDB's utf8proc NFC and RE2 regexes — the shared
    * regex/Unicode dialect discipline of q86. In-gate: the decoration
    * must actually change under NFC, and no tab/control byte may
    * survive. */
  def q148Normalize(s: SparkSession, dir: String): DataFrame = {
    val deco = concat(lit("é\tÅ "), $"text",
      lit(" \u0007x\u0301"))
    val out = Tables(s, dir, "documents")
      .select($"doc_id", TextAnalysis.normalizeText(deco).as("clean_text"))
    val probe = out
      .select(
        max(when($"clean_text".contains("\t") ||
          $"clean_text".contains("\u0007"), 1).otherwise(0)).as("bad"),
        max(when($"clean_text".startsWith("\u00e9"), 1).otherwise(0))
          .as("nfc"))
      .head()
    require(probe.getInt(0) == 0,
      "q148: control characters survived normalization")
    require(probe.getInt(1) == 1,
      "q148: NFC composition did not fire (no leading é)")
    out.orderBy($"doc_id")
  }

  val q148Sql: String =
    """SELECT doc_id,
      |  trim(regexp_replace(regexp_replace(
      |    nfc_normalize('e' || chr(769) || chr(9) || 'A' || chr(778) ||
      |      ' ' || text || ' ' || chr(7) || 'x' || chr(769)),
      |    '[\x00-\x1F\x7F]', ' ', 'g'), '\s+', ' ', 'g')) AS clean_text
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // ---- q186: extended string-function battery ----------------------------

  /** The string functions beyond the reference's str namespace (q64-66
    * covered that surface exactly): levenshtein, translate, lpad/rpad,
    * reverse, repeat, ascii, instr/strpos, substring_index/split_part,
    * left/right — all codegen'd row-local exprs on the scan, replayed
    * function-for-function by DuckDB. Per-part rows keep the battery
    * honest (no aggregation hiding a per-row divergence). */
  def q186StringBattery(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "part")
      .select($"p_partkey",
        levenshtein($"p_name", lower($"p_type")).as("lev"),
        translate($"p_name", "aeiou", "AEIOU").as("tr"),
        lpad($"p_type", 12, "*").as("lp"),
        rpad($"p_type", 12, "#").as("rp"),
        reverse($"p_name").as("rev"),
        repeat(substring($"p_name", 1, 2), 3).as("rep"),
        ascii($"p_name").as("asc"),
        instr($"p_name", "e").as("pos_e"),
        substring_index($"p_name", " ", 1).as("first_word"),
        substring($"p_name", 1, 3).as("l3"),
        $"p_name".substr(length($"p_name") - 1, lit(2)).as("r2"))
      .orderBy($"p_partkey")

  val q186Sql: String =
    """SELECT p_partkey,
      |  levenshtein(p_name, lower(p_type)) AS lev,
      |  translate(p_name, 'aeiou', 'AEIOU') AS tr,
      |  lpad(p_type, 12, '*') AS lp,
      |  rpad(p_type, 12, '#') AS rp,
      |  reverse(p_name) AS rev,
      |  repeat(substring(p_name, 1, 2), 3) AS rep,
      |  ascii(p_name) AS asc,
      |  strpos(p_name, 'e') AS pos_e,
      |  split_part(p_name, ' ', 1) AS first_word,
      |  substring(p_name, 1, 3) AS l3,
      |  right(p_name, 2) AS r2
      |FROM part ORDER BY p_partkey""".stripMargin

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

  // ---- q201: corpus QA report --------------------------------------------

  /** The corpus data card in ONE scan + one small aggregate: per
    * (source, lang) — document counts, exact-duplicate counts (hashed
    * text, certified by content in the oracle), token totals, and
    * median/p90 token lengths (continuous interpolation, the q20
    * cross-engine contract). This is the report every dataset release
    * ships; at 100 TB it is exactly this shape — one corpus scan
    * emitting (group, token-count, fingerprint), then a groups-sized
    * aggregate. */
  def q201CorpusReport(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select($"source", $"lang",
        TextAnalysis.tokenCount($"text").cast(LongType).as("nt"),
        // md5 not xxhash64: a 64-bit collision at corpus scale would
        // inflate n_dups vs the oracle's content-distinct count; the
        // 128-bit digest keeps the shuffle narrow AND collision-free
        md5($"text").as("fp"))
      .groupBy($"source", $"lang")
      .agg(count(lit(1)).as("n_docs"),
        (count(lit(1)) - countDistinct($"fp")).as("n_dups"),
        sum($"nt").as("tokens"),
        round(expr("percentile(nt, 0.5)"), 4).as("med_tokens"),
        round(expr("percentile(nt, 0.9)"), 4).as("p90_tokens"))
      .orderBy($"source", $"lang")

  val q201Sql: String =
    """SELECT source, lang, count(*) AS n_docs,
      |  CAST(count(*) - count(DISTINCT text) AS BIGINT) AS n_dups,
      |  CAST(sum(CAST(len(string_split_regex(trim(text), '\s+'))
      |    AS BIGINT)) AS BIGINT) AS tokens,
      |  round(quantile_cont(CAST(len(string_split_regex(trim(text),
      |    '\s+')) AS BIGINT), 0.5), 4) AS med_tokens,
      |  round(quantile_cont(CAST(len(string_split_regex(trim(text),
      |    '\s+')) AS BIGINT), 0.9), 4) AS p90_tokens
      |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- q202: tokenizer OOV-rate stats ------------------------------------

  /** Tokenizer QA: build the top-500 vocabulary from the corpus itself
    * (q101's builder — count desc, term asc tie-break), then measure
    * per-language OOV rates — the % of token OCCURRENCES a lookup
    * table would miss, the number that decides vocab size before a
    * training run. Vocabulary is broadcast (it is vocabulary-sized);
    * the corpus is scanned once; rates are exact integer ratios
    * rounded at 6 dp. Oracle replays the vocabulary (same window
    * tie-break) and the membership counts relationally. */
  def q202OovStats(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val vocab = TextAnalysis.buildVocab(docs, "text", maxSize = 500)
      .select($"term")
    val toks = docs.select($"lang",
      explode(TextAnalysis.tokens($"text")).as("term"))
    toks.join(broadcast(vocab.withColumn("__in", lit(1L))),
        Seq("term"), "left")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when($"__in".isNull, 1L).otherwise(0L)).as("n_oov"),
        round(sum(when($"__in".isNull, 1L).otherwise(0L)) /
          count(lit(1)).cast(DoubleType), 6).as("oov_rate"))
      .orderBy($"lang")
  }

  val q202Sql: String =
    """WITH tok AS (
      |  SELECT lang, unnest(string_split_regex(trim(text), '\s+'))
      |    AS term
      |  FROM documents),
      |vocab AS (
      |  SELECT term FROM (
      |    SELECT term, count(*) AS c,
      |      row_number() OVER (ORDER BY count(*) DESC, term ASC) AS rk
      |    FROM tok GROUP BY term)
      |  WHERE rk <= 500)
      |SELECT lang, count(*) AS n_tokens,
      |  count(*) FILTER (WHERE v.term IS NULL) AS n_oov,
      |  round(count(*) FILTER (WHERE v.term IS NULL) /
      |    CAST(count(*) AS DOUBLE), 6) AS oov_rate
      |FROM tok LEFT JOIN vocab v USING (term)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q215: mask() redaction built-in -----------------------------------

  /** The `mask()` built-in — codegen'd character-class redaction
    * (upper→X, lower→x, digit→n by default, all four classes
    * overridable) — the cheap structural-shape-preserving scrub
    * beside q86's pattern-based PII redaction: length and word
    * boundaries survive, content does not. Oracle replays both the
    * default and a custom-char form with regexp_replace chains. */
  def q215Mask(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "customer")
      .select($"c_custkey",
        concat($"c_name", lit(" #"), $"c_custkey" % 1000).as("raw"))
      .select($"c_custkey",
        mask($"raw").as("masked"),
        mask($"raw", lit("U"), lit("l"), lit("#"), lit("*"))
          .as("masked_custom"),
        (length(mask($"raw")) === length($"raw")).as("len_ok"))
      .orderBy($"c_custkey")

  val q215Sql: String =
    """WITH r AS (
      |  SELECT c_custkey,
      |    c_name || ' #' || (c_custkey % 1000) AS raw
      |  FROM customer)
      |SELECT c_custkey,
      |  regexp_replace(regexp_replace(regexp_replace(raw,
      |    '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g')
      |    AS masked,
      |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |    raw, '[^A-Za-z0-9]', '*', 'g'), '[A-Z]', 'U', 'g'),
      |    '[a-z]', 'l', 'g'), '[0-9]', '#', 'g') AS masked_custom,
      |  true AS len_ok
      |FROM r ORDER BY c_custkey""".stripMargin

  // ---- q220: web-corpus refresh pipeline ---------------------------------

  /** The composed web-corpus refresh, each stage an operator gated
    * individually this round, chained so INTERFACE drift is what the
    * oracle catches (the q84/q117 discipline, over the new surface):
    *
    *  1. crawl records = documents + a synthetic URL (host from
    *     doc_id, tracking params, fragment) → q190's parse_url
    *     canonicalization;
    *  2. URL-level dedup — keep the MIN doc_id per normalized URL
    *     (two "crawls" of one page collide after canonicalization:
    *     doc_id % 250 aliases pages onto 250 urls);
    *  3. quality gate — token count ≥ 5 and ASCII-alpha ratio ≥ 0.5
    *     (the q84 rules);
    *  4. leakage-free split at PAGE granularity (q197's discipline,
    *     splitmix64 on the url hash's stable key);
    *  5. per-(split, domain-shard) report: doc counts, token sums,
    *     id checksums (q201's data-card shape).
    *
    * Every stage is SQL-expressible, so the WHOLE chain is DuckDB-
    * replayed — canonicalization, keep-min dedup, both quality rules,
    * the split hash, and the rollup, value-for-value. */
  def q220CorpusRefresh(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables(s, dir, "documents")
      .select($"doc_id", $"text",
        concat(lit("HTTP://Host"), $"doc_id" % 50, lit(".Crawl.ORG:80/d/"),
          $"doc_id" % 250, lit("?utm_ref=x&v=1#top")).as("url"))
    val keepQ = array_join(filter(
      split(parse_url($"url", lit("QUERY")), "&"),
      p => !p.startsWith("utm_")), "&")
    val canon = raw.select($"doc_id", $"text",
      concat(lower(parse_url($"url", lit("PROTOCOL"))), lit("://"),
        lower(parse_url($"url", lit("HOST"))),
        parse_url($"url", lit("PATH")),
        when(length(keepQ) > 0, concat(lit("?"), keepQ))
          .otherwise(lit(""))).as("norm_url"))
    val deduped = canon
      .groupBy($"norm_url")
      .agg(min($"doc_id").as("doc_id"))
      .join(canon.select($"doc_id", $"text"), "doc_id")
    val kept = deduped.where(
      TextAnalysis.tokenCount($"text") >= 5 &&
        graft.functions.Functional.asciiAlphaRatio($"text") >= 0.5)
    kept
      .select($"doc_id", $"norm_url",
        TextAnalysis.tokenCount($"text").cast(LongType).as("nt"),
        Sampling.splitLabel($"doc_id", Seq("train" -> 0.9,
          "eval" -> 0.1), 23L).as("split"))
      .groupBy($"split", ($"doc_id" % 5).as("shard"))
      .agg(count(lit(1)).as("n_docs"), sum($"nt").as("tokens"),
        sum($"doc_id").as("id_sum"))
      .orderBy($"split", $"shard")
  }

  // split thresholds: floor(0.9*8192)=7372 (Sampling.threshold floor
  // semantics, the q83/q84 convention). asciiAlphaRatio =
  // ascii-letter count / total chars (0 for empty), replayed with
  // regexp character-class counts.
  val q220Sql: String = {
    val mix = LmPrepGates.bucketCtes("sp", 23L,
      "(SELECT DISTINCT doc_id FROM documents)", "doc_id")
    s"""WITH canon AS (
       |  SELECT doc_id, text,
       |    'http://host' || (doc_id % 50) || '.crawl.org/d/' ||
       |      (doc_id % 250) || '?v=1' AS norm_url
       |  FROM documents),
       |dedup AS (
       |  SELECT norm_url, min(doc_id) AS doc_id FROM canon GROUP BY 1),
       |docs AS (
       |  SELECT d.doc_id, d.norm_url, c.text
       |  FROM dedup d JOIN canon c ON d.doc_id = c.doc_id),
       |kept AS (
       |  SELECT doc_id, norm_url,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
       |      AS nt
       |  FROM docs
       |  WHERE len(string_split_regex(trim(text), '\\s+')) >= 5
       |    AND CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
       |          AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE)
       |          >= 0.5),
       |$mix,
       |lab AS (
       |  SELECT k AS doc_id,
       |    CASE WHEN bucket < 7372 THEN 'train' ELSE 'eval' END
       |      AS split
       |  FROM spb)
       |SELECT split, kept.doc_id % 5 AS shard, count(*) AS n_docs,
       |  CAST(sum(nt) AS BIGINT) AS tokens,
       |  CAST(sum(kept.doc_id) AS BIGINT) AS id_sum
       |FROM kept JOIN lab USING (doc_id)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // ---- q284: Zipf fit over the term-frequency spectrum, hashed ---------------

  /** Corpus-statistics capstone: the Zipf law fit ln(freq) ~ a + b·ln(rank)
    * computed entirely on the FREQUENCY SPECTRUM — (freq → #types),
    * O(√tokens) rows — with rank(f) = #types of frequency ≥ f derived
    * by [[graft.operators.Packing.prefixSumInOrder]] over the spectrum
    * in freq-descending order (idCol = freq itself: unique integral by
    * construction — the two-phase primitive reused on a REAL derived
    * table, not a key column). Never a per-term rank: the vocabulary
    * is never ranked row-by-row, so there is no vocabulary-sized
    * window anywhere. Exactness: each point's ln(rank), ln(freq),
    * products mediate through DECIMAL(20,9) so the OLS sums are exact
    * and partition-order-independent; slope/intercept are then ONE
    * double chain over those exact sums (the q173 regr convention,
    * made explicit), rounded to 6. Output: type/token/spectrum counts
    * + the ×10⁹ integer sum witnesses + slope/intercept. */
  def q284ZipfFit(s: SparkSession, dir: String): DataFrame = {
    val tfreq = Tables(s, dir, "documents")
      .select(explode(split(trim($"text"), "\\s+")).as("term"))
      .groupBy($"term").agg(count(lit(1)).as("freq"))
    val spec = tfreq.groupBy($"freq").agg(count(lit(1)).as("ntypes"))
      .withColumn("negf", -$"freq")
    val pre = graft.operators.Packing.prefixSumInOrder(
      spec, "freq", "ntypes", Seq("negf"), parts = 8)
    def d(c: Column): Column = c.cast(DoubleType)
    def m9(c: Column): Column = c.cast(DecimalType(20, 9))
    val pts = pre.select(
      log(d($"global_start" + $"ntypes")).as("x"),
      log(d($"freq")).as("y"),
      $"ntypes", $"freq")
    val UNIT9 = 1000000000L
    val sums = pts.agg(
      count(lit(1)).as("n_points"),
      sum($"ntypes").cast(LongType).as("n_types"),
      sum($"ntypes" * $"freq").cast(LongType).as("n_tokens"),
      (sum(m9($"x")) * UNIT9).cast(LongType).as("sx_units"),
      (sum(m9($"y")) * UNIT9).cast(LongType).as("sy_units"),
      (sum(m9($"x" * $"y")) * UNIT9).cast(LongType).as("sxy_units"),
      (sum(m9($"x" * $"x")) * UNIT9).cast(LongType).as("sxx_units"))
    // slope/intercept: one IEEE chain over the exact integer sums
    def f(c: Column): Column = d(c) / lit(1.0e9)
    val nD = d($"n_points")
    val den0 = nD * f($"sxx_units") - f($"sx_units") * f($"sx_units")
    // a single-point spectrum (every term equally frequent) zeroes the
    // OLS denominator: x/0 is NaN in Spark but NULL in DuckDB — raise
    // loudly instead of silently diverging (the q260/q268 convention)
    val den = when(den0 === 0.0, raise_error(lit(
      "q284: degenerate frequency spectrum (single point) — the Zipf " +
        "OLS denominator is zero; the fit is undefined on this corpus")))
      .otherwise(den0)
    val slope = (nD * f($"sxy_units") - f($"sx_units") * f($"sy_units")) /
      den
    sums.select($"n_points", $"n_types", $"n_tokens",
      $"sx_units", $"sy_units", $"sxy_units", $"sxx_units",
      round(slope, 6).as("slope"),
      round((f($"sy_units") - slope * f($"sx_units")) / nD, 6)
        .as("icept"))
  }

  val q284Sql: String =
    """WITH tok AS (
      |  SELECT UNNEST(string_split_regex(trim(text), '\s+')) AS term
      |  FROM documents),
      |tfreq AS (SELECT term, COUNT(*) AS freq FROM tok GROUP BY 1),
      |spec AS (SELECT freq, COUNT(*) AS ntypes FROM tfreq GROUP BY 1),
      |pre AS (SELECT freq, ntypes,
      |  CAST(coalesce(SUM(ntypes) OVER (ORDER BY freq DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    AS BIGINT) AS global_start
      |  FROM spec),
      |pts AS (SELECT ntypes, freq,
      |  ln(CAST(global_start + ntypes AS DOUBLE)) AS x,
      |  ln(CAST(freq AS DOUBLE)) AS y FROM pre),
      |sums AS (SELECT
      |  CAST(COUNT(*) AS BIGINT) AS n_points,
      |  CAST(SUM(ntypes) AS BIGINT) AS n_types,
      |  CAST(SUM(ntypes * freq) AS BIGINT) AS n_tokens,
      |  CAST(SUM(CAST(x AS DECIMAL(20,9))) * 1000000000 AS BIGINT)
      |    AS sx_units,
      |  CAST(SUM(CAST(y AS DECIMAL(20,9))) * 1000000000 AS BIGINT)
      |    AS sy_units,
      |  CAST(SUM(CAST(x * y AS DECIMAL(20,9))) * 1000000000 AS BIGINT)
      |    AS sxy_units,
      |  CAST(SUM(CAST(x * x AS DECIMAL(20,9))) * 1000000000 AS BIGINT)
      |    AS sxx_units
      |  FROM pts)
      |SELECT n_points, n_types, n_tokens, sx_units, sy_units, sxy_units,
      |  sxx_units,
      |  round((CAST(n_points AS DOUBLE) * (CAST(sxy_units AS DOUBLE) / 1e9)
      |    - (CAST(sx_units AS DOUBLE) / 1e9) * (CAST(sy_units AS DOUBLE) / 1e9))
      |   / (CAST(n_points AS DOUBLE) * (CAST(sxx_units AS DOUBLE) / 1e9)
      |    - (CAST(sx_units AS DOUBLE) / 1e9) * (CAST(sx_units AS DOUBLE) / 1e9)),
      |   6) AS slope,
      |  round(((CAST(sy_units AS DOUBLE) / 1e9)
      |    - ((CAST(n_points AS DOUBLE) * (CAST(sxy_units AS DOUBLE) / 1e9)
      |      - (CAST(sx_units AS DOUBLE) / 1e9) * (CAST(sy_units AS DOUBLE) / 1e9))
      |     / (CAST(n_points AS DOUBLE) * (CAST(sxx_units AS DOUBLE) / 1e9)
      |      - (CAST(sx_units AS DOUBLE) / 1e9) * (CAST(sx_units AS DOUBLE) / 1e9)))
      |      * (CAST(sx_units AS DOUBLE) / 1e9)) / CAST(n_points AS DOUBLE),
      |   6) AS icept
      |FROM sums""".stripMargin

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
}
