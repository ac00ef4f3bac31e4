package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Functional
import graft.operators.{Dedup, Multimodal}
import graft.streaming.StreamDrain

/** Round-19 gates: content-level image near-duplicate detection — the
  * multimodal story extended from container metadata (q70/q223/q229)
  * to DECODED PIXELS. q289 certifies the perceptual dHash of every
  * image bit-for-bit (real PNG encode on the executors, real
  * javax.imageio decode inside the kernel, and a DuckDB oracle that
  * re-derives every signature from the pixel-generator arithmetic —
  * PNG losslessness makes the codec roundtrip the identity); q290
  * certifies the banded Hamming near-dup join over those signatures,
  * with brightness-shift / 2× pixel-replication upscale / local-cell
  * perturbation planted near-dups that MUST surface (in-gate raise).
  * Naming/oracle/float conventions as in [[Queries]].
  */
object Queries40 {

  private[graft] val ImgSeed = 1019L
  private[graft] val W = 18
  private[graft] val H = 16

  /** (doc_id, blob): one seeded 18×16 PNG per document plus four
    * planted variants of one base image — verbatim re-encode,
    * +5 brightness (clamp-free by the 0..249 gray range; dHash is
    * gradient-based so Hamming 0), 2× pixel-replication upscale
    * (box averages are the same multisets scaled ×4, so Hamming 0),
    * and a 2×2-cell blown to white (flips at most the one comparison
    * bit that touches cell (0,0), so Hamming ≤ 1). PNG encode runs on
    * the executors (fixture synthesis, the q223 WAV precedent); the
    * dHash decode path then reads REAL codec output, not a stub. */
  private def imageCorpus(s: SparkSession, dir: String): DataFrame = {
    val synth = udf((id: Long) =>
      Multimodal.encodeGrayPng(Multimodal.synthGray(id, W, H, ImgSeed), W, H))
    val corpus = Tables(s, dir, "documents").select($"doc_id")
      .spreadOverCores // (a) the synth UDF
      .select($"doc_id", synth($"doc_id").as("blob"))
    val p0 = Queries2.plantBase
    val base = Multimodal.synthGray(p0, W, H, ImgSeed)
    val bright = base.map(_ + 5)
    val up = Array.tabulate(2 * W * 2 * H) { p =>
      val x = p % (2 * W); val y = p / (2 * W)
      base((y / 2) * W + (x / 2))
    }
    val pert = Array.tabulate(W * H) { p =>
      val x = p % W; val y = p / W
      if (x < 2 && y < 2) 255 else base(p)
    }
    val plants = Seq(
      (p0, Multimodal.encodeGrayPng(base, W, H)),
      (p0 + 1L, Multimodal.encodeGrayPng(bright, W, H)),
      (p0 + 2L, Multimodal.encodeGrayPng(up, 2 * W, 2 * H)),
      (p0 + 3L, Multimodal.encodeGrayPng(pert, W, H)))
    corpus.unionByName(
      s.createDataFrame(plants).toDF("doc_id", "blob"))
  }

  /** Every image's 64-bit dHash — full oracle: DuckDB regenerates the
    * pixels (splitmix64 replay, the q83 machinery), box-filters to the
    * 9×8 grid with the same floor divisions, and packs the same
    * MSB-first gradient bits. A green run certifies the whole chain:
    * PNG encode → javax.imageio decode → integer luma → box filter →
    * dHash, bit for bit, for every document and every planted variant. */
  def q289ImageDhash(s: SparkSession, dir: String): DataFrame =
    imageCorpus(s, dir)
      .select($"doc_id", Functional.dhash64($"blob").as("dhash"))
      // (b) one (long, long) row per image from the dhash64 kernel
      .orderByInOnePartition($"doc_id")

  /** Content-level near-dup pairs via [[Dedup.hammingPairs]] (4×16
    * banding — lossless to Hamming 3 — + capGroups + exact verify) over
    * the image dHashes; raises unless all six planted pairs among the
    * four variants surface. Full oracle: DuckDB re-derives every
    * signature and takes the EXACT all-pairs Hamming ≤ 3 set — pair
    * equality certifies the banded join lost nothing (and the cap
    * dropped nothing) on this corpus. */
  def q290ImageNeardup(s: SparkSession, dir: String): DataFrame = {
    val sig = imageCorpus(s, dir)
      .select($"doc_id", Functional.dhash64($"blob").as("dhash"))
    val pairs = Dedup.hammingPairs(sig, "doc_id", "dhash",
      maxHamming = 3, maxBucket = 1000)
    val p0 = Queries2.plantBase
    val expected = Seq(
      (p0, p0 + 1L), (p0, p0 + 2L), (p0, p0 + 3L),
      (p0 + 1L, p0 + 2L), (p0 + 1L, p0 + 3L), (p0 + 2L, p0 + 3L))
    val expDf = s.createDataFrame(expected).toDF("id_a", "id_b")
    val found = pairs.join(broadcast(expDf), Seq("id_a", "id_b"),
        "left_semi")
      .agg(count(lit(1)).as("__nplanted"))
    pairs.crossJoin(broadcast(found))
      .select($"id_a", $"id_b", $"hamming", $"dropped_candidates",
        when($"__nplanted" =!= 6L, raise_error(lit(
          "q290: a planted near-dup pair (brightness shift, 2x " +
            "upscale, or cell perturbation of the same base image) " +
            "is missing from the banded Hamming join — content-level " +
            "image dedup lost a true duplicate")))
          .otherwise(lit(true)).as("planted_ok"))
      .orderBy($"id_a", $"id_b")
  }

  /** Shared oracle derivation: pixels → cells → bits → signed dHash.
    * `mode` 0 = direct synth (+`adj` brightness), 1 = 2× upscale of the
    * base image (bkey addresses the base pixel), 2 = base with the 2×2
    * corner forced to 255. splitmix64 replay via Queries5.hashCtes —
    * ONE definition of the mix across the sampling and image gates. */
  private val dhashCtes: String = {
    val p0 = Queries2.plantBase
    s"""geom AS (
       |  SELECT doc_id AS id, $W AS w, $H AS h, doc_id AS src,
       |    0 AS adj, 0 AS mode FROM documents
       |  UNION ALL SELECT $p0, $W, $H, $p0, 0, 0
       |  UNION ALL SELECT ${p0 + 1}, $W, $H, $p0, 5, 0
       |  UNION ALL SELECT ${p0 + 2}, ${2 * W}, ${2 * H}, $p0, 0, 1
       |  UNION ALL SELECT ${p0 + 3}, $W, $H, $p0, 0, 2),
       |pix0 AS (
       |  SELECT g.id, g.w, g.h, g.adj, g.mode,
       |    CAST(r.range % g.w AS BIGINT) AS x,
       |    CAST(r.range // g.w AS BIGINT) AS y,
       |    g.src * 65536 + (CASE WHEN g.mode = 1
       |      THEN ((r.range // g.w) // 2) * $W + ((r.range % g.w) // 2)
       |      ELSE r.range END) AS bkey
       |  FROM geom g CROSS JOIN range(${4 * W * H}) r
       |  WHERE r.range < g.w * g.h),
       |keys AS (SELECT DISTINCT bkey FROM pix0),
       |${Queries5.hashCtes("px", ImgSeed, "keys", "bkey")},
       |pxu AS (SELECT k, CAST(CASE WHEN h < 0
       |    THEN CAST(h AS HUGEINT) + 18446744073709551616
       |    ELSE CAST(h AS HUGEINT) END AS UBIGINT) AS u FROM pxh),
       |pix AS (SELECT p.id, p.w, p.h, p.x, p.y,
       |  CASE WHEN p.mode = 2 AND p.x < 2 AND p.y < 2 THEN 255
       |    ELSE CAST((pxu.u >> 8) % 250 AS BIGINT) + p.adj END AS gray
       |  FROM pix0 p JOIN pxu ON p.bkey = pxu.k),
       |cells AS (SELECT id, (y * 8) // h AS cy, (x * 9) // w AS cx,
       |    SUM(gray) // COUNT(*) AS avgv
       |  FROM pix GROUP BY 1, 2, 3),
       |bits AS (SELECT a.id, a.cy * 8 + a.cx AS i,
       |    CASE WHEN a.avgv < b.avgv THEN 1 ELSE 0 END AS bit
       |  FROM cells a JOIN cells b
       |    ON a.id = b.id AND a.cy = b.cy AND b.cx = a.cx + 1
       |  WHERE a.cx < 8),
       |sigh AS (SELECT id,
       |    SUM(CAST(bit AS HUGEINT) * (CAST(1 AS HUGEINT) << (63 - i)))
       |      AS sh
       |  FROM bits GROUP BY 1),
       |sig AS (SELECT id, CAST(CASE WHEN sh >= 9223372036854775808
       |    THEN sh - 18446744073709551616 ELSE sh END AS BIGINT) AS dhash
       |  FROM sigh)""".stripMargin
  }

  val q289Sql: String =
    s"""WITH $dhashCtes
       |SELECT id AS doc_id, dhash FROM sig ORDER BY doc_id""".stripMargin

  val q290Sql: String =
    s"""WITH $dhashCtes,
       |u AS (SELECT id, CAST(CASE WHEN dhash < 0
       |    THEN CAST(dhash AS HUGEINT) + 18446744073709551616
       |    ELSE CAST(dhash AS HUGEINT) END AS UBIGINT) AS ud FROM sig),
       |pairs AS (SELECT a.id AS id_a, b.id AS id_b,
       |    CAST(bit_count(xor(a.ud, b.ud)) AS INTEGER) AS hamming
       |  FROM u a JOIN u b ON a.id < b.id)
       |SELECT id_a, id_b, hamming, CAST(0 AS BIGINT) AS dropped_candidates,
       |  true AS planted_ok
       |FROM pairs WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin

  // ---- q291: streaming near-dup ingestion (MinHash store join) --------------

  /** The near-dup complement of q135's incremental exact dedup, run as
    * a STREAMING query: new document shards arrive through readStream,
    * their minhash band signatures probe the static signature store of
    * everything already ingested ([[Dedup.minHashStoreCandidates]] —
    * stateless fresh side, so the watermark-free append plan is
    * legal), and candidates drain to the sink where pair-dedup (the
    * groupBy max) lives, exactly where a production ingest would merge
    * into the store. Self-certifying (the LSH family is hash-defined,
    * q40's no-oracle convention) with two raises:
    *
    *  1. stream == batch: the drained pair set must equal the SAME
    *     operator run in batch mode over the same corpus, element for
    *     element including the est_jaccard doubles (the q261
    *     stream==batch precedent);
    *  2. planted near-dups surface: a verbatim duplicate (est = 1.0
    *     exactly — identical text, identical signature, every band
    *     collides) and a one-token-appended near-dup (shingle Jaccard
    *     78/79) of a store document arrive through the STREAM and must
    *     be caught.
    *
    * The planted fresh shard is written as a real parquet file and
    * arrives through the same file-stream source as the corpus shard —
    * the stream sees files, not fixtures. */
  def q291StreamNeardup(s: SparkSession, dir: String): DataFrame = {
    val spark = StreamDrain.session(s, emptyBatches = false)
    val p0 = Queries2.plantBase
    val baseText = (0 until 80).map(i => s"planted$i").mkString(" ")
    val plantFreshRows =
      Seq((p0 + 1L, baseText), (p0 + 2L, baseText + " plantedtail"))
    val docs = Tables(spark, dir, "documents").select($"doc_id", $"text")
    val store = docs.where($"doc_id" < 250)
      .unionByName(spark.createDataFrame(Seq((p0, baseText)))
        .toDF("doc_id", "text"))
    // unique dir per run: two concurrent suite runs (Verify + Bench,
    // or two SF dirs) must not overwrite each other's plant shard out
    // from under an active file stream.
    // Fs.scratchDir: tmpfs-backed when roomy (round 22 — the plant
    // shard is harness staging; disk fsync is pure overhead) and
    // nanoTime+counter unique, same concurrent-run safety as before
    val plantDir = new java.io.File(Fs.scratchDir("q291_plants"))
    spark.createDataFrame(plantFreshRows).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(plantDir.getPath)
    val sDocs = Tables.stream(spark, dir, "documents")
      .select($"doc_id", $"text").where($"doc_id" >= 250)
    val sPlants = spark.readStream
      .schema(StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("text", StringType, nullable = true))))
      .parquet(plantDir.getPath)
      .select($"doc_id", $"text")
    val fresh = sDocs.unionByName(sPlants)
    val cand = Dedup.minHashStoreCandidates(store, fresh,
      "text", "doc_id")
    val drained = StreamDrain.toMemory(cand.writeStream.outputMode("append"))
    Fs.rmTree(plantDir) // drained; nothing reads the shard again
    def pairify(c: DataFrame): DataFrame = c
      .groupBy($"id_a", $"id_b")
      .agg(max($"est_jaccard").as("est_jaccard"))
    val streamPairs = pairify(drained)
    val batchFresh = docs.where($"doc_id" >= 250)
      .unionByName(spark.createDataFrame(plantFreshRows)
        .toDF("doc_id", "text"))
    val batchPairs = pairify(
      Dedup.minHashStoreCandidates(store, batchFresh, "text", "doc_id"))
    val ns = streamPairs.agg(count(lit(1)).as("n_stream"))
    val nb = batchPairs.agg(count(lit(1)).as("n_batch"))
    // the inner join keys include est_jaccard: the same deterministic
    // kernel on the same rows must produce the same double bit-for-bit
    val nm = streamPairs
      .join(batchPairs, Seq("id_a", "id_b", "est_jaccard"))
      .agg(count(lit(1)).as("n_match"))
    val planted = streamPairs
      .where($"id_a" === p0 &&
        ($"id_b" === p0 + 1L || $"id_b" === p0 + 2L))
      .agg(count(lit(1)).as("n_planted"),
        max(when($"id_b" === p0 + 1L, $"est_jaccard")).as("est_dup"))
    streamPairs
      .crossJoin(broadcast(ns)).crossJoin(broadcast(nb))
      .crossJoin(broadcast(nm)).crossJoin(broadcast(planted))
      .select($"id_a", $"id_b", $"est_jaccard",
        when($"n_stream" =!= $"n_batch" || $"n_match" =!= $"n_stream",
          raise_error(lit(
            "q291: streamed near-dup pair set differs from the batch " +
              "run of the same operator on the same corpus — " +
              "incremental ingest and batch dedup disagree")))
          .otherwise(lit(true)).as("stream_eq_batch"),
        when($"n_planted" =!= 2L || $"est_dup" =!= 1.0,
          raise_error(lit(
            "q291: a planted near-dup (verbatim duplicate at est 1.0 " +
              "or one-token-appended variant) of a store document " +
              "arrived through the stream and was not caught")))
          .otherwise(lit(true)).as("planted_ok"))
      .orderBy($"id_a", $"id_b")
  }

  // ---- q292: winnowing density/coverage, hashed companion --------------------

  /** Hashed companion to the q77/q78 winnowing gates (the q250
    * pattern): the fingerprint VALUES are rolling-hash-defined, but the
    * selection COUNTS obey integer bounds derivable from text length
    * alone — Schleimer et al.'s coverage guarantee gives, per document
    * with m byte k-grams and win = min(w, m):
    *   n_windows/win ≤ nSel ≤ n_windows   (n_windows = m − win + 1)
    * and the paper's expected density is 2/(w+1) selections per k-gram
    * on random input. The gate counts bound VIOLATIONS (raise unless
    * zero — cross-multiplied integer comparisons, no division) and
    * checks the corpus-wide realized density lands in the generous
    * [1/w, 4/(w+1)] band around that expectation; DuckDB restates
    * every emitted integer from octet_length(text) and pins the
    * violation count at its only legal value. Takes the q77/q78 pair
    * from "rows-only" to "rows-only with a hashed integer companion". */
  def q292WinnowDensity(s: SparkSession, dir: String): DataFrame = {
    val k = 8; val w = 16
    val per = Tables(s, dir, "documents").select(
      greatest(octet_length($"text") - (k - 1), lit(0))
        .cast(LongType).as("m"),
      Functional.winnowSelCount($"text", k, w).as("nsel"))
      .select($"m", $"nsel",
        when($"m" > 0L, least(lit(w.toLong), $"m")).otherwise(lit(0L))
          .as("win"))
      .select($"m", $"nsel", $"win",
        when($"m" > 0L, $"m" - $"win" + 1L).otherwise(lit(0L)).as("nw"))
    val agg = per.agg(
      count(lit(1)).as("n_docs"),
      sum($"m").cast(LongType).as("total_kgrams"),
      sum($"nw").cast(LongType).as("total_windows"),
      // coverage: nsel*win >= nw (at least one pick per window) and
      // nsel <= nw (at most one pick per window index) — exact
      // integers, no ceil/division
      sum(when($"m" > 0L &&
          ($"nsel" * $"win" < $"nw" || $"nsel" > $"nw"), 1L)
        .otherwise(0L)).cast(LongType).as("viol"),
      sum($"nsel").cast(LongType).as("total_sel"))
    agg.select(
      $"n_docs", $"total_kgrams", $"total_windows",
      when($"viol" =!= 0L, raise_error(lit(
        "q292: a document violated the winnowing coverage bounds " +
          "(picks per window outside [n_windows/win, n_windows]) — " +
          "the selection loop broke the SIGMOD'03 guarantee")))
        .otherwise(lit(0L)).as("coverage_violations"),
      // density band via cross-multiplication: sel/kgrams in
      // [1/w, 4/(w+1)] around the paper's 2/(w+1) expectation
      when($"total_sel" * w < $"total_kgrams" ||
          $"total_sel" * (w + 1) > $"total_kgrams" * 4L, raise_error(lit(
        "q292: corpus-wide winnowing density left the [1/w, 4/(w+1)] " +
          "band around the 2/(w+1) expectation — the fingerprint set " +
          "is mis-sized for join dedup")))
        .otherwise(lit(true)).as("density_in_band"))
  }

  val q292Sql: String = {
    val k = 8
    s"""WITH d AS (SELECT greatest(strlen(text) - ${k - 1}, 0) AS m
       |  FROM documents),
       |s AS (SELECT m, least(16, m) AS win FROM d),
       |agg AS (SELECT
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(m) AS BIGINT) AS total_kgrams,
       |  CAST(SUM(CASE WHEN m > 0 THEN m - win + 1 ELSE 0 END) AS BIGINT)
       |    AS total_windows
       |  FROM s)
       |SELECT n_docs, total_kgrams, total_windows,
       |  CAST(0 AS BIGINT) AS coverage_violations,
       |  true AS density_in_band
       |FROM agg""".stripMargin
  }

  // ---- q293/q294: content-level AUDIO fingerprint + near-dup -----------------

  private[graft] val AudSeed = 2027L
  private[graft] val NSamp = 260 // 4 samples per frame on the 65-frame grid

  /** (doc_id, blob): one seeded PCM-16 mono WAV per document plus four
    * planted variants of one base clip — verbatim re-encode, half gain
    * (samples are even by construction, so s/2 is exact and every
    * frame-energy comparison is unchanged: Hamming 0), 2× upsample
    * (duplicated samples double every aligned frame energy: Hamming
    * 0), and a burst blown into frame 0 (flips at most bit 0:
    * Hamming ≤ 1). The audio face of [[imageCorpus]]. */
  private def audioCorpus(s: SparkSession, dir: String): DataFrame = {
    val synth = udf((id: Long) => Multimodal.encodePcm16Wav(
      Multimodal.synthPcm16(id, NSamp, AudSeed)))
    val corpus = Tables(s, dir, "documents").select($"doc_id")
      .spreadOverCores // (a) the synth UDF
      .select($"doc_id", synth($"doc_id").as("blob"))
    val p0 = Queries2.plantBase
    val base = Multimodal.synthPcm16(p0, NSamp, AudSeed)
    val half = base.map(v => (v / 2).toShort)
    val up = Array.tabulate(2 * NSamp)(i => base(i / 2))
    val burst = base.zipWithIndex.map { case (v, i) =>
      if (i < 4) 16382.toShort else v
    }
    val plants = Seq(
      (p0, Multimodal.encodePcm16Wav(base)),
      (p0 + 1L, Multimodal.encodePcm16Wav(half)),
      (p0 + 2L, Multimodal.encodePcm16Wav(up)),
      (p0 + 3L, Multimodal.encodePcm16Wav(burst)))
    corpus.unionByName(s.createDataFrame(plants).toDF("doc_id", "blob"))
  }

  /** Every clip's 64-bit gain-invariant audio fingerprint — full
    * oracle: DuckDB regenerates the samples (splitmix64 replay),
    * frames the integer energies with the same floor divisions, and
    * packs the same gradient bits; WAV is uncompressed, so the
    * container roundtrip is the identity. The audio face of q289. */
  def q293AudioFp(s: SparkSession, dir: String): DataFrame =
    audioCorpus(s, dir)
      .select($"doc_id", Functional.audioFp64($"blob").as("afp"))
      .orderBy($"doc_id")

  /** Audio near-dup pairs via the SAME [[Dedup.hammingPairs]] banding
    * the image and simhash families use (one machinery, three
    * modalities); raises unless all six planted pairs surface. Full
    * oracle: exact all-pairs Hamming ≤ 3 over the re-derived
    * fingerprints. */
  def q294AudioNeardup(s: SparkSession, dir: String): DataFrame = {
    val sig = audioCorpus(s, dir)
      .select($"doc_id", Functional.audioFp64($"blob").as("afp"))
    val pairs = Dedup.hammingPairs(sig, "doc_id", "afp",
      maxHamming = 3, maxBucket = 1000)
    val p0 = Queries2.plantBase
    val expected = Seq(
      (p0, p0 + 1L), (p0, p0 + 2L), (p0, p0 + 3L),
      (p0 + 1L, p0 + 2L), (p0 + 1L, p0 + 3L), (p0 + 2L, p0 + 3L))
    val found = pairs.join(
        broadcast(s.createDataFrame(expected).toDF("id_a", "id_b")),
        Seq("id_a", "id_b"), "left_semi")
      .agg(count(lit(1)).as("__nplanted"))
    pairs.crossJoin(broadcast(found))
      .select($"id_a", $"id_b", $"hamming", $"dropped_candidates",
        when($"__nplanted" =!= 6L, raise_error(lit(
          "q294: a planted near-dup pair (half gain, 2x upsample, or " +
            "frame burst of the same base clip) is missing from the " +
            "banded Hamming join — content-level audio dedup lost a " +
            "true duplicate")))
          .otherwise(lit(true)).as("planted_ok"))
      .orderBy($"id_a", $"id_b")
  }

  /** Shared oracle derivation for the audio gates: samples → frame
    * energies → gradient bits → signed fingerprint. mode 0 = direct
    * synth, 1 = half gain, 2 = 2× upsample (bkey addresses the base
    * sample), 3 = frame-0 burst. */
  private[graft] val audioFpCtes: String = {
    val p0 = Queries2.plantBase
    s"""ageom AS (
       |  SELECT doc_id AS id, $NSamp AS n, doc_id AS src, 0 AS mode
       |    FROM documents
       |  UNION ALL SELECT $p0, $NSamp, $p0, 0
       |  UNION ALL SELECT ${p0 + 1}, $NSamp, $p0, 1
       |  UNION ALL SELECT ${p0 + 2}, ${2 * NSamp}, $p0, 2
       |  UNION ALL SELECT ${p0 + 3}, $NSamp, $p0, 3),
       |asm0 AS (
       |  SELECT g.id, g.n, g.mode, CAST(r.range AS BIGINT) AS i,
       |    g.src * 65536 + (CASE WHEN g.mode = 2 THEN r.range // 2
       |      ELSE r.range END) AS bkey
       |  FROM ageom g CROSS JOIN range(${2 * NSamp}) r
       |  WHERE r.range < g.n),
       |akeys AS (SELECT DISTINCT bkey FROM asm0),
       |${Queries5.hashCtes("au", AudSeed, "akeys", "bkey")},
       |auu AS (SELECT k, CAST(CASE WHEN h < 0
       |    THEN CAST(h AS HUGEINT) + 18446744073709551616
       |    ELSE CAST(h AS HUGEINT) END AS UBIGINT) AS u FROM auh),
       |asmp AS (SELECT a.id, a.n, a.i,
       |  CASE WHEN a.mode = 3 AND a.i < 4 THEN 16382
       |    WHEN a.mode = 1
       |    THEN (2 * CAST((auu.u >> 8) % 16384 AS BIGINT) - 16384) // 2
       |    ELSE 2 * CAST((auu.u >> 8) % 16384 AS BIGINT) - 16384
       |    END AS sv
       |  FROM asm0 a JOIN auu ON a.bkey = auu.k),
       |aen AS (SELECT id, (i * 65) // n AS f, SUM(abs(sv)) AS e
       |  FROM asmp GROUP BY 1, 2),
       |abits AS (SELECT a.id, a.f AS i,
       |    CASE WHEN a.e < b.e THEN 1 ELSE 0 END AS bit
       |  FROM aen a JOIN aen b ON a.id = b.id AND b.f = a.f + 1
       |  WHERE a.f < 64),
       |asigh AS (SELECT id,
       |    SUM(CAST(bit AS HUGEINT) * (CAST(1 AS HUGEINT) << (63 - i)))
       |      AS sh
       |  FROM abits GROUP BY 1),
       |asig AS (SELECT id, CAST(CASE WHEN sh >= 9223372036854775808
       |    THEN sh - 18446744073709551616 ELSE sh END AS BIGINT) AS afp
       |  FROM asigh)""".stripMargin
  }

  val q293Sql: String =
    s"""WITH $audioFpCtes
       |SELECT id AS doc_id, afp FROM asig ORDER BY doc_id""".stripMargin

  val q294Sql: String =
    s"""WITH $audioFpCtes,
       |apu AS (SELECT id, CAST(CASE WHEN afp < 0
       |    THEN CAST(afp AS HUGEINT) + 18446744073709551616
       |    ELSE CAST(afp AS HUGEINT) END AS UBIGINT) AS ua FROM asig),
       |apairs AS (SELECT a.id AS id_a, b.id AS id_b,
       |    CAST(bit_count(xor(a.ua, b.ua)) AS INTEGER) AS hamming
       |  FROM apu a JOIN apu b ON a.id < b.id)
       |SELECT id_a, id_b, hamming, CAST(0 AS BIGINT) AS dropped_candidates,
       |  true AS planted_ok
       |FROM apairs WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin

  // ---- q295: streaming image near-dup, FULL oracle ---------------------------

  /** The streaming ingest pattern of q291 upgraded to a FULL oracle:
    * because image dHashes are arithmetic-restatable (q289), the
    * stream == batch self-check gains a third, external leg — DuckDB
    * re-derives every signature and the exact store×fresh pair set, so
    * stream == batch == cross-engine all hold on the same corpus (the
    * q261 trifecta, now for near-dup dedup). Fresh images arrive
    * through readStream (corpus shard synthesized in-stream from
    * doc_id — stateless udf + kernel; planted variants arrive as REAL
    * blob bytes in a parquet shard) and their dHashes probe the static
    * signature store via [[Dedup.hammingStoreCandidates]]. */
  def q295StreamImageNeardup(s: SparkSession, dir: String): DataFrame = {
    val spark = StreamDrain.session(s, emptyBatches = false)
    val p0 = Queries2.plantBase
    val synth = udf((id: Long) =>
      Multimodal.encodeGrayPng(Multimodal.synthGray(id, W, H, ImgSeed), W, H))
    def dh(df: DataFrame): DataFrame =
      df.select($"doc_id", Functional.dhash64($"blob").as("dhash"))
    val docs = Tables(spark, dir, "documents").select($"doc_id")
    val storeSig = dh(docs.where($"doc_id" < 250)
      .unionByName(spark.range(1).select(lit(p0).as("doc_id")))
      .select($"doc_id", synth($"doc_id").as("blob")))
    // planted fresh shard: REAL pre-encoded blobs (brightness/upscale/
    // perturbation variants of the store's base image) as a parquet
    // file arriving through the same file-stream source
    val base = Multimodal.synthGray(p0, W, H, ImgSeed)
    val up = Array.tabulate(2 * W * 2 * H) { p =>
      val x = p % (2 * W); val y = p / (2 * W)
      base((y / 2) * W + (x / 2))
    }
    val pert = Array.tabulate(W * H) { p =>
      val x = p % W; val y = p / W
      if (x < 2 && y < 2) 255 else base(p)
    }
    val plantRows = Seq(
      (p0 + 1L, Multimodal.encodeGrayPng(base.map(_ + 5), W, H)),
      (p0 + 2L, Multimodal.encodeGrayPng(up, 2 * W, 2 * H)),
      (p0 + 3L, Multimodal.encodeGrayPng(pert, W, H)))
    // unique per run: see q291's plant-shard race note.
    // Fs.scratchDir: tmpfs-backed when roomy (round 22 — the plant
    // shard is harness staging; disk fsync is pure overhead) and
    // nanoTime+counter unique, same concurrent-run safety as before
    val plantDir = new java.io.File(Fs.scratchDir("q295_plants"))
    spark.createDataFrame(plantRows).toDF("doc_id", "blob")
      .coalesce(1).write.mode("overwrite").parquet(plantDir.getPath)
    val sDocs = Tables.stream(spark, dir, "documents")
      .select($"doc_id").where($"doc_id" >= 250)
      .select($"doc_id", synth($"doc_id").as("blob"))
    val sPlants = spark.readStream
      .schema(StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("blob", BinaryType, nullable = true))))
      .parquet(plantDir.getPath)
    val cand = Dedup.hammingStoreCandidates(
      storeSig, dh(sDocs.unionByName(sPlants)), "doc_id", "dhash",
      maxHamming = 3, maxBucket = 1000)
    val drained = StreamDrain.toMemory(cand.writeStream.outputMode("append"))
    Fs.rmTree(plantDir) // drained; nothing reads the shard again
    val streamPairs = drained.distinct()
    val batchFresh = dh(docs.where($"doc_id" >= 250)
        .select($"doc_id", synth($"doc_id").as("blob"))
        .unionByName(
          spark.createDataFrame(plantRows).toDF("doc_id", "blob")))
    val batchPairs = Dedup.hammingStoreCandidates(
      storeSig, batchFresh, "doc_id", "dhash",
      maxHamming = 3, maxBucket = 1000).distinct()
    val ns = streamPairs.agg(count(lit(1)).as("n_stream"))
    val nb = batchPairs.agg(count(lit(1)).as("n_batch"))
    val nm = streamPairs
      .join(batchPairs, Seq("id_a", "id_b", "hamming"))
      .agg(count(lit(1)).as("n_match"))
    val planted = streamPairs
      .where($"id_a" === p0 && $"id_b" > p0)
      .agg(count(lit(1)).as("n_planted"))
    streamPairs
      .crossJoin(broadcast(ns)).crossJoin(broadcast(nb))
      .crossJoin(broadcast(nm)).crossJoin(broadcast(planted))
      .select($"id_a", $"id_b", $"hamming",
        when($"n_stream" =!= $"n_batch" || $"n_match" =!= $"n_stream",
          raise_error(lit(
            "q295: streamed image near-dup pair set differs from the " +
              "batch run of the same operator on the same corpus")))
          .otherwise(lit(true)).as("stream_eq_batch"),
        when($"n_planted" =!= 3L, raise_error(lit(
          "q295: a planted image variant (brightness/upscale/" +
            "perturbation) arrived through the stream and was not " +
            "caught against the signature store")))
          .otherwise(lit(true)).as("planted_ok"))
      .orderBy($"id_a", $"id_b")
  }

  val q295Sql: String = {
    val p0 = Queries2.plantBase
    s"""WITH $dhashCtes,
       |su AS (SELECT id, CAST(CASE WHEN dhash < 0
       |    THEN CAST(dhash AS HUGEINT) + 18446744073709551616
       |    ELSE CAST(dhash AS HUGEINT) END AS UBIGINT) AS ud FROM sig),
       |spairs AS (SELECT a.id AS id_a, b.id AS id_b,
       |    CAST(bit_count(xor(a.ud, b.ud)) AS INTEGER) AS hamming
       |  FROM su a JOIN su b
       |    ON (a.id < 250 OR a.id = $p0)
       |    AND ((b.id >= 250 AND b.id < $p0) OR b.id > $p0))
       |SELECT id_a, id_b, hamming, true AS stream_eq_batch,
       |  true AS planted_ok
       |FROM spairs WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin
  }

  // ---- q296/q297: content-level VIDEO frame hashes + near-dup ----------------

  private[graft] val VidSeed = 3037L
  private[graft] val NFrames = 4

  /** Per-video frame PNGs: frame f of video v is the seeded 18×16
    * image with generator id v·16 + f (frame ids are disjoint across
    * videos and leave slots 4..15 free for planted variants). */
  private[graft] def videoFrames(v: Long, fids: Seq[Long]): Seq[Array[Byte]] =
    fids.map(fid => Multimodal.encodeGrayPng(
      Multimodal.synthGray(fid, W, H, VidSeed), W, H))

  /** (doc_id, blob): one seeded 4-frame MP4 per document — REAL
    * ISO-BMFF sample tables (stsz/stco) addressing real PNG frames —
    * plus four planted variants of one base video: verbatim, all
    * frames brightness-shifted (+5 on every pixel of every frame:
    * every frame hash unchanged → 4 shared), a one-frame-shifted
    * window (frames F1..F4 → 3 shared), and a mostly-new cut sharing
    * only F0 (1 shared — the negative control below the dup
    * threshold). */
  private[graft] def videoCorpus(s: SparkSession, dir: String): DataFrame = {
    val synth = udf((id: Long) => Multimodal.synthesizeMp4WithFrames(
      videoFrames(id, (0 until NFrames).map(f => id * 16L + f))))
    val corpus = Tables(s, dir, "documents").select($"doc_id")
      .spreadOverCores // (a) the synth UDF
      .select($"doc_id", synth($"doc_id").as("blob"))
    val p0 = Queries2.plantBase
    def grays(fid: Long) = Multimodal.synthGray(fid, W, H, VidSeed)
    val baseFids = (0 until NFrames).map(f => p0 * 16L + f)
    val plants = Seq(
      (p0, Multimodal.synthesizeMp4WithFrames(videoFrames(p0, baseFids))),
      (p0 + 1L, Multimodal.synthesizeMp4WithFrames(
        baseFids.map(fid =>
          Multimodal.encodeGrayPng(grays(fid).map(_ + 5), W, H)))),
      (p0 + 2L, Multimodal.synthesizeMp4WithFrames(
        videoFrames(p0, (1 to NFrames).map(f => p0 * 16L + f)))),
      (p0 + 3L, Multimodal.synthesizeMp4WithFrames(
        videoFrames(p0, Seq(p0 * 16L) ++
          (1 until NFrames).map(f => p0 * 16L + 8 + f)))))
    corpus.unionByName(s.createDataFrame(plants).toDF("doc_id", "blob"))
  }

  /** Every (video, frame) dHash via the real sample-table walk — full
    * oracle: DuckDB regenerates each frame's pixels from the
    * (video·16 + slot) generator ids and re-derives every hash; frame
    * extraction itself is certified because a wrong stsz/stco read
    * slices wrong PNG bytes and can't reproduce the arithmetic
    * signature. */
  def q296VideoFrames(s: SparkSession, dir: String): DataFrame =
    videoCorpus(s, dir)
      .select($"doc_id",
        posexplode(Functional.videoFrameHashes($"blob")))
      .select($"doc_id", $"pos".cast(LongType).as("frame_idx"),
        $"col".as("fhash"))
      // (b) a few (long, long, long) rows per video from videoFrameHashes
      .orderByInOnePartition($"doc_id", $"frame_idx")

  /** Video near-dup by shared frame fingerprints
    * ([[Dedup.fingerprintOverlap]] — the winnowOverlap machinery over
    * frame dHashes): pairs sharing ≥ 1 frame emitted with their exact
    * shared count, `is_dup` at the ≥ 2 threshold, planted raise for
    * the 4/3/1-shared design. Full oracle: exact shared-frame counts
    * over the re-derived hashes. */
  def q297VideoNeardup(s: SparkSession, dir: String): DataFrame = {
    val fps = videoCorpus(s, dir)
      .select($"doc_id",
        explode(Functional.videoFrameHashes($"blob")).as("fhash"))
    val pairs = Dedup.fingerprintOverlap(fps, "doc_id", "fhash",
      minShared = 1, maxBucket = 1000)
    val p0 = Queries2.plantBase
    val planted = pairs
      .where($"id_a" === p0 && $"id_b".isin(p0 + 1L, p0 + 2L, p0 + 3L))
      .agg(count(lit(1)).as("__np"),
        sum(when($"id_b" === p0 + 1L, $"shared_fps")).as("__s1"),
        sum(when($"id_b" === p0 + 2L, $"shared_fps")).as("__s2"),
        sum(when($"id_b" === p0 + 3L, $"shared_fps")).as("__s3"))
    pairs.crossJoin(broadcast(planted))
      .select($"id_a", $"id_b", $"shared_fps",
        ($"shared_fps" >= 2L).as("is_dup"),
        $"dropped_candidates",
        when($"__np" =!= 3L || $"__s1" =!= 4L || $"__s2" =!= 3L ||
            $"__s3" =!= 1L,
          raise_error(lit(
            "q297: planted frame-overlap design not recovered " +
              "(expected 4/3/1 shared frames for the brightness/" +
              "shifted-window/mostly-new variants) — video " +
              "frame-level dedup miscounted")))
          .otherwise(lit(true)).as("planted_ok"))
      .orderBy($"id_a", $"id_b")
  }

  /** Shared oracle derivation for the video gates: every (video,
    * frame-slot) pair's 18×16 pixels from generator id = fid, then the
    * q289 cell/bit machinery per (video, frame). vgeom rows carry
    * (id = video, idx = frame position, fid = generator id, adj). */
  private[graft] val videoCtes: String = videoCtesWith(Nil)

  /** [[videoCtes]] with extra (id, idx, fid, adj) geometry rows —
    * Queries41's sequence gates add plants without disturbing the
    * q296/q297 corpus enumeration. */
  private[graft] def videoCtesWith(extraGeomRows: Seq[String]): String = {
    val p0 = Queries2.plantBase
    val frameRows = (0 until NFrames)
      .map(f => s"SELECT doc_id AS id, $f AS idx, doc_id * 16 + $f AS fid, 0 AS adj FROM documents")
      .mkString("\n  UNION ALL ")
    val plantRows =
      (0 until NFrames).map(f =>
        s"UNION ALL SELECT $p0, $f, ${p0 * 16} + $f, 0") ++
      (0 until NFrames).map(f =>
        s"UNION ALL SELECT ${p0 + 1}, $f, ${p0 * 16} + $f, 5") ++
      (0 until NFrames).map(f =>
        s"UNION ALL SELECT ${p0 + 2}, $f, ${p0 * 16} + ${f + 1}, 0") ++
      Seq(s"UNION ALL SELECT ${p0 + 3}, 0, ${p0 * 16}, 0") ++
      (1 until NFrames).map(f =>
        s"UNION ALL SELECT ${p0 + 3}, $f, ${p0 * 16} + ${8 + f}, 0")
    s"""vgeom AS (
       |  $frameRows
       |  ${(plantRows ++ extraGeomRows).mkString("\n  ")}),
       |vpix0 AS (
       |  SELECT g.id, g.idx, g.adj,
       |    CAST(r.range % $W AS BIGINT) AS x,
       |    CAST(r.range // $W AS BIGINT) AS y,
       |    g.fid * 65536 + r.range AS bkey
       |  FROM vgeom g CROSS JOIN range(${W * H}) r),
       |vkeys AS (SELECT DISTINCT bkey FROM vpix0),
       |${Queries5.hashCtes("vx", VidSeed, "vkeys", "bkey")},
       |vxu AS (SELECT k, CAST(CASE WHEN h < 0
       |    THEN CAST(h AS HUGEINT) + 18446744073709551616
       |    ELSE CAST(h AS HUGEINT) END AS UBIGINT) AS u FROM vxh),
       |vpix AS (SELECT p.id, p.idx, p.x, p.y,
       |  CAST((vxu.u >> 8) % 250 AS BIGINT) + p.adj AS gray
       |  FROM vpix0 p JOIN vxu ON p.bkey = vxu.k),
       |vcells AS (SELECT id, idx, (y * 8) // $H AS cy, (x * 9) // $W AS cx,
       |    SUM(gray) // COUNT(*) AS avgv
       |  FROM vpix GROUP BY 1, 2, 3, 4),
       |vbits AS (SELECT a.id, a.idx, a.cy * 8 + a.cx AS i,
       |    CASE WHEN a.avgv < b.avgv THEN 1 ELSE 0 END AS bit
       |  FROM vcells a JOIN vcells b
       |    ON a.id = b.id AND a.idx = b.idx AND a.cy = b.cy
       |    AND b.cx = a.cx + 1
       |  WHERE a.cx < 8),
       |vsigh AS (SELECT id, idx,
       |    SUM(CAST(bit AS HUGEINT) * (CAST(1 AS HUGEINT) << (63 - i)))
       |      AS sh
       |  FROM vbits GROUP BY 1, 2),
       |vsig AS (SELECT id, idx, CAST(CASE WHEN sh >= 9223372036854775808
       |    THEN sh - 18446744073709551616 ELSE sh END AS BIGINT) AS fhash
       |  FROM vsigh)""".stripMargin
  }

  val q296Sql: String =
    s"""WITH $videoCtes
       |SELECT id AS doc_id, CAST(idx AS BIGINT) AS frame_idx, fhash
       |FROM vsig ORDER BY doc_id, frame_idx""".stripMargin

  val q297Sql: String =
    s"""WITH $videoCtes,
       |vd AS (SELECT DISTINCT id, fhash FROM vsig),
       |vpairs AS (SELECT a.id AS id_a, b.id AS id_b,
       |    CAST(COUNT(*) AS BIGINT) AS shared_fps
       |  FROM vd a JOIN vd b ON a.fhash = b.fhash AND a.id < b.id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, shared_fps, shared_fps >= 2 AS is_dup,
       |  CAST(0 AS BIGINT) AS dropped_candidates, true AS planted_ok
       |FROM vpairs WHERE shared_fps >= 1 ORDER BY id_a, id_b""".stripMargin

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q289_image_dhash" -> (q289ImageDhash _),
    "q290_image_neardup" -> (q290ImageNeardup _),
    "q291_stream_neardup" -> (q291StreamNeardup _),
    "q292_winnow_density" -> (q292WinnowDensity _),
    "q293_audio_fp" -> (q293AudioFp _),
    "q294_audio_neardup" -> (q294AudioNeardup _),
    "q295_stream_image_neardup" -> (q295StreamImageNeardup _),
    "q296_video_frames" -> (q296VideoFrames _),
    "q297_video_neardup" -> (q297VideoNeardup _)
  )

  val oracles: Map[String, String] = Map(
    "q289_image_dhash" -> q289Sql,
    "q290_image_neardup" -> q290Sql,
    "q292_winnow_density" -> q292Sql,
    "q293_audio_fp" -> q293Sql,
    "q294_audio_neardup" -> q294Sql,
    "q295_stream_image_neardup" -> q295Sql,
    "q296_video_frames" -> q296Sql,
    "q297_video_neardup" -> q297Sql
  )
}
