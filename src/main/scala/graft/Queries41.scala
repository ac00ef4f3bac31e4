package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Functional
import graft.operators.{Dedup, Multimodal}
import graft.streaming.StreamDrain

/** Round-20 gates: the content-level media family taken to PRODUCTION
  * CONTAINER SHAPES and SEQUENCE awareness.
  *
  *  - q298: the q296 frame-hash certification repeated over
  *    multi-chunk MP4s — run-length `stsc` maps, `co64` 64-bit chunk
  *    offsets, and garbage padding between chunks — against the SAME
  *    pixel-arithmetic oracle (a walker that guesses back-to-back
  *    layout slices pad bytes and cannot reproduce one hash).
  *  - q299: stereo 24-bit WAV fingerprints with the channel-sum
  *    downmix contract (swap- and half-gain-invariant), full oracle.
  *  - q300/q301: streaming near-dup ingest for the audio and video
  *    modalities — the q295 trifecta (stream == batch == DuckDB)
  *    extended so ALL content modalities ingest incrementally.
  *  - q302: sequence-aware video near-dup — longest aligned
  *    contiguous frame run ([[Dedup.frameRunOverlap]]), full oracle,
  *    distinguishing a reordered cut (shared 4, run 1) from a
  *    temporal clone (shared 4, run 4).
  *
  * Naming/oracle/float conventions as in [[Queries]]; generator
  * constants and oracle CTEs shared with [[Queries40]] so one
  * definition of the pixel/sample arithmetic serves both rounds.
  */
object Queries41 {

  import Queries40.{W, H, VidSeed, NFrames, AudSeed, NSamp}

  // ---- q298: multi-chunk / co64 video frame hashes ---------------------------

  /** Container layout for doc `id` — every production shape in one
    * corpus: uneven run-length stsc maps by id mod 3, stco vs co64 by
    * parity, pad width cycling 1..8. Frame CONTENT is identical to
    * q296's corpus, so the q296 oracle certifies the walk. */
  private def multiChunkBlob(id: Long, frames: Seq[Array[Byte]])
      : Array[Byte] = {
    val spc = (id % 3).toInt match {
      case 0 => Seq(1, 3)
      case 1 => Seq(2, 2)
      case _ => Seq(3, 1)
    }
    Multimodal.synthesizeMp4MultiChunk(frames, spc,
      useCo64 = id % 2 == 0, pad = 1 + (id % 8).toInt)
  }

  private def encFrame(fid: Long): Array[Byte] =
    Multimodal.encodeGrayPng(Multimodal.synthGray(fid, W, H, VidSeed), W, H)

  private def videoCorpusMulti(s: SparkSession, dir: String): DataFrame = {
    val synth = udf((id: Long) => multiChunkBlob(id,
      (0 until NFrames).map(f => encFrame(id * 16L + f))))
    val corpus = Tables(s, dir, "documents").select($"doc_id")
      .spreadOverCores // (a) the synth UDF
      .select($"doc_id", synth($"doc_id").as("blob"))
    val p0 = Queries2.plantBase
    val baseFids = (0 until NFrames).map(f => p0 * 16L + f)
    val plants = Seq(
      (p0, multiChunkBlob(p0, baseFids.map(encFrame))),
      (p0 + 1L, multiChunkBlob(p0 + 1L, baseFids.map(fid =>
        Multimodal.encodeGrayPng(
          Multimodal.synthGray(fid, W, H, VidSeed).map(_ + 5), W, H)))),
      (p0 + 2L, multiChunkBlob(p0 + 2L,
        (1 to NFrames).map(f => encFrame(p0 * 16L + f)))),
      (p0 + 3L, multiChunkBlob(p0 + 3L, Seq(encFrame(p0 * 16L)) ++
        (1 until NFrames).map(f => encFrame(p0 * 16L + 8 + f)))))
    corpus.unionByName(s.createDataFrame(plants).toDF("doc_id", "blob"))
  }

  /** q296's (video, frame) dHash certification over PRODUCTION
    * container layouts: multi-chunk stsc maps, co64 offsets,
    * inter-chunk padding — same frame content, so the oracle is
    * LITERALLY q296's (one definition of the pixel arithmetic). A
    * wrong stsc expansion, a misread co64 offset, or a pad byte
    * leaking into a slice fails the PNG decode or lands on different
    * pixels — either way the hash compare turns red. */
  def q298VideoMultichunk(s: SparkSession, dir: String): DataFrame =
    videoCorpusMulti(s, dir)
      .select($"doc_id",
        posexplode(Functional.videoFrameHashes($"blob")))
      .select($"doc_id", $"pos".cast(LongType).as("frame_idx"),
        $"col".as("fhash"))
      .orderBy($"doc_id", $"frame_idx")

  val q298Sql: String = Queries40.q296Sql

  // ---- q299: stereo 24-bit audio fingerprints --------------------------------

  private val St24Seed = 5059L

  private def encodeStereo(fr: Array[Array[Int]]): Array[Byte] =
    Multimodal.encodePcmWav(fr, 2, 24)

  /** (doc_id, blob): one seeded STEREO 24-BIT WAV per document plus
    * four planted variants of one base clip — verbatim, channel swap
    * (the channel-sum downmix is order-free: Hamming 0), half gain on
    * both channels (even samples, exact: Hamming 0), and a frame-0
    * burst (both channels pinned: flips at most bit 0). */
  private def stereoCorpus(s: SparkSession, dir: String): DataFrame = {
    val synth = udf((id: Long) =>
      encodeStereo(Multimodal.synthPcm24Stereo(id, NSamp, St24Seed)))
    val corpus = Tables(s, dir, "documents").select($"doc_id")
      .spreadOverCores // (a) the synth UDF
      .select($"doc_id", synth($"doc_id").as("blob"))
    val p0 = Queries2.plantBase
    val base = Multimodal.synthPcm24Stereo(p0, NSamp, St24Seed)
    val plants = Seq(
      (p0, encodeStereo(base)),
      (p0 + 1L, encodeStereo(base.map(_.reverse))),
      (p0 + 2L, encodeStereo(base.map(_.map(_ / 2)))),
      (p0 + 3L, encodeStereo(base.zipWithIndex.map { case (fr, i) =>
        if (i < 4) Array(8191, 8191) else fr
      })),
      // the SAME samples wrapped in a WAVE_FORMAT_EXTENSIBLE container
      // (fmt 0xFFFE + PCM SubFormat GUID) — how real-world stereo
      // 24-bit PCM is written; must fingerprint identically to p0
      (p0 + 4L, Multimodal.encodePcmWav(base, 2, 24, extensible = true)))
    corpus.unionByName(s.createDataFrame(plants).toDF("doc_id", "blob"))
  }

  /** Every stereo clip's fingerprint through the REAL 24-bit container
    * walk — full oracle: DuckDB regenerates both channels per frame
    * (splitmix64 replay), downmixes by the same channel sum, and packs
    * the same gradient bits. In-gate raise pins the downmix contract:
    * swap and half-gain variants MUST hash identically to the base,
    * the burst within Hamming 1. */
  def q299AudioStereo24(s: SparkSession, dir: String): DataFrame = {
    val sig = stereoCorpus(s, dir)
      .select($"doc_id", Functional.audioFp64($"blob").as("afp"))
    val p0 = Queries2.plantBase
    val p = sig.where($"doc_id" >= p0).agg(
      max(when($"doc_id" === p0, $"afp")).as("f0"),
      max(when($"doc_id" === p0 + 1L, $"afp")).as("f1"),
      max(when($"doc_id" === p0 + 2L, $"afp")).as("f2"),
      max(when($"doc_id" === p0 + 3L, $"afp")).as("f3"),
      max(when($"doc_id" === p0 + 4L, $"afp")).as("f4"))
    sig.crossJoin(broadcast(p))
      .select($"doc_id", $"afp",
        when($"f0" =!= $"f1" || $"f0" =!= $"f2" || $"f0" =!= $"f4" ||
            Functional.hamming64($"f0", $"f3") > 1,
          raise_error(lit(
            "q299: the stereo downmix contract broke — channel swap, " +
              "half gain, and the WAVE_FORMAT_EXTENSIBLE container " +
              "must be fingerprint-invariant and a frame burst must " +
              "move at most one bit")))
          .otherwise(lit(true)).as("planted_ok"))
      .orderBy($"doc_id")
  }

  /** Oracle derivation for q299: per (id, frame, channel) sample →
    * channel-sum downmix → frame energies → gradient bits. mode 1
    * (swap) shares mode 0's arithmetic because the downmix SUM is
    * order-free — that invariance is exactly what the gate certifies. */
  private val stereoCtes: String = {
    val p0 = Queries2.plantBase
    s"""sgeom AS (
       |  SELECT doc_id AS id, doc_id AS src, 0 AS mode FROM documents
       |  UNION ALL SELECT $p0, $p0, 0
       |  UNION ALL SELECT ${p0 + 1}, $p0, 0
       |  UNION ALL SELECT ${p0 + 2}, $p0, 2
       |  UNION ALL SELECT ${p0 + 3}, $p0, 3
       |  UNION ALL SELECT ${p0 + 4}, $p0, 0),
       |ssm0 AS (SELECT g.id, g.mode,
       |    CAST(r.range // 2 AS BIGINT) AS i,
       |    g.src * 65536 + r.range AS bkey
       |  FROM sgeom g CROSS JOIN range(${2 * NSamp}) r),
       |skeys AS (SELECT DISTINCT bkey FROM ssm0),
       |${Queries5.hashCtes("st", St24Seed, "skeys", "bkey")},
       |stu AS (SELECT k, CAST(CASE WHEN h < 0
       |    THEN CAST(h AS HUGEINT) + 18446744073709551616
       |    ELSE CAST(h AS HUGEINT) END AS UBIGINT) AS u FROM sth),
       |ssmp AS (SELECT m.id, m.i,
       |  CASE WHEN m.mode = 3 AND m.i < 4 THEN 8191
       |    WHEN m.mode = 2
       |    THEN (2 * CAST((stu.u >> 8) % 4194304 AS BIGINT) - 4194304) // 2
       |    ELSE 2 * CAST((stu.u >> 8) % 4194304 AS BIGINT) - 4194304
       |    END AS sv
       |  FROM ssm0 m JOIN stu ON m.bkey = stu.k),
       |sfrm AS (SELECT id, i, SUM(sv) AS v FROM ssmp GROUP BY 1, 2),
       |sen AS (SELECT id, (i * 65) // $NSamp AS f, SUM(abs(v)) AS e
       |  FROM sfrm GROUP BY 1, 2),
       |sbits AS (SELECT a.id, a.f AS i,
       |    CASE WHEN a.e < b.e THEN 1 ELSE 0 END AS bit
       |  FROM sen a JOIN sen b ON a.id = b.id AND b.f = a.f + 1
       |  WHERE a.f < 64),
       |ssigh AS (SELECT id,
       |    SUM(CAST(bit AS HUGEINT) * (CAST(1 AS HUGEINT) << (63 - i)))
       |      AS sh
       |  FROM sbits GROUP BY 1),
       |ssig AS (SELECT id, CAST(CASE WHEN sh >= 9223372036854775808
       |    THEN sh - 18446744073709551616 ELSE sh END AS BIGINT) AS afp
       |  FROM ssigh)""".stripMargin
  }

  val q299Sql: String =
    s"""WITH $stereoCtes
       |SELECT id AS doc_id, afp, true AS planted_ok
       |FROM ssig ORDER BY doc_id""".stripMargin

  // ---- q300: streaming AUDIO near-dup ingest, full oracle --------------------

  /** The q295 streaming trifecta (stream == batch == DuckDB) for the
    * AUDIO modality: fresh clips arrive through readStream (corpus
    * synthesized in-stream from doc_id; half-gain / 2× upsample /
    * burst variants of a store clip arrive as REAL WAV blobs in a
    * parquet shard), their fingerprints probe the static signature
    * store via [[Dedup.hammingStoreCandidates]], and DuckDB re-derives
    * the exact store×fresh pair set from the sample arithmetic. */
  def q300StreamAudioNeardup(s: SparkSession, dir: String): DataFrame = {
    val spark = StreamDrain.session(s, emptyBatches = false)
    val p0 = Queries2.plantBase
    val synth = udf((id: Long) => Multimodal.encodePcm16Wav(
      Multimodal.synthPcm16(id, NSamp, AudSeed)))
    def fp(df: DataFrame): DataFrame =
      df.select($"doc_id", Functional.audioFp64($"blob").as("afp"))
    val docs = Tables(spark, dir, "documents").select($"doc_id")
    val storeSig = fp(docs.where($"doc_id" < 250)
      .unionByName(spark.range(1).select(lit(p0).as("doc_id")))
      .select($"doc_id", synth($"doc_id").as("blob")))
    val base = Multimodal.synthPcm16(p0, NSamp, AudSeed)
    val plantRows = Seq(
      (p0 + 1L, Multimodal.encodePcm16Wav(
        base.map(v => (v / 2).toShort))),
      (p0 + 2L, Multimodal.encodePcm16Wav(
        Array.tabulate(2 * NSamp)(i => base(i / 2)))),
      (p0 + 3L, Multimodal.encodePcm16Wav(
        base.zipWithIndex.map { case (v, i) =>
          if (i < 4) 16382.toShort else v
        })))
    // Fs.scratchDir: tmpfs-backed when roomy (round 22 — the plant
    // shard is harness staging; disk fsync is pure overhead) and
    // nanoTime+counter unique, same concurrent-run safety as before
    val plantDir = new java.io.File(Fs.scratchDir("q300_plants"))
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
      storeSig, fp(sDocs.unionByName(sPlants)), "doc_id", "afp",
      maxHamming = 3, maxBucket = 1000)
    val drained = StreamDrain.toMemory(cand.writeStream.outputMode("append"))
    Fs.rmTree(plantDir) // drained; nothing reads the shard again
    val streamPairs = drained.distinct()
    val batchFresh = fp(docs.where($"doc_id" >= 250)
      .select($"doc_id", synth($"doc_id").as("blob"))
      .unionByName(
        spark.createDataFrame(plantRows).toDF("doc_id", "blob")))
    val batchPairs = Dedup.hammingStoreCandidates(
      storeSig, batchFresh, "doc_id", "afp",
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
            "q300: streamed audio near-dup pair set differs from the " +
              "batch run of the same operator on the same corpus")))
          .otherwise(lit(true)).as("stream_eq_batch"),
        when($"n_planted" =!= 3L, raise_error(lit(
          "q300: a planted audio variant (half gain/upsample/burst) " +
            "arrived through the stream and was not caught against " +
            "the signature store")))
          .otherwise(lit(true)).as("planted_ok"))
      .orderBy($"id_a", $"id_b")
  }

  val q300Sql: String = {
    val p0 = Queries2.plantBase
    s"""WITH ${Queries40.audioFpCtes},
       |apu AS (SELECT id, CAST(CASE WHEN afp < 0
       |    THEN CAST(afp AS HUGEINT) + 18446744073709551616
       |    ELSE CAST(afp AS HUGEINT) END AS UBIGINT) AS ua FROM asig),
       |spairs AS (SELECT a.id AS id_a, b.id AS id_b,
       |    CAST(bit_count(xor(a.ua, b.ua)) AS INTEGER) AS hamming
       |  FROM apu a JOIN apu b
       |    ON (a.id < 250 OR a.id = $p0)
       |    AND ((b.id >= 250 AND b.id < $p0) OR b.id > $p0))
       |SELECT id_a, id_b, hamming, true AS stream_eq_batch,
       |  true AS planted_ok
       |FROM spairs WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin
  }

  // ---- q301: streaming VIDEO near-dup ingest, full oracle --------------------

  /** The streaming trifecta for the VIDEO modality — and the gate for
    * [[Dedup.fingerprintStoreCandidates]], the store-candidate face of
    * the SET-signature dedup family: fresh videos arrive through
    * readStream (corpus synthesized in-stream; the planted variants
    * arrive as REAL MULTI-CHUNK MP4 blobs in a parquet shard — the
    * production container shape exercised on the streaming path), each
    * frame hash probes the static store, and the sink's merge step
    * aggregates shared-frame counts. DuckDB re-derives the exact
    * store×fresh shared counts from the pixel arithmetic. */
  def q301StreamVideoNeardup(s: SparkSession, dir: String): DataFrame = {
    val spark = StreamDrain.session(s, emptyBatches = false)
    val p0 = Queries2.plantBase
    val synth = udf((id: Long) => Multimodal.synthesizeMp4WithFrames(
      (0 until NFrames).map(f => encFrame(id * 16L + f))))
    def fps(df: DataFrame): DataFrame =
      df.select($"doc_id",
        explode(Functional.videoFrameHashes($"blob")).as("fhash"))
    val docs = Tables(spark, dir, "documents").select($"doc_id")
    val storeFps = fps(docs.where($"doc_id" < 250)
      .unionByName(spark.range(1).select(lit(p0).as("doc_id")))
      .select($"doc_id", synth($"doc_id").as("blob")))
    val baseFids = (0 until NFrames).map(f => p0 * 16L + f)
    val plantRows = Seq(
      (p0 + 1L, multiChunkBlob(p0 + 1L, baseFids.map(fid =>
        Multimodal.encodeGrayPng(
          Multimodal.synthGray(fid, W, H, VidSeed).map(_ + 5), W, H)))),
      (p0 + 2L, multiChunkBlob(p0 + 2L,
        (1 to NFrames).map(f => encFrame(p0 * 16L + f)))),
      (p0 + 3L, multiChunkBlob(p0 + 3L, Seq(encFrame(p0 * 16L)) ++
        (1 until NFrames).map(f => encFrame(p0 * 16L + 8 + f)))))
    // Fs.scratchDir: tmpfs-backed when roomy (round 22 — the plant
    // shard is harness staging; disk fsync is pure overhead) and
    // nanoTime+counter unique, same concurrent-run safety as before
    val plantDir = new java.io.File(Fs.scratchDir("q301_plants"))
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
    val cand = Dedup.fingerprintStoreCandidates(
      storeFps, fps(sDocs.unionByName(sPlants)), "doc_id", "fhash",
      maxBucket = 1000)
    val drained = StreamDrain.toMemory(cand.writeStream.outputMode("append"))
    Fs.rmTree(plantDir) // drained; nothing reads the shard again
    // the sink's merge step: distinct shared fingerprints per pair
    def pairify(c: DataFrame): DataFrame = c
      .groupBy($"id_a", $"id_b")
      .agg(countDistinct($"fp").as("shared_fps"))
    val streamPairs = pairify(drained)
    val batchFresh = fps(docs.where($"doc_id" >= 250)
      .select($"doc_id", synth($"doc_id").as("blob"))
      .unionByName(
        spark.createDataFrame(plantRows).toDF("doc_id", "blob")))
    val batchPairs = pairify(Dedup.fingerprintStoreCandidates(
      storeFps, batchFresh, "doc_id", "fhash", maxBucket = 1000))
    val ns = streamPairs.agg(count(lit(1)).as("n_stream"))
    val nb = batchPairs.agg(count(lit(1)).as("n_batch"))
    val nm = streamPairs
      .join(batchPairs, Seq("id_a", "id_b", "shared_fps"))
      .agg(count(lit(1)).as("n_match"))
    val planted = streamPairs
      .where($"id_a" === p0 && $"id_b" > p0)
      .agg(count(lit(1)).as("n_planted"),
        max(when($"id_b" === p0 + 1L, $"shared_fps")).as("__s1"),
        max(when($"id_b" === p0 + 2L, $"shared_fps")).as("__s2"),
        max(when($"id_b" === p0 + 3L, $"shared_fps")).as("__s3"))
    streamPairs
      .crossJoin(broadcast(ns)).crossJoin(broadcast(nb))
      .crossJoin(broadcast(nm)).crossJoin(broadcast(planted))
      .select($"id_a", $"id_b", $"shared_fps",
        when($"n_stream" =!= $"n_batch" || $"n_match" =!= $"n_stream",
          raise_error(lit(
            "q301: streamed video shared-frame pair set differs from " +
              "the batch run of the same operator on the same corpus")))
          .otherwise(lit(true)).as("stream_eq_batch"),
        when($"n_planted" =!= 3L || $"__s1" =!= 4L || $"__s2" =!= 3L ||
            $"__s3" =!= 1L,
          raise_error(lit(
            "q301: planted video variants (brightness/shifted-window/" +
              "mostly-new, expected 4/3/1 shared frames) were not " +
              "recovered against the frame-hash store")))
          .otherwise(lit(true)).as("planted_ok"))
      .orderBy($"id_a", $"id_b")
  }

  val q301Sql: String = {
    val p0 = Queries2.plantBase
    s"""WITH ${Queries40.videoCtes},
       |vd AS (SELECT DISTINCT id, fhash FROM vsig),
       |vp AS (SELECT a.id AS id_a, b.id AS id_b,
       |    CAST(COUNT(*) AS BIGINT) AS shared_fps
       |  FROM vd a JOIN vd b ON a.fhash = b.fhash
       |    AND (a.id < 250 OR a.id = $p0)
       |    AND ((b.id >= 250 AND b.id < $p0) OR b.id > $p0)
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, shared_fps, true AS stream_eq_batch,
       |  true AS planted_ok
       |FROM vp ORDER BY id_a, id_b""".stripMargin
  }

  // ---- q302: sequence-aware video near-dup (longest common frame run) -------

  /** Sequence-aware video near-dup via [[Dedup.frameRunOverlap]]: the
    * q297 corpus plus a REVERSED cut of the base video (same four
    * frames, reverse order). Set overlap scores the reversal as a
    * full duplicate (4 shared frames); the longest aligned contiguous
    * run exposes it (lcr 1) while the true clone (lcr 4) and the
    * one-frame-shifted window (lcr 3) keep their temporal identity —
    * the raise pins exactly that design. Full oracle: DuckDB restates
    * shared counts AND runs (gaps-and-islands over the re-derived
    * frame hashes). */
  def q302VideoFramerun(s: SparkSession, dir: String): DataFrame = {
    val p0 = Queries2.plantBase
    val baseFids = (0 until NFrames).map(f => p0 * 16L + f)
    val reversed = Seq((p0 + 4L,
      Multimodal.synthesizeMp4WithFrames(baseFids.reverse.map(encFrame))))
    val corpus = Queries40.videoCorpus(s, dir)
      .unionByName(s.createDataFrame(reversed).toDF("doc_id", "blob"))
    val fr = corpus
      .select($"doc_id",
        posexplode(Functional.videoFrameHashes($"blob")))
      .select($"doc_id", $"pos".cast(LongType).as("idx"),
        $"col".as("fhash"))
    val pairs = Dedup.frameRunOverlap(fr, "doc_id", "idx", "fhash",
      minShared = 1, maxBucket = 1000)
    val planted = pairs
      .where($"id_a" === p0 &&
        $"id_b".isin(p0 + 1L, p0 + 2L, p0 + 3L, p0 + 4L))
      .agg(count(lit(1)).as("__np"),
        max(when($"id_b" === p0 + 1L, $"lcr")).as("__r1"),
        max(when($"id_b" === p0 + 2L, $"lcr")).as("__r2"),
        max(when($"id_b" === p0 + 3L, $"lcr")).as("__r3"),
        max(when($"id_b" === p0 + 4L, $"lcr")).as("__r4"),
        max(when($"id_b" === p0 + 4L, $"shared_fps")).as("__s4"))
    pairs.crossJoin(broadcast(planted))
      .select($"id_a", $"id_b", $"shared_fps", $"lcr",
        $"dropped_candidates",
        when($"__np" =!= 4L || $"__r1" =!= 4L || $"__r2" =!= 3L ||
            $"__r3" =!= 1L || $"__r4" =!= 1L || $"__s4" =!= 4L,
          raise_error(lit(
            "q302: the planted temporal design was not recovered " +
              "(clone run 4, shifted-window run 3, one-shared run 1, " +
              "REVERSED cut shared 4 but run 1) — sequence-aware " +
              "video dedup cannot tell reorder from clone")))
          .otherwise(lit(true)).as("planted_ok"))
      .orderBy($"id_a", $"id_b")
  }

  val q302Sql: String = {
    val p0 = Queries2.plantBase
    // reversed cut: frame slot f holds the base video's frame
    // NFrames-1-f (same generator ids, reverse order)
    val extra = (0 until NFrames).map(f =>
      s"UNION ALL SELECT ${p0 + 4}, $f, ${p0 * 16} + ${NFrames - 1 - f}, 0")
    s"""WITH ${Queries40.videoCtesWith(extra)},
       |vd2 AS (SELECT DISTINCT id, idx, fhash FROM vsig),
       |vm AS (SELECT DISTINCT a.fhash, a.id AS id_a, b.id AS id_b,
       |    a.idx AS ia, a.idx - b.idx AS off
       |  FROM vd2 a JOIN vd2 b ON a.fhash = b.fhash AND a.id < b.id),
       |vr AS (SELECT id_a, id_b, off, ia,
       |    ia - ROW_NUMBER() OVER (
       |      PARTITION BY id_a, id_b, off ORDER BY ia) AS isl
       |  FROM vm),
       |vruns AS (SELECT id_a, id_b, off, isl, COUNT(*) AS run
       |  FROM vr GROUP BY 1, 2, 3, 4),
       |vlcr AS (SELECT id_a, id_b, CAST(MAX(run) AS BIGINT) AS lcr
       |  FROM vruns GROUP BY 1, 2),
       |vsh AS (SELECT id_a, id_b,
       |    CAST(COUNT(DISTINCT fhash) AS BIGINT) AS shared_fps
       |  FROM vm GROUP BY 1, 2)
       |SELECT s.id_a, s.id_b, s.shared_fps, l.lcr,
       |  CAST(0 AS BIGINT) AS dropped_candidates, true AS planted_ok
       |FROM vsh s JOIN vlcr l ON s.id_a = l.id_a AND s.id_b = l.id_b
       |WHERE s.shared_fps >= 1 ORDER BY s.id_a, s.id_b""".stripMargin
  }

  // ---- q305: streaming SEQUENCE-aware video near-dup, full oracle ------------

  /** The q302 sequence discriminator run as a STREAMING ingest — the
    * trifecta gate for [[Dedup.frameRunStoreCandidates]]: fresh videos
    * arrive through readStream (corpus synthesized in-stream; planted
    * variants as REAL multi-chunk MP4 blobs in a parquet shard), each
    * (frame-hash, index) row probes the static store, and the sink's
    * merge step ([[Dedup.frameRunStats]] — the SAME tail the batch
    * operator uses) computes shared counts AND longest aligned
    * contiguous runs. Plants: a brightness clone (shared 4 / run 4),
    * a one-frame-shifted window (3/3), and a REVERSED cut — shared 4
    * but run 1, the reorder case only sequence awareness catches,
    * now detected AT INGEST TIME. stream == batch == DuckDB. */
  def q305StreamVideoFramerun(s: SparkSession, dir: String): DataFrame = {
    val spark = StreamDrain.session(s, emptyBatches = false)
    val p0 = Queries2.plantBase
    val synth = udf((id: Long) => Multimodal.synthesizeMp4WithFrames(
      (0 until NFrames).map(f => encFrame(id * 16L + f))))
    def fr(df: DataFrame): DataFrame = df
      .select($"doc_id",
        posexplode(Functional.videoFrameHashes($"blob")))
      .select($"doc_id", $"pos".cast(LongType).as("idx"),
        $"col".as("fhash"))
    val docs = Tables(spark, dir, "documents").select($"doc_id")
    val storeFrames = fr(docs.where($"doc_id" < 250)
      .unionByName(spark.range(1).select(lit(p0).as("doc_id")))
      .select($"doc_id", synth($"doc_id").as("blob")))
    val baseFids = (0 until NFrames).map(f => p0 * 16L + f)
    val plantRows = Seq(
      (p0 + 1L, multiChunkBlob(p0 + 1L, baseFids.map(fid =>
        Multimodal.encodeGrayPng(
          Multimodal.synthGray(fid, W, H, VidSeed).map(_ + 5), W, H)))),
      (p0 + 2L, multiChunkBlob(p0 + 2L,
        (1 to NFrames).map(f => encFrame(p0 * 16L + f)))),
      (p0 + 4L, multiChunkBlob(p0 + 4L, baseFids.reverse.map(encFrame))))
    // Fs.scratchDir: tmpfs-backed when roomy (round 22 — the plant
    // shard is harness staging; disk fsync is pure overhead) and
    // nanoTime+counter unique, same concurrent-run safety as before
    val plantDir = new java.io.File(Fs.scratchDir("q305_plants"))
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
    val cand = Dedup.frameRunStoreCandidates(
      storeFrames, fr(sDocs.unionByName(sPlants)), "doc_id", "idx",
      "fhash", maxBucket = 1000)
    val drained = StreamDrain.toMemory(cand.writeStream.outputMode("append"))
    Fs.rmTree(plantDir) // drained; nothing reads the shard again
    val streamPairs = Dedup.frameRunStats(drained)
    val batchFresh = fr(docs.where($"doc_id" >= 250)
      .select($"doc_id", synth($"doc_id").as("blob"))
      .unionByName(
        spark.createDataFrame(plantRows).toDF("doc_id", "blob")))
    val batchPairs = Dedup.frameRunStats(Dedup.frameRunStoreCandidates(
      storeFrames, batchFresh, "doc_id", "idx", "fhash",
      maxBucket = 1000))
    val ns = streamPairs.agg(count(lit(1)).as("n_stream"))
    val nb = batchPairs.agg(count(lit(1)).as("n_batch"))
    val nm = streamPairs
      .join(batchPairs, Seq("id_a", "id_b", "shared_fps", "lcr"))
      .agg(count(lit(1)).as("n_match"))
    val planted = streamPairs
      .where($"id_a" === p0 && $"id_b" > p0)
      .agg(count(lit(1)).as("n_planted"),
        max(when($"id_b" === p0 + 1L, $"lcr")).as("__r1"),
        max(when($"id_b" === p0 + 2L, $"lcr")).as("__r2"),
        max(when($"id_b" === p0 + 4L, $"lcr")).as("__r4"),
        max(when($"id_b" === p0 + 4L, $"shared_fps")).as("__s4"))
    streamPairs
      .crossJoin(broadcast(ns)).crossJoin(broadcast(nb))
      .crossJoin(broadcast(nm)).crossJoin(broadcast(planted))
      .select($"id_a", $"id_b", $"shared_fps", $"lcr",
        when($"n_stream" =!= $"n_batch" || $"n_match" =!= $"n_stream",
          raise_error(lit(
            "q305: streamed sequence near-dup (shared, run) set " +
              "differs from the batch run of the same operator on " +
              "the same corpus")))
          .otherwise(lit(true)).as("stream_eq_batch"),
        when($"n_planted" =!= 3L || $"__r1" =!= 4L || $"__r2" =!= 3L ||
            $"__r4" =!= 1L || $"__s4" =!= 4L,
          raise_error(lit(
            "q305: planted temporal design not recovered at ingest " +
              "(clone run 4, shifted-window run 3, REVERSED cut " +
              "shared 4 but run 1)")))
          .otherwise(lit(true)).as("planted_ok"))
      .orderBy($"id_a", $"id_b")
  }

  val q305Sql: String = {
    val p0 = Queries2.plantBase
    val extra = (0 until NFrames).map(f =>
      s"UNION ALL SELECT ${p0 + 4}, $f, ${p0 * 16} + ${NFrames - 1 - f}, 0")
    s"""WITH ${Queries40.videoCtesWith(extra)},
       |vd3 AS (SELECT DISTINCT id, idx, fhash FROM vsig),
       |vm3 AS (SELECT DISTINCT a.fhash, a.id AS id_a, b.id AS id_b,
       |    a.idx AS ia, a.idx - b.idx AS off
       |  FROM vd3 a JOIN vd3 b ON a.fhash = b.fhash
       |    AND (a.id < 250 OR a.id = $p0)
       |    AND ((b.id >= 250 AND b.id < $p0) OR b.id = ${p0 + 1}
       |      OR b.id = ${p0 + 2} OR b.id = ${p0 + 4})),
       |vr3 AS (SELECT id_a, id_b, off, ia,
       |    ia - ROW_NUMBER() OVER (
       |      PARTITION BY id_a, id_b, off ORDER BY ia) AS isl
       |  FROM vm3),
       |vruns3 AS (SELECT id_a, id_b, off, isl, COUNT(*) AS run
       |  FROM vr3 GROUP BY 1, 2, 3, 4),
       |vlcr3 AS (SELECT id_a, id_b, CAST(MAX(run) AS BIGINT) AS lcr
       |  FROM vruns3 GROUP BY 1, 2),
       |vsh3 AS (SELECT id_a, id_b,
       |    CAST(COUNT(DISTINCT fhash) AS BIGINT) AS shared_fps
       |  FROM vm3 GROUP BY 1, 2)
       |SELECT s.id_a, s.id_b, s.shared_fps, l.lcr,
       |  true AS stream_eq_batch, true AS planted_ok
       |FROM vsh3 s JOIN vlcr3 l ON s.id_a = l.id_a AND s.id_b = l.id_b
       |ORDER BY s.id_a, s.id_b""".stripMargin
  }

  // ---- q304: multi-trak MP4 (audio trak before video) ------------------------

  /** The q296 certification over MULTI-TRAK containers: every corpus
    * video carries a `soun`-handler audio trak BEFORE the video trak —
    * the layout of every real-world MP4 with a soundtrack. A walker
    * that grabs the first trak finds no sample table (or the wrong
    * one) and fails; selecting by hdlr handler_type is the only
    * correct read. Same frame content as q296, so the oracle is again
    * LITERALLY q296's pixel arithmetic. */
  def q304VideoMultitrak(s: SparkSession, dir: String): DataFrame = {
    val synth = udf((id: Long) => Multimodal.synthesizeMp4MultiTrak(
      (0 until NFrames).map(f => encFrame(id * 16L + f))))
    val p0 = Queries2.plantBase
    val baseFids = (0 until NFrames).map(f => p0 * 16L + f)
    val plants = Seq(
      (p0, Multimodal.synthesizeMp4MultiTrak(baseFids.map(encFrame))),
      (p0 + 1L, Multimodal.synthesizeMp4MultiTrak(baseFids.map(fid =>
        Multimodal.encodeGrayPng(
          Multimodal.synthGray(fid, W, H, VidSeed).map(_ + 5), W, H)))),
      (p0 + 2L, Multimodal.synthesizeMp4MultiTrak(
        (1 to NFrames).map(f => encFrame(p0 * 16L + f)))),
      (p0 + 3L, Multimodal.synthesizeMp4MultiTrak(
        Seq(encFrame(p0 * 16L)) ++
          (1 until NFrames).map(f => encFrame(p0 * 16L + 8 + f)))))
    Tables(s, dir, "documents").select($"doc_id")
      .spreadOverCores // (a) the synth UDF
      .select($"doc_id", synth($"doc_id").as("blob"))
      .unionByName(s.createDataFrame(plants).toDF("doc_id", "blob"))
      .select($"doc_id",
        posexplode(Functional.videoFrameHashes($"blob")))
      .select($"doc_id", $"pos".cast(LongType).as("frame_idx"),
        $"col".as("fhash"))
      .orderBy($"doc_id", $"frame_idx")
  }

  val q304Sql: String = Queries40.q296Sql

  // ---- q303: PQ asymmetric-distance tables, hashed companion -----------------

  private val PqSeed = 6067L
  private val PqCbSeed = 6079L
  private val PqDim = 16
  private val PqM = 4
  private val PqCodes = 8
  private val PqSub = PqDim / PqM

  /** Pinned INTEGER-valued codebook (splitmix64-derived, ±10): with
    * integer centroids and integer vectors every PQ distance, LUT
    * entry, and ADC score is exact integer arithmetic inside IEEE
    * doubles — order-free, so DuckDB can restate it bit-for-bit. */
  private def pqCodebook: Array[Double] =
    Array.tabulate(PqM * PqCodes * PqSub) { x =>
      ((graft.functions.Kernels.sampleHash(x + 1L, PqCbSeed) >>> 8)
        % 21L - 10L).toDouble
    }

  /** Hashed companion to the q109/q111 ANN recall gates (the q292/q250
    * pattern): the TRAINED codebooks are engine-defined (driver
    * k-means over IEEE doubles — summation-order-sensitive, not
    * restatable), but the PQ DISTANCE MACHINERY under both gates —
    * [[graft.functions.Kernels#pqEncode]] (argmin code assignment,
    * earliest-code tie rule), pqLut (per-probe dot tables), pqScore
    * (m-lookup ADC sum) — is pure arithmetic. This gate runs exactly
    * those kernels over an integer-valued synthetic embedding corpus
    * and a PINNED integer codebook, emitting every vector's packed
    * code word and every (probe, vector) ADC score; DuckDB re-derives
    * all of it (argmin with the same d2-then-code ordering, exact
    * integer sums). Takes the q109/q111 ledger rows from "self-check
    * only" to "self-check + hashed companion on the distance tables";
    * only the k-means trainer itself stays engine-defined. */
  def q303PqAdc(s: SparkSession, dir: String): DataFrame = {
    val synthVec = udf((id: Long) => Array.tabulate(PqDim)(i =>
      (((graft.functions.Kernels.sampleHash(id * 256L + i, PqSeed)
        >>> 8) % 41L) - 20L).toFloat))
    val p0 = Queries2.plantBase
    val corpus = Tables(s, dir, "documents")
      .select($"doc_id", synthVec($"doc_id").as("vec"))
    val probes = s.range(4)
      .select(($"id" + p0).as("probe_id"))
      .select($"probe_id", synthVec($"probe_id").as("vec"))
    val cbLit = lit(pqCodebook)
    val codes = corpus.select($"doc_id",
      Functional.pqEncode($"vec", cbLit, PqM, PqCodes).as("codes"))
    // base-8 packing of the m byte codes — one BIGINT per vector the
    // oracle can restate without array semantics
    val packed = (0 until PqM).map(mi =>
        element_at($"codes", mi + 1).cast(LongType) * (1L << (3 * mi)))
      .reduce(_ + _)
    val luts = broadcast(probes.select($"probe_id",
      Functional.pqLut($"vec", cbLit, PqM, PqCodes).as("lut")))
    // the production ADC scan shape: probe LUTs broadcast over the
    // code column, m table lookups per (probe, vector) — no original
    // vectors touched
    codes.crossJoin(luts)
      .select($"probe_id", $"doc_id", packed.as("code_packed"),
        Functional.pqScore($"codes", $"lut", PqCodes)
          .cast(LongType).as("adc"))
      .orderBy($"probe_id", $"doc_id")
  }

  val q303Sql: String = {
    val p0 = Queries2.plantBase
    s"""WITH pvk AS (
       |  SELECT g.id, CAST(r.range AS BIGINT) AS i,
       |    g.id * 256 + r.range AS bkey
       |  FROM (SELECT doc_id AS id FROM documents
       |        UNION ALL SELECT $p0 + rr.range FROM range(4) rr) g
       |  CROSS JOIN range($PqDim) r),
       |pvkeys AS (SELECT DISTINCT bkey FROM pvk),
       |${Queries5.hashCtes("pv", PqSeed, "pvkeys", "bkey")},
       |pvu AS (SELECT k, CAST(CASE WHEN h < 0
       |    THEN CAST(h AS HUGEINT) + 18446744073709551616
       |    ELSE CAST(h AS HUGEINT) END AS UBIGINT) AS u FROM pvh),
       |vec AS (SELECT p.id, p.i,
       |    CAST((pvu.u >> 8) % 41 AS BIGINT) - 20 AS c
       |  FROM pvk p JOIN pvu ON p.bkey = pvu.k),
       |cbk AS (SELECT CAST(r.range AS BIGINT) AS x,
       |    r.range + 1 AS bkey
       |  FROM range(${PqM * PqCodes * PqSub}) r),
       |cbkeys AS (SELECT DISTINCT bkey FROM cbk),
       |${Queries5.hashCtes("cv", PqCbSeed, "cbkeys", "bkey")},
       |cvu AS (SELECT k, CAST(CASE WHEN h < 0
       |    THEN CAST(h AS HUGEINT) + 18446744073709551616
       |    ELSE CAST(h AS HUGEINT) END AS UBIGINT) AS u FROM cvh),
       |cb AS (SELECT b.x // ${PqCodes * PqSub} AS mi,
       |    (b.x // $PqSub) % $PqCodes AS j, b.x % $PqSub AS i,
       |    CAST((cvu.u >> 8) % 21 AS BIGINT) - 10 AS w
       |  FROM cbk b JOIN cvu ON b.bkey = cvu.k),
       |d2 AS (SELECT v.id, c.mi, c.j,
       |    SUM((c.w - v.c) * (c.w - v.c)) AS d2
       |  FROM vec v JOIN cb c ON v.i = c.mi * $PqSub + c.i
       |  WHERE v.id < $p0
       |  GROUP BY 1, 2, 3),
       |code AS (SELECT id, mi, j FROM (
       |    SELECT id, mi, j, ROW_NUMBER() OVER (
       |      PARTITION BY id, mi ORDER BY d2, j) AS rn FROM d2)
       |  WHERE rn = 1),
       |packed AS (SELECT id, CAST(SUM(j * (CASE mi WHEN 0 THEN 1
       |    WHEN 1 THEN 8 WHEN 2 THEN 64 ELSE 512 END)) AS BIGINT)
       |      AS code_packed
       |  FROM code GROUP BY 1),
       |lut AS (SELECT v.id AS probe_id, c.mi, c.j, SUM(c.w * v.c) AS l
       |  FROM vec v JOIN cb c ON v.i = c.mi * $PqSub + c.i
       |  WHERE v.id >= $p0 GROUP BY 1, 2, 3),
       |adc AS (SELECT l.probe_id, k.id, CAST(SUM(l.l) AS BIGINT) AS adc
       |  FROM code k JOIN lut l ON l.mi = k.mi AND l.j = k.j
       |  GROUP BY 1, 2)
       |SELECT a.probe_id, a.id AS doc_id, p.code_packed, a.adc
       |FROM adc a JOIN packed p ON a.id = p.id
       |ORDER BY probe_id, doc_id""".stripMargin
  }

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q298_video_multichunk" -> (q298VideoMultichunk _),
    "q299_audio_stereo24" -> (q299AudioStereo24 _),
    "q300_stream_audio_neardup" -> (q300StreamAudioNeardup _),
    "q301_stream_video_neardup" -> (q301StreamVideoNeardup _),
    "q302_video_framerun" -> (q302VideoFramerun _),
    "q303_pq_adc" -> (q303PqAdc _),
    "q304_video_multitrak" -> (q304VideoMultitrak _),
    "q305_stream_video_framerun" -> (q305StreamVideoFramerun _)
  )

  val oracles: Map[String, String] = Map(
    "q298_video_multichunk" -> q298Sql,
    "q299_audio_stereo24" -> q299Sql,
    "q300_stream_audio_neardup" -> q300Sql,
    "q301_stream_video_neardup" -> q301Sql,
    "q302_video_framerun" -> q302Sql,
    "q303_pq_adc" -> q303Sql,
    "q304_video_multitrak" -> q304Sql,
    "q305_stream_video_framerun" -> q305Sql
  )
}
