package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Functional
import graft.operators.{Dedup, Multimodal}

/** Media gates: image, audio and video fixtures generated on the
  * executors, container probes, perceptual hashes and their near-duplicate
  * joins, and the constants and oracle CTEs the streaming media gates
  * share.
  */
object MediaGates extends GateFamily("media") {

  lazy val gates: Seq[Gate] = Seq(
    Gate("q70_multimodal", q70Multimodal, Some(q70Sql)),
    Gate("q189_binary_files", q189BinaryFiles, Some(q189Sql),
      eager = Some("writes blob files and reads them back")),
    Gate("q223_audio_meta", q223AudioMeta, Some(q223Sql)),
    Gate("q229_mp4_probe", q229Mp4Probe, Some(q229Sql)),
    Gate("q289_image_dhash", q289ImageDhash, Some(q289Sql)),
    Gate("q290_image_neardup", q290ImageNeardup, Some(q290Sql)),
    Gate("q293_audio_fp", q293AudioFp, Some(q293Sql)),
    Gate("q294_audio_neardup", q294AudioNeardup, Some(q294Sql)),
    Gate("q296_video_frames", q296VideoFrames, Some(q296Sql)),
    Gate("q297_video_neardup", q297VideoNeardup, Some(q297Sql)),
    Gate("q298_video_multichunk", q298VideoMultichunk, Some(q298Sql)),
    Gate("q299_audio_stereo24", q299AudioStereo24, Some(q299Sql)),
    Gate("q302_video_framerun", q302VideoFramerun, Some(q302Sql)),
    Gate("q304_video_multitrak", q304VideoMultitrak, Some(q304Sql))
  )

  // ---- multimodal: REAL header decode, fully oracled -------------------

  /** Real PNG-IHDR / JPEG-SOF byte parsing end-to-end: each doc gets a
    * synthesized VALID image header (seeded dimensions), decodeMeta
    * parses the actual bytes back in a partition-wise batch pass, and
    * the oracle predicts format/width/height/size arithmetically from
    * the seed — a green row proves the byte-level parser is exact. */
  def q70Multimodal(s: SparkSession, dir: String): DataFrame = {
    val synth = udf((id: Long) =>
      Multimodal.synthesizeBlob(id * 1048573L + 11L))
    val docs = Tables(s, dir, "documents")
      .select($"doc_id", synth($"doc_id").as("blob"))
    Multimodal.decodeMeta(docs)
      .select($"media_meta.format".as("format"),
        $"media_meta.width".as("width"), $"media_meta.height".as("height"),
        $"media_meta.n_bytes".as("n_bytes"))
      .groupBy($"format")
      .agg(count(lit(1)).as("n"),
        sum($"width").cast(LongType).as("sum_w"),
        sum($"height").cast(LongType).as("sum_h"),
        sum($"n_bytes").cast(LongType).as("total_bytes"))
      .orderBy($"format")
  }

  val q70Sql: String =
    """WITH d AS (SELECT doc_id * 1048573 + 11 AS seed FROM documents)
      |SELECT CASE WHEN seed % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
      |COUNT(*) AS n,
      |CAST(SUM(64 + ((seed // 16) % 1857)) AS BIGINT) AS sum_w,
      |CAST(SUM(64 + ((seed // 16777216) % 1017)) AS BIGINT) AS sum_h,
      |CAST(SUM(CASE WHEN seed % 2 = 0 THEN 61 ELSE 44 END) AS BIGINT)
      |  AS total_bytes
      |FROM d GROUP BY 1 ORDER BY format""".stripMargin

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

  // ---- q223: audio (WAV) metadata extraction ------------------------------

  /** Real RIFF/WAVE chunk-walk end-to-end — the audio face of q70's
    * image decode: each document gets a synthesized VALID WAV blob
    * (seeded PCM sample rate / bit depth / channel count,
    * [[graft.operators.Multimodal.synthesizeWavBlob]]), decodeMeta
    * parses the actual bytes back partition-wise (no shuffle until the
    * tiny grouped aggregate), and the oracle predicts every field
    * arithmetically from the seed — a green row proves the LE chunk
    * parser is exact. Format maps onto the shared media_meta tuple as
    * width=sampleRate, height=bitsPerSample. */
  def q223AudioMeta(s: SparkSession, dir: String): DataFrame = {
    val synth = udf((id: Long) =>
      graft.operators.Multimodal.synthesizeWavBlob(id * 1048573L + 13L))
    val docs = Tables(s, dir, "documents")
      .select($"doc_id", synth($"doc_id").as("blob"))
    graft.operators.Multimodal.decodeMeta(docs)
      .select($"media_meta.format".as("format"),
        $"media_meta.width".as("sample_rate"),
        $"media_meta.height".as("bits"),
        $"media_meta.channels".as("channels"),
        $"media_meta.n_bytes".as("n_bytes"))
      .groupBy($"format", $"channels", $"bits")
      .agg(count(lit(1)).as("n"),
        sum($"sample_rate").cast(LongType).as("sum_rate"),
        sum($"n_bytes").cast(LongType).as("total_bytes"))
      .orderBy($"channels", $"bits")
  }

  val q223Sql: String =
    """WITH d AS (SELECT doc_id * 1048573 + 13 AS seed FROM documents)
      |SELECT 'wav' AS format,
      |  CAST(1 + (seed // 1073741824) % 2 AS INTEGER) AS channels,
      |  CAST(8 * (1 + (seed // 1048576) % 4) AS INTEGER) AS bits,
      |  count(*) AS n,
      |  CAST(sum(8000 + (seed // 16) % 40000) AS BIGINT) AS sum_rate,
      |  CAST(count(*) * 64 AS BIGINT) AS total_bytes
      |FROM d GROUP BY 1, 2, 3 ORDER BY channels, bits""".stripMargin

  // ---- q229: video (MP4/ISO-BMFF) container probe -------------------------

  /** Real ISO-BMFF box-walk end-to-end — the video face of q70's image
    * decode and q223's WAV chunk walk: each document gets a synthesized
    * VALID MP4 ([[graft.operators.Multimodal.synthesizeMp4Blob]]: ftyp
    * + moov{mvhd, trak{tkhd}} + mdat with seed-derived 16.16
    * fixed-point dimensions), decodeMeta parses the actual bytes back
    * partition-wise (no shuffle until the tiny grouped aggregate), and
    * the oracle predicts width/height arithmetically from the seed — a
    * green row proves the BE box parser is exact. Completes the
    * image/audio/video multimodal story on the shared media_meta
    * tuple. */
  def q229Mp4Probe(s: SparkSession, dir: String): DataFrame = {
    // 1048573 multiplier (same as q223/q70): doc_id * 1048573 + 29
    // stays inside signed 64-bit for any doc_id < 2^63/1048573 ≈ 8.8e12
    // — the 2654435761 Knuth constant previously here overflowed at
    // doc_id ≥ ~3.47e9, where Spark wraps silently but the DuckDB
    // oracle's BIGINT raises, diverging gate and oracle at target scale
    val synth = udf((id: Long) =>
      graft.operators.Multimodal.synthesizeMp4Blob(id * 1048573L + 29L))
    val docs = Tables(s, dir, "documents")
      .select($"doc_id", synth($"doc_id").as("blob"))
    graft.operators.Multimodal.decodeMeta(docs)
      .select($"media_meta.format".as("format"),
        $"media_meta.width".as("w"),
        $"media_meta.height".as("h"),
        $"media_meta.n_bytes".as("n_bytes"))
      .groupBy($"format",
        floor($"w" / 480).cast(IntegerType).as("w_class"))
      .agg(count(lit(1)).as("n"),
        sum($"w").cast(LongType).as("sum_w"),
        sum($"h").cast(LongType).as("sum_h"),
        sum($"n_bytes").cast(LongType).as("total_bytes"))
      .orderBy($"w_class")
  }

  val q229Sql: String =
    """WITH d AS (SELECT doc_id * 1048573 + 29 AS seed FROM documents),
      |m AS (SELECT 160 + (seed // 8) % 1760 AS w,
      |             120 + (seed // 131072) % 960 AS h FROM d)
      |SELECT 'mp4' AS format, CAST(w // 480 AS INTEGER) AS w_class,
      |  count(*) AS n,
      |  CAST(sum(w) AS BIGINT) AS sum_w,
      |  CAST(sum(h) AS BIGINT) AS sum_h,
      |  CAST(count(*) * 264 AS BIGINT) AS total_bytes
      |FROM m GROUP BY 1, 2 ORDER BY w_class""".stripMargin

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
    val p0 = DedupGates.plantBase
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
    val p0 = DedupGates.plantBase
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
    * corner forced to 255. splitmix64 replay via LmPrepGates.hashCtes —
    * ONE definition of the mix across the sampling and image gates. */
  val dhashCtes: String = {
    val p0 = DedupGates.plantBase
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
       |${LmPrepGates.hashCtes("px", ImgSeed, "keys", "bkey")},
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
    val p0 = DedupGates.plantBase
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
    val p0 = DedupGates.plantBase
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
    val p0 = DedupGates.plantBase
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
       |${LmPrepGates.hashCtes("au", AudSeed, "akeys", "bkey")},
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
    val p0 = DedupGates.plantBase
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
    val p0 = DedupGates.plantBase
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
    val p0 = DedupGates.plantBase
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
       |${LmPrepGates.hashCtes("vx", VidSeed, "vkeys", "bkey")},
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

  // ---- q298: multi-chunk / co64 video frame hashes ---------------------------

  /** Container layout for doc `id` — every production shape in one
    * corpus: uneven run-length stsc maps by id mod 3, stco vs co64 by
    * parity, pad width cycling 1..8. Frame CONTENT is identical to
    * q296's corpus, so the q296 oracle certifies the walk. */
  def multiChunkBlob(id: Long, frames: Seq[Array[Byte]])
      : Array[Byte] = {
    val spc = (id % 3).toInt match {
      case 0 => Seq(1, 3)
      case 1 => Seq(2, 2)
      case _ => Seq(3, 1)
    }
    Multimodal.synthesizeMp4MultiChunk(frames, spc,
      useCo64 = id % 2 == 0, pad = 1 + (id % 8).toInt)
  }

  def encFrame(fid: Long): Array[Byte] =
    Multimodal.encodeGrayPng(Multimodal.synthGray(fid, W, H, VidSeed), W, H)

  private def videoCorpusMulti(s: SparkSession, dir: String): DataFrame = {
    val synth = udf((id: Long) => multiChunkBlob(id,
      (0 until NFrames).map(f => encFrame(id * 16L + f))))
    val corpus = Tables(s, dir, "documents").select($"doc_id")
      .spreadOverCores // (a) the synth UDF
      .select($"doc_id", synth($"doc_id").as("blob"))
    val p0 = DedupGates.plantBase
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

  val q298Sql: String = MediaGates.q296Sql

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
    val p0 = DedupGates.plantBase
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
    val p0 = DedupGates.plantBase
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
    val p0 = DedupGates.plantBase
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
       |${LmPrepGates.hashCtes("st", St24Seed, "skeys", "bkey")},
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
    val p0 = DedupGates.plantBase
    val baseFids = (0 until NFrames).map(f => p0 * 16L + f)
    val reversed = Seq((p0 + 4L,
      Multimodal.synthesizeMp4WithFrames(baseFids.reverse.map(encFrame))))
    val corpus = MediaGates.videoCorpus(s, dir)
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
    val p0 = DedupGates.plantBase
    // reversed cut: frame slot f holds the base video's frame
    // NFrames-1-f (same generator ids, reverse order)
    val extra = (0 until NFrames).map(f =>
      s"UNION ALL SELECT ${p0 + 4}, $f, ${p0 * 16} + ${NFrames - 1 - f}, 0")
    s"""WITH ${MediaGates.videoCtesWith(extra)},
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
    val p0 = DedupGates.plantBase
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

  val q304Sql: String = MediaGates.q296Sql
}
