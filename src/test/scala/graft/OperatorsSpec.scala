package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BooleanType

import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}

/** Dedup / similarity / text-analysis operator behavior on small data. */
class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and again"),
    (3L, "the quick brown fox jumps over the lazy cat again and again"),
    (4L, "completely different content about spark query engines here"),
    (5L, "completely different content about spark query engines here"))
    .toDF("doc_id", "text")

  test("exact dedup keeps lowest id per content") {
    val kept = col0(Dedup.exact(docs, "text", "doc_id")
      .select("doc_id").orderBy("doc_id"))
    assert(kept === Seq(1L, 3L, 4L))
  }

  test("exactGroups reports duplicate groups") {
    val g = Dedup.exactGroups(docs, "text", "doc_id")
      .orderBy("keep_id").collect().toSeq
    assert(g.map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("n"))) ===
      Seq((1L, 2L), (4L, 2L)))
  }

  test("minhash LSH finds identical and near-identical docs") {
    val pairs = Dedup.minHashLsh(docs, "text", "doc_id",
        k = 64, bands = 16, shingleSize = 3, threshold = 0.5)
      .collect().toSeq
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double]("est_jaccard")))
    val byPair = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(byPair((1L, 2L)) === 1.0) // identical docs: full signature match
    assert(byPair((4L, 5L)) === 1.0)
    assert(byPair.contains((1L, 3L))) // near-dup: one token differs
    assert(byPair((1L, 3L)) > 0.5 && byPair((1L, 3L)) < 1.0)
  }

  test("minHashStoreCandidates matches minHashLsh's cross-pair subset " +
      "exactly (shared banding front end) and never emits store-store " +
      "or fresh-fresh pairs") {
    val store = docs.where(col("doc_id") <= 3L)
    val fresh = docs.where(col("doc_id") >= 4L)
      .unionByName(Seq((6L,
        "the quick brown fox jumps over the lazy dog again and again"))
        .toDF("doc_id", "text"))
    val got = Dedup.minHashStoreCandidates(store, fresh, "text", "doc_id",
        k = 64, bands = 16, shingleSize = 3, threshold = 0.5)
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col("est_jaccard")).as("est_jaccard"))
      .collect().toSeq
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double]("est_jaccard"))).sorted
    // batch reference: the full self-join restricted to cross pairs
    val all = docs.unionByName(Seq((6L,
        "the quick brown fox jumps over the lazy dog again and again"))
        .toDF("doc_id", "text"))
    val ref = Dedup.minHashLsh(all, "text", "doc_id",
        k = 64, bands = 16, shingleSize = 3, threshold = 0.5)
      .collect().toSeq
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double]("est_jaccard")))
      .filter { case (a, b, _) => a <= 3L && b >= 4L }.sorted
    assert(got === ref, "store-candidates must equal the cross subset")
    assert(got.map(p => (p._1, p._2)).contains((1L, 6L)),
      "the fresh verbatim dup of store doc 1 must surface")
    assert(got.forall { case (a, b, _) => a <= 3L && b >= 4L },
      "only store-x-fresh pairs may be emitted")
  }

  test("simhash: identical docs at distance 0; near-dups close") {
    val pairs = Dedup.simHash(docs, "text", "doc_id", maxHamming = 16)
      .collect().toSeq
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Int]("hamming"))).map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs((1L, 2L)) === 0)
    assert(pairs((4L, 5L)) === 0)
    assert(pairs.get((1L, 3L)).exists(_ <= 16))
  }

  test("winnowOverlap pairs docs by shared fingerprints, incl. partial overlap") {
    val fox = "the quick brown fox jumps over the lazy dog again and again"
    val part = Seq(
      (1L, fox), (2L, fox), // identical
      (3L, fox + " with an entirely new continuation appended at the end"),
      (4L, "completely different content about spark query engines here"))
      .toDF("doc_id", "text")
    val pairs = Dedup.winnowOverlap(part, "text", "doc_id",
        k = 8, w = 16, minShared = 1)
      .collect().toSeq
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Long]("shared_fps")).toMap
    // identical docs share their whole (equal) fingerprint sets
    assert(pairs.contains((1L, 2L)))
    // doc 3 shares only a PREFIX with 1/2 — partial overlap must pair
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)))
    assert(pairs((1L, 3L)) >= 1 && pairs((1L, 3L)) <= pairs((1L, 2L)))
    // disjoint content never pairs
    assert(!pairs.keys.exists { case (a, b) => b == 4L || a == 4L })
  }

  test("ngramJaccard verifies candidates exactly") {
    val cands = Seq((1L, 2L), (1L, 4L)).toDF("id_a", "id_b")
    val got = Dedup.ngramJaccard(cands, docs, "text", "doc_id", n = 3)
      .orderBy("id_a", "id_b").collect().toSeq
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double]("jaccard")))
    assert(got(0)._3 === 1.0)  // identical
    assert(got(1)._3 === 0.0)  // disjoint
  }

  test("embedding cosine dedup finds identical vectors") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.5f)),
      (2L, Seq(1.0f, 0.0f, 0.5f)),
      (3L, Seq(-1.0f, 0.2f, 0.0f))).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingCosine(vecs, "embedding", "vec_id",
        threshold = 0.99, bits = 4)
      .collect().toSeq.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    assert(pairs === Seq((1L, 2L)))
  }

  test("brute-force knn ranks the duplicate vector first") {
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),
      (1L, Seq(1.0f, 0.01f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f)),
      (3L, Seq(0.9f, 0.1f, 0.0f))).toDF("vec_id", "embedding")
    val got = Similarity.bruteForceTopK(vecs, vecs.where(col("vec_id") === 0),
        "embedding", "vec_id", "vec_id", k = 2)
      .orderBy("rank").collect().toSeq.map(_.getAs[Long]("id"))
    assert(got === Seq(1L, 3L))
  }

  test("lsh knn returns a subset ranked consistently") {
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),
      (1L, Seq(1.0f, 0.01f, 0.0f)),
      (2L, Seq(0.95f, 0.05f, 0.0f))).toDF("vec_id", "embedding")
    val got = Similarity.lshTopK(vecs, vecs.where(col("vec_id") === 0),
        "embedding", "vec_id", "vec_id", k = 2, bits = 4)
      .collect().toSeq
    assert(got.nonEmpty) // identical-direction vectors share every bucket
  }

  test("tokens/shingles/tokenCount") {
    val df = Seq("a b c d").toDF("text")
    assert(col0(df.select(TextAnalysis.tokenCount(col("text")))) === Seq(4))
    assert(col0(df.select(TextAnalysis.shingles(col("text"), 2)))
      .head.asInstanceOf[Seq[String]] === Seq("a b", "b c", "c d"))
    // short doc: single shingle of whole text
    val short = Seq("a b").toDF("text")
    assert(col0(short.select(TextAnalysis.shingles(col("text"), 5)))
      .head.asInstanceOf[Seq[String]] === Seq("a b"))
  }

  test("langId picks the profile language") {
    val df = Seq(
      "the cat is on the mat and it is warm",
      "der Hund ist nicht mit der Katze",
      "le chat est dans la maison pour le moment",
      "el perro es un animal que vive en la casa",
      "xyzzy plugh qwerty").toDF("text")
    assert(col0(df.select(TextAnalysis.langId(col("text")))) ===
      Seq("en", "de", "fr", "es", "und"))
  }

  test("IVF ANN recall vs brute force on real embeddings") {
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val probes = emb.where(col("vec_id") < 5)
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.select(col("probe_id"), col("id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = hits(Similarity.bruteForceTopK(emb, probes, "embedding",
      "vec_id", "vec_id", k = 10))
    val ivf = hits(Similarity.ivfTopK(emb, probes, "embedding",
      "vec_id", "vec_id", k = 10, nCells = 8, nProbe = 3))
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall $recall")
    // ivf returns at most k per probe, ranked
    assert(ivf.size <= exact.size)
  }

  test("fused langIdText agrees with the token-array kernel on real docs") {
    import graft.functions.Functional
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val both = docs.select(
      Functional.langIdText(col("text")).as("fused"),
      Functional.langId(
        split(trim(lower(col("text"))), "\\s+")).as("arr"))
    assert(both.where(col("fused") =!= col("arr")).count() === 0)
    // mixed case hits the ASCII-lowercase path in the fused scan
    val upper = Seq("THE Cat IS ON the MAT AND it is WARM").toDF("text")
    assert(col0(upper.select(Functional.langIdText(col("text")))) ===
      Seq("en"))
  }

  test("quality score ranges and orders sensibly") {
    val df = Seq(
      "the cat is on the mat and it is a warm day for all of us here",
      "!!! ??? ### $$$ %%%").toDF("text")
    val got = col0(df.select(TextAnalysis.qualityScore(col("text"))))
      .map(_.asInstanceOf[Double])
    assert(got(0) > 0.7)
    assert(got(1) < 0.4)
    assert(got.forall(s => s >= 0.0 && s <= 1.0))
  }

  test("multimodal decode plumbing: schema, null-for-unknown, " +
      "test-only fake flag") {
    val df = Seq((1L, "payload one"), (2L, "payload two")).toDF("id", "text")
    val out = Multimodal.decodeMeta(Multimodal.withBlob(df, "text"))
    assert(out.schema.fieldNames.contains("media_meta"))
    val r1 = out.select(col("id"), col("media_meta")).orderBy("id").collect()
    val meta = r1.head.getStruct(r1.head.fieldIndex("media_meta"))
    // raw text bytes are no known format → NULL dims, never fabricated
    assert(meta.getAs[String]("format") === "unknown")
    assert(meta.isNullAt(meta.fieldIndex("width")))
    assert(meta.isNullAt(meta.fieldIndex("height")))
    assert(meta.isNullAt(meta.fieldIndex("channels")))
    assert(meta.getAs[Long]("n_bytes") === "payload one".length.toLong)
    // the deterministic fake survives ONLY behind the explicit flag
    val fake = Multimodal.decodeMetaImpl(Multimodal.withBlob(df, "text"),
      "blob", fakeUnknownDims = true)
      .select(col("id"), col("media_meta"))
    val f1 = fake.orderBy("id").collect()
    val f2 = fake.orderBy("id").collect()
    assert(f1.map(_.toString) === f2.map(_.toString)) // deterministic stub
    val fm = f1.head.getStruct(f1.head.fieldIndex("media_meta"))
    assert(fm.getAs[String]("format") === "unknown")
    assert(fm.getAs[Int]("width") >= 64)
  }

  test("real PNG IHDR / JPEG SOF header decode") {
    // hand-built PNG: signature + IHDR, 640x480, truecolor+alpha
    val png = Multimodal.synthesizeBlob(seed = 2L) // even seed → png
    val (pf, pw, ph, pc) = Multimodal.decodeHeader(png)
    assert(pf === "png")
    assert(pw === 64 + ((2L >>> 4) % 1857).toInt)
    assert(ph === 64 + ((2L >>> 24) % 1017).toInt)
    assert(pc === 3) // color type 2 = truecolor
    val jpg = Multimodal.synthesizeBlob(seed = 7L) // odd seed → jpeg
    val (jf, jw, jh, jc) = Multimodal.decodeHeader(jpg)
    assert(jf === "jpeg")
    assert(jw === 64 + ((7L >>> 4) % 1857).toInt)
    assert(jh === 64 + ((7L >>> 24) % 1017).toInt)
    assert(jc === 3)
    // a JPEG with leading APP0 segment before SOF still parses (marker
    // scan skips non-SOF segments by their declared length)
    val app0 = Array(0xff, 0xd8, 0xff, 0xe0, 0, 4, 0x4a, 0x46).map(_.toByte)
    val withApp0 = app0 ++ jpg.drop(2)
    val (af, aw, ah, _) = Multimodal.decodeHeader(withApp0)
    assert((af, aw, ah) === ("jpeg", jw, jh))
    // PNG with explicit bytes: 16x8 greyscale
    val raw = Array[Int](0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a,
      0, 0, 0, 13, 'I', 'H', 'D', 'R',
      0, 0, 0, 16, 0, 0, 0, 8, 8, 0, 0, 0, 0).map(_.toByte)
    assert(Multimodal.decodeHeader(raw) === ("png", 16, 8, 1))
  }

  test("JPEG marker scan: fill bytes, parameterless markers, SOS stop") {
    val sof = Array(0xff, 0xc0, 0, 17, 8, 0, 100, 0, 200, 3).map(_.toByte)
    // fill bytes (extra 0xFF) before the SOF marker code
    val fill = Array(0xff, 0xd8, 0xff, 0xff, 0xff).map(_.toByte) ++
      sof.drop(1)
    assert(Multimodal.decodeHeader(fill) === ("jpeg", 200, 100, 3))
    // parameterless TEM and RST markers before SOF are stepped over
    val tem = Array(0xff, 0xd8, 0xff, 0x01, 0xff, 0xd3).map(_.toByte) ++ sof
    assert(Multimodal.decodeHeader(tem) === ("jpeg", 200, 100, 3))
    // SOS before any SOFn: scan must stop, not read entropy-coded data
    val sos = Array(0xff, 0xd8, 0xff, 0xda, 0, 2, 0x12, 0x34, 0xff, 0xc0,
      0, 17, 8, 0, 1, 0, 1, 1).map(_.toByte)
    assert(Multimodal.decodeHeader(sos) === ("jpeg", 0, 0, 0))
    // EOI before SOF: stop
    val eoi = Array(0xff, 0xd8, 0xff, 0xd9).map(_.toByte) ++ sof
    assert(Multimodal.decodeHeader(eoi) === ("jpeg", 0, 0, 0))
    // stuffed byte / desync: bail instead of misparsing
    val stuffed = Array(0xff, 0xd8, 0xff, 0x00, 0x12).map(_.toByte)
    assert(Multimodal.decodeHeader(stuffed) === ("jpeg", 0, 0, 0))
  }

  test("real codec-produced bytes: javax.imageio PNG and JPEG output " +
      "parses to the encoded dimensions") {
    import java.awt.image.BufferedImage
    import javax.imageio.ImageIO
    def encode(img: BufferedImage, fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      assert(ImageIO.write(img, fmt, bos), s"no $fmt writer available")
      bos.toByteArray
    }
    // PNG truecolor 37x21 (TYPE_INT_RGB encodes as color type 2 -> 3ch)
    val rgb = new BufferedImage(37, 21, BufferedImage.TYPE_INT_RGB)
    rgb.setRGB(5, 5, 0xff8800)
    assert(Multimodal.decodeHeader(encode(rgb, "png")) === ("png", 37, 21, 3))
    // PNG grey+alpha is written with an alpha channel (type 6 -> 4ch)
    val argb = new BufferedImage(16, 64, BufferedImage.TYPE_INT_ARGB)
    assert(Multimodal.decodeHeader(encode(argb, "png")) ===
      ("png", 16, 64, 4))
    // baseline JPEG 80x60, 3 components; real encoders emit JFIF APP0 +
    // quant/huffman tables before the SOF0 the scan must reach
    val jpgImg = new BufferedImage(80, 60, BufferedImage.TYPE_INT_RGB)
    assert(Multimodal.decodeHeader(encode(jpgImg, "jpg")) ===
      ("jpeg", 80, 60, 3))
    // greyscale JPEG: 1 component
    val grey = new BufferedImage(9, 7, BufferedImage.TYPE_BYTE_GRAY)
    assert(Multimodal.decodeHeader(encode(grey, "jpg")) === ("jpeg", 9, 7, 1))
  }

  test("real codec-produced bytes: javax.sound WAV output parses to " +
      "the encoded sample rate / bit depth / channel count") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat,
      AudioInputStream, AudioSystem}
    def wav(rate: Float, bits: Int, ch: Int): Array[Byte] = {
      val fmt = new AudioFormat(rate, bits, ch, true, false)
      val frames = 25
      val data = new Array[Byte](frames * fmt.getFrameSize)
      val ais = new AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, frames.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    assert(Multimodal.decodeHeader(wav(44100f, 16, 2)) ===
      ("wav", 44100, 16, 2))
    assert(Multimodal.decodeHeader(wav(16000f, 8, 1)) ===
      ("wav", 16000, 8, 1))
    // hand-built RIFF with a LIST chunk BEFORE fmt: the walk must step
    // over unknown chunks by their declared (odd, word-padded) size
    def le32b(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte,
      (v >> 16).toByte, (v >> 24).toByte)
    def le16b(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    val fmtData = le16b(1) ++ le16b(3) ++ le32b(8000) ++
      le32b(8000 * 3 * 3) ++ le16b(9) ++ le16b(24)
    val padded = "RIFF".getBytes ++ le32b(0) ++ "WAVE".getBytes ++
      "LIST".getBytes ++ le32b(3) ++ Array[Byte](1, 2, 3, 0) ++ // pad
      "fmt ".getBytes ++ le32b(16) ++ fmtData
    assert(Multimodal.decodeHeader(padded) === ("wav", 8000, 24, 3))
    // non-WAVE RIFF containers probe to their fourCC, zeroed dims
    val avi = "RIFF".getBytes ++ le32b(4) ++ "AVI ".getBytes
    assert(Multimodal.decodeHeader(avi) === ("avi", 0, 0, 0))
    val webp = "RIFF".getBytes ++ le32b(4) ++ "WEBP".getBytes
    assert(Multimodal.decodeHeader(webp) === ("webp", 0, 0, 0))
    // truncated / fmt-less WAV degrades to zeroed fields, never throws
    val bare = "RIFF".getBytes ++ le32b(4) ++ "WAVE".getBytes
    assert(Multimodal.decodeHeader(bare) === ("wav", 0, 0, 0))
    // crafted chunk size 0x7FFFFFF0 must not overflow the cursor into
    // a negative index (the `i += 8 + size` wraparound class)
    val huge = "RIFF".getBytes ++ le32b(0) ++ "WAVE".getBytes ++
      "JUNK".getBytes ++ le32b(0x7ffffff0)
    assert(Multimodal.decodeHeader(huge) === ("wav", 0, 0, 0))
  }

  test("ISO-BMFF (MP4) box walk parses seeded tkhd dimensions and " +
      "degrades on malformed boxes, never throws") {
    // synthesized blob round-trips the seed arithmetic through real
    // ftyp/moov/trak/tkhd bytes (16.16 fixed point widths)
    def expect(seed: Long) = ("mp4",
      160 + ((seed >>> 3) % 1760L).toInt,
      120 + ((seed >>> 17) % 960L).toInt, 1)
    for (seed <- Seq(0L, 1L, 12345L, 0x7fffffffffffL, 987654321L)) {
      val blob = Multimodal.synthesizeMp4Blob(seed)
      assert(blob.length === 264) // constant length the oracle restates
      assert(Multimodal.decodeHeader(blob) === expect(seed))
    }
    // hand-built: a free box BEFORE moov must be stepped over by its
    // declared BE size; the walk is box-order-agnostic
    def be32b(v: Int) = Array[Byte]((v >> 24).toByte, (v >> 16).toByte,
      (v >> 8).toByte, v.toByte)
    val base = Multimodal.synthesizeMp4Blob(42L)
    val ftyp = base.slice(0, 24)
    val moov = base.slice(24, 240)
    val withFree = ftyp ++ be32b(16) ++ "free".getBytes ++
      Array.fill[Byte](8)(0) ++ moov
    assert(Multimodal.decodeHeader(withFree) ===
      Multimodal.decodeHeader(base))
    // ftyp-only / moov-without-trak degrade to zeroed dims
    assert(Multimodal.decodeHeader(ftyp) === ("mp4", 0, 0, 0))
    val emptyMoov = ftyp ++ be32b(8) ++ "moov".getBytes
    assert(Multimodal.decodeHeader(emptyMoov) === ("mp4", 0, 0, 0))
    // corrupt size field (< 8) stops the walk instead of looping
    val corrupt = ftyp ++ be32b(3) ++ "moov".getBytes
    assert(Multimodal.decodeHeader(corrupt) === ("mp4", 0, 0, 0))
    // crafted size 0x7FFFFFFF must not overflow the cursor into a
    // negative index (the `i += size` wraparound class)
    val overflow = be32b(0x7fffffff) ++ "ftyp".getBytes ++
      Array.fill[Byte](8)(0)
    assert(Multimodal.decodeHeader(overflow) === ("mp4", 0, 0, 0))
    // a tkhd DECLARING size < 92 (v0) passes findBox (size >= 8) but
    // its "width/height" would be the next sibling's bytes — the
    // declared-size guard must degrade instead of misreading (same
    // class as the WAV `fmt ` size < 16 guard). tkhd sits at byte 148
    // in the synthesized blob; patch its BE32 size in place.
    val shortTkhd = base.clone()
    be32b(20).copyToArray(shortTkhd, 148)
    assert(Multimodal.decodeHeader(shortTkhd) === ("mp4", 0, 0, 0))
    // a version-1 tkhd needs declared size >= 104; the synthesized
    // v0 box declares 92, so flipping only the version byte must
    // degrade — pre-guard code read w/h from the mdat payload here
    val v1Short = base.clone()
    v1Short(148 + 8) = 1
    assert(Multimodal.decodeHeader(v1Short) === ("mp4", 0, 0, 0))
  }

  test("frame sampling rejects n < 1 (sequence(0,-1) would emit " +
      "fabricated descending frames)") {
    val df = Seq((1L, "x")).toDF("id", "text")
    val e = intercept[IllegalArgumentException] {
      Multimodal.sampleFrames(Multimodal.withBlob(df, "text"), "blob", 0)
    }
    assert(e.getMessage.contains("n >= 1"))
  }

  test("frame sampling emits n rows per blob") {
    val df = Seq((1L, "x")).toDF("id", "text")
    val out = Multimodal.sampleFrames(
      Multimodal.withBlob(df, "text"), "blob", 4)
    assert(out.count() === 4L)
  }

  test("q19 bench mode drops the exact self-check aggregates but " +
      "keeps the schema (graft.sketch.selfcheck=false)") {
    val dir = "/root/testdata/sf0.001"
    // verify mode emits the oracle-restatable exact side + the bound
    // check; the raw sketch values stay internal (engine-specific)
    val checked = RelationalGates.q19ApproxSketch(spark, dir)
    assert(checked.columns.toSeq ===
      Seq("l_returnflag", "exact_parts", "n", "sketch_ok"))
    assert(checked.collect().forall(_.getAs[Boolean]("sketch_ok")))
    try {
      spark.conf.set("graft.sketch.selfcheck", "false")
      val bench = RelationalGates.q19ApproxSketch(spark, dir)
      // bench mode emits the sketch values themselves and names the
      // flag sketch_unchecked: the bound check does not run there,
      // and the name must say so
      assert(bench.columns.toSeq === Seq("l_returnflag", "approx_parts",
        "p50_price", "p99_price", "sketch_unchecked"))
      val plan = bench.queryExecution.optimizedPlan.toString
      assert(!plan.contains("count(distinct"))
      assert(!plan.toLowerCase.contains("percentile(")) // approx only
      assert(bench.collect().forall(_.getAs[Boolean]("sketch_unchecked")))
    } finally spark.conf.set("graft.sketch.selfcheck", "true")
  }
}
