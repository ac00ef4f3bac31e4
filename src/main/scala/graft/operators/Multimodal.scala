package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: media as opaque `binary` columns with
  * typed metadata, decoded/feature-extracted in distributed batch UDFs.
  *
  * Header decode is REAL for PNG and JPEG (pure-JVM spec-level parsers,
  * [[Multimodal.decodeHeader]]; pinned against javax.imageio-encoded
  * fixture bytes in OperatorsSpec); full pixel decode / feature
  * extraction would plug a codec library into the same mapPartitions
  * slot. Unknown formats emit NULL metadata fields.
  * The pipeline shape is the 100 TB design: `mapPartitions` processes
  * whole partitions without per-row UDF overhead and without shuffling,
  * and the metadata struct is a first-class Catalyst column usable in
  * pushed-down filters downstream.
  */
object Multimodal {

  // width/height/channels are nullable: NULL means "format not decoded"
  // (unknown bytes), distinct from 0 = "known format, field absent/corrupt"
  val mediaMetaSchema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("channels", IntegerType, nullable = true),
    StructField("n_bytes", LongType, nullable = false)))

  /** Attach a binary media column (here: the utf-8 text bytes stand in
    * for an image payload; on a real corpus this is the stored blob). */
  def withBlob(df: DataFrame, payloadCol: String, blobCol: String = "blob")
      : DataFrame =
    df.withColumn(blobCol, col(payloadCol).cast(BinaryType))

  private def be32(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) |
      ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)

  private def be16(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)

  // RIFF is little-endian throughout (Microsoft/IBM RIFF spec, 1991)
  private def le32(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) |
      ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)

  private def le16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)

  private def fourCC(b: Array[Byte], i: Int): String =
    new String(Array(b(i), b(i + 1), b(i + 2), b(i + 3)),
      java.nio.charset.StandardCharsets.US_ASCII)

  /** REAL header decode — pure JVM, no codec libraries:
    *  - PNG: 8-byte signature, then the IHDR chunk holds width/height
    *    big-endian at offsets 16/20 and color type at 25 (PNG spec §11.2.2).
    *  - JPEG: scan marker segments from SOI for the first SOFn frame
    *    header (C0–CF except C4/C8/CC), which carries height/width/
    *    component count (ITU T.81 §B.2.2).
    *  - WAV (RIFF/WAVE): chunk-walk from offset 12 for the "fmt "
    *    chunk (RIFF spec: each chunk = fourCC + LE32 size + data,
    *    word-aligned); its PCM fields map onto the shared tuple as
    *    (format="wav", width=sampleRate, height=bitsPerSample,
    *    channels=numChannels) — the audio analogues of an image's
    *    dimensions, documented here so consumers read them right.
    *  - Other RIFF containers (AVI, WEBP) are PROBED: the container
    *    fourCC is reported lowercased ("avi ", "webp") with zeroed
    *    dimensions — a real deployment plugs the codec into the same
    *    slot.
    * Unknown formats report ("unknown", 0, 0, 0); [[decodeMeta]] maps
    * those fields to NULL so consumers cannot mistake them for decoded
    * dimensions. */
  private[graft] def decodeHeader(bytes: Array[Byte])
      : (String, Int, Int, Int) = {
    if (bytes.length >= 26 && (bytes(0) & 0xff) == 0x89 &&
        bytes(1) == 'P'.toByte && bytes(2) == 'N'.toByte &&
        bytes(3) == 'G'.toByte) {
      val w = be32(bytes, 16)
      val h = be32(bytes, 20)
      val channels = (bytes(25) & 0xff) match {
        case 0 => 1 // greyscale
        case 2 => 3 // truecolor
        case 3 => 1 // palette
        case 4 => 2 // grey + alpha
        case 6 => 4 // truecolor + alpha
        case _ => 3
      }
      ("png", w, h, channels)
    } else if (bytes.length >= 4 && (bytes(0) & 0xff) == 0xff &&
        (bytes(1) & 0xff) == 0xd8) {
      // Marker-segment walk per ITU T.81 §B.1.1.2: a marker is any run
      // of 0xFF fill bytes followed by a non-FF, non-00 code. TEM/RSTn/
      // SOI are parameterless; the scan stops at SOS (entropy-coded
      // data follows — naive scanning would misread it) and at EOI.
      var i = 2
      while (i < bytes.length) {
        if ((bytes(i) & 0xff) != 0xff)
          return ("jpeg", 0, 0, 0) // desynchronized: not at a marker
        var j = i + 1
        while (j < bytes.length && (bytes(j) & 0xff) == 0xff) j += 1
        if (j >= bytes.length) return ("jpeg", 0, 0, 0)
        val m = bytes(j) & 0xff
        if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 &&
            m != 0xcc) { // SOFn frame header
          if (j + 8 >= bytes.length) return ("jpeg", 0, 0, 0)
          val h = be16(bytes, j + 4)
          val w = be16(bytes, j + 6)
          return ("jpeg", w, h, bytes(j + 8) & 0xff)
        } else if (m == 0xda || m == 0xd9 || m == 0x00) {
          // SOS / EOI before any SOFn, or a stuffed byte (desync)
          return ("jpeg", 0, 0, 0)
        } else if (m == 0x01 || (m >= 0xd0 && m <= 0xd8)) {
          i = j + 1 // TEM / RSTn / SOI: no payload
        } else if (j + 2 < bytes.length) {
          i = j + 1 + be16(bytes, j + 1) // length field includes itself
        } else return ("jpeg", 0, 0, 0)
      }
      ("jpeg", 0, 0, 0) // truncated stream: no frame header found
    } else if (bytes.length >= 12 && fourCC(bytes, 4) == "ftyp") {
      // ISO-BMFF (MP4/MOV, ISO 14496-12): a sequence of boxes, each
      // BE32 size + fourCC. Walk top-level boxes for "moov", then its
      // children for "trak"/"tkhd" (v0: width/height as 16.16 fixed
      // point at payload offsets 76/80). mvhd would add timescale/
      // duration; the shared tuple surfaces the visual dimensions.
      def findBox(lo: Int, hi: Int, id: String): Int = {
        var i = lo
        while (i + 8 <= hi) {
          val size = be32(bytes, i)
          // size<8: size64/corrupt, out of probe scope. size>hi-i: box
          // overruns the buffer — also guards the Int overflow a
          // crafted size like 0x7FFFFFFF would cause in `i += size`
          if (size < 8 || size > hi - i) return -1
          if (fourCC(bytes, i + 4) == id) return i
          i += size
        }
        -1
      }
      val moov = findBox(0, bytes.length, "moov")
      if (moov < 0) ("mp4", 0, 0, 0)
      else {
        val moovEnd = math.min(bytes.length, moov + be32(bytes, moov))
        val trak = findBox(moov + 8, moovEnd, "trak")
        if (trak < 0) ("mp4", 0, 0, 0)
        else {
          val trakEnd = math.min(moovEnd, trak + be32(bytes, trak))
          val tkhd = findBox(trak + 8, trakEnd, "tkhd")
          if (tkhd < 0 || tkhd + 9 > bytes.length) ("mp4", 0, 0, 0)
          else {
            val d = tkhd + 8 + 4 // past size+fourCC+version/flags
            // v1 widens ctime/mtime/duration to 64-bit, pushing the
            // matrix (and width/height) 12 bytes deeper (ISO 14496-12
            // §8.3.2.2); any other version is out of probe scope
            val off = (bytes(tkhd + 8) & 0xff) match {
              case 0 => 72
              case 1 => 84
              case _ => -1
            }
            // the tkhd's DECLARED size must itself cover the matrix
            // tail (12-byte header + off + 8 bytes of w/h): a short
            // declared size would otherwise pass the buffer-length
            // guard and read the next sibling box's bytes — the same
            // misread class as a WAV `fmt ` chunk declaring < 16
            if (off < 0 || d + off + 8 > bytes.length ||
                be32(bytes, tkhd) < 12 + off + 8) ("mp4", 0, 0, 0)
            else {
              val w = be32(bytes, d + off) >>> 16 // 16.16 fixed point
              val h = be32(bytes, d + off + 4) >>> 16
              ("mp4", w, h, 1)
            }
          }
        }
      }
    } else if (bytes.length >= 12 && bytes(0) == 'R'.toByte &&
        bytes(1) == 'I'.toByte && bytes(2) == 'F'.toByte &&
        bytes(3) == 'F'.toByte) {
      val container = fourCC(bytes, 8)
      if (container == "WAVE") {
        // chunk walk: fourCC + LE32 size + data, padded to word align
        var i = 12
        while (i + 8 <= bytes.length) {
          val id = fourCC(bytes, i)
          val size = le32(bytes, i + 4)
          // corrupt size: negative, or a declared size that overruns
          // the buffer — the latter also guards the Int overflow a
          // crafted 0x7FFFFFF0 would cause in the cursor advance
          if (size < 0 || size > bytes.length - i - 8)
            return ("wav", 0, 0, 0)
          if (id == "fmt ") {
            // a declared fmt size < 16 passes the buffer-length guard
            // but its "PCM fields" would be the NEXT chunk's bytes —
            // degrade instead of misreading
            if (size < 16 || i + 8 + 16 > bytes.length)
              return ("wav", 0, 0, 0)
            val d = i + 8
            val numChannels = le16(bytes, d + 2)
            val sampleRate = le32(bytes, d + 4)
            val bitsPerSample = le16(bytes, d + 14)
            return ("wav", sampleRate, bitsPerSample, numChannels)
          }
          i += 8 + size + (size & 1) // chunks are word-aligned
        }
        ("wav", 0, 0, 0) // no fmt chunk found
      } else (container.toLowerCase.trim, 0, 0, 0) // probe: avi, webp…
    } else ("unknown", 0, 0, 0) // decodeMeta maps these fields to NULL
  }

  /** Batched partition-wise metadata extraction over the blob column:
    * one pass per partition, no shuffle, output schema = input + meta.
    * Unknown formats emit NULL width/height/channels — never fabricated
    * numbers. */
  def decodeMeta(df: DataFrame, blobCol: String = "blob"): DataFrame = {
    val outSchema = StructType(df.schema.fields :+
      StructField("media_meta", mediaMetaSchema, nullable = true))
    val blobIdx = df.schema.fieldIndex(blobCol)
    implicit val enc = RowEncoder.encoderFor(outSchema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](blobIdx)
        val meta = if (bytes == null) null else {
          val (fmt, w, h, c) = decodeHeader(bytes)
          if (fmt == "unknown") Row(fmt, null, null, null, bytes.length.toLong)
          else Row(fmt, w, h, c, bytes.length.toLong)
        }
        Row.fromSeq(r.toSeq :+ meta)
      }
    }
  }

  /** Synthesize a REAL image header (not a stub) from a seed: a valid
    * PNG signature+IHDR or JPEG SOI+SOF0 prefix with deterministic
    * dimensions, followed by seed-derived payload bytes. Lets tests and
    * the gate query exercise the real header parser without codec
    * libraries. */
  def synthesizeBlob(seed: Long, payloadLen: Int = 32): Array[Byte] = {
    val w = 64 + ((seed >>> 4) % 1857).toInt
    val h = 64 + ((seed >>> 24) % 1017).toInt
    val out = new java.io.ByteArrayOutputStream()
    if ((seed & 1L) == 0L) {
      // PNG: signature + IHDR length/type + w/h + bit depth 8, color 2
      out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
        .map(_.toByte), 0, 8)
      out.write(Array(0, 0, 0, 13).map(_.toByte), 0, 4)
      out.write("IHDR".getBytes("US-ASCII"), 0, 4)
      out.write(Array(w >>> 24, w >>> 16, w >>> 8, w).map(_.toByte), 0, 4)
      out.write(Array(h >>> 24, h >>> 16, h >>> 8, h).map(_.toByte), 0, 4)
      out.write(Array(8, 2, 0, 0, 0).map(_.toByte), 0, 5)
    } else {
      // JPEG: SOI + SOF0 (len 17, precision 8, h, w, 3 components)
      out.write(Array(0xff, 0xd8, 0xff, 0xc0, 0, 17, 8,
        h >>> 8, h, w >>> 8, w, 3).map(_.toByte), 0, 12)
    }
    var x = seed
    for (_ <- 0 until payloadLen) {
      x = x * 6364136223846793005L + 1442695040888963407L
      out.write((x >>> 56).toInt)
    }
    out.toByteArray
  }

  /** Deterministic grayscale test pixels for content-level image
    * gates: gray(p) = (splitmix64(id·2¹⁶ + p, seed) >>> 8) mod 250 —
    * pure integer arithmetic over the SAME splitmix64 finalizer the
    * sampling family already replays in DuckDB (LmPrepGates.hashCtes), so
    * an oracle can re-derive every pixel. The 0..249 range leaves
    * +5-brightness perturbations clamp-free (a clamp at 255 would
    * break dHash's brightness invariance on saturated cells). */
  def synthGray(id: Long, w: Int, h: Int, seed: Long): Array[Int] =
    Array.tabulate(w * h) { p =>
      ((graft.functions.Kernels.sampleHash(id * 65536L + p, seed)
        >>> 8) % 250L).toInt
    }

  /** Encode a gray buffer as a REAL PNG (8-bit truecolor, r=g=b) via a
    * direct spec-level writer: filter-0 scanlines, one zlib DEFLATE
    * stream, CRC-32 chunk framing (ISO 15948 / RFC 2083). PNG is
    * lossless, so decode(encode(px)) == px and a pixel-level oracle
    * stays exact through the codec roundtrip — any compliant decoder
    * (javax.imageio included) recovers the identical RGB samples this
    * encodes, so every downstream dHash is byte-for-byte what the
    * previous BufferedImage + ImageIO.write implementation produced
    * from the same pixels (pinned by ImageDedupSpec's encoder-equality
    * test). Rewritten in the round-21 optimization pass: per-image
    * ImageIO machinery (writer service lookup, BufferedImage raster,
    * per-pixel setRGB) dominated media-fixture synthesis, the single
    * hottest per-task kernel of the bench suite (guide §1.2 step 2).
    * The Deflater is reused per thread (guide §4.5 — heavyweight state
    * once per task, not per row): constructing/ending one per image is
    * a native zlib alloc/free that dominated the rewritten encoder;
    * executor task threads are pooled and long-lived, so the
    * ThreadLocal holds one ~256 KB native context per core. */
  private val pngDeflater =
    new ThreadLocal[java.util.zip.Deflater] {
      override def initialValue(): java.util.zip.Deflater =
        new java.util.zip.Deflater(java.util.zip.Deflater.BEST_SPEED)
    }

  def encodeGrayPng(gray: Array[Int], w: Int, h: Int): Array[Byte] = {
    require(gray.length == w * h,
      s"encodeGrayPng: ${gray.length} pixels for ${w}x$h")
    // raw PNG image stream: per scanline one filter byte (0 = None)
    // then w RGB triples with r=g=b=gray (color type 2, bit depth 8)
    val stride = 1 + 3 * w
    val raw = new Array[Byte](h * stride)
    var y = 0
    while (y < h) {
      var o = y * stride + 1
      var x = y * w
      val end = x + w
      while (x < end) {
        // samples are 8-bit by contract: the pre-round-21
        // BufferedImage path split an out-of-range value into
        // r!=g!=b channel bytes where masking would silently wrap —
        // fail loudly so the encoders can never diverge on a future
        // caller (in-repo synthesis stays within [0,255]); the check
        // is one never-taken branch inside the existing loop
        if ((gray(x) & ~0xff) != 0)
          throw new IllegalArgumentException(
            s"encodeGrayPng: sample ${gray(x)} outside [0,255]")
        val g = gray(x).toByte
        raw(o) = g; raw(o + 1) = g; raw(o + 2) = g
        o += 3; x += 1
      }
      y += 1
    }
    val defl = pngDeflater.get()
    defl.reset()
    defl.setInput(raw)
    defl.finish()
    var zbuf = new Array[Byte](raw.length + (raw.length >> 2) + 64)
    var zlen = 0
    while (!defl.finished()) {
      if (zlen == zbuf.length)
        zbuf = java.util.Arrays.copyOf(zbuf, zbuf.length * 2)
      zlen += defl.deflate(zbuf, zlen, zbuf.length - zlen)
    }
    // exact-size assembly: signature(8) + IHDR(12+13) + IDAT(12+zlen)
    // + IEND(12)
    val png = new Array[Byte](57 + zlen)
    var po = 0
    def w8(v: Int): Unit = { png(po) = v.toByte; po += 1 }
    def w32(v: Int): Unit = {
      png(po) = (v >>> 24).toByte; png(po + 1) = (v >>> 16).toByte
      png(po + 2) = (v >>> 8).toByte; png(po + 3) = v.toByte
      po += 4
    }
    w8(0x89); w8('P'); w8('N'); w8('G'); w8(0x0d); w8(0x0a)
    w8(0x1a); w8(0x0a)
    val crc = new java.util.zip.CRC32()
    def chunk(typ: String, body: Array[Byte], bodyLen: Int): Unit = {
      w32(bodyLen)
      val typeOff = po
      var i = 0
      while (i < 4) { png(po) = typ.charAt(i).toByte; po += 1; i += 1 }
      System.arraycopy(body, 0, png, po, bodyLen)
      po += bodyLen
      crc.reset()
      crc.update(png, typeOff, 4 + bodyLen)
      w32(crc.getValue.toInt)
    }
    val ihdr = new Array[Byte](13)
    ihdr(0) = (w >>> 24).toByte; ihdr(1) = (w >>> 16).toByte
    ihdr(2) = (w >>> 8).toByte; ihdr(3) = w.toByte
    ihdr(4) = (h >>> 24).toByte; ihdr(5) = (h >>> 16).toByte
    ihdr(6) = (h >>> 8).toByte; ihdr(7) = h.toByte
    ihdr(8) = 8  // bit depth
    ihdr(9) = 2  // color type: truecolor RGB
    ihdr(10) = 0; ihdr(11) = 0; ihdr(12) = 0 // deflate/adaptive/none
    chunk("IHDR", ihdr, 13)
    chunk("IDAT", zbuf, zlen)
    chunk("IEND", Array.emptyByteArray, 0)
    png
  }

  /** Synthesize a REAL RIFF/WAVE byte stream from a seed: valid RIFF
    * framing, a spec-exact 16-byte PCM "fmt " chunk with seed-derived
    * sample rate / bit depth / channel count, and a fixed 20-byte
    * "data" chunk — the audio analogue of [[synthesizeBlob]], so the
    * gate query exercises the real chunk walk without codec
    * libraries. Total length is a constant 64 bytes, arithmetic the
    * oracle can restate. */
  def synthesizeWavBlob(seed: Long): Array[Byte] = {
    val sampleRate = 8000 + ((seed >>> 4) % 40000L).toInt
    val bits = 8 * (1 + ((seed >>> 20) % 4L).toInt) // 8/16/24/32
    val channels = 1 + ((seed >>> 30) % 2L).toInt   // mono/stereo
    val dataLen = 20
    val out = new java.io.ByteArrayOutputStream()
    def w32(v: Int): Unit = {
      out.write(v & 0xff); out.write((v >> 8) & 0xff)
      out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
    }
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    out.write("RIFF".getBytes("US-ASCII"), 0, 4)
    w32(4 + 24 + 8 + dataLen) // RIFF size: WAVE + fmt chunk + data chunk
    out.write("WAVE".getBytes("US-ASCII"), 0, 4)
    out.write("fmt ".getBytes("US-ASCII"), 0, 4)
    w32(16) // PCM fmt chunk payload
    w16(1)  // audioFormat = PCM
    w16(channels)
    w32(sampleRate)
    w32(sampleRate * channels * (bits / 8)) // byteRate
    w16(channels * (bits / 8))              // blockAlign
    w16(bits)
    out.write("data".getBytes("US-ASCII"), 0, 4)
    w32(dataLen)
    var x = seed
    for (_ <- 0 until dataLen) {
      x = x * 6364136223846793005L + 1442695040888963407L
      out.write((x >>> 56).toInt)
    }
    out.toByteArray
  }

  /** Deterministic 16-bit mono PCM samples for content-level audio
    * gates: s(i) = 2·((splitmix64(id·2¹⁶ + i, seed) >>> 8) mod 16384)
    * − 16384 — EVEN values in [−16384, 16382], so a half-gain variant
    * (s/2) is exact integer arithmetic and the energy fingerprint's
    * gain invariance holds with zero rounding slack. Same splitmix64
    * stream the image/sampling oracles already replay in DuckDB. */
  def synthPcm16(id: Long, n: Int, seed: Long): Array[Short] =
    Array.tabulate(n) { i =>
      (2L * ((graft.functions.Kernels.sampleHash(id * 65536L + i, seed)
        >>> 8) % 16384L) - 16384L).toShort
    }

  /** Encode PCM samples as a REAL RIFF/WAVE byte stream (PCM fmt
    * chunk, mono, 16-bit, LE data chunk). Uncompressed, so
    * decode(encode(samples)) is the identity and a sample-level
    * oracle stays exact through the container roundtrip. */
  def encodePcm16Wav(samples: Array[Short], sampleRate: Int = 16000)
      : Array[Byte] = {
    val dataLen = samples.length * 2
    val out = new java.io.ByteArrayOutputStream()
    def w32(v: Int): Unit = {
      out.write(v & 0xff); out.write((v >> 8) & 0xff)
      out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
    }
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    out.write("RIFF".getBytes("US-ASCII"), 0, 4)
    w32(4 + 24 + 8 + dataLen)
    out.write("WAVE".getBytes("US-ASCII"), 0, 4)
    out.write("fmt ".getBytes("US-ASCII"), 0, 4)
    w32(16); w16(1); w16(1); w32(sampleRate)
    w32(sampleRate * 2); w16(2); w16(16)
    out.write("data".getBytes("US-ASCII"), 0, 4)
    w32(dataLen)
    samples.foreach(s => w16(s & 0xffff))
    out.toByteArray
  }

  /** Deterministic stereo 24-bit PCM sample frames for content-level
    * audio gates: channel c of frame i is
    * 2·((splitmix64(id·2¹⁶ + 2i + c, seed) >>> 8) mod 2²²) − 2²² —
    * EVEN values in [−2²², 2²²−2] (half gain stays exact, the channel
    * sum fits 24-bit signed range), from the same splitmix64 stream
    * every other oracle replays. Returns frames(i) = Array(L, R). */
  def synthPcm24Stereo(id: Long, n: Int, seed: Long): Array[Array[Int]] =
    Array.tabulate(n) { i =>
      Array.tabulate(2) { c =>
        (2L * ((graft.functions.Kernels.sampleHash(
          id * 65536L + 2L * i + c, seed) >>> 8) % 4194304L)
          - 4194304L).toInt
      }
    }

  /** Encode PCM sample frames as a REAL RIFF/WAVE stream at the given
    * channel count and bit depth — 8-bit stored unsigned at offset
    * 128, 16/24-bit signed LE, the spec's storage conventions.
    * `samples(i)(c)` is channel c of frame i, as a CENTERED signed
    * value at every depth. Uncompressed, so a sample-level oracle
    * stays exact through the container roundtrip; the generic sibling
    * of [[encodePcm16Wav]] for the production container shapes
    * (stereo, 8/24-bit). */
  def encodePcmWav(samples: Array[Array[Int]], channels: Int, bits: Int,
      sampleRate: Int = 16000, extensible: Boolean = false): Array[Byte] = {
    require(channels >= 1 && channels <= 2 && Set(8, 16, 24)(bits),
      s"encodePcmWav: unsupported shape channels=$channels bits=$bits")
    val bps = bits / 8
    val dataLen = samples.length * channels * bps
    // plain PCM fmt chunk is 16 payload bytes; WAVE_FORMAT_EXTENSIBLE
    // (how real-world stereo/>16-bit PCM is written) is 40: cbSize=22,
    // valid bits, channel mask, and the PCM SubFormat GUID
    val fmtLen = if (extensible) 40 else 16
    val out = new java.io.ByteArrayOutputStream()
    def w32(v: Int): Unit = {
      out.write(v & 0xff); out.write((v >> 8) & 0xff)
      out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
    }
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    out.write("RIFF".getBytes("US-ASCII"), 0, 4)
    w32(4 + 8 + fmtLen + 8 + dataLen)
    out.write("WAVE".getBytes("US-ASCII"), 0, 4)
    out.write("fmt ".getBytes("US-ASCII"), 0, 4)
    w32(fmtLen); w16(if (extensible) 0xFFFE else 1)
    w16(channels); w32(sampleRate)
    w32(sampleRate * channels * bps); w16(channels * bps); w16(bits)
    if (extensible) {
      w16(22)              // cbSize
      w16(bits)            // wValidBitsPerSample == container depth
      w32(if (channels == 2) 3 else 4) // dwChannelMask (FL|FR / FC)
      // KSDATAFORMAT_SUBTYPE_PCM GUID, byte-exact
      out.write(Array[Byte](0x01, 0x00, 0x00, 0x00, 0x00, 0x00,
        0x10, 0x00, 0x80.toByte, 0x00, 0x00, 0xAA.toByte, 0x00,
        0x38, 0x9B.toByte, 0x71), 0, 16)
    }
    out.write("data".getBytes("US-ASCII"), 0, 4)
    w32(dataLen)
    samples.foreach { fr =>
      require(fr.length == channels,
        s"encodePcmWav: frame has ${fr.length} values for $channels channels")
      fr.foreach { s =>
        val v = if (bits == 8) s + 128 else s
        out.write(v & 0xff)
        if (bits >= 16) out.write((v >> 8) & 0xff)
        if (bits == 24) out.write((v >> 16) & 0xff)
      }
    }
    out.toByteArray
  }

  /** Synthesize a REAL ISO-BMFF (MP4) byte stream from a seed: a valid
    * `ftyp` box, a `moov` containing a spec-exact v0 `mvhd` and one
    * `trak`/`tkhd` with seed-derived 16.16 fixed-point visual
    * dimensions, and a small `mdat` — the video face of
    * [[synthesizeBlob]]/[[synthesizeWavBlob]], so the gate query
    * exercises the real box walk without codec libraries. Total length
    * is a constant 264 bytes, arithmetic the oracle can restate. */
  def synthesizeMp4Blob(seed: Long): Array[Byte] = {
    val w = 160 + ((seed >>> 3) % 1760L).toInt   // 160..1919
    val h = 120 + ((seed >>> 17) % 960L).toInt   // 120..1079
    val timescale = 600
    val duration = timescale * (1 + ((seed >>> 27) % 30L).toInt)
    val out = new java.io.ByteArrayOutputStream()
    def b32(v: Int): Unit = {
      out.write((v >>> 24) & 0xff); out.write((v >>> 16) & 0xff)
      out.write((v >>> 8) & 0xff); out.write(v & 0xff)
    }
    def cc(s: String): Unit = out.write(s.getBytes("US-ASCII"), 0, 4)
    def zeros(n: Int): Unit = for (_ <- 0 until n) out.write(0)
    // identity matrix for mvhd/tkhd: 0x10000,0,0, 0,0x10000,0, 0,0,0x40000000
    def matrix(): Unit = {
      b32(0x10000); b32(0); b32(0); b32(0); b32(0x10000); b32(0)
      b32(0); b32(0); b32(0x40000000)
    }
    b32(24); cc("ftyp"); cc("isom"); b32(0x200); cc("isom"); cc("mp41")
    b32(216); cc("moov")
    b32(108); cc("mvhd"); b32(0)          // version 0 + flags
    b32(0); b32(0)                        // ctime, mtime
    b32(timescale); b32(duration)
    b32(0x10000)                          // rate 1.0
    out.write(1); out.write(0)            // volume 1.0
    zeros(10); matrix(); zeros(24)        // reserved, matrix, predefined
    b32(2)                                // next track id
    b32(100); cc("trak")
    b32(92); cc("tkhd"); b32(7)           // version 0, flags: enabled
    b32(0); b32(0); b32(1); b32(0)        // ctime, mtime, trackID, rsvd
    b32(duration); zeros(8)
    out.write(0); out.write(0)            // layer
    out.write(0); out.write(0)            // alternate group
    out.write(0); out.write(0)            // volume (video track: 0)
    out.write(0); out.write(0)            // reserved
    matrix()
    b32(w << 16); b32(h << 16)            // 16.16 fixed point
    b32(24); cc("mdat")
    var x = seed
    for (_ <- 0 until 16) {
      x = x * 6364136223846793005L + 1442695040888963407L
      out.write((x >>> 56).toInt)
    }
    out.toByteArray
  }

  /** Synthesize a REAL ISO-BMFF (MP4) stream whose `mdat` holds actual
    * encoded frames, addressed by a spec-valid SAMPLE TABLE: one trak
    * with `mdia/minf/stbl` containing `stsz` (per-sample sizes,
    * sample_size = 0 ⇒ per-entry table) and `stco` (one chunk, offset
    * of the first frame byte) — the genuine ISO 14496-12 frame
    * addressing mechanism, so a consumer must do the real nested box
    * walk + table read, not guess offsets. Frames are stored
    * back-to-back in a single chunk inside `mdat`. */
  def synthesizeMp4WithFrames(frames: Seq[Array[Byte]]): Array[Byte] =
    buildMp4(frames, Seq(frames.length), useCo64 = false, pad = 0,
      emitStsc = false)

  /** Multi-chunk sibling of [[synthesizeMp4WithFrames]] — the
    * production container shape: frames distributed over several
    * chunks per an explicit `stsc` sample-to-chunk map (run-length
    * encoded, exercising the expansion logic), chunk offsets in
    * 64-bit `co64` when `useCo64` (else `stco`), and `pad` garbage
    * bytes BEFORE every chunk inside `mdat`, so only a genuine
    * stsc + stco/co64 read can address the frames — a walker that
    * assumes back-to-back single-chunk layout slices pad bytes and
    * fails the PNG decode. */
  def synthesizeMp4MultiChunk(frames: Seq[Array[Byte]],
      samplesPerChunk: Seq[Int], useCo64: Boolean,
      pad: Int = 7): Array[Byte] =
    buildMp4(frames, samplesPerChunk, useCo64, pad, emitStsc = true)

  /** Multi-TRAK sibling: a `soun`-handler audio trak (tkhd + mdia +
    * mdhd + hdlr, no sample table) precedes the video trak — the
    * layout of every real-world MP4 with a soundtrack, so a consumer
    * that grabs the FIRST trak reads the wrong one. The video trak's
    * sample table is the single-chunk stsz/stco layout. */
  def synthesizeMp4MultiTrak(frames: Seq[Array[Byte]]): Array[Byte] =
    buildMp4(frames, Seq(frames.length), useCo64 = false, pad = 0,
      emitStsc = false, audioTrakFirst = true)

  private def buildMp4(frames: Seq[Array[Byte]],
      samplesPerChunk: Seq[Int], useCo64: Boolean, pad: Int,
      emitStsc: Boolean, audioTrakFirst: Boolean = false): Array[Byte] = {
    require(frames.nonEmpty, "buildMp4: no frames")
    require(samplesPerChunk.nonEmpty && samplesPerChunk.forall(_ > 0) &&
      samplesPerChunk.sum == frames.length,
      s"buildMp4: chunk map $samplesPerChunk does not cover " +
        s"${frames.length} frames")
    val out = new java.io.ByteArrayOutputStream()
    def b32(v: Int): Unit = {
      out.write((v >>> 24) & 0xff); out.write((v >>> 16) & 0xff)
      out.write((v >>> 8) & 0xff); out.write(v & 0xff)
    }
    def b64(v: Long): Unit = { b32((v >>> 32).toInt); b32(v.toInt) }
    def cc(s: String): Unit = out.write(s.getBytes("US-ASCII"), 0, 4)
    def zeros(n: Int): Unit = for (_ <- 0 until n) out.write(0)
    val n = frames.length
    val chunks = samplesPerChunk.length
    // run-length stsc entries: (first_chunk 1-based, samples_per_chunk)
    // emitted only where the per-chunk count CHANGES, per the spec
    val stscEntries = samplesPerChunk.zipWithIndex.collect {
      case (spc, c) if c == 0 || samplesPerChunk(c - 1) != spc =>
        (c + 1, spc)
    }
    // payload sizes (box size fields include the 8-byte header)
    val stszSz = 8 + 12 + 4 * n
    val stscSz = if (emitStsc) 8 + 8 + 12 * stscEntries.length else 0
    val offSz = 8 + 8 + (if (useCo64) 8 else 4) * chunks
    val stblSz = 8 + stszSz + stscSz + offSz
    val minfSz = 8 + stblSz
    val hdlrSz = 8 + 25
    val mdhdSz = 8 + 24
    val mdiaSz = 8 + mdhdSz + hdlrSz + minfSz
    val tkhdSz = 8 + 84
    val trakSz = 8 + tkhdSz + mdiaSz
    val mvhdSz = 8 + 100
    // optional audio trak (tkhd + mdia(mdhd, hdlr 'soun')) BEFORE the
    // video trak — no sample table, so a correct walker must skip it
    val mdiaASz = 8 + mdhdSz + hdlrSz
    val trakASz = if (audioTrakFirst) 8 + tkhdSz + mdiaASz else 0
    val moovSz = 8 + mvhdSz + trakASz + trakSz
    val ftypSz = 24
    val mdatStart = ftypSz + moovSz + 8 // first mdat payload byte
    // chunk layout inside mdat: pad bytes, then the chunk's frames
    val chunkFrames: Seq[Seq[Array[Byte]]] = {
      val it = frames.iterator
      samplesPerChunk.map(spc => Seq.fill(spc)(it.next()))
    }
    val chunkLens = chunkFrames.map(_.map(_.length).sum)
    val chunkOffsets = chunkLens.scanLeft(mdatStart.toLong + pad) {
      (off, len) => off + len + pad
    }.init
    val mdatPayload = chunkLens.sum + pad * chunks
    def matrix(): Unit = {
      b32(0x10000); b32(0); b32(0); b32(0); b32(0x10000); b32(0)
      b32(0); b32(0); b32(0x40000000)
    }
    b32(ftypSz); cc("ftyp"); cc("isom"); b32(0x200); cc("isom"); cc("mp41")
    b32(moovSz); cc("moov")
    b32(mvhdSz); cc("mvhd"); b32(0); b32(0); b32(0)
    b32(600); b32(600 * n) // timescale, duration: 1 s per frame
    b32(0x10000); out.write(1); out.write(0); zeros(10); matrix(); zeros(24)
    b32(if (audioTrakFirst) 3 else 2) // next track id
    if (audioTrakFirst) {
      b32(trakASz); cc("trak")
      b32(tkhdSz); cc("tkhd"); b32(7); b32(0); b32(0); b32(2); b32(0)
      b32(600 * n); zeros(8); zeros(8); matrix()
      b32(0); b32(0) // audio trak: zero visual dimensions
      b32(mdiaASz); cc("mdia")
      b32(mdhdSz); cc("mdhd"); b32(0); b32(0); b32(0)
      b32(600); b32(600 * n); zeros(4)
      b32(hdlrSz); cc("hdlr"); b32(0); b32(0); cc("soun"); zeros(12)
      out.write(0) // empty handler name (NUL)
    }
    b32(trakSz); cc("trak")
    b32(tkhdSz); cc("tkhd"); b32(7); b32(0); b32(0); b32(1); b32(0)
    b32(600 * n); zeros(8); zeros(8); matrix()
    b32(18 << 16); b32(16 << 16)
    b32(mdiaSz); cc("mdia")
    b32(mdhdSz); cc("mdhd"); b32(0); b32(0); b32(0)
    b32(600); b32(600 * n); zeros(4)
    b32(hdlrSz); cc("hdlr"); b32(0); b32(0); cc("vide"); zeros(12)
    out.write(0) // empty handler name (NUL)
    b32(minfSz); cc("minf")
    b32(stblSz); cc("stbl")
    b32(stszSz); cc("stsz"); b32(0) // version/flags
    b32(0)      // sample_size = 0 -> per-entry table
    b32(n)
    frames.foreach(f => b32(f.length))
    if (emitStsc) {
      b32(stscSz); cc("stsc"); b32(0)
      b32(stscEntries.length)
      stscEntries.foreach { case (fc, spc) => b32(fc); b32(spc); b32(1) }
    }
    if (useCo64) {
      b32(offSz); cc("co64"); b32(0)
      b32(chunks)
      chunkOffsets.foreach(b64)
    } else {
      b32(offSz); cc("stco"); b32(0)
      b32(chunks)
      chunkOffsets.foreach(o => b32(o.toInt))
    }
    b32(8 + mdatPayload); cc("mdat")
    chunkFrames.foreach { cf =>
      for (_ <- 0 until pad) out.write(0xAB) // garbage between chunks
      cf.foreach(f => out.write(f, 0, f.length))
    }
    val bytes = out.toByteArray
    assert(bytes.length == mdatStart + mdatPayload)
    bytes
  }

  /** Deterministic frame-sampling stub for a video-like blob: selects
    * `n` offsets spread over the payload and fingerprints each "frame";
    * real impl would emit decoded frames. Shape (explode → one row per
    * frame) is the real pipeline shape. */
  def sampleFrames(df: DataFrame, blobCol: String, n: Int): DataFrame = {
    // sequence(0, n-1) defaults to step -1 when n <= 0 (Spark emits
    // [0, -1] for n = 0) — fabricated frames for a frame count of zero
    require(n > 0, s"sampleFrames: need n >= 1, got $n")
    df.withColumn("frame_idx", explode(sequence(lit(0), lit(n - 1))))
      .withColumn("frame_fp",
        xxhash64(col(blobCol), col("frame_idx")))
  }
}
