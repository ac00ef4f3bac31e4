package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.udf

/** Vocabulary with default index — behavioral port of the reference's
  * Vocab (csrc/velox/text/vocab.{h,cpp}; bindings lib.cpp:969-1022):
  * ordered token→id, `insertToken` at a position, `appendToken`, and a
  * default index returned for unknown tokens once set.
  */
final class Vocab private (
    private var tokens: Vector[String],
    private var default: Option[Long]) extends Serializable {

  private var index: Map[String, Long] =
    tokens.zipWithIndex.map { case (t, i) => t -> i.toLong }.toMap

  def length: Int = tokens.length
  def getItos: Seq[String] = tokens
  def setDefaultIndex(i: Long): Unit = default = Some(i)
  def getDefaultIndex: Option[Long] = default

  def appendToken(token: String): Unit = {
    require(!index.contains(token), s"token $token already present")
    tokens = tokens :+ token
    index += token -> (tokens.length - 1).toLong
  }

  def insertToken(token: String, pos: Int): Unit = {
    require(!index.contains(token), s"token $token already present")
    require(pos >= 0 && pos <= tokens.length, s"bad position $pos")
    tokens = (tokens.take(pos) :+ token) ++ tokens.drop(pos)
    index = tokens.zipWithIndex.map { case (t, i) => t -> i.toLong }.toMap
  }

  /** token → id; default index for unknowns (throws when unset, like
    * the reference). */
  def lookup(token: String): Long =
    index.getOrElse(token, default.getOrElse(
      throw new NoSuchElementException(
        s"token $token not found and default index not set")))

  def contains(token: String): Boolean = index.contains(token)
}

object Vocab {
  def apply(tokens: Seq[String], defaultIndex: Option[Long] = None): Vocab =
    new Vocab(tokens.toVector, defaultIndex)
}

/** Byte-pair encoder — behavioral port of the reference's GPT-2 BPE
  * (csrc/velox/text/gpt2_bpe_tokenizer.{h,cpp}, bpe_tokenize.h):
  * regex pre-tokenization, byte→unicode mapping, then greedy
  * lowest-rank adjacent-pair merges. Merge table and vocab are
  * user-supplied (the reference loads them from the public GPT-2
  * encoder files); the algorithm itself is fully implemented.
  *
  * Serializable so Spark broadcasts one copy per executor.
  */
final class BpeEncoder(
    mergeRanks: Map[(String, String), Int],
    vocab: Map[String, Long],
    unkId: Long = -1L,
    byteLevel: Boolean = true) extends Serializable {

  /** GPT-2 pre-tokenizer pattern (public). */
  @transient private lazy val pretoken =
    ("'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+" +
      "|\\s+(?=\\s)|\\s+").r

  @transient private lazy val byteToUnicode: Array[Char] =
    BpeEncoder.byteToUnicode

  private def toUnits(piece: String): Vector[String] =
    if (byteLevel)
      piece.getBytes("UTF-8").toVector.map(b =>
        byteToUnicode(b & 0xff).toString)
    else piece.map(_.toString).toVector

  /** Greedy BPE: repeatedly merge the adjacent pair with the lowest
    * merge rank until no adjacent pair is in the merge table. */
  def bpe(piece: String): Vector[String] = {
    var parts = toUnits(piece)
    if (parts.length < 2) return parts
    var done = false
    while (!done && parts.length > 1) {
      var bestRank = Int.MaxValue
      var bestIdx = -1
      var i = 0
      while (i < parts.length - 1) {
        mergeRanks.get((parts(i), parts(i + 1))).foreach { r =>
          if (r < bestRank) { bestRank = r; bestIdx = i }
        }
        i += 1
      }
      if (bestIdx < 0) done = true
      else parts = (parts.take(bestIdx) :+
        (parts(bestIdx) + parts(bestIdx + 1))) ++ parts.drop(bestIdx + 2)
    }
    parts
  }

  def tokenize(text: String): Seq[String] =
    pretoken.findAllIn(text).toSeq.flatMap(bpe)

  def encode(text: String): Seq[Long] =
    tokenize(text).map(t => vocab.getOrElse(t, unkId))
}

object BpeEncoder {

  /** The public GPT-2 byte→unicode printable mapping: printable ASCII /
    * latin-1 map to themselves, the rest shift into 256+n. Shared by
    * the encoder and [[BpeTrain]] so trained merges live in the same
    * symbol space the encoder consumes. */
  lazy val byteToUnicode: Array[Char] = {
    val out = new Array[Char](256)
    var n = 0
    for (b <- 0 until 256) {
      val printable = (b >= '!' && b <= '~') || (b >= 0xA1 && b <= 0xAC) ||
        (b >= 0xAE && b <= 0xFF)
      out(b) = if (printable) b.toChar else { val c = (256 + n).toChar; n += 1; c }
    }
    out
  }

  /** Parse the published GPT-2 `encoder.json`: a flat token→id JSON
    * object whose keys live in the byte→unicode space (the format the
    * reference loads, gpt2_bpe_tokenizer.cpp via lib.cpp:1025-1052 /
    * torchtext transforms.py:287-300). Jackson ships on the Spark
    * classpath. */
  def parseEncoderJson(json: String): Map[String, Long] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    require(node.isObject, "encoder.json: expected a flat JSON object")
    val names = node.fieldNames()
    val b = Map.newBuilder[String, Long]
    while (names.hasNext) {
      val n = names.next()
      val v = node.get(n)
      require(v.isIntegralNumber, s"encoder.json: non-integer id for '$n'")
      b += n -> v.asLong()
    }
    b.result()
  }

  /** Parse the published `vocab.bpe` merge list: the `#version` header
    * line (the reference's own load drops line 1 blindly —
    * `split("\n")[1:-1]`, test/transformation/test_text_ops.py:72 —
    * this parser additionally REQUIRES it to look like the header),
    * then one "left right" merge per line; rank = position. Splits on
    * `\r?\n` so a CRLF checkout (git autocrlf, Windows download)
    * parses identically — a trailing `\r` on every right-hand token
    * would otherwise silently kill every merge and degrade encode() to
    * single-byte tokens. */
  def parseMerges(text: String): Map[(String, String), Int] = {
    val lines = text.split("\r?\n", -1).toSeq
    require(lines.nonEmpty, "vocab.bpe: empty file")
    // the reference drops line 1 blindly; demand it LOOK like the
    // header so a headerless file (e.g. merges exported by hand) fails
    // loudly instead of silently losing its rank-0 merge
    require(lines.head.startsWith("#version"),
      "vocab.bpe: expected a '#version' header as line 1 (the " +
        "published GPT-2 format) — a headerless file would silently " +
        "lose its first merge")
    lines.tail.filter(_.nonEmpty).zipWithIndex.map { case (line, i) =>
      val parts = line.split(" ")
      require(parts.length == 2,
        s"vocab.bpe: expected 'left right' at merge $i, got '$line'")
      ((parts(0), parts(1)), i)
    }.toMap
  }

  /** Construct a byte-level encoder from the actual GPT-2 encoder
    * files — the reference's own load path, so a user holding
    * `encoder.json`/`vocab.bpe` needs no hand-parsing. */
  def fromFiles(encoderJsonPath: String, vocabBpePath: String,
      unkId: Long = -1L): BpeEncoder = {
    import java.nio.charset.StandardCharsets.UTF_8
    import java.nio.file.{Files, Paths}
    val vocab = parseEncoderJson(
      new String(Files.readAllBytes(Paths.get(encoderJsonPath)), UTF_8))
    val merges = parseMerges(
      new String(Files.readAllBytes(Paths.get(vocabBpePath)), UTF_8))
    new BpeEncoder(merges, vocab, unkId, byteLevel = true)
  }
}

object Bpe {
  /** Column function: text → array<bigint> of BPE token ids. The encoder
    * is closed over once and shipped with the task closure (one
    * deserialized copy per executor — the broadcast pattern for model
    * assets). It is passed by name: an encoder that loads its model
    * files is first resolved inside a task, not while the plan is
    * built. */
  def bpeTokenize(encoder: => BpeEncoder)(text: Column): Column = {
    val f = udf((s: String) =>
      if (s == null) null else encoder.encode(s).toArray)
    f(text)
  }

  /** lookup_indices over a Vocab (functions.h:269-273). */
  def lookupIndices(vocab: Vocab)(tokens: Column): Column = {
    val f = udf((ts: Seq[String]) =>
      if (ts == null) null else ts.map(vocab.lookup).toArray)
    f(tokens)
  }

  /** Per-document BPE token count by DISTRIBUTED dictionary encode —
    * the any-vocabulary-size path (vs the bounded map-literal trick of
    * gate q265): (1) the corpus's DISTINCT whitespace words become a
    * TABLE (groupBy — map-side partial agg, |vocab| rows shuffle);
    * (2) each distinct word is encoded ONCE through `encoder`,
    * executor-side (the encoder ships with the task closure — one
    * deserialized copy per executor, even for the full 50k-merge
    * GPT-2 table); (3) the (word, token-count) dictionary
    * broadcast-joins back to the exploded corpus by word and
    * re-aggregates per document.
    * BPE cost is |vocab|, not |corpus|, and nothing is collected to
    * the driver at any corpus size.
    *
    * Returns (idCol, n_bpe) with exactly one row per input row.
    * Contract: idCol unique non-null; a null/empty text counts the
    * tokens of the empty word (= 0 for any encoder without empty
    * merges). Gate q270 proves this path returns bit-identical counts
    * to the q265 map-literal on the same corpus. */
  def bpeDocTokenCounts(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      encoder: => BpeEncoder): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.LongType
    val exploded = docs.select(col(idCol),
      explode(split(trim(coalesce(col(textCol), lit(""))), "\\s+"))
        .as("__w"))
    val dict = exploded.select(col("__w")).distinct()
      .select(col("__w"),
        size(bpeTokenize(encoder)(col("__w"))).cast(LongType).as("__n"))
    exploded.join(broadcast(dict), Seq("__w"))
      .groupBy(col(idCol))
      .agg(sum(col("__n")).as("n_bpe"))
  }
}
