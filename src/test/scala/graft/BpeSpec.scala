package graft

import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._

import graft.frame.TFrame
import graft.functions.{Bpe, BpeEncoder, Vocab}

/** BPE encoder, Vocab, and TFrame.join behavior. */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  // the sf0.01 tables committed with the benchmark, inside the repository
  private val dir = "perfbench/data/sf0.01"

  private val gpt2Present = java.nio.file.Files.exists(java.nio.file.Paths
    .get(s"${LmPrepGates.gpt2Assets}/gpt2_bpe_encoder.json"))

  /** A test that can only run with (or only without) the GPT-2 encoder
    * files, registered as ignored otherwise: JUnit XML reports an
    * ignored test as skipped, but an `assume` cancel as passed. */
  private def whenGpt2(present: Boolean)(name: String)(body: => Any): Unit =
    if (gpt2Present == present) test(name)(body) else ignore(name)(body)

  test("vocab insert/append/default semantics (lib.cpp:969-1022)") {
    val v = Vocab(Seq("<unk>", "hello", "world"))
    assert(v.lookup("hello") === 1L)
    v.appendToken("spark")
    assert(v.lookup("spark") === 3L)
    v.insertToken("first", 0)
    assert(v.lookup("first") === 0L)
    assert(v.lookup("hello") === 2L) // shifted
    intercept[NoSuchElementException] { v.lookup("missing") }
    v.setDefaultIndex(0L)
    assert(v.lookup("missing") === 0L)
  }

  test("bpe merges lowest-rank pairs first") {
    // toy character-level merge table: "ab" then "abc"
    val enc = new BpeEncoder(
      mergeRanks = Map(("a", "b") -> 0, ("ab", "c") -> 1, ("d", "e") -> 2),
      vocab = Map("abc" -> 10L, "ab" -> 11L, "de" -> 12L, "f" -> 13L),
      byteLevel = false)
    assert(enc.bpe("abc") === Vector("abc"))
    assert(enc.bpe("abdef") === Vector("ab", "de", "f"))
    assert(enc.encode("abc") === Seq(10L))
  }

  test("gpt2 pre-tokenizer splits words, numbers, punctuation") {
    // ('s) stays one pre-token: with the ('，s) merge present it fuses,
    // while the identical chars in "sit" (different pre-token) cannot
    // merge with the apostrophe
    val enc = new BpeEncoder(Map(("'", "s") -> 0), Map.empty,
      byteLevel = false)
    assert(enc.tokenize("it's 42 ok!").mkString("|") ===
      "i|t|'s| |4|2| |o|k|!")
  }

  test("byte-level mapping round-trips ascii printables") {
    val enc = new BpeEncoder(Map.empty, Map.empty, byteLevel = true)
    // 'a' printable → maps to itself, so single-char pieces survive
    assert(enc.bpe("a") === Vector("a"))
    // space (0x20) is non-printable → shifted into the 256+ range
    assert(enc.bpe(" ").head.head.toInt >= 256)
  }

  test("encoder-file parsers handle header, escapes and ranks") {
    import java.nio.charset.StandardCharsets.UTF_8
    import java.nio.file.Files
    // Ġ is the byte->unicode image of space — the escape style the
    // real encoder.json uses throughout
    val encJson = """{"h": 1, "i": 2, "hi": 3, "Ġhi": 4}"""
    val merges = "#version: 0.2\nh i\nĠ hi\n"
    val dir = Files.createTempDirectory("bpe_assets")
    val ej = dir.resolve("encoder.json")
    val vb = dir.resolve("vocab.bpe")
    Files.write(ej, encJson.getBytes(UTF_8))
    Files.write(vb, merges.getBytes(UTF_8))
    assert(BpeEncoder.parseEncoderJson(encJson) ===
      Map("h" -> 1L, "i" -> 2L, "hi" -> 3L, "Ġhi" -> 4L))
    assert(BpeEncoder.parseMerges(merges) ===
      Map(("h", "i") -> 0, ("Ġ", "hi") -> 1))
    val enc = BpeEncoder.fromFiles(ej.toString, vb.toString)
    // byte level: "hi hi" -> [hi, Ġhi] -> ids [3, 4]
    assert(enc.encode("hi hi") === Seq(3L, 4L))
  }

  test("a CRLF vocab.bpe parses identically to LF (git-autocrlf " +
      "checkouts must not silently kill every merge)") {
    val lf = "#version: 0.2\nh i\nĠ hi\n"
    val crlf = lf.replace("\n", "\r\n")
    assert(BpeEncoder.parseMerges(crlf) === BpeEncoder.parseMerges(lf))
    assert(BpeEncoder.parseMerges(crlf) ===
      Map(("h", "i") -> 0, ("Ġ", "hi") -> 1))
  }

  test("a headerless merges file is rejected, not silently truncated") {
    val err = intercept[IllegalArgumentException] {
      BpeEncoder.parseMerges("h i\nĠ hi\n")
    }
    assert(err.getMessage.contains("#version"))
  }

  whenGpt2(present = true)("real GPT-2 encoder files reproduce the " +
      "reference's pinned ids (test_text_ops.py:87-94)") {
    val assets = LmPrepGates.gpt2Assets
    val enc = BpeEncoder.fromFiles(s"$assets/gpt2_bpe_encoder.json",
      s"$assets/gpt2_bpe_vocab.bpe")
    assert(enc.encode("Hello World!, how are you?") ===
      Seq(15496L, 2159L, 28265L, 703L, 389L, 345L, 30L))
    assert(enc.encode("Respublica superiorem") ===
      Seq(4965L, 11377L, 64L, 2208L, 72L, 29625L))
  }

  test("bpe_tokenize as a Column function on a DataFrame") {
    val enc = new BpeEncoder(
      mergeRanks = Map(("h", "i") -> 0),
      vocab = Map("hi" -> 7L), unkId = -1L, byteLevel = false)
    val df = Seq("hi hi", null.asInstanceOf[String]).toDF("s")
    val got = col0(df.select(Bpe.bpeTokenize(enc)(col("s"))))
    assert(got(0).asInstanceOf[Seq[Long]] === Seq(7L, -1L, 7L))
    assert(got(1) === null)
  }

  test("lookup_indices over Vocab column function") {
    val v = Vocab(Seq("<unk>", "a", "b"))
    v.setDefaultIndex(0L)
    val df = Seq(Seq("a", "x", "b")).toDF("t")
    assert(col0(df.select(Bpe.lookupIndices(v)(col("t"))))
      .head.asInstanceOf[Seq[Long]] === Seq(1L, 0L, 2L))
  }

  test("TFrame.join with suffixes (dataframe_cpu.py:2459-2469 sketch)") {
    val l = TFrame(spark, Seq("k" -> Seq(1L, 2L), "v" -> Seq(10L, 20L)))
    val r = TFrame(spark, Seq("k" -> Seq(2L, 3L), "v" -> Seq(200L, 300L)))
    val j = l.join(r, Seq("k"), "inner", lsuffix = "_l", rsuffix = "_r")
    assert(j.columns.toSet === Set("k", "v_l", "v_r"))
    val row = j.df.head()
    assert(row.getAs[Long]("k") === 2L)
    assert(row.getAs[Long]("v_l") === 20L)
    assert(row.getAs[Long]("v_r") === 200L)
    // left join keeps unmatched
    assert(l.join(r, Seq("k"), "left", "_l", "_r").length === 2L)
    intercept[IllegalArgumentException] { l.join(r, Seq("k")) }
  }

  whenGpt2(present = false)("q271 builds without GPT-2 assets and fails " +
      "when it runs, naming the asset directory") {
    val assets = LmPrepGates.gpt2Assets
    val df = SparkEntry.queries("q271_gpt2_corpus")(spark, dir)
    val err = intercept[Exception](df.collect())
    val messages = Iterator.iterate[Throwable](err)(_.getCause)
      .takeWhile(_ != null).map(e => String.valueOf(e.getMessage))
      .mkString("\n")
    assert(messages.contains(s"GPT-2 assets not found under $assets"),
      messages)
  }

  test("q271's plan under a tiny byte-level encoder passes both checks " +
      "and encodes the dictionary once") {
    // printable ASCII only: every other byte is an unknown token
    val vocab = (32 until 127).map(b =>
      BpeEncoder.byteToUnicode(b).toString -> b.toLong).toMap
    val enc = new BpeEncoder(Map.empty, vocab, unkId = 0L)
    val df = LmPrepGates.gpt2Corpus(spark, dir, enc)
    val rows = df.collect()
    assert(rows.length === 26) // one row per byte of the fixed sentence
    assert(rows.forall(r => r.getAs[Boolean]("corpus_ok") &&
      r.getAs[Boolean]("dict_ok")))
    // the corpus and dictionary checks share one `counts` exchange
    assert(planNodes(df.queryExecution.executedPlan)
      .exists(_.isInstanceOf[ReusedExchangeExec]))
  }
}
