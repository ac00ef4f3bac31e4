package graft

import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

/** Round-12 machinery past q145: text normalization semantics (q148),
  * the containment join's exactness against brute force (q147 — these
  * properties certified the round-12 prefix filter and now pin the
  * round-22 broadcast match-count form), and the funnel's boundary
  * ordering rules (q149).
  */
class Queries10Spec extends SparkSpec {
  import spark.implicits._

  // ---- normalizeText ----------------------------------------------------

  private def normalized(s: String): String =
    Seq(s).toDF("t").select(TextAnalysis.normalizeText(col("t")))
      .head().getString(0)

  test("normalizeText composes NFC, strips controls, collapses space") {
    // e + U+0301 composes to é; A + U+030A composes to Å
    assert(normalized("e\u0301") === "\u00e9")
    assert(normalized("A\u030A") === "\u00c5")
    // x + U+0301 has no precomposed form: stays two codepoints
    assert(normalized("x\u0301") === "x\u0301")
    // controls become spaces, then whitespace runs collapse and trim
    assert(normalized("a\u0007b") === "a b")
    assert(normalized("  a\t\tb\r\nc  ") === "a b c")
    assert(normalized("\u0000\u001f\u007f") === "")
  }

  test("normalizeText is idempotent and identity on clean ASCII") {
    val clean = "the quick brown fox"
    assert(normalized(clean) === clean)
    val messy = "e\u0301 \t x\u0007y"
    assert(normalized(normalized(messy)) === normalized(messy))
  }

  // ---- containmentPairs -------------------------------------------------

  private def brute(eval_ : Seq[(Long, Seq[String])],
      corpus: Seq[(Long, Seq[String])], num: Int, den: Int)
      : Set[(Long, Long, Int, Int)] =
    (for {
      (eid, eg) <- eval_
      (cid, cg) <- corpus
      shared = eg.toSet.intersect(cg.toSet).size
      if shared * den >= eg.size * num
    } yield (eid, cid, shared, eg.size)).toSet

  private def pruned(eval_ : Seq[(Long, Seq[String])],
      corpus: Seq[(Long, Seq[String])], num: Int, den: Int)
      : Set[(Long, Long, Int, Int)] =
    DedupGates.containmentPairs(
      eval_.toDF("eval_id", "gs"), corpus.toDF("doc_id", "gs"), num, den)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
      .toSet

  test("containmentPairs equals brute force on an adversarial corpus") {
    // pairs exactly AT the threshold, just under it, an eval gram absent
    // from the whole corpus, and a corpus doc with huge supersets
    val eval_ = Seq(
      1L -> Seq("a", "b", "c", "d", "e"),       // 3/5 = exactly 0.6
      2L -> Seq("a", "b", "c", "d", "e", "f"),  // needs ceil(3.6)=4
      3L -> Seq("zz", "b", "c"),                // zz nowhere in corpus
      4L -> Seq("q", "r"))                      // fully contained twice
    val corpus = Seq(
      10L -> Seq("a", "b", "c", "x", "y"),      // shares 3 with e1: AT θ
      11L -> Seq("a", "b", "x", "y", "z"),      // shares 2 with e1: below
      12L -> Seq("a", "b", "c", "d", "e", "f", "g", "h"), // superset
      13L -> Seq("b", "c", "w"),                // 2/3 of e3 qualifies
      14L -> Seq("q", "r", "s", "t", "u", "v", "w", "x", "y", "z"))
    for ((num, den) <- Seq((6, 10), (1, 2), (1, 1), (9, 10))) {
      assert(pruned(eval_, corpus, num, den) ===
        brute(eval_, corpus, num, den), s"θ = $num/$den")
    }
  }

  test("containmentPairs is lossless on randomized corpora") {
    val rnd = new scala.util.Random(42)
    val grams = (0 until 12).map(i => s"g$i")
    def randSets(n: Int, base: Long) = (0 until n).map { i =>
      (base + i) -> rnd.shuffle(grams).take(2 + rnd.nextInt(8)).toSeq
    }
    for (seed <- 0 until 3) {
      val ev = randSets(6, 100L * seed)
      val cp = randSets(15, 1000L * seed)
      assert(pruned(ev, cp, 6, 10) === brute(ev, cp, 6, 10))
    }
  }

  test("containmentPairs gives arrays with duplicates their distinct pairs") {
    // e1 vs d10: a raw join count would see 3 shared of 5 (qualifies at
    // 6/10); distinct it is 1 of 3. d11 repeats one gram of e2 likewise.
    val eval_ = Seq(1L -> Seq("a", "a", "a", "b", "c"),
      2L -> Seq("p", "q", "r", "s", "t"))
    val corpus = Seq(10L -> Seq("a", "x", "y"),
      11L -> Seq("p", "p", "p", "z"))
    def distinct(sets: Seq[(Long, Seq[String])]) =
      sets.map { case (id, gs) => id -> gs.distinct }
    val rnd = new scala.util.Random(7)
    val grams = (0 until 10).map(i => s"g$i")
    def randSets(n: Int, base: Long) = (0 until n).map { i =>
      val gs = rnd.shuffle(grams).take(2 + rnd.nextInt(7))
      (base + i) -> rnd.shuffle(gs ++ gs.take(1 + rnd.nextInt(gs.size)))
    }
    val cases = (eval_, corpus) +:
      (0 until 3).map(seed => (randSets(6, 100L * seed),
        randSets(15, 1000L * seed)))
    for ((ev, cp) <- cases) {
      val expected = brute(distinct(ev), distinct(cp), 6, 10)
      assert(pruned(ev, cp, 6, 10) === expected)
      assert(pruned(distinct(ev), distinct(cp), 6, 10) === expected)
    }
  }

  // ---- funnel ordering --------------------------------------------------

  test("q149 funnel enforces stage order and the 24h bound") {
    val day = 86400000000L
    val hour = 3600000000L
    // build an events-shaped table: user 1 converts fully; user 2
    // clicked BEFORE viewing (no click stage); user 3 clicks at exactly
    // +24h (inclusive bound — counts); user 4 purchases without click
    val rows = Seq(
      (1L, "view", 1000L * hour), (1L, "click", 1001L * hour),
      (1L, "purchase", 1002L * hour),
      (2L, "click", 1000L * hour), (2L, "view", 1001L * hour),
      (3L, "view", 1000L * hour), (3L, "click", 1000L * hour + day),
      (4L, "view", 1000L * hour), (4L, "purchase", 1001L * hour))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_funnel").toString
    rows.toDF("user_id", "event_type", "us")
      .select((col("us") * 1000).as("ts"), col("user_id"),
        col("event_type"), lit(0L).as("event_id"),
        lit(0.0).as("value"),
        lit(null.asInstanceOf[String]).as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = RelationalGates.q149Funnel(spark, dir).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    assert(out.toSeq === Seq(
      (1L, Some(1001L * hour), Some(1002L * hour)),
      (2L, None, None),            // click precedes view: not a convert
      (3L, Some(1000L * hour + day), None), // exactly +24h: inclusive
      (4L, None, None)))           // purchase needs a prior click
  }
}
