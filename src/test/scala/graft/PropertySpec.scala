package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.Kernels
import graft.types._

/** Property tests promised in SURVEY §5: promotion lattice laws and
  * kernel invariants. Deterministic ScalaCheck generators driven from
  * a fixed seed (scalatestplus bridge is not in the offline cache).
  */
class PropertySpec extends SparkSpec {

  private def samples[A](g: Gen[A], n: Int = 300): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default,
      Seed(0xC0FFEEL + i)))

  private val scalarDtypes: Gen[Dtype] = for {
    n <- Gen.oneOf(true, false)
    d <- Gen.oneOf[Boolean => Dtype](
      TBoolean(_), TInt8(_), TInt16(_), TInt32(_), TInt64(_),
      TFloat32(_), TFloat64(_))
  } yield d(n)

  private val dtypePairs = samples(Gen.zip(scalarDtypes, scalarDtypes))
  private val dtypeTriples =
    samples(Gen.zip(scalarDtypes, scalarDtypes, scalarDtypes))

  test("promote is commutative and idempotent on the lattice") {
    dtypePairs.foreach { case (a, b) =>
      assert(Dtype.promote(a, b) === Dtype.promote(b, a), s"($a, $b)")
    }
    samples(scalarDtypes).foreach { a =>
      assert(Dtype.promote(a, a) === Some(a), a)
    }
  }

  test("promote is associative") {
    dtypeTriples.foreach { case (a, b, c) =>
      val left = Dtype.promote(a, b).flatMap(Dtype.promote(_, c))
      val right = Dtype.promote(b, c).flatMap(Dtype.promote(a, _))
      assert(left === right, s"($a, $b, $c)")
    }
  }

  test("promotion result nullability = OR of inputs") {
    dtypePairs.foreach { case (a, b) =>
      assert(Dtype.promote(a, b).exists(_.nullable ==
        (a.nullable || b.nullable)), s"($a, $b)")
    }
  }

  test("commonDtype lifts through lists") {
    dtypePairs.foreach { case (a, b) =>
      val lifted = Dtype.commonDtype(TList(a), TList(b))
      assert(lifted.map { case TList(i, _, _) => i } ===
        Dtype.promote(a, b), s"($a, $b)")
    }
  }

  test("sigrid_hash lands in [0, maxValue) for any input") {
    val gen = Gen.zip(Gen.long, Gen.long, Gen.choose(1L, 1000000L))
    samples(gen, 2000).foreach { case (v, salt, max) =>
      val h = Kernels.sigridHash(v, salt, max)
      assert(h >= 0L && h < max, s"sigridHash($v, $salt, $max) = $h")
    }
  }

  test("hamming64 is a metric on the hypercube") {
    samples(Gen.zip(Gen.long, Gen.long, Gen.long), 1000).foreach {
      case (a, b, c) =>
        assert(Kernels.hamming64(a, a) === 0)
        assert(Kernels.hamming64(a, b) === Kernels.hamming64(b, a))
        assert(Kernels.hamming64(a, c) <=
          Kernels.hamming64(a, b) + Kernels.hamming64(b, c))
    }
  }

  test("asof join matches a brute-force reference on random tables") {
    import spark.implicits.{newProductEncoder, localSeqToDatasetHolder}
    // small key/ts domains force heavy key collisions and ts ties
    val row = Gen.zip(Gen.choose(0, 5), Gen.choose(0L, 40L))
    val l = samples(row, 120).zipWithIndex
      .map { case ((k, ts), i) => (k, ts, i.toLong) }.toDF("k", "ts", "lid")
    // right side unique per (key, ts): deterministic as-of target
    val r = samples(row, 80).distinct.zipWithIndex
      .map { case ((k, ts), i) => (k, ts, 1000L + i) }.toDF("k", "ts", "rid")
    for (tol <- Seq(None, Some(0L), Some(6L))) {
      val got = graft.operators.AsOfJoin
        .asof(l, r, Seq("k"), Seq("k"), "ts", "ts", tol).collect()
      val want = AsOfReference(l, r, Seq("k"), Seq("k"), "ts", "ts", tol)
      assert(got.sortBy(_.getLong(2)).toSeq == want.sortBy(_.getLong(2)),
        s"tolerance $tol")
    }
  }

  test("bucketize is monotone in its argument") {
    val borders = new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array(2.0, 5.0, 10.0))
    val gen = Gen.zip(Gen.choose(-100.0, 100.0), Gen.choose(-100.0, 100.0))
    samples(gen, 1000).foreach { case (x, y) =>
      val (lo, hi) = if (x <= y) (x, y) else (y, x)
      assert(Kernels.bucketize(lo, borders) <= Kernels.bucketize(hi, borders),
        s"($lo, $hi)")
    }
  }

  test("chunk reconstructs the document for any (n, max, overlap)") {
    import org.apache.spark.sql.functions.{col, explode}
    import graft.operators.TextAnalysis
    val gen = Gen.zip(Gen.choose(1, 120), Gen.choose(2, 50))
      .flatMap { case (n, m) => Gen.choose(0, m - 1).map(o => (n, m, o)) }
    samples(gen, 60).foreach { case (n, m, o) =>
      import spark.implicits._
      val text = (1 to n).map(i => s"w$i").mkString(" ")
      val chunks = Seq(text).toDF("text")
        .select(explode(TextAnalysis.chunk(col("text"), m, o)).as("c"))
        .select("c.chunk_idx", "c.chunk_text", "c.n_tokens")
        .collect().sortBy(_.getInt(0))
      // stitching chunks minus each successor's leading overlap
      // reproduces the token stream exactly
      val stride = m - o
      val stitched = chunks.zipWithIndex.flatMap { case (r, i) =>
        val toks = r.getString(1).split(" ").toSeq
        if (i == 0) toks else toks.drop(toks.length.min(o))
      }
      assert(stitched === (1 to n).map(i => s"w$i"),
        s"n=$n max=$m overlap=$o")
      chunks.foreach(r => assert(r.getLong(2) <= m && r.getLong(2) > 0))
    }
  }

  test("packing conserves docs/tokens within budget for random inputs") {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    import graft.operators.Packing
    import spark.implicits._
    val gen = Gen.zip(Gen.choose(1, 200), Gen.choose(5, 80))
    samples(gen, 8).zipWithIndex.foreach { case ((rows, budget), i) =>
      val data = (0 until rows)
        .map(j => (j.toLong, ((j * 31 + i * 7) % 120 + 1).toLong))
      val df = data.toDF("id", "n").repartition(3)
      val packed = Packing.packGreedy(df, "id", "n", budget)
      val seqs = packed.groupBy("seq_id")
        .agg(sum("n_tokens").as("t"), count(lit(1)).as("d"))
      assert(seqs.where(col("t") > budget && col("d") > 1).count() === 0,
        s"rows=$rows budget=$budget")
      val got = packed.agg(sum("n_tokens"), count(lit(1))).head
      assert(got.getLong(0) === data.map(_._2).sum)
      assert(got.getLong(1) === rows.toLong)
    }
  }

  test("prefixSumInOrder equals the sequential prefix sum for random " +
      "sizes, weights (zeros included), duplicate order keys, and " +
      "partition counts") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, lag, lead, row_number}
    import graft.operators.Packing
    import spark.implicits._
    val gen = Gen.zip(Gen.choose(1, 150), Gen.choose(1, 9),
      Gen.choose(2, 11))
    samples(gen, 8).zipWithIndex.foreach { case ((rows, kMod, drawn), i) =>
      // weights include zeros; order key deliberately NON-unique so the
      // id tiebreak carries the total order; the string value (null
      // every 11th row) is what lag/lead shift
      val data = (0 until rows).map(j =>
        (j.toLong, (j * 17 + i * 5) % 7L, ((j * 13 + i) % kMod).toLong,
          if (j % 11 == 5) null else s"s$i-$j-" + "x" * (j % 23)))
      val df = data.toDF("id", "w", "k", "s").repartition(3)
      val byOrder = Window.orderBy("k", "id")
      val want = df.select(col("id"), row_number().over(byOrder) - 1,
          lag("s", 1).over(byOrder), lag("s", 3).over(byOrder),
          lead("s", 1).over(byOrder), lead("s", 3).over(byOrder))
        .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
      for (parts <- Seq(1, 4, 32, drawn)) {
        val at = s"rows=$rows kMod=$kMod parts=$parts"
        val got = Packing.prefixSumInOrder(df, "id", "w", Seq("k"), parts)
          .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
        var off = 0L
        data.sortBy(d => (d._3, d._1)).foreach { case (id, w, _, _) =>
          assert(got(id) === off, s"$at id=$id")
          off += w
        }
        assert(off === data.map(_._2).sum)
        Packing.rankInOrder(df, "id", Seq("k"), parts).collect()
          .foreach(r => assert(r.getLong(1) === want(r.getLong(0))(0),
            s"rank $at id=${r.getLong(0)}"))
        for ((k, c) <- Seq(1 -> 1, 3 -> 2); descending <- Seq(false, true)) {
          val idx = if (descending) c + 2 else c
          Packing.shiftInOrder(df, "id", "s", Seq("k"), k, parts,
            descending = descending).collect()
            .foreach(r => assert(r.get(2) === want(r.getLong(0))(idx),
              s"shift k=$k descending=$descending $at id=${r.getLong(0)}"))
        }
      }
    }
  }
}
