package graft

import org.apache.spark.sql.functions._

import graft.operators.Packing

/** Sequence packing (operators/Packing.scala; gate q97_packing). Pins
  * the exact greedy assignment on a hand-built partition, the oversize
  * singleton rule, and conservation on a multi-partition frame. */
class PackingSpec extends SparkSpec {
  import spark.implicits._

  test("greedy packing pins the exact (seq, pos) assignment — seq_id " +
      "is the sequence's FIRST doc id") {
    // one partition, budget 10: [4,5] | [7,2] | [6] | [12] | [3]
    val df = Seq((0L, 4L), (1L, 5L), (2L, 7L), (3L, 2L), (4L, 6L),
      (5L, 12L), (6L, 3L)).toDF("id", "n").coalesce(1)
    val got = Packing.packGreedy(df, "id", "n", 10)
      .orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(4), r.getInt(5))).toSeq
    // (id, seq_id, seq_pos, part_id, seq_ord): one partition whose
    // first row is id 0, sequences created in order 0..4
    assert(got === Seq(
      (0L, 0L, 0, 0L, 0), (1L, 0L, 1, 0L, 0),
      (2L, 2L, 0, 0L, 1), (3L, 2L, 1, 0L, 1),
      (4L, 4L, 0, 0L, 2),
      (5L, 5L, 0, 0L, 3), // oversize doc: singleton sequence
      (6L, 6L, 0, 0L, 4)))
  }

  test("packGreedy seq ids stay distinct across partitions even under " +
      "a downstream coalesce(1) (TaskContext-free id regression)") {
    // a coalesce AFTER packGreedy pipelines every parent partition into
    // one task: a (taskPartitionId << 32)-style id would alias all
    // partitions' sequences onto the same ids; first-doc-id sequence
    // ids are data-derived and immune
    val df = (0L until 400L).map(i => (i, (i % 9) + 1)).toDF("id", "n")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
    val packed = Packing.packGreedy(df, "id", "n", 20).coalesce(1)
    val seqs = packed.groupBy("seq_id")
      .agg(sum("n_tokens").as("t"), count(lit(1)).as("d"))
    assert(seqs.where(col("t") > 20 && col("d") > 1).count() === 0,
      "coalesce-aliased seq ids would merge sequences past the budget")
    // each sequence's id IS its first (min) doc id
    val bad = packed.groupBy("seq_id").agg(min("id").as("first"))
      .where(col("seq_id") =!= col("first")).count()
    assert(bad === 0)
    // part_id is DATA-derived too: 4 distinct partition identities
    // survive the coalesce, each a range partition's first doc id,
    // and seq_ord counts each partition's sequences densely from 0 —
    // so max(seq_ord)+1 per part_id equals its sequence count (the
    // q97 final-sequence identification rests on this)
    val parts = packed.groupBy("part_id")
      .agg(countDistinct("seq_id").as("n_seq"),
        max("seq_ord").as("max_ord"), min("seq_ord").as("min_ord"))
      .collect()
    assert(parts.length === 4, "4 range partitions, 4 part ids")
    parts.foreach { r =>
      assert(r.getInt(3) === 0 && r.getLong(1) === r.getInt(2) + 1L,
        s"seq_ord must be dense 0..n-1 within ${r.getLong(0)}")
    }
  }

  test("padToMax pins the reference pad_sequence fixture bit-exactly") {
    // test/test_interop.py:190-217 base_test_pad_sequence: the ragged
    // int batch pads to the batch max (4) with -1 / -2, the float
    // batch with -3.0 — expected matrices transcribed verbatim
    val rag = Seq(
      (0L, Seq(11, 12, 13, 14), Seq(11.5f, 12.5f, 13.5f, 14.5f)),
      (1L, Seq(21, 22), Seq(21.5f, 22.5f)),
      (2L, Seq(31), Seq(31.5f)),
      (3L, Seq(41, 42, 43), Seq(41.5f, 42.5f, 43.5f))).toDF(
      "id", "ints", "floats")
    val got = Packing.padToMax(rag, "ints", "p1", lit(-1))
      .withColumn("p2", Packing.padToLength(col("ints"), 4, lit(-2)))
      .withColumn("pf", Packing.padToLength(col("floats"), 4, lit(-3.0f)))
      .orderBy("id").collect()
    assert(got.map(_.getSeq[Int](3)).toSeq === Seq(
      Seq(11, 12, 13, 14), Seq(21, 22, -1, -1),
      Seq(31, -1, -1, -1), Seq(41, 42, 43, -1)))
    assert(got.map(_.getSeq[Int](4)).toSeq === Seq(
      Seq(11, 12, 13, 14), Seq(21, 22, -2, -2),
      Seq(31, -2, -2, -2), Seq(41, 42, 43, -2)))
    assert(got.map(_.getSeq[Float](5)).toSeq === Seq(
      Seq(11.5f, 12.5f, 13.5f, 14.5f), Seq(21.5f, 22.5f, -3.0f, -3.0f),
      Seq(31.5f, -3.0f, -3.0f, -3.0f), Seq(41.5f, 42.5f, 43.5f, -3.0f)))
  }

  test("padToLength truncates past len; mask marks real vs pad slots") {
    val df = Seq(
      (0L, Seq("a", "b", "c", "d", "e")),
      (1L, Seq("x")),
      (2L, Seq.empty[String]),
      (3L, null.asInstanceOf[Seq[String]])).toDF("id", "toks")
    val out = df.select(col("id"),
      Packing.padToLength(col("toks"), 3, lit("<pad>")).as("p"),
      Packing.attentionMask(col("toks"), 3).as("m")).orderBy("id")
      .collect()
    assert(out(0).getSeq[String](1) === Seq("a", "b", "c")) // truncated
    assert(out(0).getSeq[Int](2) === Seq(1, 1, 1))
    assert(out(1).getSeq[String](1) === Seq("x", "<pad>", "<pad>"))
    assert(out(1).getSeq[Int](2) === Seq(1, 0, 0))
    assert(out(2).getSeq[String](1) === Seq("<pad>", "<pad>", "<pad>"))
    assert(out(2).getSeq[Int](2) === Seq(0, 0, 0))
    assert(out(3).isNullAt(1), "null list propagates") // NULL in
    assert(out(3).isNullAt(2))
    // whole-stage codegen check: the pad expression must not break the
    // codegen span (no UDF in the plan)
    val plan = df.select(Packing.padToLength(col("toks"), 3,
      lit("<pad>"))).queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"))
  }

  test("padToLengthKeepEnd keeps the TAIL on truncation, pads like " +
      "padToLength otherwise") {
    val df = Seq(
      (0L, Seq("a", "b", "c", "d", "e")), // truncate: keep last 3
      (1L, Seq("x")),                     // pad: identical to padToLength
      (2L, null.asInstanceOf[Seq[String]])).toDF("id", "toks")
    val out = df.select(col("id"),
      Packing.padToLengthKeepEnd(col("toks"), 3, lit("<pad>")).as("p"))
      .orderBy("id").collect()
    assert(out(0).getSeq[String](1) === Seq("c", "d", "e"))
    assert(out(1).getSeq[String](1) === Seq("x", "<pad>", "<pad>"))
    assert(out(2).isNullAt(1))
  }

  test("pad family equals the Scala-native model on randomized " +
      "ragged inputs (both truncation sides + mask)") {
    import spark.implicits._
    val rnd = new scala.util.Random(0xBADBEE)
    val rows = (0 until 200).map { i =>
      (i.toLong, Seq.fill(rnd.nextInt(13))(rnd.nextInt(100)))
    }
    val L = 5
    val got = rows.toDF("id", "xs").select(col("id"),
      Packing.padToLength(col("xs"), L, lit(-1)).as("p"),
      Packing.padToLengthKeepEnd(col("xs"), L, lit(-1)).as("pk"),
      Packing.attentionMask(col("xs"), L).as("m"))
      .orderBy("id").collect()
    rows.foreach { case (id, xs) =>
      val r = got(id.toInt)
      assert(r.getSeq[Int](1) === xs.take(L).padTo(L, -1), s"pad id=$id")
      assert(r.getSeq[Int](2) === xs.takeRight(L).padTo(L, -1),
        s"keepEnd id=$id")
      assert(r.getSeq[Int](3) ===
        (0 until L).map(i => if (i < math.min(xs.size, L)) 1 else 0),
        s"mask id=$id")
    }
  }

  test("padToMax on an all-null/empty frame is a no-op, not a crash") {
    val allNull = Seq((0L, null.asInstanceOf[Seq[Int]])).toDF("id", "a")
    val out = Packing.padToMax(allNull, "a", "p", lit(-1)).collect()
    assert(out(0).isNullAt(2))
    val e = intercept[IllegalArgumentException] {
      Packing.padToLength(col("a"), 0, lit(-1))
    }
    assert(e.getMessage.contains("len >= 1"))
  }

  test("null id or token count fails fast with a clear contract error") {
    val df = Seq[(java.lang.Long, java.lang.Long)]((0L, 4L), (1L, null))
      .toDF("id", "n")
    val e = intercept[Exception] {
      Packing.packGreedy(df, "id", "n", 10).collect()
    }
    assert(e.getMessage.contains("packGreedy: null n"))
  }

  test("negative token counts raise instead of corrupting the budget") {
    import spark.implicits._
    val bad = Seq((1L, 9L), (2L, -9L), (3L, 9L)).toDF("id", "n")
      .repartition(1)
    val e = intercept[Exception] {
      Packing.packGreedy(bad, "id", "n", maxTokens = 10).collect()
    }
    assert(e.getMessage.contains("negative"))
  }

  test("conservation and budget hold across partitions") {
    val df = (0L until 1000L).map(i => (i, (i % 37) + 1)).toDF("id", "n")
      .repartition(7)
    val packed = Packing.packGreedy(df, "id", "n", 64)
    val seqs = packed.groupBy("seq_id")
      .agg(sum("n_tokens").as("t"), count(lit(1)).as("d"))
    assert(seqs.where(col("t") > 64 && col("d") > 1).count() === 0)
    val Seq(pt, pd) = packed.agg(sum("n_tokens"), count_distinct(col("id")))
      .head.toSeq.map(_.asInstanceOf[Long]).toSeq
    assert(pt === (0L until 1000L).map(i => (i % 37) + 1).sum)
    assert(pd === 1000L)
  }

  test("assignment is deterministic for a fixed order and partitioning") {
    val df = (0L until 500L).map(i => (i, (i * 7 % 23) + 1)).toDF("id", "n")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
    val a = Packing.packGreedy(df, "id", "n", 50).orderBy("id").collect()
    val b = Packing.packGreedy(df, "id", "n", 50).orderBy("id").collect()
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
  }

  test("lengthBucket maps to the smallest holding boundary; overflow " +
      "clamps to the last; null propagates; bad boundaries rejected") {
    val bounds = Seq(4, 8, 16)
    val df = Seq[java.lang.Long](1L, 4L, 5L, 8L, 9L, 16L, 17L, 1000L,
      null).zipWithIndex.map { case (l, i) => (i.toLong, l) }
      .toDF("id", "len")
    val got = df.select(Packing.lengthBucket(col("len"), bounds))
      .collect().map(r => if (r.isNullAt(0)) -1 else r.getInt(0)).toSeq
    assert(got === Seq(4, 4, 8, 8, 16, 16, 16, 16, -1))
    intercept[IllegalArgumentException] {
      Packing.lengthBucket(col("len"), Seq(8, 4))
    }
    intercept[IllegalArgumentException] {
      Packing.lengthBucket(col("len"), Seq.empty)
    }
  }

  test("contiguousOffsets equals the brute-force global prefix sum in " +
      "(shuffleKey, id) order, and is partition-count invariant") {
    import graft.operators.Sampling
    val rows = (0L until 300L).map(i => (i, (i * 13 % 41) + 1))
    val df = rows.toDF("id", "n").repartition(5)
    val got8 = Packing.contiguousOffsets(df, "id", "n", 99L, 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val got3 = Packing.contiguousOffsets(df, "id", "n", 99L, 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // brute force: sort by (sampleHash(id, 99), id), running sum
    val hashed = rows.map { case (id, n) =>
      (graft.functions.Kernels.sampleHash(id, 99L), id, n)
    }.sortBy(t => (t._1, t._2))
    var off = 0L
    hashed.foreach { case (_, id, n) =>
      assert(got8(id) === ((n, off)), s"parts=8 id=$id")
      assert(got3(id) === ((n, off)), s"parts=3 id=$id")
      off += n
    }
    assert(off === rows.map(_._2).sum)
  }

  test("contiguousOffsets survives a downstream coalesce(1) " +
      "(TaskContext partition-id aliasing regression)") {
    val rows = (0L until 200L).map(i => (i, (i % 17) + 1))
    val df = rows.toDF("id", "n")
    val out = Packing.contiguousOffsets(df, "id", "n", 7L, 8)
      .coalesce(1).collect()
      .map(r => (r.getLong(2), r.getLong(1))).sortBy(_._1)
    // offsets must still be the exact global prefix sum: strictly
    // increasing, gap-free, totalling the corpus
    var expect = 0L
    out.foreach { case (start, n) =>
      assert(start === expect,
        s"offset $start != $expect — bases aliased under coalesce")
      expect += n
    }
    assert(expect === rows.map(_._2).sum)
  }

  test("contiguousOffsets carries payload columns through both passes " +
      "unchanged (the q264 no-join-back contract)") {
    val rows = (0L until 50L).map(i => (i, (i % 5) + 1, s"w$i", i * 2))
    val df = rows.toDF("id", "n", "tag", "twice").repartition(3)
    val out = Packing.contiguousOffsets(df, "id", "n", 99L, 4,
      payload = Seq("tag", "twice")).collect()
    assert(out.head.schema.fieldNames.toSeq ===
      Seq("id", "n", "global_start", "tag", "twice"))
    out.foreach { r =>
      val id = r.getLong(0)
      assert(r.getString(3) === s"w$id" && r.getLong(4) === id * 2,
        s"payload corrupted for id=$id")
    }
    // offsets themselves must be identical to the payload-free run
    val bare = Packing.contiguousOffsets(df, "id", "n", 99L, 4)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    out.foreach(r => assert(bare(r.getLong(0)) === r.getLong(2)))
    intercept[IllegalArgumentException] {
      Packing.contiguousOffsets(df, "id", "n", 99L, 4,
        payload = Seq("id"))
    }
  }

  test("prefixSumInOrder equals the brute-force prefix sum in the " +
      "caller's order (ties on id), is partition-count invariant, and " +
      "carries payload") {
    // order by a NON-UNIQUE string key — exercises generic order-column
    // types and the id tiebreak
    val rows = (0L until 240L).map(i =>
      (i, (i * 7 % 13) + 1, s"g${i % 9}", s"p$i"))
    val df = rows.toDF("id", "w", "grp", "tag").repartition(5)
    val out6 = Packing.prefixSumInOrder(df, "id", "w", Seq("grp"), 6,
      payload = Seq("tag"))
    // order columns ride through after global_start, then payload
    assert(out6.columns.toSeq === Seq("id", "w", "global_start", "grp", "tag"))
    val got6 = out6.collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("global_start"), r.getAs[String]("tag")))).toMap
    val got3 = Packing.prefixSumInOrder(df, "id", "w", Seq("grp"), 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    var off = 0L
    rows.sortBy(t => (t._3, t._1)).foreach { case (id, w, _, tag) =>
      assert(got6(id) === ((off, tag)), s"parts=6 id=$id")
      assert(got3(id) === off, s"parts=3 id=$id")
      off += w
    }
    assert(off === rows.map(_._2).sum)
  }

  test("rankInOrder equals row_number()-1 over the same total order " +
      "and survives coalesce(1)") {
    val rows = (0L until 300L).map(i => (i, (i * 31 % 17) + 1))
    val df = rows.toDF("id", "score").repartition(4)
    val got = Packing.rankInOrder(df, "id", Seq("score"), 7)
      .coalesce(1).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.sortBy(t => (t._2, t._1)).zipWithIndex.foreach {
      case ((id, _), rk) => assert(got(id) === rk.toLong, s"id=$id")
    }
    // executed plan must be window-free: the whole point is replacing
    // the one-partition row_number() OVER (ORDER BY ...) funnel
    val plan = Packing.rankInOrder(df, "id", Seq("score"), 7)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"rankInOrder must not plan a global window, got:\n$plan")
  }

  test("rankInOrder rejects an input column named 'rank' (the output " +
      "rename would silently duplicate it)") {
    val df = Seq((1L, 2L, 3L)).toDF("id", "score", "rank")
    val e = intercept[IllegalArgumentException] {
      Packing.rankInOrder(df, "id", Seq("score"), 2,
        payload = Seq("rank"))
    }
    assert(e.getMessage.contains("rename it upstream"))
  }

  test("shiftInOrder equals the brute-force shift in the caller's " +
      "order (ties on id), is partition-count invariant, threads " +
      "carries across short partitions, and reverses cleanly for lead") {
    // order by a NON-UNIQUE string key — generic order types + id
    // tiebreak; parts larger than rows/k so some carries span several
    // partitions, the threading case
    val rows = (0L until 150L).map(i =>
      (i, (i * 7 % 13) + 1, s"g${i % 9}", s"p$i"))
    val df = rows.toDF("id", "v", "grp", "tag").repartition(5)
    val sorted = rows.sortBy(t => (t._3, t._1))
    for (k <- Seq(1, 4, 40); parts <- Seq(3, 8, 64)) {
      val got = Packing.shiftInOrder(df, "id", "v", Seq("grp"), k, parts,
        payload = Seq("tag"), outCol = "sh")
        .collect().map(r => r.getAs[Long]("id") ->
          ((Option(r.getAs[Any]("sh")), r.getAs[String]("tag")))).toMap
      sorted.zipWithIndex.foreach { case ((id, _, _, tag), i) =>
        val want = if (i >= k) Some(sorted(i - k)._2) else None
        assert(got(id) === ((want, tag)), s"k=$k parts=$parts id=$id")
      }
      val lead = Packing.shiftInOrder(df, "id", "v", Seq("grp"), k, parts,
        descending = true, outCol = "sh")
        .collect().map(r => r.getAs[Long]("id") ->
          Option(r.getAs[Any]("sh"))).toMap
      sorted.zipWithIndex.foreach { case ((id, _, _, _), i) =>
        val want = if (i + k < sorted.length) Some(sorted(i + k)._2)
          else None
        assert(lead(id) === want, s"lead k=$k parts=$parts id=$id")
      }
    }
    // offset past the whole frame: every row shifts to null, no crash
    val allNull = Packing.shiftInOrder(df, "id", "v", Seq("grp"), 151, 4)
      .collect()
    assert(allNull.length === 150 &&
      allNull.forall(r => r.isNullAt(r.fieldIndex("shifted"))))
  }

  test("prefixSumInOrder is exact for NEGATIVE weights (round-18 " +
      "relaxed contract — two-phase long addition is sign-agnostic)") {
    val rows = (0L until 120L).map(i => (i, (i % 11) - 5))
    val df = rows.toDF("id", "w").repartition(3)
    val got = Packing.prefixSumInOrder(df, "id", "w", Seq.empty, 4)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    var off = 0L
    rows.foreach { case (id, w) =>
      assert(got(id) === off, s"id=$id")
      off += w
    }
    // null weights still raise
    val bad = Seq((0L, java.lang.Long.valueOf(1L)),
      (1L, null.asInstanceOf[java.lang.Long])).toDF("id", "w")
    val e = intercept[Exception] {
      Packing.prefixSumInOrder(bad, "id", "w", Seq.empty, 2).collect()
    }
    assert(e.getMessage.contains("null"))
  }

  test("prefixSumInOrder fails on a running sum past the long range") {
    val big = Long.MaxValue / 2 + 1
    val df = Seq((0L, big), (1L, big), (2L, 1L)).toDF("id", "w")
    val e = intercept[Exception] {
      Packing.prefixSumInOrder(df, "id", "w", Seq.empty, 2).collect()
    }
    assert(innermostMessage(e).contains("overflow"))
  }

  test("q272 and q274 run no PrefixScanExec whose output nothing reads") {
    def scans(df: org.apache.spark.sql.DataFrame) =
      planNodes(df.queryExecution.executedPlan)
        .count(_.isInstanceOf[graft.plans.PrefixScanExec])
    def longs(rows: Seq[org.apache.spark.sql.Row]) =
      rows.map(_.toSeq.map(_.asInstanceOf[Number].longValue)).sortBy(_.head)
    // the sf0.01 tables committed with the benchmark
    val sf = "perfbench/data/sf0.01"
    // the gates' SQL, run by Spark's own window functions
    Tables(spark, sf, "lineitem").createOrReplaceTempView("lineitem")
    try {
      for ((gate, sql, n) <- Seq(
          (RelationalGates.q272RankFamily _, RelationalGates.q272Sql, 2),
          (RelationalGates.q274Ntile _, RelationalGates.q274Sql, 1))) {
        val df = gate(spark, sf)
        val rows = longs(df.collect().toSeq)
        assert(scans(df) === n, df.queryExecution.executedPlan.treeString)
        assert(rows === longs(spark.sql(sql).collect().toSeq))
      }
    } finally spark.catalog.dropTempView("lineitem")
  }

  test("prefixSumInOrder rejects null order values (engine-specific " +
      "null sort position would break the portable total order)") {
    val bad = Seq((0L, 1L, "a"), (1L, 1L, null.asInstanceOf[String]))
      .toDF("id", "w", "k")
    val e = intercept[Exception] {
      Packing.prefixSumInOrder(bad, "id", "w", Seq("k"), 2).collect()
    }
    assert(e.getMessage.contains("null order column"))
    intercept[IllegalArgumentException] {
      Packing.prefixSumInOrder(bad, "id", "w", Seq("id"), 2)
    }
  }

  test("contiguousOffsets on an empty frame returns an empty frame " +
      "(all partitions empty in both passes)") {
    val empty = Seq.empty[(Long, Long)].toDF("id", "n")
    assert(Packing.contiguousOffsets(empty, "id", "n", 1L, 4)
      .collect().isEmpty)
  }

  test("contiguousOffsets rejects null ids and null/negative counts") {
    val bad = Seq[(java.lang.Long, java.lang.Long)]((0L, 4L), (1L, -1L))
      .toDF("id", "n")
    // building the frame runs nothing: the check fails when it runs
    val e = intercept[Exception] {
      Packing.contiguousOffsets(bad, "id", "n", 1L, 2).collect()
    }
    assert(e.getMessage.contains("negative"))
  }
}
