package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every gate of [[SparkEntry.queries]] (or those
  * whose names start with one of the comma-separated
  * `SPARK_GRAFT_ONLY` prefixes) against `SPARK_GRAFT_SF_DIR`.
  *
  * Each gate is fully materialized through a noop write, in sorted name
  * order after a warm-up, and the whole selection runs twice in one
  * JVM. A gate's seconds are the min of its two passes, taken over the
  * passes that succeeded (pair-min, BASELINE.md): a time-to-exception
  * is not a measurement. A gate that failed in either pass is listed
  * in `failed`, with its innermost cause in `failure_reasons`.
  *
  * The SF directory's name selects a section of the band file
  * (`SPARK_GRAFT_BANDS`, default `BASELINE_BANDS.json`): per-gate
  * seconds and the `nproc` of the host they were measured on. The
  * report gives each gate's ratio to its band, their median, the gates
  * over 2x and those with no band, and carries the bands' `band_nproc`
  * next to this host's `nproc`, so a ratio across host shapes shows.
  *
  * The full report goes to `BENCH_ARTIFACT_<sf>_<run id>.json`
  * (`SPARK_GRAFT_ARTIFACT` overrides). The one stdout line carries the
  * driver contract (`metric`, `value`, `unit`, `queries`, `sf`), the
  * summary fields and the artifact path (`null` if the write failed),
  * every number to 3 decimals; the per-gate sample and ratio maps stay
  * in the file, which keeps the line short enough to capture whole.
  */
object Bench {

  /** One gate's two timed passes: seconds, and each pass's failure. */
  final case class Sample(s1: Double, s2: Double,
      failure1: Option[String] = None, failure2: Option[String] = None) {
    def failure: Option[String] = failure1.orElse(failure2)
    def failedBoth: Boolean = failure1.isDefined && failure2.isDefined

    /** The min over the passes that succeeded; over both if neither did. */
    def pairMin: Double = (failure1, failure2) match {
      case (None, Some(_)) => s1
      case (Some(_), None) => s2
      case _ => math.min(s1, s2)
    }
  }

  /** A band-file section: per-gate seconds and the `nproc` they were
    * measured on. */
  final case class Bands(sf: String, nproc: Option[Int],
      seconds: Map[String, Double])

  /** The fields of the stdout line, besides `artifact`. */
  private val lineKeys = Seq("metric", "value", "unit", "queries", "sf",
    "samples", "failed", "failure_reasons", "band_median", "over_2x",
    "load_avg_1m", "nproc", "band_nproc", "subset", "run_id")

  def main(args: Array[String]): Unit = {
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    only.foreach(p => require(p.nonEmpty,
      "SPARK_GRAFT_ONLY is set but empty: unset it for the full suite"))
    val spark = GraftSession(GraftSession.hostCores)
    try println(run(spark,
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"), only,
      sys.env.getOrElse("SPARK_GRAFT_BANDS", "BASELINE_BANDS.json"),
      sys.env.get("SPARK_GRAFT_ARTIFACT")))
    finally spark.stop()
  }

  /** Times the gates selected by `only` (every gate when None) on
    * `spark`, writes the artifact to `artifactPath` (or the default
    * name) and returns the result line. */
  def run(spark: SparkSession, sfDir: String, only: Option[Seq[String]],
      bandsPath: String, artifactPath: Option[String]): String = {
    val names = SparkEntry.select(only.getOrElse(Nil))
    val sfName = new java.io.File(sfDir).getName
    // read before the passes: a malformed band file fails the run at once
    val bands = loadBands(bandsPath, sfName)
    val runId = s"${System.currentTimeMillis()}-${ProcessHandle.current().pid()}"
    val fields = report(sfDir, only, measure(spark, sfDir, names), bands,
      runId)
    val path = artifactPath.getOrElse(s"BENCH_ARTIFACT_${sfName}_$runId.json")
    val written =
      try {
        Files.writeString(Paths.get(path), json(fields, _.toString) + "\n")
        Some(path)
      } catch { case e: Exception =>
        System.err.println(s"[bench] artifact write failed: ${e.getMessage}")
        None
      }
    json(fields.filter { case (k, _) => lineKeys.contains(k) } +
      ("artifact" -> written), d => (math.rint(d * 1000) / 1000).toString)
  }

  /** Both timed passes over `names`, after a warm-up query and one
    * untimed run of the first gate. */
  private def measure(spark: SparkSession, sfDir: String,
      names: Seq[String]): Seq[(String, Sample)] = {
    def materialize(name: String): (Double, Option[String]) = {
      val t0 = System.nanoTime()
      val failure =
        try {
          SparkEntry.queries(name)(spark, sfDir)
            .write.mode("overwrite").format("noop").save()
          None
        } catch { case e: Throwable =>
          val reason = innermostMessage(e)
          System.err.println(s"[bench] $name FAILED: $reason")
          Some(reason)
        }
      val dt = (System.nanoTime() - t0) / 1e9
      // Untimed: drop what the gate left persisted (localCheckpoint()ed
      // RDDs stay in block-manager storage until the driver GCs them).
      // No gate reads another's state, so a leaked block is accidental
      // caching; left in place, the blocks of earlier gates (q178's five
      // checkpointed PageRank rounds, say) squeeze the execution memory
      // of later ones.
      spark.sparkContext.getPersistentRDDs.valuesIterator
        .foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
      (dt, failure)
    }
    // the timed plans are the sketch-only ones; the exact-bound
    // self-checks stay on in Verify
    val selfcheck = "graft.sketch.selfcheck"
    val prior = spark.conf.getOption(selfcheck)
    spark.conf.set(selfcheck, "false")
    try {
      spark.range(1000000L).selectExpr("sum(id)").collect()
      names.headOption.foreach(materialize)
      val pass1 = names.map(materialize)
      val pass2 = names.map(materialize)
      names.lazyZip(pass1).lazyZip(pass2).map {
        case (n, (s1, f1), (s2, f2)) => n -> Sample(s1, s2, f1, f2)
      }
    } finally prior.fold(spark.conf.unset(selfcheck))(
      spark.conf.set(selfcheck, _))
  }

  /** The section `sf` of the band file at `path`; None when the file or
    * the section is absent. */
  private[graft] def loadBands(path: String, sf: String): Option[Bands] = {
    val file = new java.io.File(path)
    if (!file.isFile) None
    else Option(new ObjectMapper().readTree(file).get(sf)).map { node =>
      val entries =
        node.properties().asScala.map(e => e.getKey -> e.getValue).toMap
      Bands(sf, entries.get("nproc").map(_.asInt),
        (entries - "nproc").map { case (k, v) => k -> v.asDouble })
    }
  }

  /** Every field of the report, in artifact order, each built once. */
  private[graft] def report(sfDir: String, only: Option[Seq[String]],
      samples: Seq[(String, Sample)], bands: Option[Bands],
      runId: String): ListMap[String, Any] = {
    def byGate[A](f: Sample => A) =
      ListMap(samples.map { case (k, s) => k -> f(s) }: _*)
    val (pairMin, s1, s2) = (byGate(_.pairMin), byGate(_.s1), byGate(_.s2))
    val reasons =
      ListMap(samples.flatMap { case (k, s) => s.failure.map(k -> _) }: _*)
    val measured = samples.collect { case (k, s) if !s.failedBoth => k }
    val ratios = bands.map(b => ListMap(measured.collect {
      case k if b.seconds.get(k).exists(_ > 0) =>
        k -> pairMin(k) / b.seconds(k)
    }: _*))
    val os = ManagementFactory.getOperatingSystemMXBean
    ListMap(
      "metric" -> "pair_min_total",
      "value" -> pairMin.values.sum,
      "unit" -> "sec",
      "sf" -> sfDir,
      "run_id" -> runId,
      "subset" -> only.isDefined,
      "only" -> only,
      "queries" -> pairMin,
      "queries_s1" -> s1,
      "queries_s2" -> s2,
      "samples" -> Seq(s1.values.sum, s2.values.sum),
      "failed" -> reasons.keys,
      "failure_reasons" -> reasons,
      "load_avg_1m" -> os.getSystemLoadAverage,
      "nproc" -> os.getAvailableProcessors,
      "band_sf" -> bands.map(_.sf),
      "band_nproc" -> bands.flatMap(_.nproc),
      "band_ratios" -> ratios,
      "band_median" -> ratios.flatMap(r => median(r.values.toSeq)),
      "over_2x" -> ratios.map(_.collect { case (k, r) if r > 2.0 => k }),
      "no_band" -> bands.map(b => measured.filterNot(b.seconds.contains)))
  }

  /** The median; the mean of the middle pair for an even count. */
  private[graft] def median(xs: Seq[Double]): Option[Double] = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) None
    else Some(if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2)
  }

  /** `v` as JSON, each double written by `num`; None is null. */
  private def json(v: Any, num: Double => String): String = v match {
    case None => "null"
    case Some(x) => json(x, num)
    case s: String => jsonString(s)
    case d: Double => num(d)
    case m: collection.Map[_, _] => m.map { case (k, x) =>
      jsonString(k.toString) + ":" + json(x, num) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json(_, num)).mkString("[", ",", "]")
    case x => x.toString
  }
}
