package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkEntry
import graft.functions.Kernels
import graft.operators.Multimodal

/** JVM side of the benchmark. `run.py` launches it in one of two modes
  * (arguments are `key=value` pairs):
  *
  *  - `mode=run`: one closed-loop client. A cold pass, two settling
  *    passes (between the calls of the first, untimed, each result is
  *    digested for the output check), then warm passes until `seconds`
  *    have elapsed. With `trace=1` also spans, job metrics, plan
  *    fingerprints and kernel micro-timings. Writes one JSON document to
  *    `out`.
  *  - `mode=digest`: output digests of each gate's live result, and of
  *    the parquet a `graft.Verify` run wrote for it (`verified=<dir>`).
  *
  * Every gate call is timed in three phases from outside the program:
  * construction (the gate function itself), planning (forcing
  * `queryExecution.executedPlan`) and execution (the `noop` write).
  */
object Harness {

  def main(argv: Array[String]): Unit = {
    val args = argv.map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
    }.toMap
    val work = args("work")
    val nproc = Runtime.getRuntime.availableProcessors
    var (spark, sessionS, warmupS) = setup(nproc, work)
    val readyMs = System.currentTimeMillis()
    args("mode") match {
      case "run" =>
        // set-up is sampled five times per run: the first from JVM start
        // (timed by the launcher), then four more by stopping the session
        // and building it again; a traced run keeps the first only
        val again = if (args("trace") == "1") Seq.empty[Double] else (1 to 4).map { _ =>
          spark.stop()
          val t0 = System.nanoTime()
          spark = setup(nproc, work)._1
          (System.nanoTime() - t0) / 1e9
        }
        val out = new Run(spark, args).apply()
        write(args("out"), Json(out ++ Map("ready_ms" -> readyMs,
          "session_s" -> sessionS, "warmup_s" -> warmupS, "setup_again_s" -> again)))
      case "digest" =>
        val data = args("data")
        val rows = args("gates").split(",").toSeq.map { g =>
          val live = attempt(digest(SparkEntry.queries(g)(spark, data)))
          val verified = args.get("verified").map(v =>
            attempt(digest(spark.read.parquet(s"$v/$g"))))
          g -> Map("live" -> live, "verified" -> verified)
        }
        write(args("out"), Json(rows.toMap))
    }
    spark.stop()
  }

  private def attempt(body: => String): String =
    try body catch { case e: Throwable => "error: " + reason(e) }

  def setup(nproc: Int, work: String): (SparkSession, Double, Double) = {
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // the timed plans are the sketch-only ones, as in graft.Bench
    spark.conf.set("graft.sketch.selfcheck", "false")
    SparkEntry.queries.size // the program's own one-time initialization
    val t1 = System.nanoTime()
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val t2 = System.nanoTime()
    (spark, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
  }

  def write(path: String, text: String): Unit = {
    val w = new PrintWriter(new File(path), "UTF-8")
    try w.println(text) finally w.close()
  }

  def reason(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage))
      .linesIterator.nextOption().getOrElse("").take(300)

  /** Order-insensitive output digest: `rows:sum-of-row-hashes:schema`.
    * Columns are renamed by position (gate outputs may repeat a name)
    * and maps are made hashable in a canonical entry order. */
  def digest(df: DataFrame): String = {
    val fields = df.schema.fields
    val named = df.toDF(fields.indices.map("c" + _): _*)
    val cols = fields.indices.map(i => canon(col("c" + i), fields(i).dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))))
      .collect()(0)
    val total = Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")
    val schema = fields.map(f => f.name + " " + f.dataType.simpleString)
      .mkString(",")
    s"${r.getLong(0)}:$total:${sha1(schema).take(12)}"
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  private def canon(c: Column, t: DataType): Column = t match {
    case m: MapType if !hasMap(m.keyType) && !hasMap(m.valueType) =>
      array_sort(map_entries(c))
    case other if hasMap(other) => to_json(c)
    case _ => c
  }

  def sha1(s: String): String =
    java.security.MessageDigest.getInstance("SHA-1")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Fingerprint of the final executed plan (its pre-order node names,
    * descending into adaptive query stages, expression ids blanked) and
    * its number of exchanges. */
  def planShape(p: SparkPlan): (String, Int) = {
    val lines = Seq.newBuilder[String]
    var exchanges = 0
    def walk(n: SparkPlan, depth: Int): Unit = n match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth)
      case q: QueryStageExec => walk(q.plan, depth)
      case _ =>
        if (n.isInstanceOf[ShuffleExchangeLike] || n.isInstanceOf[BroadcastExchangeLike])
          exchanges += 1
        lines += ("  " * depth) + n.nodeName.replaceAll("#\\d+", "#")
        n.children.foreach(walk(_, depth + 1))
    }
    walk(p, 0)
    (sha1(lines.result().mkString("\n")).take(16), exchanges)
  }
}

/** Per-job record kept by [[JobTrace]]. */
final class JobRec(val id: Int, val group: String, val start: Long) {
  var end = -1L
  var ok = true
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var inputB = 0L
  var shuffleWriteB = 0L
  var spillB = 0L
  var peakMemB = 0L
  var gcMs = 0L
}

/** Attributes every Spark job, and the metrics of its tasks, to the job
  * group the harness set for the gate phase that started it. */
final class JobTrace extends SparkListener {
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobs(e.jobId) = new JobRec(e.jobId, g, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.inputB += m.inputMetrics.bytesRead
        j.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        j.spillB += m.diskBytesSpilled
        j.peakMemB = math.max(j.peakMemB, m.peakExecutionMemory)
        j.gcMs += m.jvmGCTime
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }

  /** Wait (untimed, between passes) until every started job has ended,
    * so its task metrics are in. */
  def drain(timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (synchronized(jobs.valuesIterator.exists(_.end < 0)) &&
        System.currentTimeMillis() < deadline) Thread.sleep(5)
  }

  def take(): Seq[JobRec] = synchronized {
    val all = jobs.values.toSeq
    jobs.clear(); stageJob.clear()
    all
  }
}

/** Captures the final plan of every `noop` write the harness issues. */
final class PlanTrace extends QueryExecutionListener {
  @volatile var seen = 0L
  @volatile var last: (String, Int) = null

  private def isNoopWrite(qe: QueryExecution): Boolean = qe.logical match {
    case w: V2WriteCommand => w.table match {
      case r: DataSourceV2Relation => r.table.getClass.getName.contains("Noop")
      case _ => false
    }
    case _ => false
  }

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    if (isNoopWrite(qe)) {
      last = Harness.planShape(qe.executedPlan)
      seen += 1
    }

  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    if (isNoopWrite(qe)) { last = null; seen += 1 }

  def await(n: Long, timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (seen < n && System.currentTimeMillis() < deadline) Thread.sleep(2)
  }
}

/** One `mode=run` invocation. */
final class Run(spark: SparkSession, args: Map[String, String]) {
  private val data = args("data")
  private val gates = args("gates").split(",").toSeq
  private val seed = args("seed").toLong
  private val seconds = args("seconds").toDouble
  private val traced = args("trace") == "1"
  private val sc = spark.sparkContext
  private val rng = new scala.util.Random(seed)
  private val jobTrace = new JobTrace
  private val planTrace = new PlanTrace
  private var callId = 0
  private val calls = Seq.newBuilder[Map[String, Any]]
  private val passes = Seq.newBuilder[Map[String, Any]]
  private val jobs = Seq.newBuilder[Map[String, Any]]
  private val digests = mutable.Map[String, String]()

  private def listen(on: Boolean): Unit =
    if (on) {
      sc.addSparkListener(jobTrace)
      spark.listenerManager.register(planTrace)
    } else {
      sc.removeSparkListener(jobTrace)
      spark.listenerManager.unregister(planTrace)
    }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  /** One timed gate call; phase boundaries in epoch ms for job overlap. */
  private def call(pass: Int, idx: Int, gate: String, trace: Boolean,
      verify: Boolean): Double = {
    callId += 1
    val id = callId
    val ms = new Array[Long](4)
    val ns = new Array[Long](4)
    def mark(i: Int, phase: String): Unit = {
      ns(i) = System.nanoTime(); ms(i) = System.currentTimeMillis()
      if (phase != null) sc.setJobGroup(s"$id|$phase", gate)
    }
    var phases: Map[String, Double] = Map.empty
    var err: String = null
    var planEvents = -1L
    var df: DataFrame = null
    mark(0, "construct")
    try {
      df = SparkEntry.queries(gate)(spark, data)
      mark(1, "plan")
      val qe = df.queryExecution
      qe.executedPlan
      mark(2, "exec")
      phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs / 1e3 }
      planEvents = planTrace.seen
      df.write.mode("overwrite").format("noop").save()
      mark(3, null)
    } catch {
      case e: Throwable =>
        err = Harness.reason(e)
        for (i <- 1 to 3 if ns(i) == 0L) { ns(i) = System.nanoTime(); ms(i) = System.currentTimeMillis() }
    }
    sc.clearJobGroup()
    // between gates, untimed: plan capture, the output check (the same
    // result executed again into a digest), then free what the gate left
    // persisted (as graft.Bench does), counting it first
    var plan: (String, Int) = null
    if (trace && planEvents >= 0) {
      planTrace.await(planEvents + 1, 5000)
      plan = planTrace.last
    }
    if (verify) digests(gate) =
      if (err != null) "error: " + err
      else try Harness.digest(df) catch { case e: Throwable => "error: " + Harness.reason(e) }
    val leaked = sc.getPersistentRDDs.size
    sc.getPersistentRDDs.valuesIterator.foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
    val wall = (ns(3) - ns(0)) / 1e9
    calls += Map(
      "pass" -> pass, "idx" -> idx, "gate" -> gate, "id" -> id,
      "traced" -> trace, "ok" -> (err == null), "error" -> err,
      "s" -> wall,
      "construct_s" -> (ns(1) - ns(0)) / 1e9,
      "plan_s" -> (ns(2) - ns(1)) / 1e9,
      "exec_s" -> (ns(3) - ns(2)) / 1e9,
      "ms" -> ms.toSeq, "phases" -> phases, "leaked_rdds" -> leaked,
      "plan_fp" -> Option(plan).map(_._1), "exchanges" -> Option(plan).map(_._2))
    wall
  }

  private var passCount = 0
  private def pass(kind: String, trace: Boolean, verify: Boolean = false): Double = {
    val n = passCount
    passCount += 1
    if (trace) listen(true)
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcMs
    val order = rng.shuffle(gates)
    // the pass time is the client's work: the sum of its gate calls,
    // without the harness's bookkeeping between them
    val wall = order.zipWithIndex.map { case (g, i) => call(n, i, g, trace, verify) }.sum
    val gc = (gcMs - gc0) / 1e3
    val heapPeak = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
    if (trace) {
      jobTrace.drain(10000)
      listen(false)
      jobTrace.take().foreach { j =>
        jobs += Map("pass" -> n, "job" -> j.id, "group" -> j.group,
          "start" -> j.start, "end" -> j.end, "ok" -> j.ok,
          "tasks" -> j.tasks, "run_ms" -> j.runMs, "cpu_ns" -> j.cpuNs,
          "input_b" -> j.inputB, "shuffle_write_b" -> j.shuffleWriteB,
          "spill_b" -> j.spillB, "peak_mem_b" -> j.peakMemB,
          "gc_ms" -> j.gcMs)
      }
    }
    System.err.println(f"[harness] pass $n ($kind${if (trace) ", traced" else ""}): $wall%.3f s")
    passes += Map("pass" -> n, "kind" -> kind, "traced" -> trace,
      "s" -> wall, "order" -> order, "jvm_gc_s" -> gc,
      "heap_peak_mb" -> heapPeak)
    wall
  }

  def apply(): Map[String, Any] = {
    // cold pass: first in this JVM, so it pays JIT and codegen warm-up
    pass("cold", trace = false)
    // two settling passes let JIT compilation progress before the warm
    // passes are timed; between the calls of the first, untimed, the
    // outputs are checked
    pass("settle", trace = false, verify = true)
    pass("settle", trace = false)
    // warm passes until `seconds` have elapsed, and at least five with at
    // least eleven gate calls, so the latency tail has ten calls beyond
    // it; a traced run alternates traced and untraced passes, so the
    // tracing overhead is measured in the same JVM
    val minPasses = math.max(5, (11 + gates.size - 1) / gates.size)
    val t0 = System.nanoTime()
    var n = 0
    while (n < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      n += 1
      pass("warm", trace = traced && n % 2 == 1)
    }
    val measured = (System.nanoTime() - t0) / 1e9
    val kernels = if (traced) new KernelTimings(spark, data, seed)
        .apply(args("kernels").split(",").toSeq.filter(_.nonEmpty))
      else Map.empty[String, Any]
    Map("calls" -> calls.result(), "passes" -> passes.result(),
      "jobs" -> jobs.result(), "digests" -> digests,
      "measured_s" -> measured, "kernels" -> kernels,
      "spark_version" -> spark.version,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1e6,
      "nproc" -> Runtime.getRuntime.availableProcessors)
  }
}

/** ns/row of `graft.functions.Kernels` methods, called directly after JIT
  * warm-up on rows loaded once (untimed) from the benchmark's documents
  * and lineitem inputs, with the parameters the gates pass. The images
  * and videos are synthesized from document ids the way the image and
  * video gates build theirs. */
final class KernelTimings(spark: SparkSession, data: String, seed: Long) {
  private var sink = 0L

  private lazy val docs: Array[(Long, String)] = {
    val rows = spark.read.parquet(s"$data/documents.parquet")
      .select("doc_id", "text").where("text is not null").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val k = (math.abs(seed) % rows.length).toInt
    rows.drop(k) ++ rows.take(k)
  }
  private lazy val texts = docs.map(d => UTF8String.fromString(d._2))
  private lazy val sets = texts.map(Kernels.shingleSet(_, 3))
  private lazy val images = docs.take(256).map(d =>
    Multimodal.encodeGrayPng(Multimodal.synthGray(d._1, 18, 16, 1019L), 18, 16))
  private lazy val videos = docs.take(64).map(d => Multimodal.synthesizeMp4WithFrames(
    (0 until 4).map(f => Multimodal.encodeGrayPng(
      Multimodal.synthGray(d._1 * 16L + f, 18, 16, 3037L), 18, 16))))
  private lazy val lineitem = spark.read.parquet(s"$data/lineitem.parquet")
    .select(col("l_partkey").cast("long"), col("l_quantity").cast("double"))
    .limit(100000).collect()
  private lazy val partkeys = lineitem.map(_.getLong(0))
  private lazy val quantities = lineitem.map(_.getDouble(1))
  private val borders = ArrayData.toArrayData(Array(10.0, 20.0, 30.0, 40.0))

  private def time(rows: => Int)(one: Int => Long): Double = {
    val n = rows
    def sweep(): Unit = { var i = 0; while (i < n) { sink += one(i); i += 1 } }
    val warm = System.nanoTime()
    while (System.nanoTime() - warm < 200000000L) sweep()
    val reps = (0 until 5).map { _ =>
      var done = 0L
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 40000000L) { sweep(); done += n }
      (System.nanoTime() - t0).toDouble / done
    }.sorted
    reps(reps.size / 2)
  }

  private def measure(kernel: String): Double = kernel match {
    case "repetitionSignals" => time(texts.length)(i => Kernels.repetitionSignals(texts(i)).numElements())
    case "jaccardSorted" => time(sets.length)(i => java.lang.Double.doubleToLongBits(
      Kernels.jaccardSorted(sets(i), sets((i + 1) % sets.length))))
    case "dhash64" => time(images.length)(i => Kernels.dhash64(images(i)))
    case "videoFrameHashes" => time(videos.length)(i => Kernels.videoFrameHashes(videos(i)).numElements())
    case "sigridHash" => time(partkeys.length)(i => Kernels.sigridHash(partkeys(i), 0L, 1000L))
    case "bucketize" => time(quantities.length)(i => Kernels.bucketize(quantities(i), borders))
  }

  def apply(kernels: Seq[String]): Map[String, Any] =
    Map("ns_per_row" -> kernels.map(k => k -> measure(k)).toMap, "sink" -> sink)
}

/** Minimal JSON writer for the harness output. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
