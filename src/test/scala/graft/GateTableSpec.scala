package graft

import java.security.MessageDigest
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
import org.scalatest.BeforeAndAfterAll

/** The gate table, one case per gate, named `<family>/<gate>`. Each case
  * builds its gate and checks two contracts:
  *
  *  - the driver-hash contract: the correctness driver sorts every output
  *    column's cells with pandas and hashes canonical forms; numpy arrays
  *    (and structs/maps) are unsortable there and ERROR the row even when
  *    values are right (round-12 q151). So every output schema must be
  *    scalar-only, or carry an explicit allow-list reason;
  *  - the construction contract: a gate with no `eager` reason starts no
  *    Spark job while it is built (table loads read a parquet footer on
  *    the driver), and a gate that declares one does start a job.
  *
  * Jobs are counted between two marker jobs, whatever their job group:
  * streaming queries run their micro-batches under a group of their own. */
class GateTableSpec extends SparkSpec with BeforeAndAfterAll {

  // the sf0.01 tables committed with the benchmark, inside the repository
  private val dir = "perfbench/data/sf0.01"

  // name -> reason; empty today, and adding to it should hurt: an
  // allow-listed gate is invisible to the driver's hard signal
  private val allowNested: Map[String, String] = Map.empty

  /** The declared-eager gates. Lower it when a gate's eager step is
    * folded into its plan; never raise it. */
  private val maxEager = 98

  private val Marker = "gate-table-spec-marker"
  private val started = new LinkedBlockingQueue[String]()
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      started.add(Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse(""))
  }

  override def beforeAll(): Unit = spark.sparkContext.addSparkListener(listener)
  override def afterAll(): Unit = spark.sparkContext.removeSparkListener(listener)

  private def marker(): Unit = {
    val sc = spark.sparkContext
    sc.setJobDescription(Marker)
    try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
  }

  /** `body`'s value and the number of Spark jobs started while it ran. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    started.clear()
    marker()
    val t = body
    marker()
    // listener events arrive in order: once the second marker is seen,
    // every job started before it has been seen too
    val seen = ArrayBuffer[String]()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (seen.count(_ == Marker) < 2 && System.nanoTime() < deadline)
      Option(started.poll(10, TimeUnit.MILLISECONDS)).foreach(seen += _)
    assert(seen.count(_ == Marker) === 2, "marker jobs not seen")
    (t, seen.dropWhile(_ != Marker).drop(1).takeWhile(_ != Marker).size)
  }

  for (family <- GateFamily.all; gate <- family.gates)
    test(s"${family.name}/${gate.name}") {
      val (df, jobs) = jobsDuring(gate.build(spark, dir))
      if (!allowNested.contains(gate.name)) {
        val nested = df.schema.fields.collect {
          case f if f.dataType.isInstanceOf[ArrayType] ||
            f.dataType.isInstanceOf[MapType] ||
            f.dataType.isInstanceOf[StructType] => f.name
        }
        assert(nested.isEmpty, "non-scalar output columns (driver cannot " +
          s"hash): ${nested.mkString(", ")}")
      }
      gate.eager match {
        case None => assert(jobs === 0, s"$jobs Spark job(s) while built: " +
          "fold the work into the plan, or declare why in `eager`")
        case Some(why) => assert(jobs > 0,
          s"declared eager ($why) but started no job: drop the reason")
      }
    }

  test("declared-eager gates only ever get fewer") {
    val eager = GateFamily.gates.count(_.eager.isDefined)
    assert(eager <= maxEager, s"$eager gates declare an eager step")
  }

  private def sha256(lines: Seq[String]): String =
    MessageDigest.getInstance("SHA-256")
      .digest(lines.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  test("gate names and oracle SQL are those of the round-file registry") {
    assert(SparkEntry.queries.size === 298)
    assert(sha256(SparkEntry.queries.keys.toSeq.sorted) ===
      "94bc37e2d2a2020c46c623649d8cbbb011e0f2d72c38fb06e4cc1cbb1285bbf3")
    assert(SparkEntry.oracleSql.size === 281)
    assert(sha256(SparkEntry.oracleSql.toSeq.sorted
      .map { case (name, sql) => s"$name\t$sql" }) ===
      "26b4152a879a8b3d4cc242225a95bea07ffde68170a2dede9857ea023795802f")
  }
}
