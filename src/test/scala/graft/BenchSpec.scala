package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.Bench.{Bands, Sample}

/** The bench's report: pair-min over the passes that succeeded, failed
  * gates listed and kept out of the ratios, the band summary, and the
  * one result line with the driver contract. */
class BenchSpec extends SparkSpec {

  // the sf0.01 tables committed with the benchmark, inside the repository
  private val dir = "perfbench/data/sf0.01"
  private val mapper = new ObjectMapper()

  private def names(n: JsonNode): Seq[String] =
    n.elements().asScala.map(_.asText).toSeq

  test("the report takes pair-min over successful passes and keeps " +
      "failed gates out of the ratios") {
    val samples = Seq(
      "a" -> Sample(2.0, 1.0),
      // failed fast in pass 1: its 0.1 s is a time-to-exception
      "b" -> Sample(0.1, 3.0, failure1 = Some("boom")),
      "c" -> Sample(0.2, 0.3, Some("first"), Some("second")),
      "d" -> Sample(0.5, 0.4))
    val bands = Bands("sf0.01", Some(32),
      Map("a" -> 0.4, "b" -> 3.0, "c" -> 0.01))
    val r = Bench.report(dir, None, samples, Some(bands), "run")
    assert(r("queries") === Map("a" -> 1.0, "b" -> 3.0, "c" -> 0.2,
      "d" -> 0.4))
    assert(r("failed").asInstanceOf[Iterable[String]].toSeq === Seq("b", "c"))
    assert(r("failure_reasons") === Map("b" -> "boom", "c" -> "first"))
    // c failed in both passes: no ratio, and not listed as unbanded
    assert(r("band_ratios") === Some(Map("a" -> 2.5, "b" -> 1.0)))
    assert(r("no_band") === Some(Seq("d")))
    assert(r("over_2x").asInstanceOf[Option[Iterable[String]]]
      .map(_.toSeq) === Some(Seq("a")))
    // two ratios: the median is the mean of the middle pair
    assert(r("band_median") === Some(1.75))
    assert(r("band_nproc") === Some(32))
    assert(math.abs(r("value").asInstanceOf[Double] - 4.6) < 1e-9)

    val unbanded = Bench.report(dir, None, samples, None, "run")
    assert(unbanded("band_median") === None)
    assert(unbanded("over_2x") === None)
  }

  test("the median of an even count is the mean of the middle pair") {
    assert(Bench.median(Seq(4.0, 1.0, 3.0, 2.0)) === Some(2.5))
    assert(Bench.median(Seq(3.0, 1.0, 2.0)) === Some(2.0))
    assert(Bench.median(Nil) === None)
  }

  test("a two-gate bench prints one JSON line with the driver contract") {
    val gates = Seq("q01_groupby_agg", "q02_filter_project")
    val tmp = Files.createTempDirectory("bench-spec")
    val bands = tmp.resolve("bands.json")
    // q01's band is far below any real time, q02's far above
    Files.writeString(bands,
      """{"sf0.01": {"nproc": 32, "q01_groupby_agg": 0.000001,""" +
        """ "q02_filter_project": 1000000.0}}""")
    val artifact = tmp.resolve("artifact.json")
    val selfcheck = spark.conf.getOption("graft.sketch.selfcheck")
    val line = Bench.run(spark, dir, Some(gates), bands.toString,
      Some(artifact.toString))
    assert(spark.conf.getOption("graft.sketch.selfcheck") === selfcheck)

    assert(!line.contains("\n"))
    val out = mapper.readTree(line)
    val keys = out.fieldNames().asScala.toSet
    assert(Set("metric", "value", "unit", "queries", "sf").subsetOf(keys))
    assert(keys.forall(k => !k.contains("canary") && !k.startsWith("env_")))
    assert(out.get("metric").asText === "pair_min_total")
    assert(out.get("unit").asText === "sec")
    assert(out.get("sf").asText === dir)
    assert(out.get("queries").fieldNames().asScala.toSeq === gates)
    assert(names(out.get("failed")).isEmpty)
    assert(names(out.get("over_2x")) === Seq("q01_groupby_agg"))
    assert(out.get("band_nproc").asInt === 32)
    assert(out.get("nproc").asInt === Runtime.getRuntime.availableProcessors)
    assert(out.get("subset").asBoolean)
    assert(out.get("artifact").asText === artifact.toString)

    val full = mapper.readTree(artifact.toFile)
    val ratios = full.get("band_ratios").properties().asScala
      .map(_.getValue.asDouble).toSeq
    assert(ratios.size === 2)
    assert(full.get("band_median").asDouble === ratios.sum / 2)
    gates.foreach { g =>
      val s = full.get("queries").get(g).asDouble
      assert(out.get("queries").get(g).asDouble === math.rint(s * 1000) / 1000)
      assert(s === math.min(full.get("queries_s1").get(g).asDouble,
        full.get("queries_s2").get(g).asDouble))
    }
  }

  test("a gate-name prefix that matches no gate fails the selection") {
    val all = SparkEntry.select(Nil)
    assert(all === SparkEntry.queries.keys.toSeq.sorted)
    assert(SparkEntry.select(Seq("q01_")) === Seq("q01_groupby_agg"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Seq("q01_", "qzz")))
    assert(e.getMessage.contains("qzz"))
  }
}
