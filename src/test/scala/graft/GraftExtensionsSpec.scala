package graft

import java.util.ServiceLoader

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSessionExtensionsProvider
import org.apache.spark.sql.graftshim.Shim

import graft.operators.GraftExtensions
import graft.plans.{AsOfJoinStrategy, OneTaskSort, PrefixScanStrategy}

/** The graft extensions are a session-extensions service: Spark's
  * builder installs them, once, in every session it builds. */
class GraftExtensionsSpec extends SparkSpec {

  test("the service loader finds GraftExtensions") {
    val providers = ServiceLoader.load(classOf[SparkSessionExtensionsProvider])
      .asScala.toSeq
    assert(providers.count(_.isInstanceOf[GraftExtensions]) === 1,
      providers.map(_.getClass.getName))
  }

  test("a session and its new sessions plan both graft strategies, once") {
    for (s <- Seq(spark, spark.newSession())) {
      val strategies = Shim.plannerStrategies(s)
      assert(strategies.count(_ == AsOfJoinStrategy) === 1)
      assert(strategies.count(_ == PrefixScanStrategy) === 1)
      GraftExtensions.requireInstalled(s, "spec")
    }
  }

  test("a session and its new sessions run OneTaskSort at run time, once") {
    // GraftSession's builder names no extensions: the rule comes from
    // the service file, as in any plain builder's session
    assert(spark.conf.getOption("spark.sql.extensions").isEmpty)
    for (s <- Seq(spark, spark.newSession()))
      assert(Shim.runtimeOptimizerRules(s).count(_ == OneTaskSort) === 1)
  }
}
