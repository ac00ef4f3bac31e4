package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  import org.apache.spark.sql.{DataFrame, Row}

  /** collect a single column as a Seq (null-safe, arrays normalized to
    * immutable Lists so asInstanceOf[Seq[_]] comparisons work). */
  def col0(df: DataFrame): Seq[Any] =
    df.collect().toSeq.map(r => if (r.isNullAt(0)) null else norm(r.get(0)))

  /** (rows, Σ xxhash64 of each row) of a result, order-insensitive. */
  def digest(df: DataFrame): (Long, BigDecimal) = {
    import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
    val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.map(col): _*)
      .cast("decimal(38,0)"))).head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  private def norm(v: Any): Any = v match {
    case s: scala.collection.Seq[_] => s.toList.map(norm)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => norm(k) -> norm(x) }.toMap
    case other => other
  }
}

object SparkSpec {
  // a fixed 4 cores, whatever the host: partition counts, and so the
  // plans and shuffles the specs pin, do not depend on the machine
  lazy val session: SparkSession = GraftSession(4)
}
