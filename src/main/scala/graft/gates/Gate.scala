package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One gate of [[SparkEntry.queries]]: a named DataFrame builder over a
  * table directory, and the DuckDB SQL that must reproduce its rows.
  *
  * @param oracle ANSI SQL runnable by DuckDB on the same parquet tables,
  *   with IDENTICAL output column names; None where the operator has no
  *   SQL form (it then proves itself with in-query checks).
  * @param eager why building the gate runs Spark jobs (a stream drain, a
  *   staged write, a driver pull, an iterative checkpoint loop). None
  *   means building it only builds a plan, and `GateTableSpec` checks
  *   that it starts no job.
  */
final case class Gate(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None,
    eager: Option[String] = None)

/** The gates of one operator family, one file under `gates/`. Adding a
  * gate is adding one row to its family's `gates`.
  *
  * Every gate is written for scale: filters and projections push to the
  * parquet scan, small dimensions are broadcast, aggregates are partial
  * and final hash aggregates, and every output is deterministically
  * ordered. Float-safety convention for the oracle compare: per-row
  * arithmetic is written with the identical IEEE expression on both
  * sides (bit-exact); order-dependent SUMs are exact, computed over the
  * DECIMAL(25,4) unscaled longs of the values (`dsum`, which the oracle
  * writes as a SUM over a DECIMAL(25,4) cast); AVG/STDDEV are rounded
  * to a tolerance far above fp noise.
  */
abstract class GateFamily(val name: String) {
  def gates: Seq[Gate]
}

object GateFamily {

  val all: Seq[GateFamily] = Seq(RelationalGates, FeatureGates, TextGates,
    DedupGates, RetrievalGates, MediaGates, StreamingGates, GraphGates,
    FormatGates, LmPrepGates)

  /** Every gate of every family; a name may be declared only once. */
  lazy val gates: Seq[Gate] = {
    val gs = all.flatMap(_.gates)
    val twice = gs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(twice.isEmpty, s"gates declared twice: ${twice.mkString(", ")}")
    gs
  }
}
