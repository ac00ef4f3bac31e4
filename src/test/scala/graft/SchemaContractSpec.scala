package graft

import org.apache.spark.sql.types.{ArrayType, MapType, StructType}

/** The driver-hash contract, enforced at build time: the correctness
  * driver sorts every output column's cells with pandas and hashes
  * canonical forms — numpy arrays (and structs/maps) are unsortable
  * there and ERROR the row even when values are right (round-12 q151).
  * So every `SparkEntry.queries` output schema must be scalar-only,
  * or carry an explicit allow-list reason. Table loads take their
  * schema from a parquet footer on the driver (no jobs run), so
  * schema derivation is analysis-only for batch gates without eager
  * steps; gates with `localCheckpoint` loops or driver pulls, and
  * streaming gates, execute as they construct, which this spec
  * accepts as the price of covering them. */
class SchemaContractSpec extends SparkSpec {

  // name -> reason; empty today, and adding to it should hurt: an
  // allow-listed gate is invisible to the driver's hard signal
  private val allowNested: Map[String, String] = Map.empty

  test("every gate output schema is driver-hashable (scalar columns)") {
    val dir = "/root/testdata/sf0.001"
    val bad = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, _) if allowNested.contains(name) => Nil
      case (name, fn) =>
        val nested = fn(spark, dir).schema.fields.collect {
          case f if f.dataType.isInstanceOf[ArrayType] ||
            f.dataType.isInstanceOf[MapType] ||
            f.dataType.isInstanceOf[StructType] => f.name
        }
        if (nested.isEmpty) Nil else Seq(name -> nested.toSeq)
    }
    assert(bad.isEmpty,
      s"gates with non-scalar output columns (driver cannot hash): $bad")
  }
}
