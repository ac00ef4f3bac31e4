package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7.
  *
  * Every entry in `queries` is one gate of [[GateFamily.gates]]: an
  * operator family from SURVEY.md §2 or an LLM-pipeline extension.
  * Entries with a DuckDB-expressible oracle also appear in `oracleSql`
  * with IDENTICAL output column names.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalGates.q01GroupbyAgg(spark, "/root/testdata/sf0.001")

  /** One entry per gate. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    GateFamily.gates.map(g => g.name -> g.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    GateFamily.gates.flatMap(g => g.oracle.map(g.name -> _)).toMap
}
