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

  /** The sorted gate names that start with one of `prefixes`, or every
    * gate name when there are none. Fails naming each prefix that
    * matches no gate, so a mistyped prefix cannot select nothing. */
  def select(prefixes: Seq[String]): Seq[String] = {
    val names = queries.keys.toSeq.sorted
    val unmatched = prefixes.filterNot(p => names.exists(_.startsWith(p)))
    require(unmatched.isEmpty,
      s"no gate name starts with ${unmatched.mkString(", ")}")
    if (prefixes.isEmpty) names
    else names.filter(n => prefixes.exists(n.startsWith))
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    GateFamily.gates.flatMap(g => g.oracle.map(g.name -> _)).toMap
}
