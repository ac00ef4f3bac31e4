package graft

import org.apache.spark.sql.functions._

/** Pins for the q198-q200 gate family: the decorrelation count-bug and
  * the Q5 broadcast-plan contract.
  */
class Queries20Spec extends SparkSpec {
  import spark.implicits._

  test("q198 correlated COUNT over no rows is 0, not NULL (the " +
      "decorrelation count-bug)") {
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .createOrReplaceTempView("q20s_l")
    Seq((1L, 10L)).toDF("k", "x").createOrReplaceTempView("q20s_r")
    val rows = spark.sql(
      """SELECT k,
        |  (SELECT count(*) FROM q20s_r r WHERE r.k = l.k) AS n,
        |  (SELECT max(x) FROM q20s_r r WHERE r.k = l.k) AS mx
        |FROM q20s_l l ORDER BY k""".stripMargin).collect()
    assert(rows(0).getLong(1) == 1L && rows(0).getLong(2) == 10L)
    // the empty group: COUNT must be 0, MAX must be NULL
    assert(rows(1).getLong(1) == 0L)
    assert(rows(1).isNullAt(2))
  }

  test("q199 plan broadcasts all three dimension chains") {
    // the in-gate require already enforces this; pin it as a spec so
    // a plan regression fails fast in CI, not only at verify time
    RelationalGates.q199TpchQ5(spark, "/root/testdata/sf0.001")
      .collect() // executes the require inside the gate
  }
}
