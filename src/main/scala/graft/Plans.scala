package graft

/** Prints formatted physical plans for key queries — the scale review
  * loop: confirm PushedFilters / ReadSchema pruning, broadcast joins,
  * partial aggregation, and WholeStageCodegen coverage.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession(GraftSession.hostCores)
    val dir = "/root/testdata/sf0.001"
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q02_filter_project", "q03_join_agg", "q01_groupby_agg",
        "q40_minhash_lsh", "q50_knn_brute")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      println(SparkEntry.queries(n)(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
