package graft

/** Executes named gate queries once and prints row count + head + wall
  * time — the single-query smoke loop (Verify runs everything; Plans
  * only explains). Usage: runMain graft.RunOne [sfDir] q85 q91 ... */
object RunOne {
  def main(args: Array[String]): Unit = {
    val (dir, names) =
      if (args.nonEmpty && args.head.startsWith("/"))
        (args.head, args.tail.toSeq)
      else ("/root/testdata/sf0.01", args.toSeq)
    val spark = GraftSession(GraftSession.hostCores)
    names.foreach { short =>
      // exact name wins; otherwise a prefix must be unambiguous (the
      // Map is unordered — "first match" would be hash-order roulette)
      val matches = SparkEntry.queries.keys.filter(_.startsWith(short))
        .toSeq.sorted
      val name =
        if (matches.contains(short)) short
        else if (matches.isEmpty) sys.error(s"no query matching '$short'")
        else if (matches.length > 1) sys.error(
          s"ambiguous prefix '$short': ${matches.mkString(", ")}")
        else matches.head
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, dir)
      val rows = df.count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"\n== $name: $rows rows in $sec%.2f s ==")
      df.show(5, truncate = 60)
    }
    spark.stop()
  }
}
