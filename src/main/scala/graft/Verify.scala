package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for a DuckDB compare (`tools/check_oracle.py`).
  * Closes with a summary that lists each gate that failed, with its
  * reason. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, prefixes @ _*) = args
    // optional name-prefix filter (local iteration); the driver passes
    // exactly (sfDir, outDir) and gets the full dump
    val names = SparkEntry.select(prefixes)
    val spark = GraftSession(GraftSession.hostCores)
    new java.io.File(outDir).mkdirs()
    val failures = names.flatMap { name =>
      try {
        SparkEntry.queries(name)(spark, sfDir).coalesce(1).write
          .mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        val reason = innermostMessage(e)
        System.err.println(s"[verify] $name failed: $reason")
        Some(name -> reason)
      }
    }
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => names.contains(k) }
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    println(s"[verify] ${names.size - failures.size} of ${names.size} " +
      s"gates written, ${failures.size} failed")
    failures.sortBy(_._1).foreach { case (name, reason) =>
      println(s"[verify] FAILED $name: $reason")
    }
  }
}
