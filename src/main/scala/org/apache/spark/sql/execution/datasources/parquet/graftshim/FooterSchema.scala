package org.apache.spark.sql.execution.datasources.parquet.graftshim

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE}
import org.apache.spark.SparkException
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.ClassicConversions
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Parquet schema inference without a Spark job. `spark.read.parquet`
  * infers through `ParquetFileFormat.mergeSchemasInParallel`, which
  * reads the chosen footer inside a one-task job; this reads the same
  * footer on the driver and converts it with the same package-private
  * code (`readSchema`: the Spark schema stored in the file's key-value
  * metadata, else the Parquet schema under the session's conf —
  * `nanosAsLong`, INT96, binary-as-string, NTZ inference). Lives under
  * Spark's parquet package purely for access.
  */
object FooterSchema {

  /** The data schema `spark.read.parquet(path).schema` reports for a
    * file or a directory of part-files, without merging: the footer of
    * `_common_metadata`, else `_metadata`, else the first data file in
    * path order — the file Spark's non-merging inference picks. Paths
    * are listed by Spark's own file index (same hidden-file rules, the
    * session's Hadoop conf); partition columns stay the reader's. */
  def apply(spark: SparkSession, path: String): StructType = {
    val files =
      new InMemoryFileIndex(spark, Seq(new Path(path)), Map.empty, None)
        .allFiles().sortBy(_.getPath.toString)
    val summaries = Seq(PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE)
    val pick = summaries.flatMap(n => files.find(_.getPath.getName == n))
      .headOption
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
      .getOrElse(throw new java.io.FileNotFoundException(
        s"no parquet file at $path"))
    val conf =
      ClassicConversions.castToImpl(spark).sessionState.newHadoopConf()
    val footers =
      try ParquetFileFormat.readParquetFootersInParallel(
        conf, Seq(pick), ignoreCorruptFiles = false)
      catch { // unwrap the thread pool's awaitResult: the cause names the file
        case e: SparkException if e.getCause != null => throw e.getCause
      }
    // one footer in, so always Some; nullable like every file relation
    ParquetFileFormat.readSchema(footers, spark).get.toNullable
  }
}
