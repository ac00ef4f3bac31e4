package org.apache.spark.sql.execution.datasources.parquet.graftshim

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader}
import org.apache.spark.sql.types.StructType

/** Parquet schema inference without a Spark job. `spark.read.parquet`
  * infers through `ParquetFileFormat.mergeSchemasInParallel`, which
  * reads the chosen footer inside a one-task job; this reads the same
  * footer in the calling thread and converts it with the same
  * package-private code (`readSchema`: the Spark schema stored in the
  * file's key-value metadata, else the Parquet schema under the
  * session's conf — `nanosAsLong`, INT96, binary-as-string, NTZ
  * inference). Lives under Spark's parquet package purely for access.
  */
object FooterSchema {

  /** The data schema `spark.read.parquet(path).schema` reports for a
    * file or a directory of part-files, without merging. */
  def apply(spark: SparkSession, path: String): StructType =
    listed(spark, path)._2

  /** `spark.read.parquet(path)`, the same relation over the same files,
    * built from one listing of `path` and one footer read. The reader
    * lists the path twice (a glob and existence check, then its file
    * index) and infers the schema in a Spark job; here the schema and
    * the relation's files come from one snapshot of the directory. A
    * glob in `path` is not expanded. */
  def relation(spark: SparkSession, path: String): DataFrame = {
    val (index, schema) = listed(spark, path)
    val session = ClassicConversions.castToImpl(spark)
    session.baseRelationToDataFrame(HadoopFsRelation(index,
      index.partitionSchema, schema, None, new ParquetFileFormat,
      Map("path" -> path))(session))
  }

  /** `path`, qualified as the reader qualifies it, listed by Spark's
    * own file index (same hidden-file rules, the session's Hadoop conf;
    * partition columns stay the index's), and the nullable schema of
    * one footer: `_common_metadata`, else `_metadata`, else the first
    * data file in path order — the file Spark's non-merging inference
    * picks. */
  private def listed(spark: SparkSession,
      path: String): (InMemoryFileIndex, StructType) = {
    val conf =
      ClassicConversions.castToImpl(spark).sessionState.newHadoopConf()
    val root = new Path(path)
    val index = new InMemoryFileIndex(spark,
      Seq(root.getFileSystem(conf).makeQualified(root)), Map.empty, None)
    val files = index.allFiles().sortBy(_.getPath.toString)
    val summaries = Seq(PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE)
    val pick = summaries.flatMap(n => files.find(_.getPath.getName == n))
      .headOption
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
      .getOrElse(throw new java.io.FileNotFoundException(
        s"no parquet file at $path"))
    // a file that is not parquet fails here, naming the file
    val footer = new Footer(pick.getPath, ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(pick, conf), SKIP_ROW_GROUPS))
    // one footer in, so always Some; nullable like every file relation
    (index, ParquetFileFormat.readSchema(Seq(footer), spark).get.toNullable)
  }
}
