package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{FloatType, StringType}

/** Synthesizes a larger scale factor from an existing one by stacking
  * `copies` key-shifted replicas of every fact table (region/nation
  * keep their TPC-H-style fixed cardinality). Referential integrity is
  * preserved per replica — every key column shifts by the same replica
  * offset, so joins land inside their replica and key cardinality
  * scales with the data. Two deliberate perturbations keep the scaled
  * corpus a meaningful workload for the self-checking queries:
  * documents get a per-replica suffix token (a realistic near-dup
  * corpus instead of a degenerate exact-copy one) and embeddings get
  * one deterministically shifted element per replica (replicas stay
  * non-parallel, so the planted-twin ANN checks keep a unique true
  * nearest neighbor). All shifted ids stay far below the 1e9
  * planted-fixture id space.
  *
  * Usage: runMain graft.ScaleUp [srcDir dstDir copies]
  */
object ScaleUp {
  private val OFF = 10000000L

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("bench-data/sf1.0")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = GraftSession(GraftSession.hostCores)

    val rep = spark.range(copies).select(col("id").as("__rep"))

    def replicate(name: String, keys: Seq[String],
        tweak: DataFrame => DataFrame = identity): Unit = {
      val df = Tables.parquet(spark, s"$src/$name.parquet")
      val stacked = df.crossJoin(broadcast(rep))
      val shifted = keys.foldLeft(stacked)((d, c) =>
        d.withColumn(c, col(c) + col("__rep") * OFF))
      tweak(shifted).drop("__rep")
        .repartition(16)
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scaleup] $name x$copies")
    }

    for (name <- Seq("region", "nation")) {
      Tables.parquet(spark, s"$src/$name.parquet")
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scaleup] $name x1 (dimension)")
    }

    replicate("customer", Seq("c_custkey"))
    replicate("supplier", Seq("s_suppkey"))
    replicate("part", Seq("p_partkey"))
    replicate("orders", Seq("o_orderkey", "o_custkey"))
    replicate("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    replicate("events", Seq("event_id", "user_id"))
    replicate("documents", Seq("doc_id"), d =>
      d.withColumn("text",
        when(col("__rep") === 0, col("text"))
          .otherwise(concat(col("text"), lit(" replicatoken"),
            col("__rep").cast(StringType)))))
    replicate("embeddings", Seq("vec_id"), d =>
      d.withColumn("embedding",
        when(col("__rep") === 0, col("embedding"))
          .otherwise(transform(col("embedding"), (x, i) =>
            when(i === pmod(col("__rep"), size(col("embedding")).cast("long"))
                .cast("int"),
              x + lit(0.05f) * col("__rep").cast(FloatType))
              .otherwise(x)))))
    spark.stop()
  }
}
