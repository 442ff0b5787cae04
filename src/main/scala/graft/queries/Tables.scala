package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet table access for the driver-provided test tables (TESTDATA.md). */
object Tables {
  /** File schema per SparkSession and path. Inferring it starts a Spark
    * job on every `spark.read.parquet`, and a query build reads a table up
    * to twice; these tables are input only, never rewritten while a
    * session runs, so each is inferred once. */
  private val schemas = new java.util.HashMap[(SparkSession, String), StructType]()

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = schemas.synchronized {
      schemas.keySet.removeIf(_._1.sparkContext.isStopped)
      schemas.computeIfAbsent((spark, path), _ => spark.read.parquet(path).schema)
    }
    spark.read.schema(schema).parquet(path)
  }
}
