package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.{Dataset => ClassicDataset,
  SparkSession => ClassicSession}
import org.apache.spark.sql.execution.CachedData

/** What a session holds cached: its CacheManager entries, and the RDDs its
  * SparkContext holds persisted. */
object CacheState {

  private def cacheManager(spark: SparkSession) =
    spark.asInstanceOf[ClassicSession].sharedState.cacheManager

  /** The CacheManager entries. The list is private to the CacheManager,
    * so it is read by reflection. */
  def entries(spark: SparkSession): Seq[CachedData] = {
    val cm = cacheManager(spark)
    val f = cm.getClass.getDeclaredField("cachedData")
    f.setAccessible(true)
    f.get(cm).asInstanceOf[Seq[CachedData]]
  }

  /** Persisted RDDs by id. Spark holds them weakly, so a GC can drop an
    * unreferenced one between two reads: compare the ids that appear,
    * not the counts. */
  def persisted(spark: SparkSession): Map[Int, RDD[_]] =
    spark.sparkContext.getPersistentRDDs.toMap

  /** The cached RDD behind a persisted DataFrame. */
  def rddOf(spark: SparkSession, df: DataFrame): RDD[_] =
    cacheManager(spark).lookupCachedData(df.asInstanceOf[ClassicDataset[_]])
      .getOrElse(throw new NoSuchElementException("the DataFrame is not cached"))
      .cachedRepresentation.cacheBuilder.cachedColumnBuffers

  /** Id, class, name and lineage of an RDD, for a failure message. */
  def describe(rdd: RDD[_]): String =
    s"RDD ${rdd.id} ${rdd.getClass.getName} name=${rdd.name}\n${rdd.toDebugString}"
}
