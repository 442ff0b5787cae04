package graft.kg

import graft.SparkSpec
import java.nio.file.{Files, Paths}

/** Incremental (Structured Streaming, Trigger.AvailableNow) KG
  * construction: streaming accumulation over arriving page segments must
  * equal the one-shot batch run row-for-row, and the checkpoint must give
  * exactly-once file-level processing across invocations. */
class KgStreamingSpec extends SparkSpec {
  import spark.implicits._

  /** (CacheManager entries, persistent RDDs) of the session: a batch that
    * leaves either behind grows them from one batch to the next. The entry
    * list is private to the CacheManager, so it is read by reflection. */
  private def caches(): (Int, Int) = {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val f = cm.getClass.getDeclaredField("cachedData")
    f.setAccessible(true)
    (f.get(cm).asInstanceOf[Seq[_]].size,
      spark.sparkContext.getPersistentRDDs.size)
  }

  private def edgeSet(df: org.apache.spark.sql.DataFrame) =
    df.select("url", "subject", "predicate", "object", "inferred")
      .as[(String, String, String, String, String)].collect().toSet

  test("two arriving segments == one batch run; rerun is exactly-once") {
    val corpus = SyntheticCorpus.generate(nPages = 80, seed = 42L)
    val dicts = Pipeline.dictsFromCorpus(spark, corpus)
    val pagesDir = Files.createTempDirectory("kg_stream_pages").toString
    val outDir = Files.createTempDirectory("kg_stream_out").toString
    val ckpt = Files.createTempDirectory("kg_stream_ckpt").toString

    // segment 1 arrives
    spark.createDataset(corpus.pages.take(50)).repartition(2)
      .write.mode("append").parquet(pagesDir)
    val b1 = StreamingPipeline.runAvailableNow(
      spark, pagesDir, dicts, outDir, ckpt)
    assert(b1 >= 1)
    val afterSeg1 = edgeSet(spark.read.parquet(s"$outDir/kg_edges"))
    assert(afterSeg1.nonEmpty)
    val cachedAfterSeg1 = caches()

    // rerun with nothing new: checkpoint skips all seen files
    StreamingPipeline.runAvailableNow(spark, pagesDir, dicts, outDir, ckpt)
    assert(edgeSet(spark.read.parquet(s"$outDir/kg_edges")) == afterSeg1)

    // segment 2 arrives; only the new files are processed
    spark.createDataset(corpus.pages.drop(50)).repartition(2)
      .write.mode("append").parquet(pagesDir)
    StreamingPipeline.runAvailableNow(spark, pagesDir, dicts, outDir, ckpt)
    // each batch releases what it cached; the link artifacts it reuses
    // were built once, by the first invocation
    assert(caches() == cachedAfterSeg1,
      "a micro-batch left cache entries or persisted RDDs behind")

    // streaming accumulation == one-shot batch run over all 80 pages
    val batch = Pipeline.run(spark,
      spark.createDataset(corpus.pages).repartition(4), dicts)
    assert(edgeSet(spark.read.parquet(s"$outDir/kg_edges")) ==
      edgeSet(batch.edges))
    // nodes accumulated for every page's entities too
    assert(spark.read.parquet(s"$outDir/kg_nodes").count() ==
      batch.nodes.count())

    // sink idempotency under foreachBatch REPLAY (crash between the table
    // writes and the checkpoint commit re-runs the batch): re-writing a
    // batch's partition overwrites, never duplicates
    val before = edgeSet(spark.read.parquet(s"$outDir/kg_edges"))
    val replayed = spark.read.parquet(s"$outDir/kg_edges")
      .filter($"batch_id" === 0).drop("batch_id").localCheckpoint(true)
    replayed.write.mode("overwrite").parquet(s"$outDir/kg_edges/batch_id=0")
    assert(edgeSet(spark.read.parquet(s"$outDir/kg_edges")) == before)

    // corpus-level statistics: per-segment metric rows are NOT additive —
    // the documented recompute over the accumulated tables must equal the
    // one-shot batch run's stats rows
    def statRows(df: org.apache.spark.sql.DataFrame) =
      df.filter($"stage" === "stats").select("metric", "key", "value")
        .as[(String, String, Double)].collect().toSet
    // the batches' kg_metrics partitions carry no statistics rows, and
    // corpusMetrics needs no node or edge row: it finishes the batches'
    // kg_stats_state partitions
    assert(spark.read.parquet(s"$outDir/kg_metrics")
      .filter($"stage" === "stats").count() == 0)
    for (t <- Seq("kg_nodes", "kg_edges")) {
      val files = Files.walk(Paths.get(outDir, t))
      try files.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => Files.delete(p))
      finally files.close()
    }
    assert(statRows(StreamingPipeline.corpusMetrics(spark, outDir)) ==
      statRows(batch.metrics))
    batch.release()
  }
}
