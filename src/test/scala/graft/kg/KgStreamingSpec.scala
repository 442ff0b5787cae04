package graft.kg

import graft.{CacheState, SparkSpec}
import java.nio.file.{Files, Paths}

/** Incremental (Structured Streaming, Trigger.AvailableNow) KG
  * construction: streaming accumulation over arriving page segments must
  * equal the one-shot batch run row-for-row, and the checkpoint must give
  * exactly-once file-level processing across invocations. */
class KgStreamingSpec extends SparkSpec {
  import spark.implicits._

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
    // a batch that leaves a cache entry or a persisted RDD behind adds it
    // after this snapshot
    val entriesAfterSeg1 = CacheState.entries(spark).size
    val persistedAfterSeg1 = CacheState.persisted(spark).keySet

    // rerun with nothing new: checkpoint skips all seen files
    StreamingPipeline.runAvailableNow(spark, pagesDir, dicts, outDir, ckpt)
    assert(edgeSet(spark.read.parquet(s"$outDir/kg_edges")) == afterSeg1)

    // segment 2 arrives; only the new files are processed
    spark.createDataset(corpus.pages.drop(50)).repartition(2)
      .write.mode("append").parquet(pagesDir)
    StreamingPipeline.runAvailableNow(spark, pagesDir, dicts, outDir, ckpt)
    // each batch releases what it cached; the link artifacts it reuses
    // were built once, by the first invocation
    val entries = CacheState.entries(spark).size
    assert(entries == entriesAfterSeg1, "a micro-batch left cache entries behind")
    val added = CacheState.persisted(spark).filter { case (id, _) =>
      !persistedAfterSeg1(id) }
    assert(added.isEmpty, "a micro-batch left persisted RDDs behind:\n" +
      added.values.map(CacheState.describe).mkString("\n"))

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
