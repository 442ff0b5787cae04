package graft.kg

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** Incremental KG construction over an append-only pages directory —
  * SURVEY §2.12's "(if ever desired, `Trigger.AvailableNow` over the pages
  * table would reuse the same stage functions)" path, realized.
  *
  * New crawl segments land as parquet files under `pagesDir`; each
  * invocation processes exactly the files not yet seen (Structured
  * Streaming file-source checkpoint = the resume ledger, complementing the
  * batch manifest protocol of [[KgTables]]) and adds the resulting
  * node/edge/metric rows to the output tables. Each micro-batch runs the
  * unchanged batch stages (extract → link → relate, as [[Pipeline.run]])
  * via foreachBatch — valid because the edge/node output is a
  * per-document function (per-doc dedup, static dictionaries), so
  * streaming accumulation equals the one-shot batch run row-for-row
  * (KgStreamingSpec asserts this).
  *
  * Exactly-once END TO END, not just at the file-source ledger: foreachBatch
  * is re-executed on restart if a crash lands between the table writes and
  * the checkpoint commit, so each batch writes into its own
  * `batch_id=<id>` partition directory with OVERWRITE — the replayed batch
  * replaces its own partial output instead of appending a duplicate copy
  * (the batch stages are deterministic per input file set, so the rewrite
  * is byte-equivalent). Readers see `batch_id` as an ordinary partition
  * column via parquet partition discovery.
  *
  * Metrics caveat: a batch's kg_metrics partition holds only that batch's
  * run rows (its `link_plan` join decisions, under run_id=stream-N), no
  * statistics. Top-10s and percents are not additive — a top-10 of
  * per-batch top-10s is not the corpus top-10 — so each batch instead
  * writes the ADDITIVE statistics state of its nodes and edges
  * ([[Statistics.state]]: pass-1 sums and phase-1 (metric, key, sub)
  * counts) to its own `kg_stats_state/batch_id=<id>` partition, and
  * [[corpusMetrics]] finishes the union of those states into the corpus
  * statistics without rescanning any node or edge.
  *
  * At scale this is the "new segments arrive daily" entry: the dictionary
  * artifacts are prepared once per dictionary set ([[Pipeline.prepareLink]])
  * and reused across batches and invocations; per-batch work is
  * proportional to the new files only.
  */
object StreamingPipeline {

  /** Process all currently-unseen files under `pagesDir`, then stop
    * (Trigger.AvailableNow). Returns the number of micro-batches run. */
  def runAvailableNow(
      spark: SparkSession,
      pagesDir: String,
      dicts: Pipeline.Dicts,
      tablesRoot: String,
      checkpointDir: String,
      cfg: KgConfig = KgConfig.default,
      prepared: Option[Linking.Prepared] = None): Long = {
    import spark.implicits._
    Pipeline.requireLinkOf(cfg, prepared)
    val prep = prepared.getOrElse(Pipeline.prepareLink(spark, dicts, cfg))
    val batches = new java.util.concurrent.atomic.AtomicLong(0L)
    val stream = spark.readStream
      .schema(Encoders.product[PageRow].schema)
      .parquet(pagesDir)
    val query = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val res = Pipeline.runSegment(s, batch.as[PageRow], dicts, cfg,
          runId = s"stream-$batchId", prepared = Some(prep))
        // idempotent sink: one partition directory per batch, overwritten
        // on foreachBatch replay (see scaladoc) — append-into-shared-dir
        // would duplicate rows when a crash precedes the checkpoint commit
        def sink(df: DataFrame, table: String): Unit =
          df.write.mode("overwrite")
            .parquet(s"$tablesRoot/$table/batch_id=$batchId")
        sink(res.edges, "kg_edges")
        sink(res.nodes, "kg_nodes")
        sink(Statistics.state(res.nodes, res.edges).rows, "kg_stats_state")
        sink(res.metrics, "kg_metrics")
        // drop the caches THIS batch created, CacheManager entries
        // included (the prepared link artifacts persist across batches)
        res.release()
        batches.incrementAndGet()
        ()
      }
      .start()
    query.awaitTermination()
    batches.get()
  }

  /** Corpus-level statistics: [[Statistics.finish]] over the union of
    * every batch's `kg_stats_state` partition. The states are additive, so
    * this equals a single batch run's statistics rows; it reads no node or
    * edge row. */
  def corpusMetrics(spark: SparkSession, tablesRoot: String,
      runId: String = "corpus"): DataFrame = {
    val (stats, caches) = Statistics.finish(Statistics.State.of(
      spark.read.parquet(s"$tablesRoot/kg_stats_state").drop("batch_id")),
      runId)
    val out = stats.localCheckpoint(true)
    caches.foreach(_.unpersist())
    out
  }
}
