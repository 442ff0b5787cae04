package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming reuse of the batch event-window transform: the same
  * windowed aggregation runs under readStream + watermark with a memory
  * sink (SURVEY §2.12 — the reference is batch-only; this demonstrates the
  * stage functions are streaming-compatible via Trigger.AvailableNow).
  */
class StreamingSpec extends SparkSpec {

  test("event-window agg produces identical results under readStream") {
    val dir = "/root/testdata/sf0.001"
    val batchDf = spark.read.parquet(s"$dir/events.parquet")
    val schema = batchDf.schema

    def transform(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("ts", col("ts").cast("timestamp")) // watermark needs TIMESTAMP, not NTZ
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("event_type"), col("n"), col("sum_value"))

    // the streaming file source wants a directory; stage the single file
    val stageDir = java.nio.file.Files.createTempDirectory("ev_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      stageDir.resolve("events.parquet"))
    val streamed = spark.readStream.schema(schema).parquet(stageDir.toString)
    val q = transform(streamed).writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("ev_windows")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val got = spark.sql("SELECT * FROM ev_windows").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val want = transform(batchDf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("KG extract stage runs under Structured Streaming (triples parity)") {
    import graft.kg._
    import spark.implicits._
    // the fused extract pass is a stateless mapPartitions — it must run
    // unchanged as a streaming micro-batch transform (the incremental-crawl
    // ingestion shape: readStream over new page snapshots → extract)
    val corpus = SyntheticCorpus.generate(nPages = 60, seed = 42L)
    val dicts = Pipeline.dictsFromCorpus(spark, corpus)
    val stageDir = java.nio.file.Files.createTempDirectory("pages_stream")
    val pagesDf = spark.createDataset(corpus.pages).toDF()
    pagesDf.write.mode("overwrite").parquet(stageDir.resolve("p").toString)

    val streamed = spark.readStream.schema(pagesDf.schema)
      .parquet(stageDir.resolve("p").toString)
      .as[PageRow]
    val triples = KgExtract.run(spark, streamed, dicts, KgConfig.default)
      .flatMap(_.triples)
    val q = triples.writeStream
      .outputMode("append")
      .format("memory")
      .queryName("kg_stream_triples")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val got = spark.sql("SELECT url, subject, predicate, object FROM kg_stream_triples")
      .as[(String, String, String, String)].collect().toSet
    val want = KgExtract.run(spark, spark.createDataset(corpus.pages),
        dicts, KgConfig.default)
      .flatMap(_.triples)
      .select($"url", $"subject", $"predicate", $"object")
      .as[(String, String, String, String)].collect().toSet
    assert(got == want)
    assert(got.nonEmpty)
  }
}
