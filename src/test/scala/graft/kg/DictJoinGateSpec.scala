package graft.kg

import graft.{JobFence, SparkSpec}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The gate of the dictJoin sites: a stats-less plan (the 8-EiB
  * defaultSizeInBytes sentinel) takes the salted path without a job, and
  * once persisted and counted reports its row count and broadcasts; the
  * prepared link holds both sites' decisions, and every run writes them
  * as its link_plan metric rows. */
class DictJoinGateSpec extends SparkSpec {
  import spark.implicits._

  test("stats-less dict (RDD-backed, sentinel estimate) takes the salted path without a job") {
    val probe = Seq(("a", 1), ("b", 2)).toDF("k", "v")
    // RDD-backed DataFrame: LogicalRDD carries no size stats → the
    // optimizer reports defaultSizeInBytes (Long.MaxValue)
    val dictRdd = spark.sparkContext.parallelize(Seq(Row("a", "x"), Row("b", "y")))
    val dict = spark.createDataFrame(dictRdd,
      StructType(Seq(StructField("dk", StringType), StructField("dv", StringType))))
    assert(dict.queryExecution.optimizedPlan.stats.sizeInBytes > BigInt(Long.MaxValue) / 8)

    val ((joined, d), jobs) = JobFence.jobsOf(spark) {
      val d = Linking.decide("gate_test", dict, KgConfig.default)
      val j = Linking.dictJoin(probe, dict, col("k") === col("dk"), d, col("k"))
      j.queryExecution.executedPlan
      (j, d)
    }
    assert(jobs.isEmpty, s"building the plan ran jobs: $jobs")
    assert(joined.count() == 2)
    assert(d.site == "gate_test")
    assert(d.path == "salted", "a stats-less dict must take the salted path")
    assert(d.estBytes > Linking.BroadcastMaxBytes)
  }

  test("stats-less dict (RDD-backed, sentinel estimate) falls back to row count") {
    // the row count comes from materializing the dict, as prepareLink does
    // for the key tables (persist + count()), not from a job inside the gate
    val probe = Seq(("a", 1), ("b", 2)).toDF("k", "v")
    val dictRdd = spark.sparkContext.parallelize(Seq(Row("a", "x"), Row("b", "y")))
    val dict = spark.createDataFrame(dictRdd,
      StructType(Seq(StructField("dk", StringType), StructField("dv", StringType))))
    assert(dict.queryExecution.optimizedPlan.stats.sizeInBytes > BigInt(Long.MaxValue) / 8)
    dict.persist()
    try {
      assert(dict.count() == 2)
      // a new Dataset: `dict`'s own plan was optimized before the persist
      val counted = dict.select(col("dk"), col("dv"))
      val stats = counted.queryExecution.optimizedPlan.stats
      assert(stats.rowCount.contains(BigInt(2)), s"cached plan stats: $stats")

      val ((joined, d), jobs) = JobFence.jobsOf(spark) {
        val d = Linking.decide("gate_rows", counted, KgConfig.default)
        val j = Linking.dictJoin(probe, counted, col("k") === col("dk"), d,
          col("k"))
        j.queryExecution.executedPlan
        (j, d)
      }
      assert(jobs.isEmpty, s"building the plan ran jobs: $jobs")
      assert(joined.count() == 2)
      assert(d.broadcast, "the counted 2-row dict must broadcast")
      assert(d.estBytes <= Linking.BroadcastMaxBytes)
    } finally dict.unpersist(blocking = true)
  }

  test("plan-estimated small dict broadcasts without a row-count job") {
    val dict = Seq(("a", "x")).toDF("dk", "dv") // LocalRelation: real stats
    assert(Linking.decide("gate_local", dict, KgConfig.default).broadcast)
  }

  test("forceSaltedJoins pins the salted path and is recorded") {
    val probe = Seq(("a", 1)).toDF("k", "v")
    val dict = Seq(("a", "x")).toDF("dk", "dv")
    val d = Linking.decide("gate_salted", dict,
      KgConfig.default.copy(forceSaltedJoins = true))
    assert(d.path == "salted")
    val out = Linking.dictJoin(probe, dict, col("k") === col("dk"), d, col("k"))
    assert(out.count() == 1)
  }

  test("Pipeline surfaces one metrics row per dictionary join site") {
    val corpus = SyntheticCorpus.generate(nPages = 20, seed = 7L)
    val pages = spark.createDataset(corpus.pages)
    val res = Pipeline.run(spark, pages, Pipeline.dictsFromCorpus(spark, corpus))
    val sites = res.metrics
      .filter(col("stage") === "link_plan" && col("metric").startsWith("dict_join"))
      .select("key").as[String].collect().toSet
    // only the joins whose probe can hold a hot key are gated: the one
    // mention-row join-back and the referenced-label join of the Wikidata
    // dictionary; resolved4 rides on the payload, so no flags join-back
    assert(sites == Set("wd_ref_labels", "link_key_payload"),
      s"gated join sites: $sites")
    // the key chain's joins are plain joins
    for (s <- Seq("l1_syn_primary", "l2_secondary", "l3_opensearch",
        "wd_enriched", "dbp_strict", "dbp_lookup"))
      assert(!sites.contains(s), s"key-chain join $s must not be gated")
    assert(!sites.exists(_.startsWith("l7_ml_")), s"gated L7 join: $sites")
    // l1_syn_primary carries the PRE-COMPOSED redirect hop (round 5) AND
    // the synonym pick (round 6); l2_secondary the pre-composed sitelink hop
    for (s <- Seq("l1_redirects", "l2_sitelinks", "l1_primary", "l4_synonym"))
      assert(!sites.contains(s),
        s"pre-composed stage $s must not appear as a probe join site")
  }

  test("salted-regime Pipeline records no L5 scrape join") {
    val corpus = SyntheticCorpus.generate(nPages = 20, seed = 7L)
    val pages = spark.createDataset(corpus.pages)
    val res = Pipeline.run(spark, pages, Pipeline.dictsFromCorpus(spark, corpus),
      KgConfig.default.copy(forceSaltedJoins = true))
    val plan = res.metrics.filter(col("stage") === "link_plan")
      .select("metric", "key").as[(String, String)].collect().toSet
    // the entity rows carry the L5 text where their key is unresolved, so
    // the salted regime joins no scrape table
    assert(plan == Set(("dict_join_salted", "wd_ref_labels"),
      ("dict_join_salted", "link_key_payload")),
      s"salted link_plan rows: $plan")
  }

  test("link_plan rows are the prepared decisions in every run mode") {
    val corpus = SyntheticCorpus.generate(nPages = 20, seed = 7L)
    val pages = spark.createDataset(corpus.pages).repartition(2)
    val dicts = Pipeline.dictsFromCorpus(spark, corpus)
    val pagesDir = Files.createTempDirectory("kg_plan_pages").toString
    pages.write.mode("append").parquet(pagesDir)
    def planRows(metrics: DataFrame): Seq[(String, String, Double)] =
      metrics.filter(col("stage") === "link_plan")
        .select("metric", "key", "value").as[(String, String, Double)]
        .collect().toSeq.sorted
    for (cfg <- Seq(KgConfig.default, KgConfig.default.copy(forceSaltedJoins = true))) {
      val regime = if (cfg.forceSaltedJoins) "salted" else "broadcast"
      val prep = Pipeline.prepareLink(spark, dicts, cfg)
      assert(prep.decisions.map(_.site).sorted ==
        Seq("link_key_payload", "wd_ref_labels"), s"$regime: ${prep.decisions}")
      val want = prep.decisions
        .map(d => (s"dict_join_${d.path}", d.site, d.estBytes.toDouble)).sorted

      val inMemory = Pipeline.run(spark, pages, dicts, cfg)
      assert(planRows(inMemory.metrics) == want, s"$regime run")
      inMemory.release()

      val dir = Files.createTempDirectory("kg_plan_tables").toString
      def materialized(): Seq[(String, String, Double)] = {
        val res = Pipeline.runMaterialized(spark, pages, dicts,
          new KgTables(spark, dir), cfg)
        try planRows(res.metrics) finally res.release()
      }
      assert(materialized() == want, s"$regime fresh runMaterialized")
      // a kill between the kg_nodes and kg_metrics manifest lines: only
      // the metrics stage re-runs
      val manifest = Paths.get(dir, "_snapshots.jsonl")
      val lines = Files.readAllLines(manifest)
      lines.removeIf(_.contains("\"stage\":\"metrics\""))
      Files.write(manifest, lines)
      assert(materialized() == want, s"$regime resumed runMaterialized")
      assert(Files.readAllLines(manifest).toArray.map(_.toString)
        .count(_.contains("\"stage\":\"link\"")) == 1,
        s"$regime: the link stage must resume, not re-run")

      val out = Files.createTempDirectory("kg_plan_stream").toString
      val ckpt = Files.createTempDirectory("kg_plan_ckpt").toString
      assert(StreamingPipeline.runAvailableNow(spark, pagesDir, dicts, out,
        ckpt, cfg) == 1)
      assert(planRows(spark.read.parquet(s"$out/kg_metrics")) == want,
        s"$regime streaming batch")
    }
  }
}
