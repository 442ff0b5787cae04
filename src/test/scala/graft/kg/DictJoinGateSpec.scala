package graft.kg

import graft.{JobFence, SparkSpec}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** dictJoin size gate: a stats-less plan (the 8-EiB defaultSizeInBytes
  * sentinel) takes the salted path without a job, and once persisted and
  * counted reports its row count and broadcasts; the per-run decision
  * recorder, and the join-path metric rows surfaced by Pipeline. */
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

    val rec = new Linking.JoinRecorder
    val (joined, jobs) = JobFence.jobsOf(spark) {
      val j = Linking.dictJoin(probe, dict, col("k"), col("dk"),
        KgConfig.default, col("k"), site = "gate_test", rec = rec)
      j.queryExecution.executedPlan
      j
    }
    assert(jobs.isEmpty, s"building the plan ran jobs: $jobs")
    assert(joined.count() == 2)
    val ds = rec.drain().filter(_.site == "gate_test")
    assert(ds.size == 1)
    assert(ds.head.path == "salted", "a stats-less dict must take the salted path")
    assert(ds.head.estBytes > KgConfig.default.dictBroadcastMaxBytes)
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

      val rec = new Linking.JoinRecorder
      val (joined, jobs) = JobFence.jobsOf(spark) {
        val j = Linking.dictJoin(probe, counted, col("k"), col("dk"),
          KgConfig.default, col("k"), site = "gate_rows", rec = rec)
        j.queryExecution.executedPlan
        j
      }
      assert(jobs.isEmpty, s"building the plan ran jobs: $jobs")
      assert(joined.count() == 2)
      val ds = rec.drain().filter(_.site == "gate_rows")
      assert(ds.size == 1)
      assert(ds.head.broadcast, "the counted 2-row dict must broadcast")
      assert(ds.head.estBytes <= KgConfig.default.dictBroadcastMaxBytes)
    } finally dict.unpersist(blocking = true)
  }

  test("plan-estimated small dict broadcasts without a row-count job") {
    val rec = new Linking.JoinRecorder
    val probe = Seq(("a", 1)).toDF("k", "v")
    val dict = Seq(("a", "x")).toDF("dk", "dv") // LocalRelation: real stats
    Linking.dictJoin(probe, dict, col("k"), col("dk"),
      KgConfig.default, col("k"), site = "gate_local", rec = rec)
    val d = rec.drain().filter(_.site == "gate_local").head
    assert(d.broadcast)
  }

  test("forceSaltedJoins pins the salted path and is recorded") {
    val rec = new Linking.JoinRecorder
    val probe = Seq(("a", 1)).toDF("k", "v")
    val dict = Seq(("a", "x")).toDF("dk", "dv")
    val out = Linking.dictJoin(probe, dict, col("k"), col("dk"),
      KgConfig.default.copy(forceSaltedJoins = true), col("k"),
      site = "gate_salted", rec = rec)
    assert(out.count() == 1)
    val d = rec.drain().filter(_.site == "gate_salted").head
    assert(d.path == "salted")
  }

  test("recorder is per-run: decisions in one recorder never leak to another") {
    val recA = new Linking.JoinRecorder
    val recB = new Linking.JoinRecorder
    val probe = Seq(("a", 1)).toDF("k", "v")
    val dict = Seq(("a", "x")).toDF("dk", "dv")
    Linking.dictJoin(probe, dict, col("k"), col("dk"),
      KgConfig.default, col("k"), site = "run_a", rec = recA)
    Linking.dictJoin(probe, dict, col("k"), col("dk"),
      KgConfig.default, col("k"), site = "run_b", rec = recB)
    assert(recA.drain().map(_.site) == Seq("run_a"))
    assert(recB.drain().map(_.site) == Seq("run_b"))
    assert(recA.drain().isEmpty, "drain must consume")
  }

  test("Pipeline surfaces one metrics row per dictionary join site") {
    val corpus = SyntheticCorpus.generate(nPages = 20, seed = 7L)
    val pages = spark.createDataset(corpus.pages)
    val res = Pipeline.run(spark, pages, Pipeline.dictsFromCorpus(spark, corpus))
    val sites = res.metrics
      .filter(col("stage") === "link_plan" && col("metric").startsWith("dict_join"))
      .select("key").as[String].collect().toSet
    // only the joins whose probe can hold a hot key are gated: the two
    // mention-row join-backs and the referenced-label join of the
    // Wikidata dictionary
    assert(sites == Set("wd_ref_labels", "link_key_flags", "link_key_payload"),
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

  test("salted-regime Pipeline records the single L5 shuffle_hash scrape join") {
    val corpus = SyntheticCorpus.generate(nPages = 20, seed = 7L)
    val pages = spark.createDataset(corpus.pages)
    val res = Pipeline.run(spark, pages, Pipeline.dictsFromCorpus(spark, corpus),
      KgConfig.default.copy(forceSaltedJoins = true, nSalt = 4))
    val l5 = res.metrics
      .filter(col("stage") === "link_plan" && col("key") === "l5_scrapes")
      .select("metric").as[String].collect().toSeq
    assert(l5 == Seq("dict_join_shuffle_hash"),
      s"L5 must be ONE unsalted shuffle_hash join in the salted regime, got $l5")
  }
}
