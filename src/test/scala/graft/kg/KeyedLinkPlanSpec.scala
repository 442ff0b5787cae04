package graft.kg

import graft.{CacheState, JobFence, SparkSpec}
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

/** The keyed link shape in both regimes: salted, building its plan over
  * stats-less inputs runs no Spark job (the dictJoin gate reads plan
  * estimates only); broadcast, the materialized key tables join back onto
  * rows that carry their L5 text without any shuffle; Pipeline.prepareLink
  * keeps only the two key tables; and runs without prepared tables link
  * over the artifacts that it built once for their Dicts and config. */
class KeyedLinkPlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** RDD-backed copy: LogicalRDD carries no size statistics, so the
    * optimizer reports the defaultSizeInBytes sentinel for it and for
    * everything derived from it. */
  private def statsLess(df: DataFrame): DataFrame =
    spark.createDataFrame(df.rdd, df.schema)

  test("building the salted keyed link plan starts no Spark job") {
    val generated = SyntheticCorpus.generate(nPages = 20, seed = 7L)
    val e = generated.entities
    // a gazetteer alias without a qid, so the prepared tables hold the
    // (e(7).name, null) key of the third row
    val corpus = generated.copy(aliases = generated.aliases :+
      AliasRow("Nullbegriff", e(7).name, null, e(7).typ, 1.0, "de"))
    val dicts = Pipeline.dictsFromCorpus(spark, corpus)
    val cfg = KgConfig.default.copy(forceSaltedJoins = true, nSalt = 4)
    // not materialized: the key chain is planned inside linkFlat, and its
    // stats-less key tables reach the join-backs
    val keys = statsLess(corpus.aliases.map(a => (a.canonical, a.qid)).distinct
      .toDF("entity", "qid"))
    val prep = Linking.prepare(spark, dicts.wiki, dicts.redirects, dicts.wd,
      dicts.dbp, dicts.synonyms, keys, cfg)
    val rows = Seq(
      EntityRow("u1", "de", "i1", e(0).name, e(0).qid, e(0).typ, e(0).name, 0, 1, "explicit", 1),
      EntityRow("u2", "de", "i2", e(0).name, e(0).qid, e(0).typ, e(0).name, 0, 1, "explicit", 1),
      EntityRow("u2", "de", "i3", e(7).name, null, e(7).typ, e(7).name, 2, 3, "explicit", 1))
    val entities = statsLess(rows.toDF())
    val scrapes = statsLess(Seq(("u1", "a" * 150), ("u2", "b" * 150))
      .toDF("p_url", "p_extract"))
    assert(entities.queryExecution.optimizedPlan.stats.sizeInBytes >=
      BigInt(Long.MaxValue) / 8, "input must be stats-less")

    val rec = new Linking.JoinRecorder
    val (flat, jobs) = JobFence.jobsOf(spark) {
      val f = Linking.linkFlat(spark, entities, prep, scrapes, cfg, rec)
      f.queryExecution.executedPlan
      f
    }
    assert(jobs.isEmpty, s"plan building ran jobs: $jobs")

    val ds = rec.drain()
    for (site <- Seq("link_key_flags", "link_key_payload")) {
      val d = ds.filter(_.site == site)
      assert(d.size == 1, s"expected one decision for $site, got $d")
      assert(d.head.path == "salted", d.head.toString)
    }
    // the plan still answers: one node per entity row, null qid included
    assert(flat.count() == rows.size)
    assert(flat.filter($"entity" === e(0).name && $"wiki_status" === "found")
      .count() == 2)
    assert(flat.filter($"wd_status".isNull || $"dbp_status".isNull).count() == 0)
  }

  test("broadcast key tables join back onto p_extract rows without a shuffle") {
    val corpus = SyntheticCorpus.generate(nPages = 20, seed = 7L)
    val dicts = Pipeline.dictsFromCorpus(spark, corpus)
    val prep = Pipeline.prepareLink(spark, dicts, KgConfig.default)
    val e = corpus.entities
    val entities = Seq(
      EntityRow("u1", "de", "i1", e(0).name, e(0).qid, e(0).typ, e(0).name, 0, 1, "explicit", 1),
      EntityRow("u2", "de", "i2", e(1).name, e(1).qid, e(1).typ, e(1).name, 0, 1, "explicit", 1))
      .toDF().withColumn("p_extract", lit("a" * 150))
    val rec = new Linking.JoinRecorder
    val flat = Linking.linkFlat(spark, entities, prep, spark.emptyDataFrame,
      KgConfig.default, rec)
    val shuffles = collect(flat.queryExecution.executedPlan) {
      case s: ShuffleExchangeLike => s
    }
    assert(shuffles.isEmpty, s"the flat plan shuffles: $shuffles")
    val ds = rec.drain()
    for (site <- Seq("link_key_flags", "link_key_payload")) {
      val d = ds.filter(_.site == site)
      assert(d.size == 1 && d.head.broadcast, s"$site: $d")
    }
    assert(!ds.exists(_.site == "l5_scrapes"), ds)
    assert(flat.count() == 2)
  }

  test("prepareLink on a fresh Dicts persists and caches only the two key tables") {
    // an entity count no other suite uses: persisting a plan equal to one
    // cached earlier would add no cache entry
    val dicts = Pipeline.dictsFromCorpus(spark,
      SyntheticCorpus.generate(nPages = 20, nEntities = 90))
    val entries0 = CacheState.entries(spark)
    val persisted0 = CacheState.persisted(spark).keySet
    val prep = Pipeline.prepareLink(spark, dicts, KgConfig.default)
    val keyRdds = prep.all.map(CacheState.rddOf(spark, _).id).toSet
    assert(keyRdds.size == 2)
    val added = CacheState.persisted(spark).filter { case (id, _) => !persisted0(id) }
    assert(added.keySet == keyRdds, "persisted beside the key tables:\n" +
      added.values.map(CacheState.describe).mkString("\n"))
    val addedEntries = CacheState.entries(spark).filterNot(e => entries0.exists(_ eq e))
    assert(addedEntries.map(_.cachedRepresentation.cacheBuilder.cachedColumnBuffers.id)
      .toSet == keyRdds && addedEntries.size == 2,
      s"cache entries added beside the key tables: ${addedEntries.map(_.plan)}")
  }

  test("runMaterialized reuses one set of link artifacts per Dicts and config") {
    val corpus = SyntheticCorpus.generate(nPages = 20, seed = 7L)
    val dicts = Pipeline.dictsFromCorpus(spark, corpus)
    val pages = spark.createDataset(corpus.pages)
    def materialized(runId: String): Pipeline.Result = {
      val dir = Files.createTempDirectory("kg_link_memo").toString
      Pipeline.runMaterialized(spark, pages, dicts, new KgTables(spark, dir),
        KgConfig.default, runId = runId)
    }
    materialized("m1").release()
    // the first run built the artifacts into the Dicts
    val prep = dicts.links.get(KgConfig.default)
    assert(prep != null, "runMaterialized built no link artifacts into the Dicts")
    assert(Pipeline.prepareLink(spark, dicts, KgConfig.default) eq prep)
    val persisted = spark.sparkContext.getPersistentRDDs.keySet

    val second = materialized("m2")
    second.release()
    assert(Pipeline.prepareLink(spark, dicts, KgConfig.default) eq prep)
    val added = spark.sparkContext.getPersistentRDDs.keySet.filterNot(persisted)
    assert(added.isEmpty, s"the second run persisted RDDs $added")

    val plan = second.metrics.filter($"stage" === "link_plan")
      .select("metric", "key", "value").as[(String, String, Double)].collect()
      .toSeq
    // the persisted key tables carry their real sizes: no row-count probe
    // (512 B per row) stands in for them
    val keys = corpus.aliases.map(a => (a.canonical, a.qid)).distinct.size
    for (site <- Seq("link_key_flags", "link_key_payload")) {
      val d = plan.filter(_._2 == site)
      assert(d.map(_._1) == Seq("dict_join_broadcast"), s"$site: $d")
      assert(d.head._3 != keys * 512.0, s"$site: $d")
    }
    assert(!plan.exists(_._1 == "dict_join_salted"), s"salted sites: $plan")
  }
}
