package graft.kg

import graft.{CacheState, JobFence, SparkSpec}
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The keyed link shape in both regimes, one payload join-back onto rows
  * that carry their L5 text: Linking.prepare returns the key tables
  * cached and everything a run reads already decided; salted, building
  * the link plan over stats-less entity rows runs no Spark job;
  * broadcast, the materialized payload table joins back without any
  * shuffle; Pipeline.prepareLink keeps only the two key tables; and runs
  * without prepared tables link over the artifacts that it built once for
  * their Dicts and config, while a run handed another link config's
  * prepared tables fails. */
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
    val prep = Linking.prepare(spark, dicts.wiki, dicts.redirects, dicts.wd,
      dicts.dbp, dicts.synonyms,
      corpus.aliases.map(a => (a.canonical, a.qid)).distinct.toDF("entity", "qid"),
      KgConfig.default.copy(forceSaltedJoins = true))
    val rows = Seq(
      EntityRow("u1", "de", "i1", e(0).name, e(0).qid, e(0).typ, e(0).name, 0, 1, "explicit", 1),
      EntityRow("u2", "de", "i2", e(0).name, e(0).qid, e(0).typ, e(0).name, 0, 1, "explicit", 1),
      EntityRow("u2", "de", "i3", e(7).name, null, e(7).typ, e(7).name, 2, 3, "explicit", 1))
    // the rows carry their L5 text, as Pipeline's entity rows do
    val texts = Seq(("u1", "a" * 150), ("u2", "b" * 150)).toDF("p_url", "p_extract")
    val entities = statsLess(rows.toDF()
      .join(texts, $"url" === $"p_url", "left").drop("p_url"))
    assert(entities.queryExecution.optimizedPlan.stats.sizeInBytes >=
      BigInt(Long.MaxValue) / 8, "input must be stats-less")

    val (flat, jobs) = JobFence.jobsOf(spark) {
      val f = Linking.linkFlat(spark, entities, prep)
      f.queryExecution.executedPlan
      f
    }
    assert(jobs.isEmpty, s"plan building ran jobs: $jobs")

    val ds = prep.decisions
    // one mention-row join-back: the per-key payload, which carries resolved4
    val d = ds.filter(_.site == "link_key_payload")
    assert(d.size == 1, s"expected one decision for link_key_payload, got $d")
    assert(d.head.path == "salted", d.head.toString)
    assert(ds.map(_.site).toSet == Set("wd_ref_labels", "link_key_payload"), ds)
    // the plan still answers: one node per entity row, null qid included
    assert(flat.count() == rows.size)
    assert(flat.filter($"entity" === e(0).name && $"wiki_status" === "found")
      .count() == 2)
    assert(flat.filter($"wd_status".isNull || $"dbp_status".isNull).count() == 0)
    prep.all.foreach(_.unpersist())
  }

  test("Linking.prepare returns cached key tables and a decided link") {
    // an entity count no other suite uses, so no equal plan is cached
    // already; extract-only fields set, which the link config drops
    val corpus = SyntheticCorpus.generate(nPages = 0, nEntities = 70)
    val dicts = Pipeline.dictsFromCorpus(spark, corpus)
    val keys = corpus.aliases.map(a => (a.canonical, a.qid)).distinct
      .toDF("entity", "qid")
    val extractOnly = KgConfig.default.copy(inferEntities = true,
      allowedEntityTypes = Some(Set("Person", "Ort")))
    for (cfg <- Seq(extractOnly, extractOnly.copy(forceSaltedJoins = true))) {
      val prep = Linking.prepare(spark, dicts.wiki, dicts.redirects, dicts.wd,
        dicts.dbp, dicts.synonyms, keys, cfg)
      val where = s"forceSaltedJoins=${cfg.forceSaltedJoins}"
      assert(prep.all.forall(_.storageLevel == StorageLevel.MEMORY_AND_DISK),
        s"$where: ${prep.all.map(_.storageLevel)}")
      val (read, jobs) = JobFence.jobsOf(spark)(
        (prep.unresolved, prep.payloadJoin, prep.decisions))
      assert(jobs.isEmpty, s"$where: reading the prepared link ran jobs: $jobs")
      assert(read._1.nonEmpty, s"$where: no unresolved key")
      assert(read._2.path == (if (cfg.forceSaltedJoins) "salted" else "broadcast"),
        s"$where: ${read._2}")
      assert(prep.cfg == Linking.linkConfig(cfg), s"$where: ${prep.cfg}")
      prep.all.foreach(_.unpersist())
    }
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
    val flat = Linking.linkFlat(spark, entities, prep)
    val shuffles = collect(flat.queryExecution.executedPlan) {
      case s: ShuffleExchangeLike => s
    }
    assert(shuffles.isEmpty, s"the flat plan shuffles: $shuffles")
    val ds = prep.decisions
    val d = ds.filter(_.site == "link_key_payload")
    assert(d.size == 1 && d.head.broadcast, s"link_key_payload: $d")
    // no flags join-back and no L5 scrape join
    assert(ds.map(_.site).toSet == Set("wd_ref_labels", "link_key_payload"), ds)
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
    val d = plan.filter(_._2 == "link_key_payload")
    assert(d.map(_._1) == Seq("dict_join_broadcast"), s"link_key_payload: $d")
    assert(d.head._3 != keys * 512.0, s"link_key_payload: $d")
    assert(!plan.exists(_._2 == "link_key_flags"), s"flags join-back: $plan")
    assert(!plan.exists(_._1 == "dict_join_salted"), s"salted sites: $plan")
  }

  test("configs that differ outside the link fields share one prepared link") {
    val dicts = Pipeline.dictsFromCorpus(spark,
      SyntheticCorpus.generate(nPages = 20, seed = 7L))
    // the kg_pipeline_triples and kg_pipeline_restricted configs: they
    // differ only in extract settings
    val Seq(triples, restricted) = Golden.variants.map(_._3)
    assert(triples != restricted)
    val prep = Pipeline.prepareLink(spark, dicts, triples)
    assert(Pipeline.prepareLink(spark, dicts, restricted) eq prep)
    val salted = Pipeline.prepareLink(spark, dicts,
      restricted.copy(forceSaltedJoins = true))
    assert(!(salted eq prep))
    assert(salted.payloadJoin.path == "salted" && prep.payloadJoin.broadcast)
    assert(dicts.links.size == 2)
  }

  test("a run handed the prepared link of another link config fails") {
    val corpus = SyntheticCorpus.generate(nPages = 20, seed = 7L)
    val dicts = Pipeline.dictsFromCorpus(spark, corpus)
    val pages = spark.createDataset(corpus.pages)
    val Seq(triples, restricted) = Golden.variants.map(_._3)
    val prep = Some(Pipeline.prepareLink(spark, dicts, triples))
    // a config that differs only in extract settings links alike
    Pipeline.run(spark, pages, dicts, restricted, prepared = prep).release()
    val salted = triples.copy(forceSaltedJoins = true)
    val err = intercept[IllegalArgumentException](
      Pipeline.run(spark, pages, dicts, salted, prepared = prep))
    assert(err.getMessage.contains("prepared link"), err.getMessage)
    val dir = Files.createTempDirectory("kg_link_mismatch").toString
    intercept[IllegalArgumentException](StreamingPipeline.runAvailableNow(
      spark, s"$dir/pages", dicts, s"$dir/tables", s"$dir/ckpt", salted, prep))
  }
}
