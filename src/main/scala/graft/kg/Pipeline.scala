package graft.kg

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end KG construction: pages → extract → link → relate →
  * canonicalize → materialize (north_star stage graph; reference lifecycle
  * core/process/orchestrator.py:143-355 re-expressed as pure
  * DataFrame → DataFrame stages — SURVEY §3.1).
  */
object Pipeline {

  /** Driver-side dictionary bundle. `wdPartOf`/`wdDesc`/`idf` are the
    * BOUNDED link tables from [[KgExtract.boundedLinkTables]]: part_of
    * restricted to alias-table qids, descriptions to ambiguous surfaces'
    * candidates, idf the distributed-df vocabulary map — driver memory
    * O(gazetteer + vocabulary), not O(all dictionary entities). */
  final case class Dicts(
      aliases: Seq[AliasRow],
      patterns: Seq[PatternRow],
      wiki: DataFrame,
      redirects: DataFrame,
      wd: DataFrame,
      dbp: DataFrame,
      synonyms: DataFrame,
      wdPartOf: Map[String, Set[String]],
      wdDesc: Map[String, String],
      idf: Map[String, Double])

  /** `release()` unpersists every plan this run cached (docOut, edges,
    * flat nodes, statistics caches) — call it once the outputs are
    * materialized. The ONE block it deliberately excludes is the
    * localCheckpoint backing `components` (its lineage is truncated, so
    * dropping it would make the returned DataFrame unreadable; CC's
    * intermediate checkpoints clean themselves up). Callers that
    * bulk-clean via a getPersistentRDDs diff (bench reps, the streaming
    * foreachBatch) additionally reclaim that final block. Default no-op
    * keeps runMaterialized (which caches nothing — every stage is
    * table-backed) and test constructions unchanged. */
  final case class Result(nodes: DataFrame, edges: DataFrame,
      components: DataFrame, metrics: DataFrame,
      release: () => Unit = () => ())

  def dictsFromCorpus(spark: SparkSession, c: SyntheticCorpus.Corpus): Dicts = {
    import spark.implicits._
    val wd = c.wdEntities.toDF()
    val lt = KgExtract.boundedLinkTables(spark, wd, c.aliases)
    Dicts(
      aliases = c.aliases,
      patterns = c.patterns,
      wiki = c.wikiPages.toDF(),
      redirects = c.redirects.toDF(),
      wd = wd,
      dbp = c.dbpedia.toDF(),
      synonyms = c.synonyms.toDF(),
      wdPartOf = lt.partOf,
      wdDesc = lt.descByQid,
      idf = lt.idf)
  }

  /** In-memory run (tests, benchmarks): no table layer, returns the live
    * DataFrames. `useHtml=true` exercises the extract_text invariant path. */
  /** Dictionary artifacts for the link stage, built once per deployment
    * (static data) and reusable across runs; persisted AND materialized so
    * later runs never pay the build. */
  def prepareLink(spark: SparkSession, dicts: Dicts,
      cfg: KgConfig = KgConfig.default): Linking.Prepared = {
    val p = Linking.prepare(spark, dicts.wiki, dicts.redirects, dicts.wd,
      dicts.dbp, dicts.synonyms, cfg).persistAll()
    p.all.foreach(_.count())
    p
  }

  def run(
      spark: SparkSession,
      pages: Dataset[PageRow],
      dicts: Dicts,
      cfg: KgConfig = KgConfig.default,
      runId: String = "local",
      useHtml: Boolean = true,
      prepared: Option[Linking.Prepared] = None,
      cacheNodes: Boolean = true): Result = {
    import spark.implicits._

    // ---- extract stage: fused map pass (E1-E3, R1-R4, D3, D6) ----
    // Cached as a DATAFRAME, not a typed Dataset: typed flatMap would
    // deserialize the whole DocOut row (including the fat scrape column)
    // in every consumer, while InMemoryRelation + Catalyst explode prunes
    // each branch to exactly the columns it reads.
    val docOutAll = KgExtract.run(spark, pages, dicts.aliases, dicts.patterns,
      dicts.wdPartOf, cfg, useHtml, dicts.wdDesc, idf = Some(dicts.idf))
      .toDF()
    // SPARK_GRAFT_SPLIT_SCRAPE=1 (plan-variant probe, VERDICT r4 item 2a):
    // drop the 1200-char scrape column from the docOut cache fill and let
    // the link stage re-run the extract pass for its one p_extract read —
    // trades a second extract execution for a narrower (cheaper-to-fill)
    // cache. Measured r5 at 360k pages: LOSES at both thread counts (the
    // fused extract costs more than caching the text; see PLANS.md), so
    // the default keeps scrape in the cache.
    val splitScrape = sys.env.get("SPARK_GRAFT_SPLIT_SCRAPE").contains("1")
    val docOut = (if (splitScrape) docOutAll.drop("scrape") else docOutAll)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // edges are persisted NARROW: the statistics passes scan them twice
    val edges = docOut.select(explode(col("triples")).as("t")).select("t.*")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // ---- link stage: Wikipedia → Wikidata → DBpedia dictionary joins ----
    // The link input is an UNCACHED projection straight off the docOut
    // cache: the gated single-pass chain consumes it exactly once, so a
    // second (entities) cache would only add a BlockManager round-trip —
    // the round-2 scaling profile showed cache fill/read as the bound.
    //
    // Broadcast regime (the small-dictionary gate outcome): each entity
    // row carries its document's `p_extract` (the L5 scrape text) from the
    // same cached docOut row, and Linking.linkFlat runs its per-row chain —
    // zero L5 join, zero shuffle, and no fat column ever moves (broadcast
    // joins don't shuffle the probe).
    // Salted regime (forceSaltedJoins — the at-scale shape where every
    // dictionary exceeds the broadcast budget): the entity rows stay
    // NARROW, so linkFlat runs the chain once per distinct (entity, qid)
    // key and joins the results back in three narrow exchanges — the
    // salted resolved4 flags, ONE unsalted shuffle-hash join that
    // re-attaches the scrape text at L5 (the html-derived text crosses the
    // wire exactly once), and the salted per-key payload.
    val rec = new Linking.JoinRecorder
    val carryScrape = !cfg.forceSaltedJoins
    // under the split-scrape probe the text column is not in the cache —
    // the link-stage projections read the UNCACHED extract plan instead
    val docWithScrape = if (splitScrape) docOutAll else docOut
    val entities =
      if (carryScrape)
        docWithScrape.select(
            when(length(col("scrape")) > 0, col("scrape")).as("p_extract"),
            explode(col("entities")).as("e"))
          .select(col("e.*"), col("p_extract"))
      else docOut.select(explode(col("entities")).as("e")).select("e.*")
    val scrapes =
      if (carryScrape) spark.emptyDataFrame
      else docWithScrape.select(col("url").as("p_url"),
        when(length(col("scrape")) > 0, col("scrape")).as("p_extract"))
    val prep = prepared.getOrElse(
      Linking.prepare(spark, dicts.wiki, dicts.redirects, dicts.wd, dicts.dbp,
        dicts.synonyms, cfg, rec))
    // nodes are persisted by default: statistics runs several aggregates
    // over them and must not re-execute the join chain per aggregate (at
    // scale this stage is written to a table first — runMaterialized —
    // which serves the same purpose). The cache holds the FLAT link output
    // (Linking.linkFlat) with the nested user shape assembled on top: the
    // in-memory cache prunes only top-level columns and stores structs as
    // opaque blobs, so caching the nested shape made every statistics read
    // decompress the full fat payload (measured 3-4× slower narrow fill at
    // local[32]). `cacheNodes=false` is for consumers that only
    // materialize `metrics`: statistics then reads the link plan
    // COLUMN-PRUNED through the broadcast joins (the fat extract/multilang
    // payload is never computed or stored), with its own narrow persist
    // deduplicating the four passes.
    val flatPlan = Linking.linkFlat(spark, entities, prep, scrapes, cfg, rec)
    val nodes = Linking.nest(
      if (cacheNodes)
        flatPlan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else flatPlan)

    // ---- canonicalize: connected components over alias/redirect edges ----
    val aliasEdges = spark.createDataset(dicts.aliases.map(a => (a.alias, a.canonical))).toDF("src", "dst")
    val redirectEdges = dicts.redirects.select(col("from_title").as("src"), col("to_title").as("dst"))
    val components = ConnectedComponents.run(spark, aliasEdges.union(redirectEdges))

    // ---- statistics + lineage metrics ----
    // dictJoin path decisions (broadcast vs salted, with the size evidence)
    // are recorded at plan-construction time — surfaced as metric rows so
    // plan drift at scale is observable in the run output, not just in
    // executor logs
    // cacheNarrow=false (round 6): the narrow stats persist predates the
    // flat nodes cache and became pure double-caching — only ONE pass
    // (counters) reads the fat array columns, so re-encoding them into a
    // second cache costs more than the single pruned flat-cache read it
    // saves. Interleaved A/B at 1.08M pages/local[32] (default → off →
    // default, one window): stats 6.6/5.9 → 5.0/4.1 → 6.5/6.0 s; whole
    // job 33.3/29.2 → 30.1/26.8 → 32.4/29.1 s. SPARK_GRAFT_STATS_NARROW=1
    // re-enables the persist for future re-probes.
    val (stats, statsCaches) = Statistics.computeTracked(spark, nodes, edges,
      runId,
      cacheNarrow = sys.env.get("SPARK_GRAFT_STATS_NARROW").contains("1"))
    val metrics = stats.unionByName(joinDecisionRows(spark, runId, rec))

    val cached: Seq[DataFrame] =
      Seq(docOut, edges) ++ (if (cacheNodes) Seq(flatPlan) else Nil) ++
        statsCaches
    Result(nodes, edges, components, metrics,
      release = () => cached.foreach(_.unpersist()))
  }

  private def joinDecisionRows(spark: SparkSession, runId: String,
      rec: Linking.JoinRecorder): DataFrame = {
    import spark.implicits._
    rec.drain().map { d =>
      MetricRow(runId, "link_plan", s"dict_join_${d.path}", d.site,
        d.estBytes.toDouble)
    }.toDF()
  }

  /** Input fingerprint WITHOUT scanning the data (north_rule snapshot-based
    * resume): hash of the sorted input file listing when the input is
    * file-backed (the Iceberg-snapshot-id stand-in); otherwise a hash of
    * the canonicalized logical plan. The previous `pages.count()` was a
    * complete extra pass over the corpus — at 10^12 rows, a full scan spent
    * only on naming the run. The scrape-placement REGIME (broadcast:
    * p_extract carried on kg_entities, no kg_scrapes table; salted: narrow
    * kg_entities + kg_scrapes) is folded in too: the regimes write
    * different kg_entities schemas, so a config flip must invalidate the
    * extract stages instead of resuming into a mismatched layout (the L5
    * compat join would otherwise hit a missing p_url column, or silently
    * reuse the other regime's layout). */
  private def fingerprintOf(pages: Dataset[PageRow], cfg: KgConfig): String = {
    val files = pages.inputFiles
    val src = if (files.nonEmpty) files.sorted.mkString("\n")
              else s"plan:${pages.queryExecution.logical.semanticHash()}"
    val md = java.security.MessageDigest.getInstance("SHA-1")
    val regime = if (cfg.forceSaltedJoins) "salted" else "carry"
    "in=" + md.digest(src.getBytes("UTF-8")).take(8)
      .map(b => f"${b & 0xff}%02x").mkString + s"+$regime"
  }

  /** Materializing run with snapshot/resume (SURVEY §7.4): each stage writes
    * parquet + manifest; a rerun with the same runId skips completed stages. */
  def runMaterialized(
      spark: SparkSession,
      pages: Dataset[PageRow],
      dicts: Dicts,
      tables: KgTables,
      cfg: KgConfig = KgConfig.default,
      runId: String = "run1"): Result = {
    import spark.implicits._
    val fp = fingerprintOf(pages, cfg)

    lazy val docOut = KgExtract.run(spark, pages, dicts.aliases, dicts.patterns,
      dicts.wdPartOf, cfg, useHtml = true, descByQid = dicts.wdDesc,
      idf = Some(dicts.idf))
    // Scrape placement mirrors Pipeline.run's regime split (see the link
    // stage comment there). Broadcast regime: each entity row CARRIES its
    // document's L5 text in kg_entities — no kg_scrapes table (one fewer
    // full-corpus-width stage write AND one fewer extract pass over the
    // html), no L5 join downstream; the text is duplicated per entity
    // (~3x) in exchange. Salted regime: kg_entities stays NARROW (the
    // link stage runs keyed and its mention rows cross the three
    // join-back exchanges) and the text is written ONCE to kg_scrapes,
    // re-attached by the single unsalted L5 join.
    //
    // Every stage body is passed BY NAME to tables.write: a stage the
    // manifest marks done builds no plan and runs no job (the eager
    // connected-components checkpoints included), so a no-op resume only
    // reads the manifest and re-opens the stage tables. The link plan is
    // a lazy val shared by the link and metrics stages: when the link
    // stage resumes but the metrics stage runs, the metrics stage builds
    // the (never executed) link plan itself, so its link_plan decisions
    // still reach kg_metrics.
    val carryScrape = !cfg.forceSaltedJoins
    val entities = tables.write(
      if (carryScrape)
        docOut.toDF().select(
            when(length(col("scrape")) > 0, col("scrape")).as("p_extract"),
            explode(col("entities")).as("e"))
          .select(col("e.*"), col("p_extract"))
      else docOut.flatMap(_.entities).toDF(),
      "kg_entities", runId, "extract_entities", fp)
    val edgesRaw = tables.write(docOut.flatMap(_.triples).toDF(), "kg_edges",
      runId, "extract_edges", fp, partitionBy = Seq("inferred"))
    val scrapes =
      if (carryScrape) spark.emptyDataFrame
      else tables.write(
        docOut.toDF().select(col("url").as("p_url"),
          when(length(col("scrape")) > 0, col("scrape")).as("p_extract")),
        "kg_scrapes", runId, "extract_scrapes", fp)

    val rec = new Linking.JoinRecorder
    lazy val linkPlan = Linking.linkAll(spark, entities,
      Linking.prepare(spark, dicts.wiki, dicts.redirects, dicts.wd,
        dicts.dbp, dicts.synonyms, cfg, rec),
      scrapes, cfg, rec)
    val nodes = tables.write(linkPlan, "kg_nodes", runId, "link", fp)

    val aliasEdges = spark.createDataset(dicts.aliases.map(a => (a.alias, a.canonical))).toDF("src", "dst")
    val redirectEdges = dicts.redirects.select(col("from_title").as("src"), col("to_title").as("dst"))
    val components = tables.write(
      ConnectedComponents.run(spark, aliasEdges.union(redirectEdges)),
      "kg_components", runId, "canonicalize", fp)

    val metrics = tables.write({
      linkPlan // records the link decisions if the link stage resumed
      Statistics.compute(spark, nodes, edgesRaw, runId, cacheNarrow = false)
        .unionByName(tables.partitionLineage(edgesRaw, runId, "extract_edges"))
        .unionByName(joinDecisionRows(spark, runId, rec))
    }, "kg_metrics", runId, "metrics", fp)

    Result(nodes, edgesRaw, components, metrics)
  }
}
