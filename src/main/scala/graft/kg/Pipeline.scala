package graft.kg

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer

/** End-to-end KG construction (reference lifecycle
  * core/process/orchestrator.py:143-355 re-expressed as pure
  * DataFrame → DataFrame stages — SURVEY §3.1). One stage graph, in this
  * order:
  *
  *   extract (entities, relations) → link → canonicalize → stats → materialize
  *
  * `run` and `runMaterialized` build the same graph and differ only in
  * where its stage outputs live (a [[Store]]): in-memory caches, or
  * parquet tables with a resume manifest. GalaxyView (ICDE 2025) models
  * derived graph tables the same way: one definition, several
  * materialization policies.
  */
object Pipeline {

  /** Driver-side dictionary bundle. `wdPartOf`/`wdDesc`/`idf` are the
    * BOUNDED link tables from [[KgExtract.boundedLinkTables]]: part_of
    * restricted to alias-table qids, descriptions to ambiguous surfaces'
    * candidates, idf the distributed-df vocabulary map — driver memory
    * O(gazetteer + vocabulary), not O(all dictionary entities). Everything
    * derived from the dictionaries alone (the link artifacts per link
    * config, the connected components) is built once per Dicts, on first
    * use, and shared by every run over it. */
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
      idf: Map[String, Double]) {
    /** The link artifacts of [[Pipeline.prepareLink]], one per link
      * config ([[Linking.linkConfig]]), each built on first use. */
    private[kg] val links = new ConcurrentHashMap[KgConfig, Linking.Prepared]()

    /** Connected components of the alias → canonical and redirect graph
      * (the canonicalize stage). They depend on the dictionaries alone, so
      * they are built once per Dicts, on first read, and every run over
      * these dictionaries shares them. */
    lazy val components: DataFrame = {
      val spark = redirects.sparkSession
      import spark.implicits._
      ConnectedComponents.run(spark,
        aliases.map(a => (a.alias, a.canonical)).toDF("src", "dst")
          .union(redirects.select(col("from_title").as("src"),
            col("to_title").as("dst"))))
    }
  }

  /** `components` is built on first read: an in-memory run that never
    * reads it runs no connected-components job ([[Dicts.components]]);
    * runMaterialized writes it as a stage and reads it back from there.
    * `release()` unpersists every plan this run cached (docOut, edges,
    * flat nodes, statistics caches) — call it once the outputs are
    * materialized. It leaves the components and the link artifacts alone:
    * they belong to the dictionaries, not to the run. In runMaterialized
    * every stage is table-backed and only the statistics counter cache is
    * released. The default no-op keeps test constructions unchanged. */
  final class Result(val nodes: DataFrame, val edges: DataFrame,
      components0: => DataFrame, val metrics: DataFrame,
      val release: () => Unit) {
    lazy val components: DataFrame = components0
  }

  object Result {
    def apply(nodes: DataFrame, edges: DataFrame, components: => DataFrame,
        metrics: DataFrame, release: () => Unit = () => ()): Result =
      new Result(nodes, edges, components, metrics, release)
  }

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

  /** The link artifacts, built once per Dicts and link config on first
    * use ([[Dicts.links]]), so every run over these dictionaries, with or
    * without `prepared`, links over the same persisted AND materialized
    * key tables. Only the two key tables are kept: the dictionary tables
    * are read once, by the key chain. The key payload is planned over the
    * cached Wikipedia result, so it follows that one. Both gated joins are
    * decided here, the payload join-back once the key tables are counted,
    * from their real size (a plan estimate, no job). The keys are the
    * distinct (canonical, qid) pairs of the alias table: every
    * (entity, qid) an extract can produce — explicit mentions take them
    * from a gazetteer candidate, E4 implicit entities from the
    * alias-derived qid info. */
  def prepareLink(spark: SparkSession, dicts: Dicts,
      cfg: KgConfig = KgConfig.default): Linking.Prepared =
    dicts.links.computeIfAbsent(Linking.linkConfig(cfg), linkCfg => {
      import spark.implicits._
      val keys = dicts.aliases.map(a => (a.canonical, a.qid)).distinct
      val p = Linking.prepare(spark, dicts.wiki, dicts.redirects, dicts.wd,
        dicts.dbp, dicts.synonyms, keys.toDF("entity", "qid"), linkCfg)
      p.all.foreach(_.persist(MEMORY_AND_DISK).count())
      p.payloadJoin // decided now, on the counted key tables
      p
    })

  /** Fails unless `prepared` is the link of `cfg`'s link settings
    * ([[Linking.linkConfig]]). The link reads the prepared link's own
    * config, so a run handed another config's link would link, and write
    * its link_plan rows, in that config's regime. */
  private[kg] def requireLinkOf(cfg: KgConfig,
      prepared: Option[Linking.Prepared]): Unit =
    prepared.foreach(p => require(p.cfg == Linking.linkConfig(cfg),
      s"the prepared link was built for ${p.cfg}, not for the run's link " +
        s"settings ${Linking.linkConfig(cfg)}: prepare it with this config"))

  /** In-memory run (tests, benchmarks, each streaming micro-batch): no
    * table layer; returns live DataFrames over this run's caches.
    * `prepared`, when given, must be the link of `cfg`
    * ([[requireLinkOf]]). */
  def run(
      spark: SparkSession,
      pages: Dataset[PageRow],
      dicts: Dicts,
      cfg: KgConfig = KgConfig.default,
      runId: String = "local",
      prepared: Option[Linking.Prepared] = None): Result =
    stages(spark, pages, dicts, cfg, runId, prepared, new InMemory,
      finishStats = true)

  /** One streaming micro-batch: [[run]], except that the metrics hold no
    * statistics rows. The batch writes the additive
    * [[Statistics.state]] of its nodes and edges instead, and
    * [[StreamingPipeline.corpusMetrics]] finishes the merged states. */
  private[kg] def runSegment(
      spark: SparkSession,
      pages: Dataset[PageRow],
      dicts: Dicts,
      cfg: KgConfig,
      runId: String,
      prepared: Option[Linking.Prepared]): Result =
    stages(spark, pages, dicts, cfg, runId, prepared, new InMemory,
      finishStats = false)

  /** Materializing run with snapshot/resume (SURVEY §7.4): each stage writes
    * parquet + manifest; a rerun with the same runId skips completed stages. */
  def runMaterialized(
      spark: SparkSession,
      pages: Dataset[PageRow],
      dicts: Dicts,
      tables: KgTables,
      cfg: KgConfig = KgConfig.default,
      runId: String = "run1"): Result =
    stages(spark, pages, dicts, cfg, runId, prepared = None,
      new InTables(tables, runId, fingerprintOf(pages, cfg)), finishStats = true)

  /** Where the stage outputs live: the one thing `run` and
    * `runMaterialized` choose. Stage bodies are passed by name, so a store
    * may never build a stage at all. */
  private sealed trait Store {
    /** Plans this run persisted, dropped by `Result.release`. */
    val cached = ArrayBuffer.empty[DataFrame]
    /** The whole extract output, which every projection reads. */
    def extract(docOut: DataFrame): DataFrame
    /** One stage output; `reused`: later stages scan it more than once. */
    def stage(name: String, table: String, reused: Boolean = false,
        partitionBy: Seq[String] = Nil)(df: => DataFrame): DataFrame
    /** A stage no later stage reads, built on first read of the result
      * unless the store writes it now. */
    def leaf(name: String, table: String)(df: => DataFrame): () => DataFrame
    /** The link stage: the flat chain output, as nested nodes. */
    def nodes(flat: => DataFrame): DataFrame
    /** Metric rows the store adds beside statistics and link_plan. */
    def lineage(edges: DataFrame): Seq[DataFrame]
  }

  /** `run`: the extract output and the edges (statistics scans them twice)
    * are persisted whole; the entity projection stays UNCACHED (the link
    * chain consumes it exactly once, so a second cache would
    * only add a BlockManager round-trip — the round-2 scaling profile
    * showed cache fill/read as the bound). The cache holds the FLAT link
    * output with the nested shape assembled on top: the in-memory cache
    * prunes only top-level columns and stores structs as opaque blobs, so
    * caching the nested shape made every statistics read decompress the
    * full fat payload (measured 3-4× slower narrow fill at local[32]). */
  private final class InMemory extends Store {
    private def keep(df: DataFrame): DataFrame = {
      cached += df.persist(MEMORY_AND_DISK)
      df
    }
    def extract(docOut: DataFrame): DataFrame = keep(docOut)
    def stage(name: String, table: String, reused: Boolean,
        partitionBy: Seq[String])(df: => DataFrame): DataFrame =
      if (reused) keep(df) else df
    def leaf(name: String, table: String)(df: => DataFrame): () => DataFrame =
      () => df
    def nodes(flat: => DataFrame): DataFrame = Linking.nest(keep(flat))
    def lineage(edges: DataFrame): Seq[DataFrame] = Nil
  }

  /** `runMaterialized`: every stage is a table written through
    * [[KgTables.write]], whose by-name body means a stage the manifest marks
    * done builds no plan and runs no job, so a no-op resume only reads the
    * manifest and re-opens the tables. Nothing is cached: the extract pass
    * re-runs for each of the two extract tables (kg_entities, whose rows
    * carry the gated L5 text, and kg_edges), and downstream stages scan
    * pruned parquet. */
  private final class InTables(tables: KgTables, runId: String, fp: String)
      extends Store {
    def extract(docOut: DataFrame): DataFrame = docOut
    def stage(name: String, table: String, reused: Boolean,
        partitionBy: Seq[String])(df: => DataFrame): DataFrame =
      tables.write(df, table, runId, name, fp, partitionBy)
    def leaf(name: String, table: String)(df: => DataFrame): () => DataFrame = {
      val t = stage(name, table, reused = false, Nil)(df)
      () => t
    }
    def nodes(flat: => DataFrame): DataFrame =
      tables.write(Linking.nest(flat), "kg_nodes", runId, "link", fp)
    def lineage(edges: DataFrame): Seq[DataFrame] =
      Seq(tables.partitionLineage(edges, runId, "extract_edges"))
  }

  /** The stage graph, for both stores (order in the object header). */
  private def stages(spark: SparkSession, pages: Dataset[PageRow],
      dicts: Dicts, cfg: KgConfig, runId: String,
      prepared: Option[Linking.Prepared], store: Store,
      finishStats: Boolean): Result = {
    requireLinkOf(cfg, prepared)
    // ---- extract: fused map pass (E1-E3, R1-R4, D3, D6) ----
    // A DATAFRAME, not a typed Dataset: a typed flatMap would deserialize
    // the whole DocOut row (including the fat scrape column) in every
    // consumer, while Catalyst's explode prunes each projection to exactly
    // the columns it reads. Lazy: a resume that skips every extract stage
    // builds no extract plan.
    lazy val docOut = store.extract(KgExtract.run(spark, pages, dicts, cfg).toDF())
    // the link artifacts, shared by the entity rows' L5 gate, the link
    // stage and the link_plan rows; lazy, so a resume that skips all
    // three builds none
    lazy val prep = prepared.getOrElse(prepareLink(spark, dicts, cfg))
    val entities = store.stage("extract_entities", "kg_entities")(
      entityRows(docOut, prep))
    // a partitioned table reads back with its partition column last; the
    // select keeps one edge column order in both stores
    val edges = store.stage("extract_edges", "kg_edges", reused = true,
      partitionBy = Seq("inferred"))(edgeRows(docOut))
      .select(EdgeColumns.map(col): _*)

    // ---- link: Wikipedia → Wikidata → DBpedia dictionary joins ----
    // by name: a resumed link stage builds no link plan
    val nodes = store.nodes(Linking.linkFlat(spark, entities, prep))

    // ---- canonicalize: connected components over alias/redirect edges ----
    val components = store.leaf("canonicalize", "kg_components")(dicts.components)

    // ---- statistics + metrics ----
    // the gated joins' decisions (broadcast vs salted, with the size
    // evidence) are fixed in the prepared link and written as link_plan
    // rows, so plan drift at scale is observable in the run output; a
    // metrics stage that re-runs after a resumed link writes the same rows
    // without planning the link
    val metrics = store.stage("metrics", "kg_metrics") {
      val stats =
        if (!finishStats) Nil
        else {
          val (rows, caches) =
            Statistics.finish(Statistics.state(nodes, edges), runId)
          store.cached ++= caches
          Seq(rows)
        }
      (stats ++ store.lineage(edges) :+ joinDecisionRows(spark, runId, prep))
        .reduce(_.unionByName(_))
    }
    Result(nodes, edges, components(), metrics,
      release = () => store.cached.foreach(_.unpersist()))
  }

  /** Entity rows off the extract output. `p_extract`, the L5 text, is the
    * page's scrape text on a row whose (entity, qid) key L1-L4 leave
    * unresolved ([[Linking.Prepared.unresolved]], broadcast) and null on
    * every other row, so no regime carries text that linkFlat would not
    * read, nor needs a join to find it. */
  private[graft] def entityRows(docOut: DataFrame,
      prep: Linking.Prepared): DataFrame = {
    val keys = docOut.sparkSession.sparkContext.broadcast(prep.unresolved)
    val unresolved = udf((e: String, q: String) => keys.value.contains((e, q)))
    docOut.select(col("scrape"), explode(col("entities")).as("e"))
      .select(col("e.*"), when(length(col("scrape")) > 0 &&
        unresolved(col("e.entity"), col("e.qid")), col("scrape")).as("p_extract"))
  }

  private def edgeRows(docOut: DataFrame): DataFrame =
    docOut.select(explode(col("triples")).as("t")).select("t.*")

  private val EdgeColumns: Seq[String] =
    Encoders.product[TripleRow].schema.fieldNames.toSeq

  private def joinDecisionRows(spark: SparkSession, runId: String,
      prep: Linking.Prepared): DataFrame = {
    import spark.implicits._
    prep.decisions.map { d =>
      MetricRow(runId, "link_plan", s"dict_join_${d.path}", d.site,
        d.estBytes.toDouble)
    }.toDF()
  }

  /** Input fingerprint WITHOUT scanning the data (north_rule snapshot-based
    * resume): hash of the sorted input file listing when the input is
    * file-backed (the Iceberg-snapshot-id stand-in); otherwise a hash of
    * the canonicalized logical plan. The previous `pages.count()` was a
    * complete extra pass over the corpus — at 10^12 rows, a full scan spent
    * only on naming the run. The join REGIME (`carry`: gated dictJoin
    * sites may broadcast; `salted`: forceSaltedJoins) is folded in too:
    * both regimes write the same tables, but kg_metrics records the join
    * paths the link stage took, so a config flip must not resume the other
    * regime's metrics. */
  private def fingerprintOf(pages: Dataset[PageRow], cfg: KgConfig): String = {
    val files = pages.inputFiles
    val src = if (files.nonEmpty) files.sorted.mkString("\n")
              else s"plan:${pages.queryExecution.logical.semanticHash()}"
    val md = java.security.MessageDigest.getInstance("SHA-1")
    val regime = if (cfg.forceSaltedJoins) "salted" else "carry"
    "in=" + md.digest(src.getBytes("UTF-8")).take(8)
      .map(b => f"${b & 0xff}%02x").mkString + s"+$regime"
  }
}
