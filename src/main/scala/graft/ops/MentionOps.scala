package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.queries.Tables.t
import graft.kg.{AhoCorasick, KgConfig, Pipeline, SyntheticCorpus}

/** Gazetteer mention detection (the E1 operator) exercised over the driver
  * `documents` table, plus the full KG pipeline as a driver-visible query.
  * The mention scan uses the REAL broadcast Aho-Corasick machinery — the
  * DuckDB oracle reproduces word-bounded counts with regexp_extract_all.
  */
object MentionOps {

  /** Fixed gazetteer drawn from the documents vocabulary. */
  val Terms: Seq[String] = Seq("customer", "filter", "join", "merge",
    "spark", "stream", "table", "window")

  /** Aho-Corasick scan → per-doc term counts (word-bounded,
    * leftmost-longest — equals regex \b counts for this term set). */
  def kgMentions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(AhoCorasick.build(Terms))
    val terms = Terms.toArray
    t(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val ac = bc.value
        it.flatMap { case (docId, text) =>
          ac.find(text)
            .groupBy(_._1)
            .map { case (pid, ms) => (docId, terms(pid), ms.size.toLong) }
        }
      }
      .toDF("doc_id", "term", "n")
      .orderBy("doc_id", "term")
  }

  /** MAX_ENTITIES-style per-doc top-k on mention frequency (E3 shape). */
  def kgMentionTopk(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy(col("n").desc, col("term").asc)
    kgMentions(spark, dir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("doc_id", "rk", "term", "n")
      .orderBy("doc_id", "rk")
  }

  /** `build` memoized per session: a dictionary set is static
    * per-deployment data, and so are the link artifacts that
    * Pipeline.prepareLink builds once per Dicts and config. Rebuilding
    * them on every query invocation would charge the 100-page pipeline
    * micro-query with dictionary-prep fixed costs that at real scale
    * amortize to ~0 (the bench's kgRun excludes them for the same
    * reason). Eviction: entries of STOPPED sessions are purged on every
    * access — a WeakHashMap cannot do this because the cached DataFrames
    * strongly reference their SparkSession key, keeping the entry
    * reachable forever. */
  private[graft] def perSession(
      build: SparkSession => Pipeline.Dicts): SparkSession => Pipeline.Dicts = {
    val bySession = new java.util.HashMap[SparkSession, Pipeline.Dicts]()
    spark => bySession.synchronized {
      bySession.keySet.removeIf(s => s.sparkContext.isStopped)
      bySession.computeIfAbsent(spark, s => build(s))
    }
  }

  /** The synthetic dictionaries of the session. */
  private[graft] val dictsFor: SparkSession => Pipeline.Dicts =
    perSession(s => Pipeline.dictsFromCorpus(s, SyntheticCorpus.generate(0)))

  /** Full KG pipeline on the deterministic synthetic corpus (FIXTURES.md):
    * driver-visible extract→link→relate run, hash-compared against a golden
    * parquet dumped by the INDEPENDENT Scala oracle (graft.kg.Oracle) in
    * Verify — the driver's DuckDB oracle reads that file. */
  def kgPipeline(spark: SparkSession, cfg: KgConfig): DataFrame = {
    import spark.implicits._
    // pages generated DISTRIBUTED on executors (PageFactory) — only the
    // dictionaries are driver-built, mirroring the real pipeline entry
    val factory = new SyntheticCorpus.PageFactory(42L, 120)
    val pages = spark.range(100).repartition(8)
      .mapPartitions(it => it.map(i => factory.page(i.toInt)))
    // links over the dictionaries' memoized Pipeline.prepareLink artifacts
    val res = Pipeline.run(spark, pages, dictsFor(spark), cfg)
    res.edges.select("url", "subject", "predicate", "object", "inferred")
      .orderBy("url", "subject", "predicate", "object", "inferred")
  }

  def kgPipelineTriples(spark: SparkSession, dir: String): DataFrame =
    kgPipeline(spark, KgConfig.default)

  /** P12 type restrictions + E4 standalone implied-entity stage exercised
    * end-to-end (both default-off in KgConfig.default, so the flagship
    * query never reaches them); golden-diffed against the independent
    * oracle run with the SAME cfg (Verify.writeGoldens). */
  def kgPipelineRestricted(spark: SparkSession, dir: String): DataFrame =
    kgPipeline(spark, KgConfig.default.copy(
      allowedEntityTypes = Some(Set("Person", "Ort", "Organisation")),
      inferEntities = true))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "kg_mentions"            -> kgMentions _,
    "kg_mention_topk"        -> kgMentionTopk _,
    "kg_pipeline_triples"    -> kgPipelineTriples _,
    "kg_pipeline_restricted" -> kgPipelineRestricted _)

  private val termList = Terms.map(s => s"'$s'").mkString("[", ", ", "]")

  // golden parquet written by graft.Verify from the independent oracle;
  // path shared with Verify through graft.kg.Golden (env-overridable, no
  // hardcoded checkout location)
  private def goldenSql(name: String): String =
    s"""SELECT url, subject, predicate, "object", inferred
       FROM read_parquet('${graft.kg.Golden.path(name)}/*.parquet')
       ORDER BY url, subject, predicate, "object", inferred"""

  val oracles: Map[String, String] = Map(
    "kg_pipeline_triples" -> goldenSql("kg_pipeline_triples"),
    "kg_pipeline_restricted" -> goldenSql("kg_pipeline_restricted"),
    "kg_mentions" ->
      s"""SELECT doc_id, t AS term,
         CAST(len(regexp_extract_all(text, '\\b' || t || '\\b')) AS BIGINT) AS n
         FROM documents, (SELECT unnest($termList) AS t) z
         WHERE len(regexp_extract_all(text, '\\b' || t || '\\b')) > 0
         ORDER BY doc_id, term""",
    "kg_mention_topk" ->
      s"""WITH m AS (
           SELECT doc_id, t AS term,
             CAST(len(regexp_extract_all(text, '\\b' || t || '\\b')) AS BIGINT) AS n
           FROM documents, (SELECT unnest($termList) AS t) z
           WHERE len(regexp_extract_all(text, '\\b' || t || '\\b')) > 0),
         r AS (SELECT doc_id, term, n,
             row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, term ASC) AS rk
           FROM m)
         SELECT doc_id, rk, term, n FROM r WHERE rk <= 3 ORDER BY doc_id, rk""")
}
