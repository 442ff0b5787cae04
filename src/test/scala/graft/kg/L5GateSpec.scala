package graft.kg

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** The L5 gate is decided per key before the link: kg_entities carries its
  * page's scrape text only on rows whose (entity, qid) key L1-L4 leave
  * unresolved, in both regimes, so the link joins the per-key payload back
  * once. In the salted regime that is the only exchange of mention rows in
  * the kg_nodes write; no regime writes a kg_scrapes table, and the gated
  * join sites are the payload join-back and the Wikidata label join. */
class L5GateSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val salted = KgConfig.default.copy(forceSaltedJoins = true)

  /** The final plan of each parquet table write `body` runs, by table. */
  private def writesOf(body: => Unit): Map[String, SparkPlan] = {
    val plans = new ConcurrentHashMap[String, SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        collect(qe.executedPlan) { case w: DataWritingCommandExec => w }
          .foreach(w => w.cmd match {
            case i: InsertIntoHadoopFsRelationCommand =>
              plans.put(i.outputPath.getName, w)
            case _ =>
          })
      override def onFailure(funcName: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // the listener bus delivers asynchronously; kg_metrics is written last
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!plans.containsKey("kg_metrics") && System.nanoTime() < deadline)
        Thread.sleep(10)
    } finally spark.listenerManager.unregister(listener)
    scala.jdk.CollectionConverters.MapHasAsScala(plans).asScala.toMap
  }

  /** Shuffle exchanges of `plan` whose input reads kg_entities. */
  private def mentionRowExchanges(plan: SparkPlan): Seq[ShuffleExchangeLike] =
    collect(plan) { case s: ShuffleExchangeLike => s }.filter { s =>
      collect(s) {
        case f: FileSourceScanExec
            if f.relation.location.rootPaths.exists(_.getName == "kg_entities") => f
      }.nonEmpty
    }

  test("salted runMaterialized shuffles mention rows once and writes no kg_scrapes") {
    val corpus = SyntheticCorpus.generate(nPages = 40, seed = 7L)
    val pages = spark.createDataset(corpus.pages).repartition(4)
    val dicts = Pipeline.dictsFromCorpus(spark, corpus)
    for ((cfg, exchanges) <- Seq(salted -> 1, KgConfig.default -> 0)) {
      val dir = Files.createTempDirectory("kg_l5_gate").toString
      var res: Pipeline.Result = null
      val writes = writesOf {
        res = Pipeline.runMaterialized(spark, pages, dicts,
          new KgTables(spark, dir), cfg)
      }
      val nodesWrite = writes.getOrElse("kg_nodes",
        fail(s"no kg_nodes write seen: ${writes.keySet}"))
      val got = mentionRowExchanges(nodesWrite)
      assert(got.size == exchanges,
        s"forceSaltedJoins=${cfg.forceSaltedJoins}: mention-row exchanges\n" +
          got.map(_.toString).mkString("\n"))
      val sites = res.metrics.filter($"stage" === "link_plan")
        .select("key").as[String].collect().toSet
      assert(sites == Set("wd_ref_labels", "link_key_payload"), sites)
      assert(!writes.contains("kg_scrapes"), writes.keySet)
      assert(!Files.exists(Paths.get(dir, "kg_scrapes")))
      assert(!Files.readString(Paths.get(dir, "_snapshots.jsonl"))
        .contains("\"stage\":\"extract_scrapes\""))
    }
  }

  for ((seed, infer) <- Seq(42L -> false, 5L -> true)) {
    test(s"kg_entities carries the scrape text exactly on unresolved keys (inferEntities=$infer)") {
      val corpus = SyntheticCorpus.generate(nPages = 60, seed = seed)
      val pages = spark.createDataset(corpus.pages).repartition(4)
      val dicts = Pipeline.dictsFromCorpus(spark, corpus)
      for (cfg <- Seq(KgConfig.default, salted).map(_.copy(inferEntities = infer))) {
        val dir = Files.createTempDirectory("kg_l5_rows").toString
        Pipeline.runMaterialized(spark, pages, dicts, new KgTables(spark, dir), cfg)
        val flags = Pipeline.prepareLink(spark, dicts, cfg).keyWiki
          .select($"entity".as("k_entity"), $"qid".as("k_qid"), $"resolved4")
        val scrapes = KgExtract.run(spark, pages, dicts, cfg).toDF()
          .select($"url".as("s_url"), $"scrape")
        val rows = spark.read.parquet(s"$dir/kg_entities")
          .join(flags, $"entity" <=> $"k_entity" && $"qid" <=> $"k_qid", "left")
          .join(scrapes, $"url" === $"s_url", "left")
          .select($"inferred", $"resolved4", $"p_extract", $"scrape")
          .as[(String, Option[Boolean], String, String)].collect().toSeq
        val where = s"forceSaltedJoins=${cfg.forceSaltedJoins}"
        assert(rows.forall(_._2.isDefined), s"$where: a row without its key")
        val open = rows.filter(_._2.contains(false))
        // the test data holds both kinds of key
        assert(open.exists(_._4.nonEmpty) && rows.exists(_._2.contains(true)), where)
        assert(!infer || rows.exists(_._1 == "implicit"), s"$where: no E4 entity")
        for ((inferred, resolved4, text, scrape) <- rows) {
          val want = if (resolved4.contains(false) && scrape.nonEmpty) scrape else null
          assert(text == want,
            s"$where: $inferred row with resolved4=$resolved4 carries " +
              s"${Option(text).map(_.take(40))}")
        }
      }
    }
  }
}
