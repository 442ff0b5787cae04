package graft.kg

import graft.SparkSpec
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

/** The keyed (salted) link shape must stay lazy: building its plan over
  * stats-less inputs runs no Spark job — the two join-backs bypass
  * dictJoin, whose row-count fallback would execute the key chain while
  * the plan is built. */
class KeyedLinkPlanSpec extends SparkSpec {
  import spark.implicits._

  /** RDD-backed copy: LogicalRDD carries no size statistics, so the
    * optimizer reports the defaultSizeInBytes sentinel for it and for
    * everything derived from it. */
  private def statsLess(df: DataFrame): DataFrame =
    spark.createDataFrame(df.rdd, df.schema)

  /** Job starts seen by the listener bus, tagged with the job's "fence"
    * local property (null for untagged jobs). */
  private final class JobLog extends SparkListener {
    val fences = new ConcurrentLinkedQueue[String]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      fences.add(Option(e.properties).flatMap(p => Option(p.getProperty("fence")))
        .getOrElse("untagged"))
  }

  test("building the salted keyed link plan starts no Spark job") {
    val corpus = SyntheticCorpus.generate(nPages = 20, seed = 7L)
    val dicts = Pipeline.dictsFromCorpus(spark, corpus)
    val cfg = KgConfig.default.copy(forceSaltedJoins = true, nSalt = 4)
    // the dictionaries are prepared (and materialized) before counting
    val prep = Pipeline.prepareLink(spark, dicts, cfg)
    val e = corpus.entities
    val rows = Seq(
      EntityRow("u1", "de", "i1", e(0).name, e(0).qid, e(0).typ, e(0).name, 0, 1, "explicit", 1),
      EntityRow("u2", "de", "i2", e(0).name, e(0).qid, e(0).typ, e(0).name, 0, 1, "explicit", 1),
      EntityRow("u2", "de", "i3", e(7).name, null, e(7).typ, e(7).name, 2, 3, "explicit", 1))
    val entities = statsLess(rows.toDF())
    val scrapes = statsLess(Seq(("u1", "a" * 150), ("u2", "b" * 150))
      .toDF("p_url", "p_extract"))
    assert(entities.queryExecution.optimizedPlan.stats.sizeInBytes >=
      BigInt(Long.MaxValue) / 8, "input must be stats-less")

    val log = new JobLog
    spark.sparkContext.addSparkListener(log)
    val rec = new Linking.JoinRecorder
    val flat =
      try {
        val f = Linking.linkFlat(spark, entities, prep, scrapes, cfg, rec)
        f.queryExecution.executedPlan
        // the bus delivers job starts in order: once the fence job is
        // seen, any job started while the plan was built has been seen too
        spark.sparkContext.setLocalProperty("fence", "plan-built")
        spark.sparkContext.parallelize(Seq(1), 1).count()
        spark.sparkContext.setLocalProperty("fence", null)
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (!log.fences.contains("plan-built") && System.nanoTime() < deadline)
          Thread.sleep(10)
        f
      } finally spark.sparkContext.removeSparkListener(log)
    val seen = log.fences.toArray.toSeq
    assert(seen == Seq("plan-built"), s"plan building ran jobs: $seen")

    val ds = rec.drain()
    for (site <- Seq("link_key_flags", "link_key_payload")) {
      val d = ds.filter(_.site == site)
      assert(d.size == 1, s"expected one decision for $site, got $d")
      assert(d.head.path == "salted" && !d.head.fromRowCount, d.head.toString)
    }
    assert(!ds.exists(_.fromRowCount), s"no site may fall back to a count: $ds")
    // the plan still answers: one node per entity row, null qid included
    assert(flat.count() == rows.size)
    assert(flat.filter($"entity" === e(0).name && $"wiki_status" === "found")
      .count() == 2)
  }

  test("narrow rows under broadcast dictionaries keep the per-row chain") {
    val corpus = SyntheticCorpus.generate(nPages = 20, seed = 7L)
    val dicts = Pipeline.dictsFromCorpus(spark, corpus)
    val prep = Pipeline.prepareLink(spark, dicts, KgConfig.default)
    val e = corpus.entities
    val entities = Seq(
      EntityRow("u1", "de", "i1", e(0).name, e(0).qid, e(0).typ, e(0).name, 0, 1, "explicit", 1))
      .toDF()
    val scrapes = Seq(("u1", "a" * 150)).toDF("p_url", "p_extract")
    val rec = new Linking.JoinRecorder
    val flat = Linking.linkFlat(spark, entities, prep, scrapes, KgConfig.default, rec)
    val sites = rec.drain().map(_.site)
    // keying would only add exchanges to a map-only chain: no join-back
    // sites, just the one L5 scrape join
    assert(!sites.exists(_.startsWith("link_key_")), sites)
    assert(sites.count(_ == "l5_scrapes") == 1, sites)
    assert(flat.count() == 1)
  }
}
