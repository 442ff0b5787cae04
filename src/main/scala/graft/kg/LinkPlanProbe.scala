package graft.kg

import org.apache.spark.sql.SparkSession

/** Scratch plan probe: prints the formatted physical plan of the LINK
  * chain (Linking.linkFlat over Pipeline-shaped entity rows) under the
  * broadcast regime and under forceSaltedJoins — the at-scale join shape
  * whose exchange count the optimization rounds track (PLANS.md). Both
  * plans join the prepared per-key tables back onto the mention rows
  * (flags, L5 text, payload): broadcast, with no exchange; salted, with
  * three mention-row exchanges.
  * Usage: runMain graft.kg.LinkPlanProbe [salted|broadcast|both] [outDir]
  * — with `outDir`, each plan is also written to outDir/link_flat_<mode>.txt
  * (plans/keyed_link/ holds the committed copies).
  */
object LinkPlanProbe {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("both")
    val outDir = args.lift(1)
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val corpus = SyntheticCorpus.generate(0)
    val dicts = Pipeline.dictsFromCorpus(spark, corpus)
    val factory = new SyntheticCorpus.PageFactory(42L, 120)
    val pages = spark.range(100).repartition(8)
      .mapPartitions(it => it.map(i => factory.page(i.toInt)))(
        org.apache.spark.sql.Encoders.product[PageRow])

    def planFor(cfg: KgConfig, label: String): Unit = {
      // persist + materialize like Pipeline.prepareLink: production
      // dictionaries are static artifacts, so the probe plan should show
      // cache reads for them, leaving only the probe-side exchanges
      val prep = Pipeline.prepareLink(spark, dicts, cfg)
      val docOut = KgExtract.run(spark, pages, dicts.aliases, dicts.patterns,
        dicts.wdPartOf, cfg, dicts.wdDesc,
        idf = Some(dicts.idf)).toDF()
      val scrapes =
        if (Pipeline.carryScrape(cfg)) spark.emptyDataFrame
        else Pipeline.scrapeRows(docOut)
      val flat = Linking.linkFlat(spark, Pipeline.entityRows(docOut, cfg),
        prep, scrapes, cfg)
      val plan = flat.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      println(s"\n================ link_flat_$label ================")
      println(plan)
      outDir.foreach { d =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(d, s"link_flat_$label.txt"), plan)
      }
    }
    if (mode == "broadcast" || mode == "both")
      planFor(KgConfig.default, "broadcast")
    if (mode == "salted" || mode == "both")
      planFor(KgConfig.default.copy(forceSaltedJoins = true), "salted")
    spark.stop()
  }
}
