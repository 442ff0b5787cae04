package graft.kg

import org.apache.spark.sql.SparkSession

/** Scratch probe decomposing the LINK stage cost at scale (broadcast
  * regime): where do the ~18 s at 1.08M pages go?
  *   A  entities projection only (docOut cache read + explode)
  *   B  full flat chain compute, NO persist (noop sink)
  *   C  flat persist + count (the production Pipeline.run shape)
  *   D  narrow chain compute (statistics' columns only, noop)
  * B-A = join chain + fat projection; C-B = cache fill; B-D = fat payload
  * construction. Usage: runMain graft.kg.LinkStageProbe <cpus> <nPages> <reps>
  */
object LinkStageProbe {
  def main(args: Array[String]): Unit = {
    val (cpus, nPages, reps) = (args(0).toInt, args(1).toInt, args(2).toInt)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val factory = new SyntheticCorpus.PageFactory(42L, 120)
    val dicts = Pipeline.dictsFromCorpus(spark, SyntheticCorpus.generate(0))
    val cfg = KgConfig.default
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val a = f
      println(f"[linkstage] $label: ${(System.nanoTime() - t0) / 1e9}%.2fs")
      a
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val prep = t("prepare(once)")(Pipeline.prepareLink(spark, dicts, cfg))
    val keepIds = spark.sparkContext.getPersistentRDDs.keySet
    (0 until reps).foreach { r =>
      println(s"[linkstage] rep=$r")
      val pages = spark.range(nPages)
        .repartition(spark.sparkContext.defaultParallelism * 2)
        .mapPartitions(it => it.map(i => factory.page(i.toInt)))(
          org.apache.spark.sql.Encoders.product[PageRow])
      // extract-stage decomposition: E0 generation+PageRow encode only;
      // E1 + extract compute + DocOut encode (no cache store);
      // E2 the production persist+count (adds the columnar store)
      t("E0 pages noop")(noop(pages.toDF()))
      val docOutPlain = KgExtract.run(spark, pages, dicts.aliases,
        dicts.patterns, dicts.wdPartOf, cfg, useHtml = true, dicts.wdDesc,
        idf = Some(dicts.idf)).toDF()
      t("E1 docOut noop (no cache)")(noop(docOutPlain))
      val docOut = KgExtract.run(spark, pages, dicts.aliases, dicts.patterns,
        dicts.wdPartOf, cfg, useHtml = true, dicts.wdDesc,
        idf = Some(dicts.idf)).toDF()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      t("E2 docOut fill (count)")(docOut.count())
      val entities = Pipeline.entityRows(docOut, cfg)
      t("A entities noop")(noop(entities))
      val flat = Linking.linkFlat(spark, entities, prep,
        spark.emptyDataFrame, cfg)
      t("B flat compute noop")(noop(flat))
      // per-column knockouts: which fat column owns the compute cost?
      t("B1 -multilang")(noop(flat.drop("wiki_multilang")))
      t("B2 -multilang -wiki_extract")(
        noop(flat.drop("wiki_multilang", "wiki_extract")))
      t("B3 -ml -wx -categories -links")(noop(flat.drop(
        "wiki_multilang", "wiki_extract", "wiki_categories", "wiki_links")))
      t("B4 -all wd arrays/maps too")(noop(flat.drop(
        "wiki_multilang", "wiki_extract", "wiki_categories", "wiki_links",
        "wd_labels", "wd_descriptions", "wd_aliases", "wd_instance_of",
        "wd_subclass_of", "wd_part_of", "wd_has_part")))
      t("B5 -dbp payload too")(noop(flat.drop(
        "wiki_multilang", "wiki_extract", "wiki_categories", "wiki_links",
        "wd_labels", "wd_descriptions", "wd_aliases", "wd_instance_of",
        "wd_subclass_of", "wd_part_of", "wd_has_part",
        "dbp_abstract", "dbp_types", "dbp_categories", "dbp_subjects",
        "dbp_part_of", "dbp_has_part")))
      val flatP = Linking.linkFlat(spark, entities, prep,
        spark.emptyDataFrame, cfg)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      t("C flat persist+count")(flatP.count())
      t("C2 warm narrow read")(flatP.select("wiki_status", "wd_qid",
        "dbp_status").write.format("noop").mode("overwrite").save())
      val narrow = Linking.linkFlat(spark, entities, prep,
        spark.emptyDataFrame, cfg)
        .select("url", "entity", "entity_type", "inferred", "wiki_status",
          "wiki_fallback_source", "wiki_categories", "wiki_links",
          "wd_qid", "wd_status", "wd_instance_of", "wd_subclass_of",
          "wd_part_of", "wd_has_part", "dbp_status", "dbp_fallback_source",
          "dbp_types", "dbp_categories", "dbp_subjects", "dbp_part_of",
          "dbp_has_part")
      t("D narrow compute noop")(noop(narrow))
      spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) => keepIds.contains(id) }
        .values.foreach(_.unpersist(true))
    }
    spark.stop()
  }
}
