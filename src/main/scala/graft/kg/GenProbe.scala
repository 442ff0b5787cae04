package graft.kg

import org.apache.spark.sql.SparkSession

/** Scratch probe: how much of the "extract" stage is synthetic page
  * GENERATION (bench input synthesis) vs real engine work, and how each
  * part scales. Usage: runMain graft.kg.GenProbe <cpus> <nPages> <reps> */
object GenProbe {
  def main(args: Array[String]): Unit = {
    val (cpus, nPages, reps) = (args(0).toInt, args(1).toInt, args(2).toInt)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val factory = new SyntheticCorpus.PageFactory(42L, 120)
    val dicts = Pipeline.dictsFromCorpus(spark, SyntheticCorpus.generate(0))
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val a = f
      println(f"[gen]   $label: ${(System.nanoTime() - t0) / 1e9}%.2fs")
      a
    }
    def pages = spark.range(nPages)
      .repartition(spark.sparkContext.defaultParallelism * 2)
      .mapPartitions(it => it.map(i => factory.page(i.toInt)))
    (0 until reps).foreach { r =>
      println(s"[gen] rep=$r cpus=$cpus")
      t("generate-only")(pages.map(_.url.length).reduce(_ + _))
      t("generate+extractText")(pages.map(p =>
        TextExtract.extractText(p.html).length).reduce(_ + _))
      val docOut = KgExtract.run(spark, pages, dicts.aliases, dicts.patterns,
        dicts.wdPartOf, KgConfig.default, descByQid = dicts.wdDesc)
      t("generate+fullExtract(nocache)")(docOut.map(_.entities.size).reduce(_ + _))
    }
    spark.stop()
  }
}
