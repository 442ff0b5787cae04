package graft.kg

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.WholeStageCodegenExec

/** Scratch probe: why does the broadcast link chain run WITHOUT
  * whole-stage codegen? Builds the chain stage by stage and reports, for
  * each prefix, whether the executed plan contains any WholeStageCodegen
  * node over the PROBE side (and how many ops sit outside codegen).
  * Usage: runMain graft.kg.CodegenProbe
  */
object CodegenProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val corpus = SyntheticCorpus.generate(0)
    val dicts = Pipeline.dictsFromCorpus(spark, corpus)
    val cfg = KgConfig.default
    val prep = Pipeline.prepareLink(spark, dicts, cfg)
    val factory = new SyntheticCorpus.PageFactory(42L, 120)
    val pages = spark.range(200).repartition(4)
      .mapPartitions(it => it.map(i => factory.page(i.toInt)))(
        org.apache.spark.sql.Encoders.product[PageRow])
    val docOut = KgExtract.run(spark, pages, dicts.aliases, dicts.patterns,
      dicts.wdPartOf, cfg, dicts.wdDesc,
      idf = Some(dicts.idf)).toDF()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    docOut.count()
    val entities = Pipeline.entityRows(docOut, cfg)

    // capture the EXECUTED plan of the noop write (AQE inserts
    // WholeStageCodegen lazily per query stage at execution time — the
    // pre-execution explain shows none, which is an artifact, not truth)
    @volatile var lastPlan: org.apache.spark.sql.execution.SparkPlan = null
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = { lastPlan = qe.executedPlan }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })

    // runs `df` and returns its executed plan: the listener's copy, or —
    // if it has not fired yet — the DataFrame's own physical plan
    def executed(df: DataFrame): org.apache.spark.sql.execution.SparkPlan = {
      lastPlan = null
      df.write.format("noop").mode("overwrite").save()
      var spin = 0
      while (lastPlan == null && spin < 100) { Thread.sleep(20); spin += 1 }
      if (lastPlan != null) lastPlan else df.queryExecution.executedPlan
    }

    def report(label: String, df: DataFrame): Unit = {
      val plan = executed(df)
      var wsc = 0
      var bare = List.empty[String]
      def walk(p: org.apache.spark.sql.execution.SparkPlan,
          inCodegen: Boolean): Unit = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.executedPlan, inCodegen)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          walk(q.plan, inCodegen)
        case w: WholeStageCodegenExec =>
          wsc += 1
          w.children.foreach(walk(_, true))
        case i: org.apache.spark.sql.execution.InputAdapter =>
          i.children.foreach(walk(_, false))
        case p =>
          p match {
            case _: org.apache.spark.sql.execution.ProjectExec |
                 _: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec |
                 _: org.apache.spark.sql.execution.FilterExec if !inCodegen =>
              bare ::= p.getClass.getSimpleName
            case _ =>
          }
          p.children.foreach(walk(_, inCodegen))
      }
      walk(plan, false)
      println(s"[codegen] $label: wholeStage=$wsc bareOps=${bare.size} " +
        bare.groupBy(identity).map { case (k, v) => s"$k x${v.size}" }.mkString(","))
      // fields at the output
      println(s"[codegen]   outFields=${df.schema.fields.length}")
    }

    def dump(label: String, df: DataFrame): Unit =
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"/tmp/codegen_$label.txt"),
        executed(df).toString)
    dump("flat", Linking.linkFlat(spark, entities, prep,
      spark.emptyDataFrame, cfg))

    report("0 entities", entities)
    val rec = Linking.JoinRecorder.noop
    val s1 = Linking.dictJoin(entities, prep.l1Dict,
        entities("entity"), col("l1_key"), cfg, entities("url"), rec = rec)
      .withColumn("w_lookup", coalesce(col("l1_lookup"), col("entity")))
      .drop("l1_key", "l1_lookup")
    report("1 l1 join", s1)
    val s2 = Linking.dictJoin(s1, prep.l2Dict, s1("qid"), col("sl_qid"), cfg,
      s1("url"), rec = rec).drop("sl_qid")
    report("2 l2 join", s2)
    val flat = Linking.linkFlat(spark, entities, prep, spark.emptyDataFrame, cfg)
    report("9 full flat", flat)
    spark.stop()
  }
}
