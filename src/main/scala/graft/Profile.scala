package graft

import graft.kg.{DocProcess, KgConfig, KgExtract, Linking, PageRow, Pipeline,
  SyntheticCorpus, TextExtract, TextUtils}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.{FilterExec, FormattedMode, InputAdapter,
  ProjectExec, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.util.QueryExecutionListener
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicReference

/** The profiling entry: one SparkSession, four modes.
  *
  *   plan     [--sf DIR] [--out DIR] TARGET...  formatted physical plan
  *   executed [--sf DIR] [--out DIR] TARGET...  post-AQE plan of a noop
  *            write, plus its whole-stage-codegen summary
  *   time     [--sf DIR] REPS TARGET...         noop-write wall times
  *   extract  [N]                               driver-side timing of the
  *            extract pass's components over N generated pages, no Spark
  *
  * A TARGET is a [[SparkEntry.queries]] name, read from `--sf`, or
  * `link_flat_broadcast` / `link_flat_salted`: `Linking.linkFlat` over 100
  * generated pages in the broadcast or the forceSaltedJoins regime
  * (plans/keyed_link/ holds their committed plans). With `--out`, each plan is also written to
  * DIR/TARGET.txt (executed: DIR/TARGET_executed.txt).
  *
  * Usage: runMain graft.Profile MODE ARGS... The session runs at
  * local[SPARK_GRAFT_CPUS] (default 4) with that many shuffle partitions.
  * Each mode is a plain function over a session; `main` parses arguments.
  */
object Profile {

  val DefaultSf = "/root/testdata/sf0.001"

  private val LinkTargets: Map[String, KgConfig] = Map(
    "link_flat_broadcast" -> KgConfig.default,
    "link_flat_salted" -> KgConfig.default.copy(forceSaltedJoins = true))

  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** One DataFrame factory per target, all checked before anything runs.
    * Each call plans its DataFrame afresh. */
  private def targets(spark: SparkSession, sf: String,
      names: Seq[String]): Seq[(String, () => DataFrame)] = {
    val queries = SparkEntry.queries
    val valid = (LinkTargets.keys ++ queries.keys).toSeq.sorted
    val unknown = names.filterNot(valid.contains)
    require(names.nonEmpty && unknown.isEmpty,
      (if (names.isEmpty) "no target" else s"unknown target(s) ${unknown.mkString(", ")}") +
        s"; valid targets: ${valid.mkString(", ")}")
    names.map { n =>
      n -> LinkTargets.get(n).fold(() => queries(n)(spark, sf))(cfg =>
        () => linkFlat(spark, cfg))
    }
  }

  /** The link chain over Pipeline-shaped entity rows and the dictionaries'
    * persisted link artifacts, as every pipeline run links: broadcast
    * with no exchange, salted with three mention-row exchanges. */
  private def linkFlat(spark: SparkSession, cfg: KgConfig): DataFrame = {
    val dicts = graft.ops.MentionOps.dictsFor(spark)
    val prep = Pipeline.prepareLink(spark, dicts, cfg)
    val factory = new SyntheticCorpus.PageFactory(42L, 120)
    val pages = spark.range(100).repartition(8)
      .mapPartitions(it => it.map(i => factory.page(i.toInt)))(Encoders.product[PageRow])
    val docOut = KgExtract.run(spark, pages, dicts, cfg).toDF()
    val scrapes =
      if (Pipeline.carryScrape(cfg)) spark.emptyDataFrame
      else Pipeline.scrapeRows(docOut)
    Linking.linkFlat(spark, Pipeline.entityRows(docOut, cfg), prep, scrapes, cfg)
  }

  private def emit(out: Option[String], file: String, text: String): Unit =
    out.foreach { d =>
      Files.createDirectories(Paths.get(d))
      Files.writeString(Paths.get(d, file), text)
    }

  private def header(name: String): String = s"\n================ $name ================\n"

  /** The formatted physical plan of each target, as planned (pre-AQE). */
  def plan(spark: SparkSession, names: Seq[String], sf: String = DefaultSf,
      out: Option[String] = None): String =
    targets(spark, sf, names).map { case (name, df) =>
      val text = df().queryExecution.explainString(FormattedMode)
      emit(out, s"$name.txt", text)
      header(name) + text
    }.mkString

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Runs each target to a noop sink and returns its executed plan, with
    * the final AQE query stages and their WholeStageCodegen nodes, which a
    * pre-execution explain does not show. The plan comes from the write's
    * QueryExecutionListener event; if none arrives within `waitMs`, it is
    * the DataFrame's own physical plan, noted on stderr. */
  def executed(spark: SparkSession, names: Seq[String], sf: String = DefaultSf,
      out: Option[String] = None, waitMs: Long = 10000): String = {
    val written = new AtomicReference[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = qe.executedPlan match {
        case w: V2TableWriteExec => written.set(w)
        case _ =>
      }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    val built = targets(spark, sf, names)
    spark.listenerManager.register(listener)
    try built.map { case (name, build) =>
      val df = build()
      written.set(null)
      noop(df)
      // the event is posted asynchronously; read it only after a wait, so
      // a zero wait always takes the fallback
      var plan: SparkPlan = null
      var waited = 0L
      while (plan == null && waited < waitMs) {
        Thread.sleep(20); waited += 20; plan = written.get
      }
      if (plan == null) {
        Console.err.println(s"[profile] $name: no listener event within $waitMs ms; " +
          "showing df.queryExecution.executedPlan, which AQE has not finalized")
        plan = df.queryExecution.executedPlan
      }
      val text = plan.toString
      emit(out, s"${name}_executed.txt", text)
      header(name) + text + codegenSummary(name, plan) + "\n"
    }.mkString
    finally spark.listenerManager.unregister(listener)
  }

  /** One line: the WholeStageCodegen count and the Project, Filter and
    * BroadcastHashJoin nodes that run outside codegen. */
  private def codegenSummary(name: String, plan: SparkPlan): String = {
    var stages = 0
    val bare = Seq.newBuilder[String]
    def walk(p: SparkPlan, inCodegen: Boolean): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, inCodegen)
      case q: QueryStageExec => walk(q.plan, inCodegen)
      case w: WholeStageCodegenExec =>
        stages += 1
        w.children.foreach(walk(_, inCodegen = true))
      case i: InputAdapter => i.children.foreach(walk(_, inCodegen = false))
      case _ =>
        p match {
          case _: ProjectExec | _: FilterExec | _: BroadcastHashJoinExec if !inCodegen =>
            bare += p.nodeName
          case _ =>
        }
        p.children.foreach(walk(_, inCodegen))
    }
    walk(plan, inCodegen = false)
    val counts = bare.result().groupBy(identity).toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k x${v.size}" }
    s"[codegen] $name: wholeStage=$stages outsideCodegen=" +
      (if (counts.isEmpty) "none" else counts.mkString(","))
  }

  /** Wall seconds of `reps` noop writes per target, after one untimed
    * warm-up write of every target. */
  def time(spark: SparkSession, reps: Int, names: Seq[String],
      sf: String = DefaultSf): Seq[(String, Seq[Double])] = {
    require(reps > 0, s"REPS must be positive, got $reps")
    val built = targets(spark, sf, names)
    built.foreach { case (_, build) => noop(build()) }
    built.map { case (name, build) =>
      name -> (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        noop(build())
        (System.nanoTime() - t0) / 1e9
      }
    }
  }

  /** Single-threaded timing of the fused extract pass's components over `n`
    * generated pages: the per-page work the executors run, without
    * scheduler or cache noise. Two rounds; round 0 warms the JIT. */
  def extract(n: Int = 50000): String = {
    val report = new StringBuilder
    def line(s: String): Unit = report ++= s"[profile] $s\n"
    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val a = f
      line(f"$label: ${(System.nanoTime() - t0) / 1e9}%.3fs")
      a
    }
    val factory = new SyntheticCorpus.PageFactory(42L, 120)
    val corpus = SyntheticCorpus.generate(0)
    // the full-description gazetteer build (the same IDF formula as the
    // pipeline's distributed one), so no SparkSession is needed
    val descByQid = corpus.wdEntities.iterator
      .map(w => w.qid -> w.descriptions.getOrElse("de", "")).toMap
    val gaz = KgExtract.buildGazetteer(corpus.aliases, descByQid)
    val partOf = corpus.wdEntities.iterator
      .filter(_.part_of.nonEmpty).map(w => w.qid -> w.part_of.toSet).toMap
    val qidInfo = KgExtract.qidInfo(corpus.aliases)
    val patterns = KgExtract.patternIndex(corpus.patterns)
    val cfg = KgConfig.default

    (0 until 2).foreach { round =>
      line(s"--- round $round (round 0 = JIT warmup) ---")
      val pages = time("1 page generation")((0 until n).map(factory.page).toArray)
      val texts = time("2 extractText(html)")(pages.map(p => TextExtract.extractText(p.html)))
      val mentions = time("3 rawMentions (AC find + score)")(
        texts.map(t => KgExtract.rawMentions(t, gaz, partOf, cfg.tfidfWeight)))
      val outs = time("4 DocProcess.process")(
        pages.indices.map { i =>
          DocProcess.process(pages(i).url, texts(i), pages(i).lang, mentions(i),
            patterns, partOf, cfg, qidInfo)
        }.toArray)
      // sub-phases of 3: automaton find alone vs tokenizing
      time("3a automaton find only")(texts.map(t => gaz.automaton.find(t)))
      time("3b tokenize only")(texts.map(t => KgExtract.tokenize(t)))
      line(s"triples=${outs.map(_._2.length.toLong).sum} over $n pages")
      // phase-4 suspects in isolation, at realistic call volumes
      val idCalls = pages.indices.flatMap(i =>
        mentions(i).map(m => (pages(i).url, m.canonical)))
      time(s"4a entityId x${idCalls.size}")(
        idCalls.map { case (u, c) => TextUtils.entityId(u, c) })
      val predPairs = outs.flatMap(_._2.map(_.predicate)).take(20000).sliding(2).toArray
      time(s"4b seqRatio x${predPairs.length}")(
        predPairs.map(p => if (p.length == 2) TextUtils.seqRatio(p(0), p(1)) else 0.0))
      time("4c sentences")(texts.map(DocProcess.sentences))
      val names = idCalls.map(_._2)
      time(s"4d normName x${names.size}")(names.map(TextUtils.normName))
    }
    report.toString
  }

  private val Usage =
    """usage: graft.Profile plan     [--sf DIR] [--out DIR] TARGET...
      |       graft.Profile executed [--sf DIR] [--out DIR] TARGET...
      |       graft.Profile time     [--sf DIR] REPS TARGET...
      |       graft.Profile extract  [N]""".stripMargin

  def main(args: Array[String]): Unit = {
    def options(as: List[String], sf: String,
        out: Option[String]): (String, Option[String], List[String]) = as match {
      case "--sf" :: d :: rest => options(rest, d, out)
      case "--out" :: d :: rest => options(rest, sf, Some(d))
      case rest => (sf, out, rest)
    }
    args.toList match {
      case "extract" :: n => print(n.headOption.fold(extract())(s => extract(s.toInt)))
      case (mode @ ("plan" | "executed" | "time")) :: rest =>
        val (sf, out, positional) = options(rest, DefaultSf, None)
        val spark = session()
        try mode match {
          case "plan" => print(plan(spark, positional, sf, out))
          case "executed" => print(executed(spark, positional, sf, out))
          case _ =>
            require(out.isEmpty && positional.nonEmpty, Usage)
            time(spark, positional.head.toInt, positional.tail, sf).foreach {
              case (name, ts) => println(f"[time] $name: min ${ts.min}%.3f s " +
                s"(all: ${ts.map(t => f"$t%.3f").mkString(", ")})")
            }
        } finally spark.stop()
      case _ =>
        System.err.println(Usage)
        sys.exit(2)
    }
  }
}
