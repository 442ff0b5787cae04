package kgbench

import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession

/** Benchmark driver. One JVM, one `local[nproc]` session, one workload:
  *
  *   set-up ×3 → warm-up → timed ops for `--seconds` → output checks
  *
  * and prints one JSON result line (see run.py, which builds and launches
  * this). With `--trace 0` it reports the end-to-end metrics; with
  * `--trace 1` it alternates untraced and traced ops and reports the
  * per-layer metrics of the traced ones plus the tracing overhead.
  */
object Main {

  def session(nproc: Int, runDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("kgbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private def phase(name: String): Unit =
    System.err.println(f"[kgbench] ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1f s: $name done")

  /** Resume calls per op, at least this many and this long in total;
    * the traced run reports their median as `<layer>.resume_s`. */
  val ResumeMinReps = 3
  val ResumeMinSeconds = 0.5

  private final case class Op(wall: Double, resume: Double, resumeTotal: Double,
      shuffleMb: Double, cacheMb: Double, traced: Boolean, var ok: Boolean)

  private def timed(label: String, k: Int)(f: => Unit): (Double, Boolean) = {
    val t0 = System.nanoTime()
    val ok = try { f; true } catch {
      case e: Exception =>
        System.err.println(s"[kgbench] $label of op $k failed: $e"); e.printStackTrace(); false
    }
    ((System.nanoTime() - t0) / 1e9, ok)
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val nproc = a("nproc").toInt
    val runDir = a("run-dir")
    val spark = session(nproc, runDir)
    phase("session")
    try {
      if (a.get("self-test").contains("1")) {
        val ok = SelfTest.run(spark, runDir)
        println(Json.obj(Seq("self_test_passed" -> ok.toString)))
        if (!ok) sys.exit(1)
      } else runWorkload(spark, a, nproc, runDir)
    } finally spark.stop()
  }

  private def runWorkload(spark: SparkSession, a: Map[String, String], nproc: Int,
      runDir: String): Unit = {
    val trace = a("trace") == "1"
    val seconds = a("seconds").toDouble
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    val tr = new Tracer(spark, nproc)
    val w = Workloads(a("workload"), Ctx(spark, tr, a("seed").toLong, runDir))

    tr.attach(trace)
    val setupS = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      tr.span("setup")(w.setup())
      val s = (System.nanoTime() - t0) / 1e9
      tr.setupDone()
      if (trace) tr.count("setup.rows_out", w.setupRows().toDouble)
      s
    }
    tr.attach(false)
    phase("set-up")
    w.warmup()
    phase("warm-up")

    // closed loop until the timed sections add up to `seconds`; a traced
    // run alternates untraced and traced ops and ends on a traced one
    val ops = scala.collection.mutable.ArrayBuffer.empty[Op]
    def measured = ops.map(o => o.wall + o.resumeTotal).sum
    def more = if (trace) ops.size < 2 || ops.size % 2 == 1 || measured < seconds
               else ops.isEmpty || measured < seconds
    while (more) {
      val k = ops.size
      val traced = trace && k % 2 == 1
      tr.attach(traced)
      BenchBus.drain(spark.sparkContext)
      val shuffle0 = counters.shuffleBytes
      counters.resetPeak()
      val cached0 = counters.cached
      val (wall, ran) = timed("run", k)(w.op(k))
      BenchBus.drain(spark.sparkContext)
      val shuffleMb = (counters.shuffleBytes - shuffle0) / Tracer.MB
      val cacheMb = (counters.peak - cached0) / Tracer.MB
      // the resume is short: repeat it and keep the median
      val resumes = scala.collection.mutable.ArrayBuffer((0.0, ran))
      if (ran) {
        resumes.clear()
        w.beforeResume(k)
        while (resumes.size < ResumeMinReps || resumes.map(_._1).sum < ResumeMinSeconds)
          resumes += timed("resume", k)(w.resume(k))
      }
      val resumed = resumes.forall(_._2)
      tr.opDone(((wall + resumes.map(_._1).sum) * 1e3).round)
      val ok = resumed && (try w.checkOp(k) catch {
        case e: Exception =>
          System.err.println(s"[kgbench] check of op $k failed: $e"); e.printStackTrace(); false
      })
      ops += Op(wall, median(resumes.map(_._1).toSeq), resumes.map(_._1).sum, shuffleMb,
        cacheMb, traced, ok)
    }
    val badOps = try w.checkAll() catch {
      case e: Exception =>
        System.err.println(s"[kgbench] check failed: $e"); e.printStackTrace()
        ops.indices.toSet
    }
    badOps.foreach(k => ops(k).ok = false)
    phase("ops and checks")

    val attempted = ops.size
    val failed = ops.count(!_.ok)
    val good = ops.zipWithIndex.filter { case (o, _) => o.ok && !o.traced }
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("wall_s", median(good.map(_._1.wall).toSeq), "s"),
        ("triples_per_s", median(good.map { case (o, k) => w.rowsOf(k) / o.wall }.toSeq), "1/s"),
        ("setup_s", median(setupS), "s"),
        ("shuffle_write_mb", median(good.map(_._1.shuffleMb).toSeq), "MB"),
        ("cache_peak_mb", median(good.map(_._1.cacheMb).toSeq), "MB"))
      else {
        tr.figure(s"${w.resumeLayer}.resume_s", median(ops.filter(_.traced).map(_.resume).toSeq))
        val layer = tr.layerMetrics()
        def walls(traced: Boolean) =
          ops.filter(_.traced == traced).map(o => o.wall + o.resumeTotal).toSeq
        val overhead = median(walls(true)) / median(walls(false)) - 1
        (layer + ("trace.overhead" -> overhead)).toSeq
          .sortBy { case (k, _) => Tracer.metricNames.indexOf(k) }
          .map { case (k, v) => (k, v, unitOf(k)) }
      }
    def fmt(xs: Seq[Double]) = xs.map(x => f"$x%.3f").mkString(" ")
    System.err.println(s"[kgbench] ${ops.size} ops: walls ${fmt(ops.map(_.wall).toSeq)}; " +
      s"resumes ${fmt(ops.map(_.resume).toSeq)}; set-ups ${fmt(setupS)}")
    println(Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
  }

  def unitOf(metric: String): String = metric.split('.').last match {
    case m if m.endsWith("_mb") => "MB"
    case m if m.endsWith("_s") => "s"
    case "jobs" | "tasks" | "rows_out" | "files" | "salted_sites" | "broadcast_sites" => "count"
    case _ => "ratio"
  }
}

/** Minimal JSON writer for the result line. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0.0" else v.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
