package kgbench

import scala.collection.mutable
import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.BlockId

/** Counters behind the end-to-end metrics: shuffle bytes written and the
  * bytes of cached RDD blocks (current and peak). Cheap enough to stay
  * registered during timed runs. Updated on the listener-bus thread; read
  * only after [[BenchBus.drain]]. */
final class Counters extends SparkListener {
  private val blocks = mutable.HashMap.empty[BlockId, Long]
  var shuffleBytes = 0L
  var cached = 0L
  var peak = 0L

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null)
      shuffleBytes += e.taskMetrics.shuffleWriteMetrics.bytesWritten

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD) {
      val size = if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L
      cached += size - blocks.getOrElse(i.blockId, 0L)
      if (size > 0) blocks(i.blockId) = size else blocks.remove(i.blockId)
      peak = math.max(peak, cached)
    }
  }

  def resetPeak(): Unit = peak = cached
}

/** Layer spans and the Spark events inside them, kept in memory for the
  * traced run and aggregated into per-layer metrics at the end.
  *
  * The benchmark opens a span around each call it makes into a layer
  * ([[span]]). Jobs are attributed to layers in this order:
  *   1. a job of a SQL execution that writes a KG table belongs to the layer
  *      that produces the table (kg_edges → extract, kg_nodes → link, ...);
  *   2. inside a span opened with `refine = true` (a call that runs several
  *      layers, such as `runMaterialized`), a job whose innermost library
  *      frame is a layer's class belongs to that layer (e.g. the eager
  *      connected-components jobs inside `Pipeline.run`);
  *   3. otherwise a job belongs to the span it started in; in a streaming
  *      span, a job of the micro-batch body (one with a SQL execution)
  *      belongs to the driver layer, as does the part of the batch's
  *      `addBatch` time the sink writes do not cover.
  * A layer's self time is the time of its spans minus the parts that rules
  * 1 and 2 hand to other layers. Time of an operation outside every span is
  * the remainder.
  */
final class Tracer(spark: SparkSession, nproc: Int) extends SparkListener {
  import Tracer._


  // written by the listener-bus thread, read after drain()
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.HashMap.empty[Int, StageAgg]
  private val execs = mutable.HashMap.empty[Long, Exec]
  private val execTable = mutable.HashMap.empty[Long, String]
  private val running = mutable.LinkedHashSet.empty[Int]
  private val blockSize = mutable.HashMap.empty[BlockId, Long]
  private val blockAdds = mutable.ArrayBuffer.empty[(Int, Long, Long)] // (job, time, bytes)
  private val progress = mutable.ArrayBuffer.empty[(Long, Map[String, Long])]
  // written by the benchmark thread
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counts = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  private val figures = mutable.HashMap.empty[String, Double]
  private var ops = 0
  private var opWallMs = 0L

  private var on = false
  private var setups = 0
  def attached: Boolean = on

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.logical.collectFirst { case c: InsertIntoHadoopFsRelationCommand =>
        c.outputPath.toString
      }.foreach(p => Tracer.this.synchronized(writeEnded(p)))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = scala.jdk.CollectionConverters.MapHasAsScala(p.durationMs).asScala
        .map { case (k, v) => k -> v.longValue }.toMap
      val t = java.time.Instant.parse(p.timestamp).toEpochMilli
      Tracer.this.synchronized(progress += ((t, d)))
    }
  }

  /** Register the three listeners (tracing on) or remove them (off). */
  def attach(enable: Boolean): Unit = if (enable != on) {
    on = enable
    if (on) {
      spark.sparkContext.addSparkListener(this)
      spark.listenerManager.register(queryListener)
      spark.streams.addListener(streamListener)
    } else {
      drain()
      spark.sparkContext.removeSparkListener(this)
      spark.listenerManager.unregister(queryListener)
      spark.streams.removeListener(streamListener)
    }
  }

  def drain(): Unit = BenchBus.drain(spark.sparkContext)

  /** Time `f` as layer `layer`; recorded only while tracing is on. */
  def span[A](layer: String, refine: Boolean = false)(f: => A): A = {
    val t0 = System.currentTimeMillis()
    try f
    finally if (on) spans += Span(layer, t0, System.currentTimeMillis(), refine)
  }

  /** Add a per-operation count (rows out, extra layer figures). */
  def count(name: String, v: Double): Unit = if (on) counts(name) += v

  /** Set a figure that describes the whole run rather than one op. */
  def figure(name: String, v: Double): Unit = if (on) figures(name) = v

  /** Close one traced operation of `wallMs`. */
  def opDone(wallMs: Long): Unit = if (on) { ops += 1; opWallMs += wallMs }

  /** Close one traced repetition of the set-up. */
  def setupDone(): Unit = if (on) setups += 1

  def tracedOps: Int = ops
  def tracedWallS: Double = opWallMs / 1e3 / math.max(ops, 1)

  // ---- listener callbacks (listener-bus thread) ----

  /** The query listener runs on the listener bus when a SQL execution ends,
    * just before or just after this listener sees the end event.
    * Executions here nest (a streaming micro-batch holds its sink writes)
    * but never overlap otherwise, so the write is the innermost open
    * execution, or else the one that ended last. */
  private def writeEnded(path: String): Unit = {
    val lastEnded = execs.values.filter(_.ended).maxByOption(_.end)
    (execs.values.filterNot(_.ended) ++ lastEnded).maxByOption(_.id)
      .foreach(x => execTable(x.id) = path)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    val details = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    jobs(e.jobId) = Job(e.jobId, exec, e.time, frameLayer(details))
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    running += e.jobId
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
    running -= e.jobId
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stages.getOrElseUpdate(e.stageId, new StageAgg)
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.tasks += 1
      s.shuffleW += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.diskBytesSpilled
      s.recordsW += m.outputMetrics.recordsWritten
      s.durations += e.taskInfo.duration
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD) {
      val size = if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L
      val grew = size - blockSize.getOrElse(i.blockId, 0L)
      if (size > 0) blockSize(i.blockId) = size else blockSize.remove(i.blockId)
      if (grew > 0)
        blockAdds += ((running.lastOption.getOrElse(-1), System.currentTimeMillis(), grew))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execs(s.executionId) = Exec(s.executionId, s.rootExecutionId.getOrElse(s.executionId), s.time)
      case s: SparkListenerSQLExecutionEnd =>
        execs.get(s.executionId).foreach { x => x.end = s.time; x.ended = true }
      case _ =>
    }
  }

  // ---- aggregation ----

  private def tableLayerOfExec(exec: Long): Option[String] =
    if (exec < 0) None
    else {
      val root = execs.get(exec).map(_.root).getOrElse(exec)
      (execTable.get(exec) orElse execTable.get(root)).flatMap(tableLayer)
    }

  private def spanAt(t: Long): Option[Span] = spans.find(s => t >= s.t0 && t <= s.t1)

  private def jobLayer(j: Job): Option[String] =
    tableLayerOfExec(j.exec).orElse {
      spanAt(j.start).map { s =>
        if (!s.refine) s.layer
        // a streaming job with a SQL execution runs in the micro-batch body
        else if (s.layer == "stream" && j.exec >= 0) "driver"
        else j.frameLayer.getOrElse(s.layer)
      }
    }

  /** Per-layer metrics, averaged per traced operation. Every layer of
    * [[Layers]] is present; a layer the workload never reaches reads 0. */
  def layerMetrics(): Map[String, Double] = synchronized {
    val self = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    // intervals that rules 1 and 2 move out of a refine span
    spans.foreach { s =>
      var movedMs = 0L
      if (s.refine) {
        val moves = mutable.ArrayBuffer.empty[(String, Long, Long)]
        execs.values.filter(x => execTable.contains(x.id) && x.start >= s.t0 && x.end <= s.t1)
          .foreach(x => tableLayerOfExec(x.id).filter(_ != s.layer)
            .foreach(l => moves += ((l, x.start, x.end))))
        jobs.values.filter(j => j.start >= s.t0 && j.end <= s.t1 &&
            tableLayerOfExec(j.exec).isEmpty)
          .foreach(j => j.frameLayer.filter(_ != s.layer)
            .foreach(l => moves += ((l, j.start, j.end))))
        var cursor = s.t0
        moves.sortBy(_._2).foreach { case (l, a, b) =>
          val from = math.max(a, cursor)
          if (b > from) { self(l) += (b - from); movedMs += b - from; cursor = b }
        }
        // streaming: the foreachBatch body not covered above is the
        // driver-side Pipeline.run call and the sink's bookkeeping
        if (s.layer == "stream") {
          val addBatch = progress.filter { case (t, _) => t >= s.t0 && t <= s.t1 }
            .map(_._2.getOrElse("addBatch", 0L)).sum
          val driverMs = math.max(0L, addBatch - movedMs)
          self("driver") += driverMs
          movedMs += driverMs
        }
      }
      self(s.layer) += (s.t1 - s.t0 - movedMs)
    }

    val byLayer = mutable.HashMap.empty[String, mutable.ArrayBuffer[StageAgg]]
    val jobsOf = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    val layerOfJob = jobs.values.flatMap(j => jobLayer(j).map(j.id -> _)).toMap
    layerOfJob.values.foreach(l => jobsOf(l) += 1)
    stages.foreach { case (sid, agg) =>
      stageJob.get(sid).flatMap(layerOfJob.get)
        .foreach(l => byLayer.getOrElseUpdate(l, mutable.ArrayBuffer.empty) += agg)
    }
    val cache = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    blockAdds.foreach { case (job, t, bytes) =>
      layerOfJob.get(job).orElse(spanAt(t).map(_.layer)).foreach(l => cache(l) += bytes)
    }

    val out = mutable.LinkedHashMap.empty[String, Double]
    Layers.foreach { l =>
      // set-up figures are per set-up repetition, the others per operation
      val n = math.max(if (l == "setup") setups else ops, 1).toDouble
      val st = byLayer.getOrElse(l, mutable.ArrayBuffer.empty)
      val wallS = self(l) / 1e3 / n
      val runS = st.map(_.runMs).sum / 1e3 / n
      val largest = if (st.isEmpty) None else Some(st.maxBy(_.runMs))
      out(s"$l.wall_s") = wallS
      out(s"$l.task_cpu_s") = st.map(_.cpuNs).sum / 1e9 / n
      out(s"$l.core_util") = if (wallS > 0) runS / (nproc * wallS) else 0.0
      out(s"$l.gc_s") = st.map(_.gcMs).sum / 1e3 / n
      out(s"$l.jobs") = jobsOf(l) / n
      out(s"$l.tasks") = st.map(_.tasks).sum / n
      out(s"$l.rows_out") = (counts(s"$l.rows_out") + st.map(_.recordsW).sum) / n
      out(s"$l.shuffle_write_mb") = st.map(_.shuffleW).sum / MB / n
      out(s"$l.spill_mb") = st.map(_.spill).sum / MB / n
      out(s"$l.skew") = largest.map(s => skew(s.durations.toSeq)).getOrElse(0.0)
      out(s"$l.cache_mb") = cache(l) / MB / n
    }
    val n = math.max(ops, 1).toDouble
    val streamTotals = progress.map(_._2)
    def perSegment(key: String): Double =
      streamTotals.map(_.getOrElse(key, 0L)).sum / 1e3 / n
    out("stream.add_batch_s") = perSegment("addBatch")
    out("stream.latest_offset_s") = perSegment("latestOffset")
    out("stream.planning_s") = perSegment("queryPlanning")
    out("stream.wal_commit_s") = perSegment("walCommit")
    ExtraCounts.foreach(k => out(k) = figures.getOrElse(k, counts(k) / n))
    val attributed = Layers.map(l => out(s"$l.wall_s")).sum - out("setup.wall_s")
    out("trace.wall_s") = tracedWallS
    out("trace.remainder_s") = tracedWallS - attributed
    out.toMap
  }
}

object Tracer {
  private final case class Span(layer: String, t0: Long, t1: Long, refine: Boolean)
  private final case class Job(id: Int, exec: Long, start: Long, frameLayer: Option[String]) {
    var end: Long = start
  }
  private final class StageAgg {
    var runMs, cpuNs, gcMs, tasks, shuffleW, spill, recordsW = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
  }
  private final case class Exec(id: Long, root: Long, start: Long) {
    var end: Long = start
    var ended = false
  }

  val MB: Double = 1024.0 * 1024.0

  /** The layers, named after the repository's modules. */
  val Layers: Seq[String] = Seq("setup", "driver", "extract", "link",
    "canonicalize", "stats", "tables", "stream")

  /** Per-layer figures the workloads count themselves, averaged per op. */
  val ExtraCounts: Seq[String] = Seq("link.found_ratio", "link.salted_sites",
    "link.broadcast_sites", "tables.bytes_mb", "tables.files",
    "tables.resume_skipped", "tables.resume_s", "stream.resume_s", "stream.growth")

  /** Every per-layer metric name, in output order. */
  def metricNames: Seq[String] =
    Layers.flatMap(l => Seq("wall_s", "task_cpu_s", "core_util", "gc_s", "jobs",
      "tasks", "rows_out", "shuffle_write_mb", "spill_mb", "skew", "cache_mb")
      .map(m => s"$l.$m")) ++
    Seq("stream.add_batch_s", "stream.latest_offset_s", "stream.planning_s",
      "stream.wal_commit_s") ++ ExtraCounts ++
    Seq("trace.wall_s", "trace.remainder_s", "trace.overhead")

  /** Layer of the innermost library frame of a job's call site. */
  private val classLayer: Map[String, String] = Map(
    "ConnectedComponents" -> "canonicalize", "Statistics" -> "stats",
    "Linking" -> "link", "KgExtract" -> "extract", "TextExtract" -> "extract",
    "DocProcess" -> "extract", "KgTables" -> "tables",
    "StreamingPipeline" -> "stream")

  def frameLayer(callSite: String): Option[String] =
    callSite.linesIterator.map(_.trim).find(_.startsWith("graft.")).flatMap { f =>
      val cls = f.takeWhile(_ != '(').split('.').dropRight(1).lastOption
        .getOrElse("").takeWhile(_ != '$')
      classLayer.get(cls)
    }

  /** Layer that produces a KG table, from a path under a table root. */
  def tableLayer(path: String): Option[String] =
    path.split('/').find(_.startsWith("kg_")).collect {
      case "kg_entities" | "kg_edges" | "kg_scrapes" => "extract"
      case "kg_nodes" => "link"
      case "kg_components" => "canonicalize"
      case "kg_metrics" => "stats"
    }

  /** max / median task time. */
  def skew(d: Seq[Long]): Double =
    if (d.isEmpty) 0.0
    else {
      val s = d.sorted
      val med = s(s.size / 2).toDouble
      if (med > 0) s.last / med else 0.0
    }
}
