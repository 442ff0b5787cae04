package kgbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.kg.{KgConfig, KgTables, Linking, PageRow, Pipeline, StreamingPipeline, SyntheticCorpus}

/** One benchmark workload. `op` and `resume` are timed; everything else
  * runs outside the timed sections. Every op is closed loop: the benchmark
  * waits for it before issuing the next. */
trait Workload {
  /** One repetition of the set-up the timed operations depend on. */
  def setup(): Unit
  /** Rows the last set-up produced (traced runs only; not timed). */
  def setupRows(): Long
  def warmup(): Unit
  /** The timed operation. */
  def op(k: Int): Unit
  /** Untimed step between `op` and `resume`. */
  def beforeResume(k: Int): Unit = ()
  /** The same entry point called again on unchanged input, which must find
    * nothing left to do. Called several times per op and timed. */
  def resume(k: Int): Unit
  /** The layer whose span the resume opens. */
  def resumeLayer: String
  /** Output check of op `k` and its resume; true when correct. */
  def checkOp(k: Int): Boolean
  /** Checks over all ops; returns the ops found incorrect. */
  def checkAll(): Set[Int] = Set.empty
  /** Edge rows op `k` produced, known once the checks ran. */
  def rowsOf(k: Int): Long
}

final case class Ctx(spark: SparkSession, tr: Tracer, seed: Long, runDir: String)

object Workloads {
  /** Page counts, sized so that one run of each workload, set-up and checks
    * included, takes about a minute on a 4-core machine. */
  val SaltedPages = 8000
  val SegmentPages = 2000
  val WarmupPages = 2000

  def apply(name: String, c: Ctx): Workload = name match {
    case "kg_salted_tables" => new KgSaltedTables(c)
    case "kg_stream" => new KgStream(c)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Dictionaries of the seeded corpus, plus the prepared link artifacts
    * when the workload's entry point takes them. */
  final class KgSetup(c: Ctx, prepare: Boolean) {
    var dicts: Pipeline.Dicts = _
    var prepared: Option[Linking.Prepared] = None
    def run(): Unit = {
      prepared.foreach(_.all.foreach(_.unpersist(true)))
      dicts = Pipeline.dictsFromCorpus(c.spark, SyntheticCorpus.generate(0, c.seed))
      prepared = if (prepare) Some(Pipeline.prepareLink(c.spark, dicts)) else None
    }
    def rows(): Long = prepared.map(_.all.map(_.count()).sum).getOrElse(dicts.wd.count())
  }

  /** Oracle edges of pages [0, n) of the seed; the fingerprint is computed
    * once per page count. */
  final class OracleOf(c: Ctx, cfg: KgConfig) {
    private var upTo = -1L
    private var print: Checks.Print = _
    def rows(n: Long): DataFrame = Checks.oracleEdges(c.spark, c.seed, 0, n, cfg)
    def apply(n: Long): Checks.Print = {
      if (upTo != n) { print = Checks.fingerprint(rows(n)); upTo = n }
      print
    }
  }

  /** Per-layer link figures, from the nodes and metrics of a run (traced
    * runs only), passed to `record`. */
  def linkCounts(record: (String, Double) => Unit, nodes: DataFrame,
      metrics: DataFrame): Unit = {
    val r = nodes.agg(count(lit(1)),
      sum(when(col("sources.wikipedia.status") === "found", 1).otherwise(0))).head()
    record("link.found_ratio",
      if (r.getLong(0) == 0) 0.0 else r.getLong(1).toDouble / r.getLong(0))
    val plan = metrics.filter(col("stage") === "link_plan")
      .groupBy("metric").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    record("link.salted_sites", plan.getOrElse("dict_join_salted", 0L).toDouble)
    record("link.broadcast_sites", plan.getOrElse("dict_join_broadcast", 0L).toDouble)
  }

  /** `runMaterialized` with every dictionary join salted, into a fresh
    * table root; the resume is the same call with the same runId, which
    * must skip every stage and leave the tables as they were. */
  final class KgSaltedTables(c: Ctx) extends Workload {
    private val cfg = KgConfig.default.copy(forceSaltedJoins = true)
    private val set = new KgSetup(c, prepare = false)
    private val pages = Checks.pages(c.spark, c.seed, 0, SaltedPages)
    private val oracle = new OracleOf(c, cfg)
    private val rows = mutable.HashMap.empty[Int, Long]
    private var first: Pipeline.Result = _
    private var tables: KgTables = _
    private var root = ""
    private var afterFirst: Map[String, (Long, Long)] = Map.empty
    private var firstStages = 0

    def setup(): Unit = set.run()
    def setupRows(): Long = set.rows()
    private def materialize(p: Dataset[PageRow], tag: String): Unit = {
      root = s"${c.runDir}/salted/$tag"
      tables = new KgTables(c.spark, root)
      first = c.tr.span("driver", refine = true) {
        Pipeline.runMaterialized(c.spark, p, set.dicts, tables, cfg, runId = tag)
      }
    }
    private def again(p: Dataset[PageRow], tag: String): Unit =
      c.tr.span("tables", refine = true) {
        Pipeline.runMaterialized(c.spark, p, set.dicts, tables, cfg, runId = tag)
      }
    def warmup(): Unit = {
      val p = Checks.pages(c.spark, c.seed, 0, WarmupPages)
      materialize(p, "warmup")
      again(p, "warmup")
      Checks.deleteTree(Paths.get(root))
    }
    def op(k: Int): Unit = materialize(pages, s"op$k")
    override def beforeResume(k: Int): Unit = {
      afterFirst = Checks.snapshot(root)
      firstStages = manifestLines()
    }
    def resume(k: Int): Unit = again(pages, s"op$k")
    def resumeLayer: String = "tables"
    def checkOp(k: Int): Boolean =
      try {
        val afterResume = Checks.snapshot(root)
        rows(k) = first.edges.count()
        if (c.tr.attached) {
          val data = afterFirst.filter { case (f, _) => f.endsWith(".parquet") }
          c.tr.count("tables.bytes_mb", data.values.map(_._1).sum / Tracer.MB)
          c.tr.count("tables.files", data.size.toDouble)
          c.tr.count("tables.resume_skipped",
            (firstStages - (manifestLines() - firstStages)).toDouble / math.max(firstStages, 1))
          linkCounts(c.tr.count, first.nodes, first.metrics)
        }
        Checks.sameEdges(s"kg_salted_tables op $k", first.edges, oracle(SaltedPages),
          oracle.rows(SaltedPages)) &&
          Checks.resumeUnchanged(s"kg_salted_tables op $k", afterFirst, afterResume)
      } finally Checks.deleteTree(Paths.get(root))
    private def manifestLines(): Int =
      Files.readAllLines(Paths.get(root, "_snapshots.jsonl")).size
    def rowsOf(k: Int): Long = rows(k)
  }

  /** Segments appended one at a time to a parquet pages directory, each
    * followed by one `runAvailableNow` against a single checkpoint, after
    * two warm-up segments; the resume is one more `runAvailableNow` with no
    * new segment, which must run no batch and leave the tables as they
    * were. */
  final class KgStream(c: Ctx) extends Workload {
    private val set = new KgSetup(c, prepare = true)
    private val base = s"${c.runDir}/stream"
    private val walls = mutable.ArrayBuffer.empty[Double]
    private val batchesOf = mutable.HashMap.empty[Int, Range]
    private val resumeBatches = mutable.HashMap.empty[Int, Long]
    private var beforeResumeSnap: Map[String, (Long, Long)] = Map.empty
    private var nextBatch = 0L
    private var segments = 0
    private var rows: Map[Int, Long] = Map.empty

    def setup(): Unit = set.run()
    def setupRows(): Long = set.rows()
    private def runAvailableNow(): Long = c.tr.span("stream", refine = true) {
      StreamingPipeline.runAvailableNow(c.spark, s"$base/pages", set.dicts,
        s"$base/tables", s"$base/ckpt", prepared = set.prepared)
    }
    private def segment(): Range = {
      val k = segments
      Checks.pages(c.spark, c.seed, k.toLong * SegmentPages, (k + 1).toLong * SegmentPages)
        .write.mode("append").parquet(s"$base/pages")
      val n = runAvailableNow()
      segments += 1
      val r = nextBatch.toInt until (nextBatch + n).toInt
      nextBatch += n
      r
    }
    def warmup(): Unit = (1 to 2).foreach { _ => segment(); runAvailableNow() }
    def op(k: Int): Unit = {
      val t0 = System.nanoTime()
      batchesOf(k) = segment()
      walls += (System.nanoTime() - t0) / 1e9
    }
    override def beforeResume(k: Int): Unit =
      beforeResumeSnap = Checks.snapshot(s"$base/tables")
    def resume(k: Int): Unit =
      resumeBatches(k) = resumeBatches.getOrElse(k, 0L) + runAvailableNow()
    def resumeLayer: String = "stream"
    def checkOp(k: Int): Boolean = {
      if (resumeBatches(k) != 0) System.err.println(
        s"[kgbench] CHECK FAILED kg_stream op $k: the resume ran ${resumeBatches(k)} batches")
      resumeBatches(k) == 0 && Checks.resumeUnchanged(s"kg_stream op $k",
        beforeResumeSnap, Checks.snapshot(s"$base/tables"))
    }
    override def checkAll(): Set[Int] = {
      val edges = c.spark.read.parquet(s"$base/tables/kg_edges")
      val perBatch = edges.groupBy("batch_id").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      rows = batchesOf.map { case (k, r) => k -> r.map(b => perBatch.getOrElse(b, 0L)).sum }.toMap
      if (c.tr.attached) {
        linkCounts(c.tr.figure, c.spark.read.parquet(s"$base/tables/kg_nodes"),
          c.spark.read.parquet(s"$base/tables/kg_metrics"))
        c.tr.figure("stream.growth", walls.last / walls.head)
      }
      val oracle = new OracleOf(c, KgConfig.default)
      val total = segments.toLong * SegmentPages
      val ok = Checks.sameEdges("kg_stream", edges, oracle(total), oracle.rows(total)) &&
        Checks.noReplayedBatch(edges)
      if (ok) Set.empty else batchesOf.keySet.toSet
    }
    def rowsOf(k: Int): Long = rows.getOrElse(k, 0L)
  }
}
