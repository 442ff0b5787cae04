package kgbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import graft.kg.{KgConfig, KgTables, Pipeline, StreamingPipeline, SyntheticCorpus}

/** Shows that the benchmark's output checks catch broken outputs: each
  * check must pass on the program's real output and fail on a perturbed
  * edge row, a dropped edge row, a replayed stream batch and a resume that
  * re-ran a stage. Run with `python3 kgbench/run.py --self-test`. */
object SelfTest {

  def run(spark: SparkSession, runDir: String): Boolean = {
    val seed = 7L
    val n = 400
    val dicts = Pipeline.dictsFromCorpus(spark, SyntheticCorpus.generate(0, seed))
    val prep = Some(Pipeline.prepareLink(spark, dicts))
    val wantRows = Checks.oracleEdges(spark, seed, 0, n, KgConfig.default).cache()
    val want = Checks.fingerprint(wantRows)
    def edgesOk(label: String, got: org.apache.spark.sql.DataFrame) =
      Checks.sameEdges(label, got, want, wantRows)

    // in-memory run: the real output, one row changed, one row dropped
    val res = Pipeline.run(spark, Checks.pages(spark, seed, 0, n), dicts, prepared = prep)
    val edges = res.edges.select(Checks.EdgeCols.map(col): _*)
    val rows = edges.collect().toSeq
    def df(rs: Seq[Row]) =
      spark.createDataFrame(java.util.Arrays.asList(rs: _*), edges.schema)
    val perturbed = Row.fromSeq(rows.head.toSeq.updated(3, rows.head.getString(3) + "x")) +: rows.tail
    val batch = Seq(
      ("batch output passes", true, edgesOk("self-test batch", edges)),
      ("perturbed edge row caught", false, edgesOk("self-test perturbed", df(perturbed))),
      ("dropped edge row caught", false, edgesOk("self-test dropped", df(rows.tail))))

    // streaming: two segments, then one batch partition written twice
    val base = s"$runDir/selftest-stream"
    Seq(0, n / 2).foreach { from =>
      Checks.pages(spark, seed, from, from + n / 2).write.mode("append").parquet(s"$base/pages")
      StreamingPipeline.runAvailableNow(spark, s"$base/pages", dicts, s"$base/tables",
        s"$base/ckpt", prepared = prep)
    }
    def streamOk(label: String) = {
      val e = spark.read.parquet(s"$base/tables/kg_edges")
      edgesOk(label, e) && Checks.noReplayedBatch(e)
    }
    val streamGood = streamOk("self-test stream")
    copyTree(Paths.get(s"$base/tables/kg_edges/batch_id=1"),
      Paths.get(s"$base/tables/kg_edges/batch_id=9"))
    val stream = Seq(
      ("stream output passes", true, streamGood),
      ("replayed stream batch caught", false, streamOk("self-test replayed batch")))

    // materialized + resume: a clean resume, then one that re-runs a stage
    val cfg = KgConfig.default.copy(forceSaltedJoins = true)
    val root = s"$runDir/selftest-salted"
    val tables = new KgTables(spark, root)
    val pages = Checks.pages(spark, seed, 0, n)
    val first = Pipeline.runMaterialized(spark, pages, dicts, tables, cfg, runId = "st")
    val snap = Checks.snapshot(root)
    Pipeline.runMaterialized(spark, pages, dicts, tables, cfg, runId = "st")
    val cleanResume = Checks.resumeUnchanged("self-test resume", snap, Checks.snapshot(root))
    // forget the last stage in the manifest, so the next resume re-runs it
    val manifest = Paths.get(root, "_snapshots.jsonl")
    val lines = Files.readAllLines(manifest)
    Files.write(manifest, lines.subList(0, lines.size - 1))
    val edited = Checks.snapshot(root)
    Pipeline.runMaterialized(spark, pages, dicts, tables, cfg, runId = "st")
    val tables3 = Seq(
      ("materialized output passes", true, edgesOk("self-test materialized", first.edges)),
      ("clean resume passes", true, cleanResume),
      ("resume that re-ran a stage caught", false,
        Checks.resumeUnchanged("self-test re-ran stage", edited, Checks.snapshot(root))))

    val all = batch ++ stream ++ tables3
    all.foreach { case (name, expect, got) =>
      System.err.println(s"[kgbench] self-test ${if (got == expect) "ok  " else "FAIL"} $name")
    }
    all.forall { case (_, expect, got) => got == expect }
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator).asScala.foreach { p =>
      Files.copy(p, to.resolve(from.relativize(p).toString), StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
  }
}
