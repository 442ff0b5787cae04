package graft.kg

import graft.SparkSpec
import java.nio.file.Files

/** Snapshot/resume (SURVEY §7.4): a rerun with the same run_id skips
  * completed stages and yields byte-identical tables. */
class ResumeSpec extends SparkSpec {
  import spark.implicits._

  test("materialized run resumes: stage skip + identical output") {
    val dir = Files.createTempDirectory("kg_resume").toString
    val corpus = SyntheticCorpus.generate(nPages = 60, seed = 42L)
    val pages = spark.createDataset(corpus.pages).repartition(4)
    val dicts = Pipeline.dictsFromCorpus(spark, corpus)

    val t1 = new KgTables(spark, dir)
    val r1 = Pipeline.runMaterialized(spark, pages, dicts, t1, runId = "r1")
    val edges1 = r1.edges.select("url", "subject", "predicate", "object", "inferred")
      .as[(String, String, String, String, String)].collect().toSet
    assert(edges1.nonEmpty)

    // simulate a mid-run kill after the extract stages: wipe only the
    // downstream tables, keep the manifest — resume must skip extract and
    // rebuild the rest
    val manifest = Files.readString(java.nio.file.Paths.get(dir, "_snapshots.jsonl"))
    assert(manifest.contains("\"stage\":\"extract_edges\""))
    // broadcast regime: the L5 text rides on kg_entities — no separate
    // kg_scrapes stage table (it exists only in the salted regime)
    assert(!manifest.contains("\"stage\":\"extract_scrapes\""))
    assert(!Files.exists(java.nio.file.Paths.get(dir, "kg_scrapes")))
    val t2 = new KgTables(spark, dir)
    val r2 = Pipeline.runMaterialized(spark, pages, dicts, t2, runId = "r1")
    val edges2 = r2.edges.select("url", "subject", "predicate", "object", "inferred")
      .as[(String, String, String, String, String)].collect().toSet
    assert(edges2 == edges1)
    // manifest did not grow for already-done stages
    val manifest2 = Files.readString(java.nio.file.Paths.get(dir, "_snapshots.jsonl"))
    assert(manifest2 == manifest)

    // a NEW run id recomputes and appends manifest rows
    val t3 = new KgTables(spark, dir)
    val r3 = Pipeline.runMaterialized(spark, pages, dicts, t3, runId = "r2")
    val edges3 = r3.edges.select("url", "subject", "predicate", "object", "inferred")
      .as[(String, String, String, String, String)].collect().toSet
    assert(edges3 == edges1) // deterministic ids → identical content
  }

  test("a no-op resume builds no link artifacts") {
    val dir = Files.createTempDirectory("kg_resume_noop").toString
    val corpus = SyntheticCorpus.generate(nPages = 40, seed = 7L)
    val pages = spark.createDataset(corpus.pages).repartition(4)
    Pipeline.runMaterialized(spark, pages, Pipeline.dictsFromCorpus(spark, corpus),
      new KgTables(spark, dir), runId = "r1").release()

    val fresh = Pipeline.dictsFromCorpus(spark, corpus)
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val res = Pipeline.runMaterialized(spark, pages, fresh,
      new KgTables(spark, dir), runId = "r1")
    // every stage is done, the metrics stage included, so the link plan
    // is never built and nothing asks for the link artifacts
    assert(res.nodes.count() > 0 && res.metrics.count() > 0)
    assert(fresh.links.isEmpty, "the resume built link artifacts")
    assert(spark.sparkContext.getPersistentRDDs.keySet == persisted,
      "the resume persisted RDDs")
  }

  test("salted-regime materialized run writes kg_scrapes and matches broadcast") {
    val corpus = SyntheticCorpus.generate(nPages = 40, seed = 7L)
    val pages = spark.createDataset(corpus.pages).repartition(4)
    val dicts = Pipeline.dictsFromCorpus(spark, corpus)
    def nodesOf(cfg: KgConfig, dir: String) = {
      val res = Pipeline.runMaterialized(spark, pages, dicts,
        new KgTables(spark, dir), cfg)
      res.nodes.select("url", "entity", "sources.wikipedia.status",
          "sources.wikipedia.fallback_source", "sources.dbpedia.status")
        .as[(String, String, String, String, String)].collect().toSet
    }
    val dirS = Files.createTempDirectory("kg_resume_salted").toString
    val dirB = Files.createTempDirectory("kg_resume_bcast").toString
    val salted = nodesOf(KgConfig.default.copy(forceSaltedJoins = true), dirS)
    val bcast = nodesOf(KgConfig.default, dirB)
    assert(salted == bcast)
    assert(salted.nonEmpty)
    // the salted regime keeps entities narrow and materializes the text once
    assert(Files.exists(java.nio.file.Paths.get(dirS, "kg_scrapes")))
    assert(!Files.exists(java.nio.file.Paths.get(dirB, "kg_scrapes")))
  }

  test("a resumed link stage still records its link_plan rows") {
    val dir = Files.createTempDirectory("kg_resume_plan").toString
    val corpus = SyntheticCorpus.generate(nPages = 40, seed = 7L)
    val pages = spark.createDataset(corpus.pages).repartition(4)
    val dicts = Pipeline.dictsFromCorpus(spark, corpus)
    val cfg = KgConfig.default.copy(forceSaltedJoins = true)
    def planRows(r: Pipeline.Result): Set[(String, String)] =
      r.metrics.filter($"stage" === "link_plan").select("metric", "key")
        .as[(String, String)].collect().toSet
    val first = planRows(Pipeline.runMaterialized(spark, pages, dicts,
      new KgTables(spark, dir), cfg, runId = "r1"))
    assert(first.contains(("dict_join_salted", "link_key_flags")))
    assert(first.contains(("dict_join_salted", "link_key_payload")))

    // simulate a kill after kg_nodes reached the manifest but before
    // kg_metrics did: the link stage resumes, the metrics stage re-runs
    val manifest = java.nio.file.Paths.get(dir, "_snapshots.jsonl")
    val lines = Files.readAllLines(manifest)
    lines.removeIf(_.contains("\"stage\":\"metrics\""))
    Files.write(manifest, lines)
    val again = planRows(Pipeline.runMaterialized(spark, pages, dicts,
      new KgTables(spark, dir), cfg, runId = "r1"))
    assert(again == first)
    val stages = Files.readAllLines(manifest).toArray.map(_.toString)
    assert(stages.count(_.contains("\"stage\":\"link\"")) == 1,
      "the link stage must resume, not re-run")
    assert(stages.count(_.contains("\"stage\":\"metrics\"")) == 1)
  }
}
