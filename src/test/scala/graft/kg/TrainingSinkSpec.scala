package graft.kg

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** S8 training-data JSONL sink (openai_service.py:356-435): chat-format
  * examples, one per document, deterministic entity lines. */
class TrainingSinkSpec extends SparkSpec {
  import spark.implicits._

  test("JSONL examples: chat roles, one per doc, semicolon entity lines") {
    val dir = Files.createTempDirectory("kg_train").toString
    val corpus = SyntheticCorpus.generate(nPages = 40, seed = 42L)
    val pages = spark.createDataset(corpus.pages).repartition(4)
    val res = Pipeline.run(spark, pages,
      Pipeline.dictsFromCorpus(spark, corpus))
    val texts = pages.select(col("url").as("p_url"), col("text").as("p_extract"))
    val tables = new KgTables(spark, dir)
    tables.writeTrainingJsonl(res.nodes, texts, "training")

    val back = spark.read.json(tables.path("training"))
    val nDocs = res.nodes.select("url").distinct().count()
    assert(back.count() == nDocs)
    val msgs = back.select(expr("messages.role").as("roles"),
        expr("messages.content").as("contents"))
      .as[(Seq[String], Seq[String])].collect()
    msgs.foreach { case (roles, contents) =>
      assert(roles == Seq("system", "user", "assistant"))
      assert(contents(1).startsWith("Identify the main entities"))
      // each assistant line has the 6-field semicolon schema
      contents(2).split("\n").foreach { line =>
        assert(line.split("; ", -1).length == 6, s"bad line: $line")
      }
    }
  }
}
