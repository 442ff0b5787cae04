package graft.kg

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Full-row node parity across the execution modes that take different
  * link shapes: broadcast Pipeline.run (per-row chain), salted
  * Pipeline.run and salted runMaterialized (chain per distinct
  * (entity, qid) key, joined back). Whole node rows are compared as JSON,
  * on two corpus seeds whose pages add a null-qid mention and a head
  * entity present in most pages. */
class ModeParitySpec extends SparkSpec {
  import spark.implicits._

  private val nullAlias = "Nullbegriff"

  /** The seeded corpus plus: an alias with a NULL qid whose canonical is
    * an existing wiki title (so the key (title, null) sits next to
    * (title, qid) and only a null-safe key join keeps them apart), and a
    * lead sentence naming it together with the corpus' first entity on
    * four pages out of five. */
  private def corpus(seed: Long): (SyntheticCorpus.Corpus, String, String) = {
    val c = SyntheticCorpus.generate(nPages = 60, seed = seed)
    val head = c.entities.head
    val target = c.entities(2)
    val lead = s"$nullAlias arbeitet mit ${head.name}."
    def withLead(p: PageRow): PageRow = {
      val html = new String(p.html, "UTF-8")
      val at = html.indexOf("</table>\n<p>") + "</table>\n<p>".length
      p.copy(html = (html.take(at) + lead + " " + html.drop(at)).getBytes("UTF-8"),
        text = lead + " " + p.text)
    }
    val pages = c.pages.zipWithIndex.map { case (p, i) =>
      if (i % 5 == 4) p else withLead(p)
    }
    val alias = AliasRow(nullAlias, target.name, null, target.typ, 1.0, "de")
    (c.copy(pages = pages, aliases = c.aliases :+ alias), head.name, target.name)
  }

  private def rowsOf(nodes: DataFrame): Seq[String] =
    nodes.select(to_json(struct(col("*")))).as[String].collect().toSeq.sorted

  for (seed <- Seq(42L, 5L)) {
    test(s"broadcast, salted and salted-materialized nodes agree row for row (seed $seed)") {
      val (c, headName, targetName) = corpus(seed)
      val pages = spark.createDataset(c.pages).repartition(4)
      val dicts = Pipeline.dictsFromCorpus(spark, c)
      val salted = KgConfig.default.copy(forceSaltedJoins = true, nSalt = 4)

      // the test data really holds the two cases
      val ents = KgExtract.run(spark, pages, dicts.aliases, dicts.patterns,
          dicts.wdPartOf, KgConfig.default, descByQid = dicts.wdDesc,
          idf = Some(dicts.idf))
        .flatMap(_.entities).select("entity", "qid").as[(String, String)]
        .collect().toSeq
      assert(ents.contains((targetName, null)), "no null-qid mention")
      assert(ents.count(_._1 == headName) > c.pages.size / 2,
        "head entity is not in most pages")

      val bcast = Pipeline.run(spark, pages, dicts, KgConfig.default)
      val saltedRun = Pipeline.run(spark, pages, dicts, salted)
      val dir = Files.createTempDirectory("kg_mode_parity").toString
      val materialized = Pipeline.runMaterialized(spark, pages, dicts,
        new KgTables(spark, dir), salted)

      val want = rowsOf(bcast.nodes)
      assert(want.size == ents.size)
      val gotSalted = rowsOf(saltedRun.nodes)
      val gotMat = rowsOf(materialized.nodes)
      assert(gotSalted == want,
        s"salted Pipeline.run differs: ${gotSalted.diff(want).take(2)}")
      assert(gotMat == want,
        s"salted runMaterialized differs: ${gotMat.diff(want).take(2)}")
      bcast.release()
      saltedRun.release()
    }
  }
}
