package graft.kg

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Full-row parity across the execution modes that take different join
  * paths or stores: broadcast and salted Pipeline.run, broadcast and
  * salted runMaterialized (table-backed entity rows). Whole node and edge
  * rows and the statistics rows are compared as JSON, on two corpus seeds
  * whose pages add a null-qid mention and a head entity present in most
  * pages; the second seed also infers E4 implicit entities. The link_plan
  * sites must match between Pipeline.run and runMaterialized under the
  * same config, and the broadcast modes must record no salted site.
  * Every mode must also give every node a status from all three sources:
  * a mention whose (entity, qid) key the prepared link tables lack gets
  * nulls there in every mode alike, which the cross-mode comparison alone
  * cannot see. */
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

  private def rowsOf(df: DataFrame): Seq[String] =
    df.select(to_json(struct(col("*")))).as[String].collect().toSeq.sorted

  private def statsOf(r: Pipeline.Result): Seq[String] =
    rowsOf(r.metrics.filter(col("stage") === "stats").drop("run_id"))

  /** (metric, key) of the link_plan rows: estBytes legitimately differs
    * between in-memory and table-backed inputs. */
  private def planSites(r: Pipeline.Result): Set[(String, String)] =
    r.metrics.filter(col("stage") === "link_plan")
      .select("metric", "key").as[(String, String)].collect().toSet

  private def unlinked(r: Pipeline.Result): Long =
    r.nodes.filter(col("sources.wikipedia.status").isNull ||
      col("sources.wikidata.status").isNull ||
      col("sources.dbpedia.status").isNull).count()

  for ((seed, infer) <- Seq(42L -> false, 5L -> true)) {
    test(s"broadcast, salted and salted-materialized nodes agree row for row (seed $seed)") {
      val (c, headName, targetName) = corpus(seed)
      val pages = spark.createDataset(c.pages).repartition(4)
      val dicts = Pipeline.dictsFromCorpus(spark, c)
      val base = KgConfig.default.copy(inferEntities = infer)
      val salted = base.copy(forceSaltedJoins = true, nSalt = 4)

      // the test data really holds the cases
      val ents = KgExtract.run(spark, pages, dicts, base)
        .flatMap(_.entities).select("entity", "qid", "inferred")
        .as[(String, String, String)].collect().toSeq
      assert(ents.exists(e => e._1 == targetName && e._2 == null),
        "no null-qid mention")
      assert(ents.count(_._1 == headName) > c.pages.size / 2,
        "head entity is not in most pages")
      assert(!infer || ents.exists(_._3 == "implicit"), "no E4 implicit entity")

      val bcast = Pipeline.run(spark, pages, dicts, base)
      val saltedRun = Pipeline.run(spark, pages, dicts, salted)
      def materialized(cfg: KgConfig): Pipeline.Result = {
        val dir = Files.createTempDirectory("kg_mode_parity").toString
        Pipeline.runMaterialized(spark, pages, dicts, new KgTables(spark, dir), cfg)
      }
      val saltedMat = materialized(salted)
      val bcastMat = materialized(base)

      val want = rowsOf(bcast.nodes)
      assert(want.size == ents.size)
      val wantEdges = rowsOf(bcast.edges)
      val wantStats = statsOf(bcast)
      assert(wantEdges.nonEmpty && wantStats.nonEmpty)
      assert(unlinked(bcast) == 0, "broadcast Pipeline.run left nodes unlinked")
      for ((mode, r) <- Seq("salted Pipeline.run" -> saltedRun,
          "salted runMaterialized" -> saltedMat,
          "broadcast runMaterialized" -> bcastMat)) {
        val got = rowsOf(r.nodes)
        assert(got == want, s"$mode nodes differ: ${got.diff(want).take(2)}")
        val gotEdges = rowsOf(r.edges)
        assert(gotEdges == wantEdges,
          s"$mode edges differ: ${gotEdges.diff(wantEdges).take(2)}")
        val gotStats = statsOf(r)
        assert(gotStats == wantStats,
          s"$mode stats differ: ${gotStats.diff(wantStats).take(2)}")
        assert(unlinked(r) == 0, s"$mode left nodes unlinked")
      }
      assert(planSites(bcastMat) == planSites(bcast),
        "broadcast link_plan sites differ between run and runMaterialized")
      // both link over the dictionaries' materialized artifacts, whose
      // real sizes fit the broadcast budget
      assert(!planSites(bcast).exists(_._1 == "dict_join_salted"),
        s"broadcast run and runMaterialized took salted sites: ${planSites(bcast)}")
      assert(planSites(saltedMat) == planSites(saltedRun),
        "salted link_plan sites differ between run and runMaterialized")
      bcast.release()
      saltedRun.release()
    }
  }
}
