package graft.kg

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Corner cases of the PRE-COMPOSED L4 synonym pick (round 6: the synonym
  * table is folded into the L1 dictionary via a full-outer join — both key
  * on the raw entity surface, so one probe exchange serves both stages).
  * The composition must reproduce the sequential gated-join semantics:
  *   1. a key present in BOTH tables (a short-extract page that is also a
  *      synonym term) carries both payloads; the synonym applies only
  *      after L1-L3 fail;
  *   2. an L1-resolved key with a synonym entry ignores the syn payload;
  *   3. a synonym-only key behaves exactly like an L1 miss upstream
  *      (w_lookup = entity surface feeds L3) and resolves via synonym;
  *   4. stage ORDER survives the fusion: an opensearch hit wins over a
  *      synonym hit on the same row (fallbacks.py:82-234). */
class L4ComposeSpec extends SparkSpec {
  import spark.implicits._

  private val long = "article text sufficiently long for the gate " * 4

  private def deUrl(title: String) =
    s"https://de.wikipedia.org/wiki/${title.replace(' ', '_')}"

  private lazy val nodes = {
    val wiki = Seq(
      WikiPageRow("Tango", "de", deUrl("Tango"), long, Nil, Nil, null, Map.empty, null),
      WikiPageRow("Short", "de", deUrl("Short"), "kurz", Nil, Nil, null, Map.empty, null),
      WikiPageRow("Fallback Page", "de", deUrl("Fallback Page"), long, Nil, Nil, null, Map.empty, null),
      WikiPageRow("Merge Sort", "de", deUrl("Merge Sort"), long, Nil, Nil, null, Map.empty, null)).toDF()
    val redirects = Seq(RedirectRow("Redir", "Tango", "de")).toDF()
    // "merge" enters the L3 lookup vocabulary as a Wikidata label
    val wd = Seq(WdEntityRow("Q900", Map("de" -> "merge"), Map.empty,
      Map.empty, Nil, Nil, Nil, Nil, Map.empty)).toDF()
    val dbp = Seq.empty[DbpediaRow].toDF()
    val synonyms = Seq(
      SynonymRow("Short", "Fallback Page", 1),
      SynonymRow("Redir", "Fallback Page", 1),
      SynonymRow("Only Syn", "Fallback Page", 1),
      SynonymRow("Tango", "Fallback Page", 1),
      SynonymRow("Merge", "Fallback Page", 1)).toDF()
    val scrapes = Seq.empty[(String, String)].toDF("p_url", "p_extract")
    val entities = Seq("Tango", "Short", "Redir", "Only Syn", "Merge", "Ghost")
      .map { e =>
        EntityRow("fixture://doc", "de", TextUtils.entityId("fixture://doc", e),
          e, null, "Konzept", e, 0, e.length, "explicit", 1)
      }
    val rows = spark.createDataset(entities).toDF()
    Linking.linkAll(spark, rows,
      Linking.prepare(spark, wiki, redirects, wd, dbp, synonyms,
        rows.select("entity", "qid").distinct(), KgConfig.default),
      scrapes)
      .select(col("entity"),
        col("sources.wikipedia.status").as("st"),
        col("sources.wikipedia.fallback_source").as("fb"),
        col("sources.wikipedia.url").as("u"))
      .collect().map(r => r.getString(0) ->
        ((r.getString(1), r.getString(2), r.getString(3)))).toMap
  }

  test("L1-resolved keys ignore a co-resident synonym payload") {
    assert(nodes("Tango") == (("found", null, deUrl("Tango"))))
    assert(nodes("Redir") == (("found", null, deUrl("Tango"))))
  }

  test("short-extract L1 hit falls through to its synonym (both payloads on one dict row)") {
    assert(nodes("Short") == (("found", "synonym", deUrl("Fallback Page"))))
  }

  test("synonym-only key resolves via synonym, like an L1 miss upstream") {
    assert(nodes("Only Syn") == (("found", "synonym", deUrl("Fallback Page"))))
  }

  test("stage order survives fusion: opensearch beats a synonym on the same row") {
    assert(nodes("Merge") == (("found", "opensearch", deUrl("Merge Sort"))))
  }

  test("key in neither table stays not_found") {
    assert(nodes("Ghost") == (("not_found", null, null)))
  }
}
