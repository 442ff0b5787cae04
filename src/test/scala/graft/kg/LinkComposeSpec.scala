package graft.kg

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Corner cases of the PRE-COMPOSED L1 dictionary (Linking.prepare builds
  * the redirect hop into l1Dict; round 5): the composition must reproduce
  * the sequential redirect-join → primary-join semantics exactly —
  *   1. a redirect SHADOWS a primary page of the same title (the
  *      sequential probe followed from_title→to_title and never consulted
  *      its own title);
  *   2. a redirect to a MISSING page still resolves the lookup term, so
  *      L3's cleaned retry key is the redirect TARGET, not the surface;
  *   3. plain titles and full misses behave as before. */
class LinkComposeSpec extends SparkSpec {
  import spark.implicits._

  private val longA = "Alpha article text " * 10   // ≥ minExtractLen
  private val longD = "Delta article text " * 10
  private val longN = "Nowhere Land article text " * 10

  private lazy val nodes = {
    val wiki = Seq(
      WikiPageRow("Alpha", "de", "https://de.wikipedia.org/wiki/Alpha",
        longA, Nil, Nil, null, Map.empty, null),
      WikiPageRow("Delta", "de", "https://de.wikipedia.org/wiki/Delta",
        longD, Nil, Nil, null, Map.empty, null),
      WikiPageRow("Nowhere Land", "de", "https://de.wikipedia.org/wiki/Nowhere_Land",
        longN, Nil, Nil, null, Map.empty, null)).toDF()
    val redirects = Seq(
      RedirectRow("Delta", "Alpha", "de"),     // shadows the Delta page
      RedirectRow("Missing", "Nowhere", "de")  // target page does not exist
    ).toDF()
    val wd = Seq.empty[WdEntityRow].toDF()
    val dbp = Seq.empty[DbpediaRow].toDF()
    val synonyms = Seq.empty[SynonymRow].toDF()
    val scrapes = Seq.empty[(String, String)].toDF("p_url", "p_extract")
    val entities = Seq("Alpha", "Delta", "Missing", "Ghost").map { e =>
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

  test("plain title resolves directly") {
    assert(nodes("Alpha") == (("found", null, "https://de.wikipedia.org/wiki/Alpha")))
  }

  test("redirect shadows the same-titled primary page") {
    // sequential semantics: Delta→Alpha redirect wins over Delta's own page
    assert(nodes("Delta") == (("found", null, "https://de.wikipedia.org/wiki/Alpha")))
  }

  test("redirect to a missing page feeds the TARGET into the L3 retry key") {
    // w_lookup must be "Nowhere" (the redirect target), whose cleaned
    // lowercase prefix-matches "Nowhere Land" in the opensearch table —
    // a composition that dropped payload-less redirect rows would retry
    // with "missing" and find nothing
    assert(nodes("Missing") ==
      (("found", "opensearch", "https://de.wikipedia.org/wiki/Nowhere_Land")))
  }

  test("entity matching nothing stays not_found") {
    assert(nodes("Ghost")._1 == "not_found")
  }

  test("l1Dict composition: shadowed title absent as a direct key") {
    val prep = Linking.prepare(spark,
      Seq(
        WikiPageRow("Alpha", "de", "uA", longA, Nil, Nil, null, Map.empty, null),
        WikiPageRow("Delta", "de", "uD", longD, Nil, Nil, null, Map.empty, null))
        .toDF(),
      Seq(RedirectRow("Delta", "Alpha", "de"),
        RedirectRow("Missing", "Nowhere", "de")).toDF(),
      Seq.empty[WdEntityRow].toDF(), Seq.empty[DbpediaRow].toDF(),
      Seq.empty[SynonymRow].toDF(), Seq.empty[(String, String)].toDF("entity", "qid"),
      KgConfig.default)
    val rows = prep.l1Dict
      .select("l1_key", "l1_lookup", "w_url").as[(String, String, String)]
      .collect().toSet
    assert(rows == Set(
      ("Delta", "Alpha", "uA"),     // redirect row carries the TARGET page
      ("Missing", "Nowhere", null), // payload-less redirect keeps the term
      ("Alpha", "Alpha", "uA")))    // direct row; Delta's own page shadowed
  }
}
