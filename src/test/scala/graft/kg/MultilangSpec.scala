package graft.kg

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** L7 multilang generalization beyond the de/en pair
  * (models/data_models.py:22-33 — the reference struct supports ten
  * languages): with `extraLanguages` configured, the sitelinked page of
  * each additional language fills its own map entry; entities without a
  * sitelink in that language simply omit the entry. */
class MultilangSpec extends SparkSpec {
  import spark.implicits._

  private val longDe = "d" * 120
  private val longFr = "f" * 120
  private val longRu = "r" * 120

  private lazy val wiki = Seq(
    WikiPageRow("paris", "de", "https://de.wikipedia.org/wiki/paris",
      longDe, Nil, Nil, "Q1", Map.empty, null),
    WikiPageRow("Paris (fr)", "fr", "https://fr.wikipedia.org/wiki/Paris",
      longFr, Nil, Nil, "Q1", Map.empty, null),
    WikiPageRow("Париж", "ru", "https://ru.wikipedia.org/wiki/Париж",
      longRu, Nil, Nil, "Q1", Map.empty, null),
    WikiPageRow("berlin", "de", "https://de.wikipedia.org/wiki/berlin",
      longDe, Nil, Nil, "Q2", Map.empty, null)).toDF()
  private lazy val wd = Seq(
    WdEntityRow("Q1", Map("de" -> "paris"), Map.empty, Map.empty,
      Nil, Nil, Nil, Nil,
      sitelinks = Map("dewiki" -> "paris", "frwiki" -> "Paris (fr)",
        "ruwiki" -> "Париж")),
    WdEntityRow("Q2", Map("de" -> "berlin"), Map.empty, Map.empty,
      Nil, Nil, Nil, Nil, sitelinks = Map("dewiki" -> "berlin"))).toDF()
  private lazy val entities = Seq(
    ("doc://1", "de", TextUtils.entityId("doc://1", "paris"), "paris", "Q1",
      "Ort", "paris", 0, 5, "explicit", 1),
    ("doc://1", "de", TextUtils.entityId("doc://1", "berlin"), "berlin", "Q2",
      "Ort", "berlin", 0, 6, "explicit", 1))
    .toDF("url", "lang", "entity_id", "entity", "qid", "entity_type",
      "citation", "citation_start", "citation_end", "inferred", "freq")

  /** `read` of the fixture's nodes linked with `extraLanguages`; the
    * prepared key tables are dropped afterwards. */
  private def linked[T](extraLanguages: Seq[String])(read: DataFrame => T): T = {
    val prep = Linking.prepare(spark, wiki, Seq.empty[RedirectRow].toDF(), wd,
      Seq.empty[DbpediaRow].toDF(), Seq.empty[SynonymRow].toDF(),
      entities.select("entity", "qid").distinct(),
      KgConfig.default.copy(extraLanguages = extraLanguages))
    try read(Linking.linkAll(spark, entities, prep,
      Seq.empty[(String, String)].toDF("p_url", "p_extract")))
    finally prep.all.foreach(_.unpersist())
  }

  private lazy val multilang = linked(Seq("fr", "ru"))(_
    .select(col("entity"), col("sources.wikipedia.multilang"))
    .as[(String, Map[String, (String, String, String)])]
    .collect().toMap)

  private def ml(entity: String) = multilang(entity)

  test("extra-language sitelinks fill their own multilang entries") {
    val m = ml("paris")
    assert(m.keySet == Set("de", "fr", "ru"), m.keySet)
    assert(m("fr") == (("Paris (fr)", "https://fr.wikipedia.org/wiki/Paris", longFr)))
    assert(m("ru") == (("Париж", "https://ru.wikipedia.org/wiki/Париж", longRu)))
    assert(m("de")._1 == "paris")
  }

  test("entities without a sitelink in the extra language omit the entry") {
    val m = ml("berlin")
    assert(m.keySet == Set("de"), m.keySet)
  }

  test("extra languages equal to the primary/secondary pair are ignored") {
    def nodes(langs: Seq[String]) = linked(langs)(_.collect().toSet)
    assert(nodes(Seq("de", "en")) == nodes(Nil))
  }
}
