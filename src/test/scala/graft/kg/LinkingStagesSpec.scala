package graft.kg

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Per-stage verification of the full fallback chain L1→L2→L3→L4→L5 +
  * S6 + P13 against the corpus generator's fixture classes
  * (SyntheticCorpus: idx%20==17 → L3-only, idx%40==27 → L4-only,
  * idx%40==7 → no resolution path, idx%7==3 → L2, idx%9==3 → S6).
  * The linking chain runs over ALL corpus entities directly (not just
  * mentioned ones) so every fixture class is exercised. */
class LinkingStagesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val corpus = SyntheticCorpus.generate(nPages = 0, seed = 42L)
  private lazy val cfg = KgConfig.default

  private lazy val nodes = {
    val dicts = Pipeline.dictsFromCorpus(spark, corpus)
    val entities = corpus.entities.map { e =>
      EntityRow("fixture://doc", "de", TextUtils.entityId("fixture://doc", e.name),
        e.name, e.qid, e.typ, e.name, 0, e.name.length, "explicit", 1)
    }
    val scrapes = Seq.empty[(String, String)].toDF("p_url", "p_extract")
    val rows = spark.createDataset(entities).toDF()
    val prep = Linking.prepare(spark, dicts.wiki, dicts.redirects, dicts.wd,
      dicts.dbp, dicts.synonyms, rows.select("entity", "qid").distinct(), cfg)
    try Linking.linkAll(spark, rows, prep, scrapes)
      .select(col("entity"),
        col("sources.wikipedia.status").as("wp_status"),
        col("sources.wikipedia.fallback_source").as("wp_fb"),
        col("sources.wikipedia.url").as("wp_url"),
        col("sources.wikipedia.url_alt").as("wp_url_alt"),
        col("sources.dbpedia.status").as("dbp_status"),
        col("sources.dbpedia.uri").as("dbp_uri"),
        col("sources.dbpedia.fallback_source").as("dbp_fb"))
      .collect().map(r => r.getString(0) ->
        ((r.getString(1), r.getString(2), r.getString(3), r.getString(4),
          r.getString(5), r.getString(6), r.getString(7))))
      .toMap
    finally prep.all.foreach(_.unpersist())
  }

  private def deUrl(title: String) =
    s"https://de.wikipedia.org/wiki/${title.replace(' ', '_')}"

  test("L1 direct: plain entities resolve with no fallback") {
    corpus.entities.filter(e => e.idx % 20 != 7 && e.idx % 20 != 17 && e.idx % 7 != 3)
      .foreach { e =>
        val (st, fb, url, urlAlt, _, _, _) = nodes(e.name)
        assert(st == "found" && fb == null, s"${e.name}: $st/$fb")
        assert(url == deUrl(e.name), s"${e.name}: $url")
        assert(urlAlt == null)
      }
  }

  test("L2 language fallback + P13 url_alt demotion (idx%7==3, long en extract)") {
    val viaL2 = corpus.entities.filter(e =>
      e.idx % 20 != 7 && e.idx % 20 != 17 && e.idx % 7 == 3 &&
        (s"${e.name} is a notable ${e.typ} covered at length in this corpus. " * 2)
          .length >= cfg.minExtractLen)
    assert(viaL2.nonEmpty, "fixture class empty — generator drifted")
    viaL2.foreach { e =>
      val (st, fb, url, urlAlt, _, _, _) = nodes(e.name)
      assert(st == "found" && fb == "en_wikipedia", s"${e.name}: $st/$fb")
      assert(url == null, s"${e.name}: primary url must be demoted, got $url")
      assert(urlAlt == s"https://en.wikipedia.org/wiki/${e.name.replace(' ', '_')}",
        s"${e.name}: $urlAlt")
    }
  }

  test("L3 opensearch: long-title-only entities resolve via prefix suggestion") {
    val viaL3 = corpus.entities.filter(_.idx % 20 == 17)
    assert(viaL3.nonEmpty)
    viaL3.foreach { e =>
      val (st, fb, url, _, _, _, _) = nodes(e.name)
      assert(st == "found" && fb == "opensearch", s"${e.name}: $st/$fb")
      assert(url == deUrl(s"${e.name} (Ausführlich)"), s"${e.name}: $url")
    }
  }

  test("L4 synonym: pageless entities with a synonym resolve via rank order") {
    val viaL4 = corpus.entities.filter(_.idx % 40 == 27)
    assert(viaL4.nonEmpty)
    viaL4.foreach { e =>
      val head = corpus.entities(e.idx - e.idx % 5)
      val (st, fb, url, _, _, _, _) = nodes(e.name)
      assert(st == "found" && fb == "synonym", s"${e.name}: $st/$fb")
      // rank-1 synonym has no page; rank-2 (group head) must win
      assert(url == deUrl(head.name), s"${e.name}: $url")
    }
  }

  test("L5/none: pageless entities without synonyms stay not_found (no scrape here)") {
    corpus.entities.filter(_.idx % 40 == 7).foreach { e =>
      val (st, fb, _, _, _, _, _) = nodes(e.name)
      assert(st == "not_found" && fb == null, s"${e.name}: $st/$fb")
    }
  }

  test("S6 DBpedia Lookup: disambiguated resources link via the lookup table") {
    val viaS6 = corpus.entities.filter(_.idx % 9 == 3)
    assert(viaS6.nonEmpty)
    viaS6.foreach { e =>
      val (_, _, _, _, st, uri, fb) = nodes(e.name)
      assert(st == "linked", s"${e.name}: $st")
      assert(uri == TextUtils.dbpediaUri(s"${e.name} (Begriff)"), s"${e.name}: $uri")
      assert(fb == "lookup_api", s"${e.name}: $fb")
    }
  }

  test("L13 strict: construction-linked rows carry no fallback source") {
    corpus.entities.filter(e => e.idx % 3 == 0 && e.idx % 9 != 3).foreach { e =>
      val (_, _, _, _, st, uri, fb) = nodes(e.name)
      assert(st == "linked" && fb == null, s"${e.name}: $st/$fb")
      assert(uri == TextUtils.dbpediaUri(e.name))
    }
    // abstract-less (idx%3==1) and absent (idx%3==2) rows stay not_found
    corpus.entities.filter(e => e.idx % 3 != 0).foreach { e =>
      val (_, _, _, _, st, _, fb) = nodes(e.name)
      assert(st == "not_found" && fb == null, s"${e.name}: $st/$fb")
    }
  }
}
