package graft.kg

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Statistics (A1-A10) over a hand-built node/edge fixture with known
  * counts — including the null-array regression (a wd_status=not_found
  * node whose instance_of is NULL must still count in every other
  * family), banker's-rounding percent parity, and the A5/A6/A8 families
  * added in round 3. */
class StatisticsSpec extends SparkSpec {

  private lazy val metrics: Map[(String, String), Double] = {
    // 400 nodes: id=0 has NO wikidata link (null arrays) and a null type;
    // ids 0..48 are implicit (49/400 = 12.25% → bankers 12.2); dbpedia
    // linked on even ids only (200)
    val nodes = spark.range(400).selectExpr(
      """named_struct(
           'typ', CASE WHEN id = 0 THEN CAST(NULL AS STRING) ELSE 'Person' END,
           'inferred', CASE WHEN id < 49 THEN 'implicit' ELSE 'explicit' END
         ) AS details""",
      """named_struct(
           'wikipedia', named_struct(
             'status', 'found',
             'fallback_source', CAST(NULL AS STRING),
             'categories', CASE WHEN id = 0 THEN CAST(NULL AS ARRAY<STRING>)
                ELSE array('KatA') END,
             'internal_links', array('LinkA')),
           'wikidata', named_struct(
             'status', CASE WHEN id = 0 THEN 'not_found' ELSE 'found' END,
             'instance_of', CASE
                WHEN id = 0 THEN CAST(NULL AS ARRAY<STRUCT<id:STRING,label:STRING>>)
                WHEN id = 1 THEN array(named_struct('id', 'QX', 'label', CAST(NULL AS STRING)))
                ELSE array(named_struct('id', 'Q5', 'label', 'Mensch')) END,
             'subclass_of', CASE WHEN id = 0 THEN CAST(NULL AS ARRAY<STRUCT<id:STRING,label:STRING>>)
                WHEN id = 2 THEN array(named_struct('id', 'Q1', 'label', 'Klasse'))
                ELSE CAST(array() AS ARRAY<STRUCT<id:STRING,label:STRING>>) END,
             'part_of', CASE WHEN id = 0 THEN CAST(NULL AS ARRAY<STRUCT<id:STRING,label:STRING>>)
                WHEN id < 10 THEN array(named_struct('id', 'Q2', 'label', 'Gruppe'))
                ELSE CAST(array() AS ARRAY<STRUCT<id:STRING,label:STRING>>) END,
             'has_part', CASE WHEN id = 3 THEN array(named_struct('id', 'Q3', 'label', 'Teil'))
                ELSE CAST(array() AS ARRAY<STRUCT<id:STRING,label:STRING>>) END),
           'dbpedia', named_struct(
             'status', CASE WHEN id % 2 = 0 THEN 'linked' ELSE 'not_found' END,
             'fallback_source', CAST(NULL AS STRING),
             'types', array('http://dbpedia.org/resource/TypeA'),
             'categories', array('http://dbpedia.org/resource/Category:Cat_A'),
             'subjects', array('http://dbpedia.org/resource/Category:Subj_A'),
             'part_of', CASE WHEN id = 0 THEN array('http://dbpedia.org/resource/Whole_Thing')
                ELSE CAST(array() AS ARRAY<STRING>) END,
             'has_part', CAST(array() AS ARRAY<STRING>))
         ) AS sources""")
    val edges = spark.createDataFrame(Seq(
      ("a", "kennt", "b", "explicit"),
      ("a", "kennt", "c", "explicit"),
      ("b", "mag", "c", "explicit"),
      ("a", "ist teil von", "c", "implicit")))
      .toDF("subject", "predicate", "object", "inferred")
    val (rows, caches) = Statistics.finish(Statistics.state(nodes, edges), "t")
    try rows.collect().map(r => (r.getString(2), r.getString(3)) -> r.getDouble(4))
      .toMap
    finally caches.foreach(_.unpersist())
  }

  test("a wd-miss node (null arrays) still counts in every family") {
    // pre-fix, concat(NULL array) erased node id=0 from the whole pass-2
    // explode: Unknown type, its fallback buckets and dbpedia counters
    assert(metrics(("types_distribution", "Unknown")) == 1.0)
    assert(metrics(("types_distribution", "Person")) == 399.0)
    assert(metrics(("wikipedia_fallback_dist", "none")) == 400.0)
    // id=0 is dbpedia-linked (even) — its dbp families must count too
    assert(metrics(("top10_dbpedia_part_of", "Whole Thing")) == 1.0)
  }

  test("linked counts and banker's-rounded percents") {
    assert(metrics(("total", "entities")) == 400.0)
    assert(metrics(("linked_count", "wikidata")) == 399.0)
    assert(metrics(("linked_count", "dbpedia")) == 200.0)
    assert(metrics(("linked_percent", "dbpedia")) == 50.0)
    // 399/400 = 99.75% → HALF_EVEN 99.8
    assert(metrics(("linked_percent", "wikidata")) == 99.8)
  }

  test("A8 entity_inference counts + HALF_EVEN percents") {
    assert(metrics(("entity_inference", "implicit")) == 49.0)
    assert(metrics(("entity_inference", "explicit")) == 351.0)
    // 49/400 = 12.25 → 12.2 (Python round() parity), not HALF_UP 12.3
    assert(metrics(("entity_inference_percent", "implicit")) == 12.2)
    assert(metrics(("entity_inference_percent", "explicit")) == 87.8)
  }

  test("A5 wikidata top10 families; unresolved labels skipped") {
    assert(metrics(("top10_instance_of", "Mensch")) == 398.0)
    assert(!metrics.contains(("top10_instance_of", "null")))
    assert(metrics(("top10_subclass_of", "Klasse")) == 1.0)
    assert(metrics(("top10_part_of", "Gruppe")) == 9.0) // ids 1..9 (0 has null)
    assert(metrics(("top10_has_part", "Teil")) == 1.0)
  }

  test("A6 dbpedia top10 families: linked-only + P11 label projection") {
    assert(metrics(("top10_dbpedia_types", "TypeA")) == 200.0)
    assert(metrics(("top10_dbpedia_categories", "Cat A")) == 200.0)
    assert(metrics(("top10_dbpedia_subjects", "Subj A")) == 200.0)
  }

  test("A7/A8 relationship counters + percents") {
    assert(metrics(("total", "relationships")) == 4.0)
    assert(metrics(("top10_predicates", "kennt")) == 2.0)
    assert(metrics(("relationships_inferred", "explicit")) == 3.0)
    assert(metrics(("relationships_inferred", "implicit")) == 1.0)
    assert(metrics(("relationships_inferred_percent", "explicit")) == 75.0)
    assert(metrics(("relationships_inferred_percent", "implicit")) == 25.0)
  }

  test("A9 entity_connections distinct-neighbor counts") {
    assert(metrics(("entity_connections", "a")) == 2.0)
    assert(metrics(("entity_connections", "c")) == 2.0)
    assert(metrics(("entity_connections", "b")) == 2.0)
  }

  test("finish over two merged half states equals compute over the whole") {
    import spark.implicits._
    // 400 nodes: twelve internal-link keys whose counts tie across the
    // top-10 cut (L0-L3: 34, L4-L11: 33, so key order keeps L10, L11 and
    // L4-L7), 49 implicit (12.25% → banker's 12.2), wikipedia found on
    // 320, dbpedia linked on the even ids; every key occurs in both halves
    val nodes = spark.range(400).selectExpr("id",
      """named_struct(
           'typ', CASE WHEN id % 7 = 0 THEN 'Ort' ELSE 'Person' END,
           'inferred', CASE WHEN id < 49 THEN 'implicit' ELSE 'explicit' END
         ) AS details""",
      """named_struct(
           'wikipedia', named_struct(
             'status', CASE WHEN id % 5 = 0 THEN 'not_found' ELSE 'found' END,
             'fallback_source', CAST(NULL AS STRING),
             'categories', array('KatA'),
             'internal_links', array(concat('L', CAST(id % 12 AS STRING)))),
           'wikidata', named_struct(
             'status', 'found',
             'instance_of', array(named_struct('id', 'Q5', 'label', 'Mensch')),
             'subclass_of', CAST(array() AS ARRAY<STRUCT<id:STRING,label:STRING>>),
             'part_of', CAST(array() AS ARRAY<STRUCT<id:STRING,label:STRING>>),
             'has_part', CAST(array() AS ARRAY<STRUCT<id:STRING,label:STRING>>)),
           'dbpedia', named_struct(
             'status', CASE WHEN id % 2 = 0 THEN 'linked' ELSE 'not_found' END,
             'fallback_source', CAST(NULL AS STRING),
             'types', array('http://dbpedia.org/resource/TypeA'),
             'categories', CAST(array() AS ARRAY<STRING>),
             'subjects', CAST(array() AS ARRAY<STRING>),
             'part_of', CAST(array() AS ARRAY<STRING>),
             'has_part', CAST(array() AS ARRAY<STRING>))
         ) AS sources""")
    def edges(rows: (String, String, String, String)*): DataFrame =
      rows.toDF("subject", "predicate", "object", "inferred")
    // the pair (a, b) is related in both halves
    val edgesA = edges(("a", "kennt", "b", "explicit"),
      ("a", "kennt", "c", "explicit"), ("b", "mag", "c", "explicit"))
    val edgesB = edges(("a", "kennt", "b", "explicit"),
      ("b", "ist teil von", "a", "implicit"), ("d", "kennt", "a", "explicit"))
    val (nodesA, nodesB) = (nodes.filter($"id" % 3 === 0), nodes.filter($"id" % 3 =!= 0))

    val merged = Statistics.State.of(Statistics.state(nodesA, edgesA).rows
      .unionByName(Statistics.state(nodesB, edgesB).rows))
    val (got, caches) = Statistics.finish(merged, "t")
    val (want, wantCaches) = Statistics.finish(
      Statistics.state(nodes, edgesA.unionByName(edgesB)), "t")
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    assert(rows(got) == rows(want), rows(got).diff(rows(want)))

    // the whole-corpus rows the merge has to reproduce
    val m = want.collect().map(r => (r.getString(2), r.getString(3)) -> r.getDouble(4)).toMap
    (caches ++ wantCaches).foreach(_.unpersist())
    assert(m(("entity_connections", "a")) == 3.0) // b, c, d: b counted once
    assert(m(("entity_connections", "b")) == 2.0)
    assert(m.keySet.filter(_._1 == "top10_internal_links").map(_._2) ==
      Set("L0", "L1", "L2", "L3", "L10", "L11", "L4", "L5", "L6", "L7"))
    assert(m(("entity_inference_percent", "implicit")) == 12.2)
    assert(m(("linked_percent", "wikipedia")) == 80.0)
    assert(m(("relationships_inferred_percent", "implicit")) == 16.7)
    assert(m(("top10_categories", "KatA")) == 400.0)
  }
}
