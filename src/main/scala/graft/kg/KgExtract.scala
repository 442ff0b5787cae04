package graft.kg

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, SparkSession}

/** Spark extract stage: pages → (entities, triples) in ONE fused
  * mapPartitions pass (SURVEY §2.3 E1-E3, §2.5 R1-R4, §2.6 D3/D6).
  *
  * Scale design: mention detection + all document-local rules are map-only —
  * the broadcast Aho-Corasick automaton is built once on the driver and
  * shared per executor, so 10^12 pages need zero shuffles until the
  * cross-document stages (dictionary joins, connected components, global
  * statistics). The `html` binary column is read only here; downstream
  * stages operate on the narrow extracted columns (column pruning keeps the
  * 100 TB scan out of every later stage — SURVEY §4.2).
  */
object KgExtract {

  /** Per-document output of the fused pass. `scrape` carries the first
    * 1200 chars of the extracted text (the exchars cap,
    * async_fetchers.py:235) so the linking stage's scrape fallback (L5)
    * never re-parses html. */
  final case class DocOut(url: String, scrape: String,
      entities: Seq[EntityRow], triples: Seq[TripleRow])

  /** Broadcastable gazetteer: automaton + per-pattern candidate lists +
    * the L14 TF-IDF disambiguation tables (candidate description vectors,
    * L2-normalized, and the description-corpus IDF map). The vectors exist
    * ONLY for ambiguous surfaces, so the broadcast stays dictionary-sized
    * (SURVEY §7.6-4 driver budget). */
  final case class Gazetteer(
      automaton: AhoCorasick,
      candidates: Array[List[(String, String, String, Double)]], // (canonical, qid, typ, prior)
      candVecs: Array[List[Map[String, Double]]], // aligned; empty for unambiguous
      idf: Map[String, Double])
    extends Serializable

  /** Tokenizer shared by description vectors and document context:
    * lowercase, word chars only. */
  def tokenize(text: String): Array[String] =
    text.toLowerCase(java.util.Locale.ROOT)
      .split("[^\\p{L}\\p{N}]+").filter(_.nonEmpty)

  /** Bounded driver-side link tables (VERDICT r3 item 2): at a 10^8-entity
    * dictionary the naive `qid → description` / `qid → part_of` maps are
    * tens of GB on the driver — far past the 8 GB budget the automaton
    * respects. What the extract stage actually NEEDS driver-side is much
    * smaller, and each piece has its own bound:
    *   - `idf` — the corpus-level document-frequency statistic. Its
    *     SEMANTICS stay "IDF over ALL entity descriptions" (so results are
    *     byte-identical to the naive build), but the df counting runs
    *     DISTRIBUTED over the wd dictionary DataFrame and only the
    *     vocabulary-sized idf map is collected. This map is the floor: it
    *     ships in the gazetteer broadcast regardless, because the document
    *     context norm needs idf for arbitrary document tokens.
    *   - `descByQid` — consumed only by `vec(qid)` for the candidates of
    *     AMBIGUOUS surfaces; bounded to exactly those qids.
    *   - `partOf` — queried only with qids that appear in the alias table
    *     (explicit mentions are gazetteer candidates; E4 implied entities
    *     are gated on `qidInfo.get(hq)`, which is alias-derived); bounded
    *     to alias-table qids with a non-empty part_of (an empty set is
    *     indistinguishable from an absent key at every call site).
    */
  final case class LinkTables(
      partOf: Map[String, Set[String]],
      descByQid: Map[String, String],
      idf: Map[String, Double])

  def boundedLinkTables(spark: SparkSession, wd: org.apache.spark.sql.DataFrame,
      aliases: Seq[AliasRow], lang: String = "de"): LinkTables = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val aliasQids = aliases.iterator.map(_.qid).toSet
    val ambiguousQids: Set[String] = aliases.groupBy(_.alias).valuesIterator
      .filter(_.size > 1).flatten.map(_.qid).toSet
    val wdQ = wd.select(col("qid"),
        coalesce(element_at(col("descriptions"), lit(lang)), lit("")).as("d"),
        col("part_of"))
      .dropDuplicates("qid")
    // distributed document-frequency: same tokenize() on executors as the
    // driver-side build, so idf values are bit-identical
    val n = math.max(wdQ.count(), 1L)
    val dfMap: Map[String, Int] = wdQ.select(col("d")).as[String]
      .flatMap(d => tokenize(d).distinct)
      .groupBy("value").count()
      .as[(String, Long)].collect().iterator.map { case (t, c) => t -> c.toInt }.toMap
    val idf = dfMap.map { case (t, c) =>
      t -> math.max(math.log(n.toDouble / (1 + c)), 0.0)
    }
    def restrict(qids: Set[String]) = wdQ.join(
      broadcast(qids.toSeq.toDF("rq")), col("qid") === col("rq"), "left_semi")
    val descB = restrict(ambiguousQids).select(col("qid"), col("d"))
      .as[(String, String)].collect().toMap
    val partOfB = restrict(aliasQids)
      .filter(size(col("part_of")) > 0)
      .select(col("qid"), col("part_of")).as[(String, Seq[String])]
      .collect().iterator.map { case (q, ps) => q -> ps.toSet }.toMap
    LinkTables(partOfB, descB, idf)
  }

  def buildGazetteer(aliases: Seq[AliasRow],
      descByQid: Map[String, String] = Map.empty,
      idfPrecomputed: Option[Map[String, Double]] = None): Gazetteer = {
    val surfaces = aliases.map(_.alias).distinct.sorted.toVector
    val byAlias = aliases.groupBy(_.alias)
    val cands = surfaces.map { s =>
      byAlias(s).sortBy(a => (-a.prior, a.canonical))
        .map(a => (a.canonical, a.qid, a.entity_type, a.prior)).toList
    }.toArray
    // IDF over the description corpus (one doc per dictionary entity);
    // idf = ln(N / (1 + df)) floored at 0 — common boilerplate terms
    // contribute nothing, discriminative terms dominate. With
    // `idfPrecomputed` (the distributed boundedLinkTables build) descByQid
    // only needs the AMBIGUOUS surfaces' candidates — vec() reads nothing
    // else.
    val idf = idfPrecomputed.getOrElse {
      val descs = descByQid.values.toVector
      val n = math.max(descs.size, 1)
      val df = scala.collection.mutable.HashMap.empty[String, Int]
      descs.foreach(d => tokenize(d).distinct.foreach(t => df(t) = df.getOrElse(t, 0) + 1))
      df.iterator.map { case (t, c) =>
        t -> math.max(math.log(n.toDouble / (1 + c)), 0.0)
      }.toMap
    }
    // candidate vectors (ambiguous surfaces only): tf*idf, L2-normalized
    def vec(qid: String): Map[String, Double] = {
      val toks = tokenize(descByQid.getOrElse(qid, ""))
      val tf = toks.groupBy(identity).map { case (t, g) => t -> g.length.toDouble }
      val w = tf.map { case (t, f) => t -> f * idf.getOrElse(t, 0.0) }.filter(_._2 > 0)
      val norm = math.sqrt(w.values.map(x => x * x).sum)
      if (norm == 0) Map.empty else w.map { case (t, x) => t -> x / norm }
    }
    val vecs = cands.map {
      case _ :: Nil => List.empty[Map[String, Double]]
      case many => many.map(c => vec(c._2))
    }
    Gazetteer(AhoCorasick.build(surfaces), cands, vecs, idf)
  }

  /** L14 candidate scoring (north_star: anchor prior + context TF-IDF
    * cosine + pairwise coherence re-rank):
    *   score = prior + CoherenceBoost·[group co-mentioned]
    *                 + tfidfWeight·cos(doc context, candidate description)
    * Coherence groups come from the Wikidata part_of hierarchy: a candidate
    * whose group (its part_of head, else itself) is shared with any
    * UNAMBIGUOUS mention in the same document gets the boost. The cosine
    * compares the document's token TF-IDF vector with the candidate's
    * description vector (both under the dictionary IDF). Tie-break:
    * canonical asc. All tables are broadcast; scoring stays map-only.
    */
  val CoherenceBoost = 0.2

  def rawMentions(text: String, gaz: Gazetteer,
      partOf: Map[String, Set[String]],
      tfidfWeight: Double = KgConfig.default.tfidfWeight): Seq[DocProcess.RawMention] = {
    val found = gaz.automaton.find(text)
    def group(qid: String): String =
      partOf.getOrElse(qid, Set.empty).headOption.getOrElse(qid)
    // context = groups of unambiguous mentions
    val contextGroups: Set[String] = found.iterator
      .map { case (pid, _, _) => gaz.candidates(pid) }
      .collect { case single :: Nil => group(single._2) }
      .toSet
    // document context vector terms (computed lazily — only docs containing
    // an ambiguous mention pay the tokenize cost)
    lazy val (docW: Map[String, Double], docNorm: Double) = {
      val tf = scala.collection.mutable.HashMap.empty[String, Int]
      tokenize(text).foreach(t => tf(t) = tf.getOrElse(t, 0) + 1)
      val w = tf.iterator.map { case (t, f) => t -> f * gaz.idf.getOrElse(t, 0.0) }
        .filter(_._2 > 0).toMap
      (w, math.sqrt(w.values.map(x => x * x).sum))
    }
    def cosine(candVec: Map[String, Double]): Double = {
      if (candVec.isEmpty || docNorm == 0) 0.0
      else {
        var dot = 0.0
        candVec.foreach { case (t, x) => dot += x * docW.getOrElse(t, 0.0) }
        dot / docNorm
      }
    }
    found.map { case (pid, s, e) =>
      val cands = gaz.candidates(pid)
      val (canonical, qid, typ, prior) = cands match {
        case single :: Nil => single
        case many =>
          val vecs = gaz.candVecs(pid)
          many.zip(vecs).map { case (c, v) =>
            val score = c._4 +
              (if (contextGroups.contains(group(c._2))) CoherenceBoost else 0.0) +
              tfidfWeight * cosine(v)
            // round to 9 decimals: scores within float noise are TIES,
            // resolved by canonical asc — keeps engine/oracle parity exact
            (c, math.rint(score * 1e9) / 1e9)
          }.minBy { case (c, score) => (-score, c._1) }._1
      }
      DocProcess.RawMention(text.substring(s, e), canonical, qid, typ, s, e, prior)
    }
  }

  /** lang -> middle -> pattern: the relation patterns as DocProcess reads them. */
  def patternIndex(patterns: Seq[PatternRow]): Map[String, Map[String, PatternRow]] =
    patterns.groupBy(_.lang).map { case (l, ps) => l -> ps.map(p => p.middle -> p).toMap }

  /** qid -> (canonical, type) for the E4 implied-entity stage. */
  def qidInfo(aliases: Seq[AliasRow]): Map[String, (String, String)] =
    aliases.groupBy(_.qid).map { case (q, as) =>
      val a = as.minBy(_.canonical); q -> (a.canonical, a.entity_type)
    }

  /** The fused extract pass: the byte-stable extract_text path over each
    * page's html (input_hint invariant). The gazetteer always takes the
    * corpus IDF of `dicts`: its bounded descriptions cover only the
    * ambiguous candidates, so an IDF computed over them would disagree. */
  def run(
      spark: SparkSession,
      pages: Dataset[PageRow],
      dicts: Pipeline.Dicts,
      cfg: KgConfig): Dataset[DocOut] = {
    import spark.implicits._
    val bcGaz: Broadcast[Gazetteer] = spark.sparkContext.broadcast(
      buildGazetteer(dicts.aliases, dicts.wdDesc, Some(dicts.idf)))
    val bcPats = spark.sparkContext.broadcast(patternIndex(dicts.patterns))
    val bcPartOf = spark.sparkContext.broadcast(dicts.wdPartOf)
    val bcCfg = spark.sparkContext.broadcast(cfg)
    val bcQidInfo = spark.sparkContext.broadcast(qidInfo(dicts.aliases))

    pages.mapPartitions { it =>
      val gaz = bcGaz.value
      val pats = bcPats.value
      val partOf = bcPartOf.value
      val c = bcCfg.value
      val qidInfo = bcQidInfo.value
      it.map { p =>
        val text = TextExtract.extractText(p.html)
        val ms = rawMentions(text, gaz, partOf, c.tfidfWeight)
        val (ents, trips) = DocProcess.process(p.url, text, p.lang, ms, pats,
          partOf, c, qidInfo)
        DocOut(p.url, text.take(1200), ents, trips)
      }
    }
  }
}
