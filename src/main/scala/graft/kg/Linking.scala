package graft.kg

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

/** Entity linking as dictionary joins + staged left-anti fallback narrowing
  * (SURVEY §2.4 L1-L13): the deterministic Spark re-expression of the
  * reference's live Wikipedia → Wikidata → DBpedia service pipeline
  * (core/process/orchestrator.py:202-232, fixed service order).
  *
  * Each fallback stage runs ONLY over the still-unresolved remainder —
  * exactly the reference's staged pipeline (wikipedia/service.py:1156-1259
  * `split_by_extract` narrowing) — expressed as a chain of status-gated
  * unions rather than repeated anti-joins, so one pass over the entity set
  * resolves all stages.
  *
  * Every linked field except the L5 text depends only on the mention's
  * (entity, qid) key, as the reference's per-lookup-key response caches
  * do (utils/cache_utils.py:7-56). So [[prepare]], the one builder of the
  * link artifact ([[Prepared]]), runs the chain ONCE per key of the
  * gazetteer, dictionary-side: it persists and counts the two key tables,
  * then decides both gated joins and collects the keys the L5 gate
  * opens, so a run over the artifact only reads values. Only a key L1-L4
  * leave unresolved ([[Prepared.unresolved]]) reads the page text, and
  * the entity rows carry `p_extract` only on such keys. So [[linkFlat]]
  * has one shape in every regime: ONE join-back of the per-key payload
  * onto the mention rows (`link_plan` site `link_key_payload`), then the
  * L5 projection over the text the rows carry; its output feeds the node
  * write directly.
  *
  * Scale design, one rule: salt only a join whose probe side can hold a
  * hot key. The key chain probes with distinct keys, which hold none, so
  * its dictionary joins are plain left joins and Spark picks broadcast or
  * shuffle at runtime. Two sites are gated: the mention-row join-back,
  * where a hub key (country, person) repeats over many mention rows, and
  * `wd_ref_labels`, whose probe is the exploded referenced ids of the
  * Wikidata dictionary, where hub qids repeat. Each gate is decided once
  * per prepared link ([[Prepared.decisions]]) by [[decide]]: a dictionary
  * whose plan-estimated size fits under `BroadcastMaxBytes` is broadcast;
  * a larger one, or one without a size estimate, takes the salted
  * shuffle-hash path ([[saltedJoin]]), whose salt spreads a hot key over
  * `NSalt` buckets (SURVEY §4.2). `cfg.forceSaltedJoins` pins the salted
  * path so tests exercise it at small scale (PipelineParitySpec).
  */
object Linking {

  /** Maintenance-category blacklist (utils/category_utils.py:3-165 —
    * representative prefixes; matching rule: drop when the category name,
    * after stripping the namespace prefix (P8), starts with a keyword). */
  val MaintenanceKeywords: Seq[String] = Seq(
    "Articles with", "All articles with", "Articles containing", "CS1 maint",
    "Use dmy dates", "Wikipedia", "Short description", "Commons category",
    "Weblink offline", "Maintenance", "Cleanup", "Disambiguation", "Stub",
    "Orphaned articles", "Dead external links", "Unsourced statements",
    "Articles needing", "Pages with", "Articles lacking", "Articles to be",
    "Articles that", "Articles using", "Articles covered", "Articles which",
    "Articles where", "Articles without")

  /** U2 clean_title (utils/language_utils.py:100-132) as a codegen'd
    * column expression: drop a trailing " (qualifier)", collapse + trim
    * whitespace. The reference applies it to lookup terms before the
    * opensearch/translation retries (translation_utils.py:123). */
  def cleanTitleCol(title: Column): Column =
    trim(regexp_replace(
      regexp_replace(title, "\\s+\\([^)]*\\)$", ""), "\\s+", " "))

  /** P11 label-from-URI (context_statistics_top10.py:231-250
    * extract_label_from_uri), branch-for-branch:
    *   1. dbpedia resource URIs: strip the prefix; if the remainder starts
    *      with "Category:", remove ALL occurrences of it (the reference
    *      uses str.replace); underscores → spaces;
    *   2. other strings containing '/': last path component, underscores →
    *      spaces (Category: is NOT stripped on this branch);
    *   3. plain strings: returned unchanged (underscores kept). */
  def labelFromUri(uri: Column): Column = {
    val prefix = "http://dbpedia.org/resource/"
    val afterPrefix = substring(uri, prefix.length + 1, Int.MaxValue)
    // regex-free forms (round 6, guide §4.1 — this projection runs per
    // exploded counter element in the statistics pass): str.replace is a
    // literal replace-all exactly like the reference's, and the last path
    // component via substring_index matches regexp_extract("([^/]+)$"):
    // both yield "" when the uri ends with '/'.
    val dbpLabel = when(afterPrefix.startsWith("Category:"),
      call_function("replace", afterPrefix, lit("Category:"), lit("")))
      .otherwise(afterPrefix)
    when(uri.startsWith(prefix), translate(dbpLabel, "_", " "))
      .when(uri.contains("/"),
        translate(substring_index(uri, "/", -1), "_", " "))
      .otherwise(uri)
  }

  /** P8 + P9: strip namespace prefix, drop maintenance categories — a
    * native array expression ([[graft.functions.CleanCategories]]): the
    * filter(transform(...)) form re-evaluated 26 interpreted startsWith
    * probes per element per node (HOFs are CodegenFallback). */
  def cleanCategories(categories: Column): Column = {
    val spark = org.apache.spark.sql.SparkSession.active
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "clean_categories",
      args => graft.functions.CleanCategories(args.head), "built-in")
    call_function("clean_categories", categories)
  }

  /** Skew salting factor of the gated joins' salted path. */
  private val NSalt = 8

  /** The gated joins broadcast a dictionary whose plan-estimated size
    * fits under this. */
  private[kg] val BroadcastMaxBytes: Long = 64L << 20

  /** Salted equi-join for skewed build-side keys, over an equi-join
    * condition `on` (e.g. a multi-column null-safe key): explodes the
    * dictionary side `nSalt` ways and routes probe rows by a hash bucket
    * of `saltSource`, so one hot key (e.g. "Deutschland" at web scale)
    * spreads over nSalt reducers. `saltSource` must vary over a hot key's
    * rows (a row id, the page url): NOT the join key, which would put
    * every hot-key row in one bucket. With nSalt=1 this degenerates to a
    * plain equi-join; output is invariant in nSalt (property-tested). */
  def saltedJoin(
      probe: DataFrame, dict: DataFrame, on: Column,
      nSalt: Int, saltSource: Column, joinType: String = "left"): DataFrame = {
    val saltedProbe = probe.withColumn("__salt",
      pmod(xxhash64(saltSource), lit(nSalt)).cast("int"))
    // shuffle_hash: dictionary rows are the smaller side per salt bucket;
    // hashing them avoids sort-merge's sort of the fat probe rows
    val saltedDict = dict.withColumn("__salt",
      explode(sequence(lit(0), lit(nSalt - 1)))).hint("shuffle_hash")
    saltedProbe.join(saltedDict,
      on && saltedProbe("__salt") === saltedDict("__salt"),
      joinType).drop("__salt")
  }

  /** The plan decision of one gated join site: "broadcast" or "salted",
    * and the size estimate behind it. [[Prepared.decisions]] holds one per
    * site, and Pipeline writes them as `link_plan` metric rows, so plan
    * drift at scale is observable, not silent. */
  final case class JoinDecision(site: String, path: String, estBytes: BigInt) {
    def broadcast: Boolean = path == "broadcast"
  }

  /** The gate of a join whose probe side can hold a hot key (the two
    * sites of the object header): broadcast when `dict`'s plan-estimated
    * size fits under `BroadcastMaxBytes` and `cfg.forceSaltedJoins` is
    * off, salted otherwise. It reads the optimized plan's estimate alone
    * and starts no job. A plan without size statistics estimates the
    * defaultSizeInBytes sentinel (8 EiB), which exceeds any budget, so it
    * takes the salted path, correct at any size. */
  private[kg] def decide(site: String, dict: DataFrame,
      cfg: KgConfig): JoinDecision = {
    val est = dict.queryExecution.optimizedPlan.stats.sizeInBytes
    val small = !cfg.forceSaltedJoins && est <= BroadcastMaxBytes
    JoinDecision(site, if (small) "broadcast" else "salted", est)
  }

  /** A gated dictionary join on `on`, by the decision [[decide]] took on
    * this `dict`: a broadcast join, or [[saltedJoin]] salted by
    * `saltSource`. */
  def dictJoin(
      probe: DataFrame, dict: DataFrame, on: Column, decision: JoinDecision,
      saltSource: Column, joinType: String = "left"): DataFrame =
    if (decision.broadcast) probe.join(broadcast(dict), on, joinType)
    else saltedJoin(probe, dict, on, NSalt, saltSource, joinType)

  /** The L3 prefix index (lengths 3..40 per title, ~38 rows/title): the
    * largest prepared artifact — ~4·10^9 rows at 10^8 titles, built ONCE
    * per deployment as a distributed explode. Exposed so the bench can
    * report its size (VERDICT r3 item 6). */
  private[graft] def prefixIndex(primary: DataFrame): DataFrame = primary
    .filter(length(col("w_title")) >= 3) // sub-3-char titles are not indexed
    .select(col("w_title"),
      explode(expr("transform(sequence(3, least(char_length(w_title), 40))," +
        " i -> lower(substring(w_title, 1, i)))")).as("os_prefix"))

  /** L3 suggestion table (opensearch stand-in, wikipedia/fallbacks.py:82-157):
    * for each unresolved lookup term, the first (by suggestion rank) primary
    * title that prefix-matches the term AND carries a usable extract.
    * Suggestion rank = (title length asc, title asc) capped at 5 — the
    * deterministic stand-in for the API's relevance order + limit:5, with
    * "try each suggestion until one works" expressed as filter + min_by.
    * The prefix index is a bounded explode of the title dictionary (lengths
    * 3..40) — linear in dictionary size, the batch form of the API's own
    * prefix index. Input `terms`: one column os_key (lowercased lookup). */
  private def opensearchPick(terms: DataFrame, primary: DataFrame,
      minLen: Int): DataFrame = {
    val pref = prefixIndex(primary)
    val cand = pref.join(terms.hint("shuffle_hash"),
        col("os_prefix") === col("os_key"), "inner")
      .withColumn("os_rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("os_key")
          .orderBy(length(col("w_title")), col("w_title"))))
      .filter(col("os_rk") <= 5)
      .select(col("os_key"), col("os_rk"), col("w_title").as("os_lookup_title"))
    // fetch the suggested pages (≤5 per term), keep those with usable
    // extracts, first-rank-wins per term
    cand.join(primary.hint("shuffle_hash"),
        col("os_lookup_title") === col("w_title"), "inner")
      .filter(col("w_extract").isNotNull && length(col("w_extract")) >= minLen)
      .groupBy("os_key")
      .agg(min_by(struct(col("w_title").as("os_title"), col("w_url").as("os_url"),
        col("w_extract").as("os_extract"), col("w_categories").as("os_categories"),
        col("w_links").as("os_links"), col("w_wikidata_id").as("os_wikidata_id")),
        col("os_rk")).as("os"))
      .select(col("os_key").as("os_hit_key"), col("os.*"))
  }

  /** L4 synonym resolution table (wikipedia/fallbacks.py:160-234 +
    * utils/synonym_utils.py:22-120 _COMMON_SYNONYMS): the synonyms
    * dictionary (term, synonym, rank) composed with the title dictionary —
    * per term, the first synonym (rank order, skipping the term itself)
    * whose page has a usable extract. Entirely dictionary-side. */
  private def synonymPick(synonyms: DataFrame, primary: DataFrame,
      minLen: Int): DataFrame = {
    synonyms
      .filter(lower(col("synonym")) =!= lower(col("term"))) // skip the original
      .join(primary.hint("shuffle_hash"), col("synonym") === col("w_title"), "inner")
      .filter(col("w_extract").isNotNull && length(col("w_extract")) >= minLen)
      .groupBy("term")
      .agg(min_by(struct(col("w_title").as("syn_title"), col("w_url").as("syn_url"),
        col("w_extract").as("syn_extract"), col("w_categories").as("syn_categories"),
        col("w_links").as("syn_links"), col("w_wikidata_id").as("syn_wikidata_id")),
        col("rank")).as("syn"))
      .select(col("term").as("syn_hit_term"), col("syn.*"))
  }

  /** The link artifact, as [[prepare]] leaves it: the two key tables,
    * persisted and counted, and the values a run reads off them, all
    * strict, so reading one starts no job. `keyWiki` is the Wikipedia
    * result over the distinct (entity, qid) keys, which decides
    * `resolved4`; `keyPayload` adds Wikidata and DBpedia. [[linkFlat]]
    * joins back only `keyPayload`; the extract's L5 gate reads only
    * `unresolved`, the keys L1-L4 leave unresolved (O(gazetteer keys), a
    * null qid kept, as the null-safe join-back matches it). `cfg` is the
    * [[linkConfig]] linked under. `primary` is not read by the link (it
    * is pre-composed into the L1 and L3 dictionaries): the bench sizes
    * the prefix index from it. */
  final case class Prepared(primary: DataFrame, keyWiki: DataFrame,
      keyPayload: DataFrame, unresolved: Set[(String, String)], cfg: KgConfig,
      refLabelsJoin: JoinDecision, payloadJoin: JoinDecision) {
    /** The two key tables, in build order. */
    def all: Seq[DataFrame] = Seq(keyWiki, keyPayload)
    /** Both gated joins' decisions, in the order a run writes them. */
    def decisions: Seq[JoinDecision] = Seq(refLabelsJoin, payloadJoin)
    /** `keyPayload` with its key renamed: the side [[linkFlat]] joins
      * back, and the plan `payloadJoin` was decided on. */
    private[kg] val payloadDict: DataFrame = keyed(keyPayload)
  }

  private def keyed(keyPayload: DataFrame): DataFrame =
    keyPayload.withColumnsRenamed(Map("entity" -> "k_entity", "qid" -> "k_qid"))

  /** `cfg` reduced to the fields [[prepare]] and [[linkFlat]] read: configs
    * that differ only in extract settings (entity types, inference,
    * relation limits) link alike, so they can share one [[Prepared]]. */
  private[kg] def linkConfig(cfg: KgConfig): KgConfig = KgConfig(
    language = cfg.language, minExtractLen = cfg.minExtractLen,
    extraLanguages = cfg.extraLanguages,
    forceSaltedJoins = cfg.forceSaltedJoins)

  /** The `lang` pages, as the `<p>_*` columns the link reads (`w` for
    * the primary language, `w2` for the secondary). */
  private[kg] def pagesOf(wiki: DataFrame, lang: String, p: String): DataFrame =
    wiki.filter(col("lang") === lang)
      .select(col("title").as(s"${p}_title"), col("url").as(s"${p}_url"),
        col("extract").as(s"${p}_extract"), col("categories").as(s"${p}_categories"),
        col("internal_links").as(s"${p}_links"), col("wikidata_id").as(s"${p}_wikidata_id"))

  /** The L1 dictionary, keyed on the raw entity surface (`l1_key`), with
    * the redirect hop PRE-COMPOSED dictionary-side: the probe takes ONE
    * join on the entity surface instead of redirect-resolve + primary —
    * one fewer probe-side exchange when the joins shuffle (at scale),
    * where every probe join reshuffles the key rows. Key space: every
    * redirect source `redir` (from_title, to_title) holds (payload = the
    * target page, possibly absent — the resolved lookup term must survive
    * for L3 even when the target page does not exist) plus every primary
    * title that is NOT itself a redirect source (a redirect shadows the
    * direct title, exactly as the sequential hop did: the probe row
    * followed from_title→to_title and never consulted its own title).
    *
    * L4 is PRE-COMPOSED into it too (round 6): the synonym pick
    * (wikipedia/fallbacks.py:160-234 + synonym_utils.py — per term, the
    * first ranked synonym with a usable page) is keyed on the RAW entity
    * surface, the SAME probe key L1 uses, so a dictionary-side full-outer
    * join lets ONE probe exchange serve both stages. Keys present only in
    * the synonym table behave exactly like an L1 miss (null l1_lookup and
    * w_* payload); keys present in both carry both payloads, and the
    * probe consults syn_* only under the needs4 gate — the staged order
    * (opensearch before synonym) is enforced at projection time. */
  private[kg] def l1Dict(primary: DataFrame, redir: DataFrame,
      synonyms: DataFrame, minLen: Int): DataFrame = {
    val pCols = primary.columns.map(primary(_)).toIndexedSeq
    redir
      .join(primary, col("to_title") === col("w_title"), "left")
      .select(col("from_title").as("l1_key") +:
        col("to_title").as("l1_lookup") +: pCols: _*)
      .unionByName(primary
        .join(redir, primary("w_title") === redir("from_title"), "left_anti")
        .select(primary("w_title").as("l1_key") +:
          primary("w_title").as("l1_lookup") +: pCols: _*))
      .join(synonymPick(synonyms, primary, minLen),
        col("l1_key") === col("syn_hit_term"), "full_outer")
      .withColumn("l1_key", coalesce(col("l1_key"), col("syn_hit_term")))
      .drop("syn_hit_term")
  }

  /** Build the link artifact: every dictionary-derived table of the link,
    * the two key tables over `keys` (distinct (entity, qid) pairs), each
    * persisted and counted, and then, from the counted tables, the
    * decisions and the unresolved keys. The only builder of a
    * [[Prepared]]: Pipeline.prepareLink memoizes it per Dicts and link
    * config, and a spec that calls it links as a run does. */
  def prepare(
      spark: SparkSession,
      wiki: DataFrame,
      redirects: DataFrame,
      wd: DataFrame,
      dbp: DataFrame,
      synonyms: DataFrame,
      keys: DataFrame,
      cfg: KgConfig): Prepared = {
    val linkCfg = linkConfig(cfg)
    val minLen = cfg.minExtractLen
    val primary = pagesOf(wiki, cfg.language, "w")
    val secondaryLang = if (cfg.language == "de") "en" else "de"
    val secondary = pagesOf(wiki, secondaryLang, "w2")
    val redir = redirects.filter(col("lang") === cfg.language)
      .select(col("from_title"), col("to_title"))
    val sitelinks = wd.select(col("qid"),
      explode(col("sitelinks")).as(Seq("site", "title")))
    val links2 = sitelinks
      .filter(col("site") === s"${secondaryLang}wiki")
      .select(col("qid").as("sl_qid"), col("title").as("sl_title"))
    // L2 dictionary with the sitelink hop PRE-COMPOSED: qid → secondary
    // page directly (sitelink titles without a secondary page drop out —
    // indistinguishable from a probe miss, since sl_title itself is never
    // projected). Again one probe-side exchange instead of two.
    val l2Dict = links2
      .join(secondary, col("sl_title") === col("w2_title"), "inner")
      .select(col("sl_qid") +: secondary.columns.map(secondary(_)).toIndexedSeq: _*)
    // L3 lookup-term vocabulary: the gazetteer's canonical names are the
    // Wikidata primary-language labels; redirect targets extend it
    val lookupTerms = wd
      .select(lower(element_at(col("labels"), cfg.language)).as("os_key"))
      .union(redir.select(lower(col("to_title"))))
      .filter(col("os_key").isNotNull).distinct()
    val dbpSel = dbp.select(col("uri").as("dbp_uri_dict"),
      col("label_en").as("dbp_label"), col("abstract_en").as("dbp_abstract"),
      col("types").as("dbp_types"), col("categories").as("dbp_categories"),
      col("subjects").as("dbp_subjects"), col("part_of").as("dbp_part_of"),
      col("has_part").as("dbp_has_part"))
    val lookupPick = dbp
      .filter(col("label_en").isNotNull && col("abstract_en").isNotNull)
      .groupBy(lower(col("label_en")).as("lk_key"))
      .agg(min_by(struct(col("uri").as("lk_uri"), col("label_en").as("lk_label"),
        col("abstract_en").as("lk_abstract"), col("types").as("lk_types"),
        col("categories").as("lk_categories"), col("subjects").as("lk_subjects"),
        col("part_of").as("lk_part_of"), col("has_part").as("lk_has_part")),
        col("uri")).as("lk"))
      .select(col("lk_key"), col("lk.*"))
    // L7 extra-language tables (dictionary-side, O(dictionary)): the
    // sitelinked page of each qid in language l, carrying the multilang
    // entry payload. Languages equal to the primary/secondary pair are
    // skipped — those entries come from the link chain itself.
    def mlTable(l: String): DataFrame = {
      val w = wiki.filter(col("lang") === l)
        .select(col("title").as("mlw_title"), col("url").as("mlw_url"),
          col("extract").as("mlw_extract"))
      sitelinks.filter(col("site") === s"${l}wiki")
        .select(col("qid").as(s"mlx_qid_$l"), col("title").as("mlx_title"))
        .join(w, col("mlx_title") === col("mlw_title"), "inner")
        .select(col(s"mlx_qid_$l"),
          struct(col("mlw_title").as("label"), col("mlw_url").as("url"),
            col("mlw_extract").as("description")).as(s"mlx_$l"))
    }
    val mlExtra = cfg.extraLanguages
      .filter(l => l != cfg.language && l != secondaryLang).distinct
      .map(l => l -> mlTable(l))
    val (enrichedWd, refLabelsJoin) = enrichWdDict(wd, linkCfg)

    // the key chain, each key table persisted and counted before the next
    // is planned over it, so the payload chain reads the cached Wikipedia
    // result and every decision below sees the tables' real size
    def materialized(df: DataFrame): DataFrame = {
      df.persist(MEMORY_AND_DISK).count()
      df
    }
    val keyWiki = materialized(wikipedia(keys,
      l1Dict(primary, redir, synonyms, minLen), l2Dict,
      opensearchPick(lookupTerms, primary, minLen), mlExtra, linkCfg))
    val keyPayload = materialized(dbpedia(wikidata(keyWiki, enrichedWd),
      dbpSel, lookupPick))
    val unresolved = keyWiki.filter(!col("resolved4")).select("entity", "qid")
      .collect().iterator.map(r => (r.getString(0), r.getString(1))).toSet
    Prepared(primary = primary, keyWiki = keyWiki, keyPayload = keyPayload,
      unresolved = unresolved, cfg = linkCfg, refLabelsJoin = refLabelsJoin,
      payloadJoin = decide("link_key_payload", keyed(keyPayload), linkCfg))
  }

  /** L1-L4 + L7: Wikipedia linking with the reference's staged fallback
    * chain (wikipedia/service.py:1156-1259): L1 direct (redirect-resolved)
    * → L2 language fallback → L3 opensearch → L4 synonym. Each fallback
    * resolves ONLY the still-unresolved remainder. Every field it adds
    * depends on the key (entity, qid) alone, so it runs over the distinct
    * `keys` ([[Prepared.keyWiki]]), against the L1, L2 and L3
    * dictionaries and the L7 tables [[prepare]] built. Adds wiki_url,
    * wiki_url_alt, wiki_categories, wiki_links, wiki_wikidata_id,
    * wiki_multilang, plus
    * the L5 inputs resolved4, any_extract, wx_extract and wx_fallback that
    * [[linkFlat]] turns into wiki_extract, wiki_fallback_source and
    * wiki_status. Distinct keys hold no hot key, so every dictionary join
    * here is a plain left join.
    */
  private def wikipedia(keys: DataFrame, l1Dict: DataFrame, l2Dict: DataFrame,
      osPick: DataFrame, mlExtra: Seq[(String, DataFrame)],
      cfg: KgConfig): DataFrame = {
    val minLen = cfg.minExtractLen
    val secondaryLang = if (cfg.language == "de") "en" else "de"

    // L1 + L4: ONE probe join. The redirect hop (round 5,
    // async_fetchers.py:231 redirects:true) AND the synonym pick (round 6)
    // are PRE-COMPOSED into l1Dict dictionary-side — both stages key
    // on the raw entity surface, so the key rows cross a single exchange
    // for the two of them when the join shuffles (at scale). The
    // syn_* payload rides along and is consulted only under the needs4
    // gate below, preserving the staged order (opensearch before synonym,
    // wikipedia/fallbacks.py:82-234). w_lookup (the resolved lookup term,
    // consumed by L3's cleaned retry key) falls back to the entity surface
    // on a miss, as the sequential coalesce did.
    val s1 = keys.join(l1Dict, keys("entity") === col("l1_key"), "left")
      .withColumn("w_lookup", coalesce(col("l1_lookup"), col("entity")))
      .drop("l1_key", "l1_lookup")

    // resolved = extract present and long enough (P14 needs_fallback gate,
    // wikipedia/service.py:998-1004; the same minimal-extract criterion is
    // applied uniformly as the acceptance test of every fallback stage)
    val ok1 = col("w_extract").isNotNull && length(col("w_extract")) >= minLen

    // L2 (fallback 1): other-language wiki via Wikidata sitelinks (L8/L9
    // mechanism); only consulted where stage 1 is unresolved. The
    // sitelink→secondary-page hop is pre-composed into l2Dict, so the
    // probe joins once on the qid.
    val s2 = s1.join(l2Dict, s1("qid") === col("sl_qid"), "left")
      .drop("sl_qid")
    val ok2 = col("w2_extract").isNotNull && length(col("w2_extract")) >= minLen

    // Early payload collapse (guide §2.3 — project before the exchange):
    // ok1/ok2 are decided here, so the (categories, links, wikidata_id)
    // candidate pairs collapse into one column each BEFORE the L3
    // exchange — a shuffled L3 join carries one copy instead of two.
    // (w_/w2_ title+url+extract survive until after L3: the multilang
    // struct and the remaining otherwise-branches need them individually.)
    val s2c = s2
      .withColumn("cat12",
        when(ok2 && !ok1, col("w2_categories")).otherwise(col("w_categories")))
      .withColumn("links12",
        when(ok2 && !ok1, col("w2_links")).otherwise(col("w_links")))
      .withColumn("wd12",
        when(ok1, col("w_wikidata_id")).when(ok2, col("w2_wikidata_id")))
      .drop("w_categories", "w2_categories", "w_links", "w2_links",
        "w2_wikidata_id")

    // L3 keeps the staged-narrowing semantics (wikipedia/service.py:
    // 1156-1259: only the unresolved remainder consults each fallback)
    // through a GATED key, not a filter+union branch: a split/union would
    // re-execute the shared L1/L2 join prefix once per branch (Spark has
    // no cross-branch common-subplan reuse — measured 3× the link-stage
    // cost at 480k pages). The NULL key for already-resolved rows never
    // matches, and when the pick table is broadcast they induce no
    // shuffle at all.
    //
    // L3 (fallback 2): opensearch suggestion pick (osPick is built
    // entirely DICTIONARY-side — key space: all Wikidata primary-language
    // labels + redirect targets, the gazetteer's canonical vocabulary).
    // The lookup term is U2-cleaned first (trailing "(qualifier)" dropped,
    // whitespace collapsed) — the reference's clean_title applied to
    // retry lookups (translation_utils.py:123).
    val needs3 = !(ok1 || ok2)
    val s3 = s2c.join(osPick,
      when(needs3, cleanTitleCol(lower(col("w_lookup")))) === col("os_hit_key"),
      "left")
    val ok3 = col("os_extract").isNotNull // null unless needs3 (gated key)

    // L4 (fallback 3): synonym retry — PRE-COMPOSED into the L1 join
    // (round 6): its syn_* payload is populated for ANY row whose surface
    // is a synonym term, so the stage gate moves into ok4 itself (the old
    // gated join key guaranteed syn_* null unless needs4; the staged
    // outcome is identical because every syn_* consumer is ok4-gated).
    val needs4 = !(ok1 || ok2 || ok3)
    val ok4 = needs4 && col("syn_extract").isNotNull

    // Stage-3 collapse (guide §2.3/§8 — decide early, move one copy):
    // after the L3 join every Wikipedia gate (ok1..ok4) is decided, so
    // the FULL wiki projection — except the L5-dependent branches — is
    // computed HERE and the per-stage candidate payloads (w_*, w2_*,
    // os_*, syn_*, w_lookup) are dropped before any further exchange. When
    // they shuffle, the L7 extra-language joins and the wikidata and
    // dbpedia joins then move ONE final copy of each field instead of
    // up to four candidate copies. Each wiki_* / wx_* column below is the
    // original ok1..ok4 when-chain with the ok1/ok2 branches partially
    // evaluated (ok3/ok4 imply !ok1 && !ok2, so branch order can be
    // rotated without changing any outcome).
    //
    // L7 wikipedia_multilang (models/data_models.py:22-33 +
    // wikipedia/service.py:405-458): per-language {label, url, description}
    // — the primary entry reflects the de-language page that resolved
    // (L1/L3/L4 are all primary-language pages), the secondary entry the
    // sitelinked page whenever it exists. Entries with no page are
    // filtered out (the reference omits absent languages). Built as
    // map_concat of conditionally-empty single-entry maps — NOT
    // map(...)+map_filter, whose lambda is an interpreted HOF per node.
    val mlEmpty = map().cast(
      "map<string,struct<label:string,url:string,description:string>>")
    def mlEntry(lang: String, label: Column, url: Column, descr: Column): Column =
      when(label.isNotNull, map(lit(lang), struct(label.as("label"),
        url.as("url"), descr.as("description")))).otherwise(mlEmpty)
    val mlPrimary = mlEntry(cfg.language,
      when(ok3, col("os_title")).when(ok4, col("syn_title")).otherwise(col("w_title")),
      when(ok3, col("os_url")).when(ok4, col("syn_url")).otherwise(col("w_url")),
      when(ok3, col("os_extract")).when(ok4, col("syn_extract")).otherwise(col("w_extract")))
    val mlSecondary = mlEntry(secondaryLang,
      col("w2_title"), col("w2_url"), col("w2_extract"))
    val carryCols = keys.columns.map(col).toIndexedSeq
    val s3c = s3.select(carryCols ++ Seq(
      map_concat(mlPrimary, mlSecondary).as("ml_base"),
      when(ok3, col("os_extract")).when(ok4, col("syn_extract"))
        .when(ok2 && !ok1, col("w2_extract"))
        .otherwise(col("w_extract")) // short primary extract still reported
        .as("wx_extract"),
      when(ok2 && !ok1, lit(s"${secondaryLang}_wikipedia"))
        .when(ok3, lit("opensearch"))
        .when(ok4, lit("synonym"))
        .otherwise(lit(null).cast("string")).as("wx_fallback"),
      // P13 language-consistency gate (service.py:971-981): a page found
      // in the wrong language (L2) keeps status=found but its url is
      // demoted to url_alt; the primary url slot stays empty.
      when(ok2 && !ok1, lit(null).cast("string"))
        .when(ok3, col("os_url"))
        .when(ok4, col("syn_url"))
        .otherwise(col("w_url")).as("wiki_url"),
      when(ok2 && !ok1, col("w2_url")).otherwise(lit(null).cast("string"))
        .as("wiki_url_alt"),
      cleanCategories(coalesce(
        when(ok3, col("os_categories")).when(ok4, col("syn_categories"))
          .otherwise(col("cat12")),
        array())).as("wiki_categories"),
      coalesce(
        when(ok3, col("os_links")).when(ok4, col("syn_links"))
          .otherwise(col("links12")),
        array().cast("array<string>")).as("wiki_links"),
      coalesce(
        when(ok3, col("os_wikidata_id")).when(ok4, col("syn_wikidata_id"))
          .otherwise(col("wd12")),
        col("w_wikidata_id")).as("wiki_wikidata_id"),
      (ok1 || ok2 || ok3 || ok4).as("resolved4"),
      col("w_extract").isNotNull.as("any_extract")): _*)

    // L7 extra languages: one dictionary join per configured language,
    // keyed on the effective qid (identical to the final wiki_wikidata_id
    // coalesce — fully decided post-L3). Runs BEFORE the L5 scrape text is
    // consulted: the two are independent, and this order lets the
    // collapsed narrow rows cross the ml exchanges. Each table is
    // O(dictionary) and joins as the other key-chain joins do.
    val effQid = coalesce(col("qid"), col("wiki_wikidata_id"))
    val withMl = mlExtra.foldLeft(s3c) { case (df, (l, tbl)) =>
      df.join(tbl, effQid === col(s"mlx_qid_$l"), "left").drop(s"mlx_qid_$l")
    }

    // extra-language entries from the joined sitelink tables (absent
    // languages contribute an empty map, like the reference's omission)
    val mlExtras = mlExtra.map { case (l, _) =>
      when(col(s"mlx_$l").isNotNull, map(lit(l), col(s"mlx_$l")))
        .otherwise(mlEmpty)
    }
    // with no extra languages the map is already complete — a 1-arg
    // map_concat would still deep-copy every entry per row (round 6:
    // the multilang column owns ~3.7 s of the 13.6 s flat compute at
    // 1.08M pages, and the default config has no extras)
    val multilang =
      (if (mlExtras.isEmpty) col("ml_base")
       else map_concat(col("ml_base") +: mlExtras: _*)).as("wiki_multilang")
    withMl.select(s3c.columns.filter(_ != "ml_base").map(col).toIndexedSeq :+
      multilang: _*)
  }

  /** Dictionary-side referenced-label enrichment
    * (wikidata/service.py:205-235 + formatters.py:155-250 full flat
    * projection): the per-row referenced-id arrays (instance_of,
    * subclass_of, part_of, has_part) become array<struct<id,label>> by a
    * SELF-JOIN ON THE DICTIONARY — explode the dict's id arrays, join the
    * (qid, de-label) projection, regroup by position. The scalar L12
    * properties (coordinates, image, dates, website, gnd, isni) ride along
    * as plain columns. O(dictionary), runs before any fat entity row is
    * touched; never collects to the driver (the round-1 version
    * materialized the full label map driver-side — a driver OOM at the
    * 10^8-row dictionary scale). Returns the enriched dictionary and the
    * decision of its gated label join (`wd_ref_labels`). */
  private def enrichWdDict(wd: DataFrame,
      cfg: KgConfig): (DataFrame, JoinDecision) = {
    val scalarCols = Seq("aliases", "coordinates", "image_url",
      "date_of_birth", "date_founded", "date_of_death", "end_time",
      "official_website", "gnd_id", "isni_id")
    val labels = wd.select(col("qid").as("ref_qid"),
      element_at(col("labels"), "de").as("ref_label"))
    val base = wd.select(Seq(col("qid").as("wd_qid"),
      col("labels").as("wd_labels"), col("descriptions").as("wd_descriptions"),
      col("instance_of").as("wd_instance_of_ids"),
      col("subclass_of").as("wd_subclass_of_ids"),
      col("part_of").as("wd_part_of_ids"),
      col("has_part").as("wd_has_part_ids")) ++
      scalarCols.map(c => col(c).as(s"wd_$c")): _*)
    // each array is coalesced before transform: concat returns NULL if ANY
    // input is NULL, so one null id array would silently drop the row's
    // OTHER enrichments too
    def tagged(c: Column, tag: String): Column =
      transform(coalesce(c, array().cast("array<string>")),
        x => struct(lit(tag).as("src"), x.as("id")))
    val pairs = base.select(col("wd_qid"),
      posexplode(concat(
        tagged(col("wd_instance_of_ids"), "i"),
        tagged(col("wd_subclass_of_ids"), "s"),
        tagged(col("wd_part_of_ids"), "p"),
        tagged(col("wd_has_part_ids"), "h")))
        .as(Seq("pos", "sid")))
      .select(col("wd_qid"), col("pos"),
        col("sid.src").as("src"), col("sid.id").as("id"))
    val refLabelsJoin = decide("wd_ref_labels", labels, cfg)
    val joined = dictJoin(pairs, labels, col("id") === col("ref_qid"),
      refLabelsJoin, xxhash64(col("wd_qid"), col("pos")))
    def regroupedOf(tag: String, name: String): Column =
      transform(filter(col("all"), x => x("src") === tag),
        x => struct(x("id").as("id"), x("label").as("label"))).as(name)
    val regrouped = joined
      .groupBy("wd_qid")
      .agg(array_sort(collect_list(struct(col("pos"), col("src"),
        col("id"), col("ref_label").as("label")))).as("all"))
      .select(col("wd_qid").as("g_qid"),
        regroupedOf("i", "g_instance_of"), regroupedOf("s", "g_subclass_of"),
        regroupedOf("p", "g_part_of"), regroupedOf("h", "g_has_part"))
    // dict rows with empty id arrays drop out of the explode — restore them
    // with empty enrichments via a dict-scale left join
    def restored(g: String, name: String): Column =
      coalesce(col(g),
        array().cast("array<struct<id:string,label:string>>")).as(name)
    val enriched = base.join(regrouped, col("wd_qid") === col("g_qid"), "left")
      .select(Seq(col("wd_qid"), col("wd_labels"), col("wd_descriptions"),
        restored("g_instance_of", "wd_instance_of"),
        restored("g_subclass_of", "wd_subclass_of"),
        restored("g_part_of", "wd_part_of"),
        restored("g_has_part", "wd_has_part")) ++
        scalarCols.map(c => col(s"wd_$c")): _*)
    (enriched, refLabelsJoin)
  }

  /** L9-L12: Wikidata enrichment — qid from gazetteer/wiki pageprops, then
    * ONE dictionary join against the pre-enriched dict (enrichWdDict). */
  private def wikidata(linked: DataFrame, enrichedWd: DataFrame): DataFrame = {
    val withKey = linked.withColumn("wd_key",
      coalesce(col("qid"), col("wiki_wikidata_id")))
    withKey.join(enrichedWd, col("wd_key") === col("wd_qid"), "left")
      .withColumn("wd_status",
        when(col("wd_qid").isNotNull, lit("found")).otherwise(lit("not_found")))
      .drop("wd_key")
  }

  /** L13 + S6: DBpedia link via deterministic URI construction (P10) +
    * strict linked criterion uri + en label + en abstract
    * (dbpedia/service.py:271-276), then the Lookup-API fallback
    * (dbpedia/fetchers.py:612+, fallbacks.py:61-152) over the strict-miss
    * remainder: a name→resource lookup keyed on the lowercased English
    * label, first candidate by uri order — the deterministic stand-in for
    * the Lookup service's relevance-ranked first hit. */
  private def dbpedia(linked: DataFrame, dbpSel: DataFrame,
      lookupPick: DataFrame): DataFrame = {
    // P10 URI construction as a native expression ([[graft.functions
    // .DbpediaUri]]) — keeps the L13 key projection inside
    // WholeStageCodegen (a ScalaUDF node would break the span).
    linked.sparkSession.sessionState.functionRegistry.createOrReplaceTempFunction(
      "dbpedia_uri", args => graft.functions.DbpediaUri(args.head), "built-in")
    val withUri = linked
      .withColumn("dbp_label_src",
        coalesce(element_at(col("wd_labels"), "en"), col("entity")))
      .withColumn("dbp_uri", call_function("dbpedia_uri", col("dbp_label_src")))
    val joined = withUri.join(dbpSel,
      col("dbp_uri") === col("dbp_uri_dict"), "left")
    val strictOk = col("dbp_uri").isNotNull && col("dbp_label").isNotNull &&
      col("dbp_abstract").isNotNull

    // S6 Lookup fallback: dictionary-side pick of the first
    // strict-satisfying resource per lowercased label (lookupPick),
    // joined in a GATED single pass (null key for strict hits — no
    // filter+union, which would re-execute the whole upstream link chain
    // per branch)
    val withLookup = joined.join(lookupPick,
      when(!strictOk, lower(col("dbp_label_src"))) === col("lk_key"), "left")
    val lookupOk = col("lk_uri").isNotNull &&
      // the Lookup hit must not be the same resource the construction
      // already tried (that one failed strict)
      !(col("lk_uri") <=> col("dbp_uri"))

    // Merge strict/lookup outcomes in ONE projection (round 6): the
    // previous 11-deep withColumn overwrite chain produced 11 stacked
    // Projects whose collapse duplicated the __strict/__lookup gate
    // expressions into every consumer; a single select keeps one Project
    // and lets codegen's subexpression elimination evaluate each gate
    // once per row. The gate expressions are evaluated against the
    // PRE-overwrite columns exactly as the frozen __strict/__lookup
    // booleans were (values bit-identical, oracle-verified).
    val strict = strictOk
    val lookup = coalesce(lookupOk, lit(false))
    val dropped = Set("dbp_uri_dict", "dbp_label_src", "lk_key", "lk_uri",
      "lk_label", "lk_abstract", "lk_types", "lk_categories", "lk_subjects",
      "lk_part_of", "lk_has_part",
      // overwritten below
      "dbp_fallback_source", "dbp_label", "dbp_abstract", "dbp_types",
      "dbp_categories", "dbp_subjects", "dbp_part_of", "dbp_has_part",
      "dbp_uri", "dbp_status")
    val carry = withLookup.columns.filterNot(dropped).map(col).toIndexedSeq
    def merged(name: String): Column =
      when(strict, col(name)).when(lookup, col("lk_" + name.stripPrefix("dbp_")))
        .as(name)
    withLookup.select(carry ++ Seq(
      when(!strict && lookup, lit("lookup_api"))
        .otherwise(lit(null).cast("string")).as("dbp_fallback_source"),
      merged("dbp_label"), merged("dbp_abstract"), merged("dbp_types"),
      merged("dbp_categories"), merged("dbp_subjects"), merged("dbp_part_of"),
      merged("dbp_has_part"),
      when(lookup, col("lk_uri")).otherwise(col("dbp_uri")).as("dbp_uri"),
      when(strict || lookup, lit("linked")).otherwise(lit("not_found"))
        .as("dbp_status")): _*)
  }

  /** Full L-chain: Wikipedia → Wikidata → DBpedia (orchestrator order),
    * assembling the nested node shape (SURVEY §1.1), for callers that hold
    * the L5 text as a separate (p_url, p_extract) table: its text is
    * attached to the entity rows by url first. */
  def linkAll(
      spark: SparkSession,
      entities: DataFrame,
      prep: Prepared,
      scrapes: DataFrame): DataFrame =
    nest(linkFlat(spark,
      entities.join(scrapes, col("url") === col("p_url"), "left").drop("p_url"),
      prep))

  /** The link chain with a FLAT output schema: one top-level column per
    * node field. This is the form Pipeline.run CACHES: Spark's in-memory
    * columnar cache prunes TOP-LEVEL columns only, and complex struct
    * columns are stored as opaque per-row byte blobs (no per-field
    * compression, no field pruning) — caching the nested shape forced
    * every statistics read to decompress the entire fat payload (extracts,
    * multilang maps) just to reach a status column; measured 3-4× slower
    * narrow-fill at local[32] than the flat layout. `nest` assembles the
    * user-facing nested shape ON TOP of the cache read — Catalyst
    * collapses `sources.wikipedia.status` through the nesting projection
    * back to the flat column (SimplifyExtractValueOps), so consumers of a
    * few fields scan only those columns.
    *
    * One shape in every regime (object header): the per-key payload join,
    * then the L5 projection. The join-back goes through [[dictJoin]] on
    * the null-safe key, by the prepared decision `prep.payloadJoin`, so
    * entities without a qid still meet their key row; `prep` must hold
    * every key the rows carry, and its config is the one linked under. L5 (fallback 4) is the
    * deterministic "scrape": the page text the extract pass already
    * produced (so the 100 TB html column is read once per extract pass),
    * consulted only by rows that L1-L4 left unresolved. The rows carry it
    * as `p_extract`; Pipeline's entity rows carry it only where the key is
    * in [[Prepared.unresolved]], so the resolved majority crosses the
    * join-back narrow, and text on a resolved row is ignored. */
  def linkFlat(
      spark: SparkSession,
      entities: DataFrame, // with p_extract: the L5 text of the row's page
      prep: Prepared): DataFrame = {
    val linked = dictJoin(entities, prep.payloadDict,
      col("entity") <=> col("k_entity") && col("qid") <=> col("k_qid"),
      prep.payloadJoin, col("url")).drop("k_entity", "k_qid")
    val needs5 = !col("resolved4")
    val ok5 = needs5 && col("p_extract").isNotNull &&
      length(col("p_extract")) >= prep.cfg.minExtractLen
    linked.select(
      col("url"), col("lang"), col("entity_id").as("id"), col("entity"),
      col("entity_type"), col("inferred"), col("citation"),
      col("citation_start"), col("citation_end"),
      col("wiki_url"), col("wiki_url_alt"),
      when(ok5, col("p_extract")).otherwise(col("wx_extract")).as("wiki_extract"),
      col("wiki_categories"), col("wiki_links"), col("wiki_wikidata_id"),
      col("wiki_multilang"),
      when(ok5, lit("beautifulsoup")).otherwise(col("wx_fallback"))
        .as("wiki_fallback_source"),
      // P14 status derivation: found iff any extract
      when(col("resolved4") || ok5 || col("any_extract"), lit("found"))
        .otherwise(lit("not_found")).as("wiki_status"),
      col("wd_qid"), col("wd_labels"), col("wd_descriptions"),
      col("wd_aliases"), col("wd_instance_of"), col("wd_subclass_of"),
      col("wd_part_of"), col("wd_has_part"), col("wd_coordinates"),
      col("wd_image_url"), col("wd_date_of_birth"), col("wd_date_founded"),
      col("wd_date_of_death"), col("wd_end_time"), col("wd_official_website"),
      col("wd_gnd_id"), col("wd_isni_id"), col("wd_status"),
      col("dbp_uri"), col("dbp_label"), col("dbp_abstract"), col("dbp_types"),
      col("dbp_categories"), col("dbp_subjects"), col("dbp_part_of"),
      col("dbp_has_part"), col("dbp_fallback_source"), col("dbp_status"),
      col("freq"))
  }

  /** Assemble the user-facing nested node shape (SURVEY §1.1) from the
    * flat link output. Pure projection — cheap per read, no data copied
    * at rest. */
  def nest(flat: DataFrame): DataFrame =
    flat.select(
      col("url"), col("lang"), col("id"), col("entity"),
      struct(col("entity_type").as("typ"), col("inferred"),
        col("citation"), col("citation_start"), col("citation_end")).as("details"),
      struct(
        struct(col("wiki_url").as("url"), col("wiki_url_alt").as("url_alt"),
          col("wiki_extract").as("extract"),
          col("wiki_categories").as("categories"), col("wiki_links").as("internal_links"),
          col("wiki_wikidata_id").as("wikidata_id"),
          col("wiki_multilang").as("multilang"),
          col("wiki_fallback_source").as("fallback_source"),
          col("wiki_status").as("status")).as("wikipedia"),
        // full L12 flat projection (wikidata/formatters.py:88-250)
        struct(col("wd_qid").as("id"),
          when(col("wd_qid").isNotNull,
            concat(lit("https://www.wikidata.org/wiki/"), col("wd_qid"))).as("url"),
          col("wd_labels").as("labels"),
          col("wd_descriptions").as("descriptions"),
          col("wd_aliases").as("aliases"),
          col("wd_instance_of").as("instance_of"),
          col("wd_subclass_of").as("subclass_of"),
          col("wd_part_of").as("part_of"),
          col("wd_has_part").as("has_part"),
          col("wd_coordinates").as("coordinates"),
          col("wd_image_url").as("image_url"),
          col("wd_date_of_birth").as("date_of_birth"),
          col("wd_date_founded").as("date_founded"),
          col("wd_date_of_death").as("date_of_death"),
          col("wd_end_time").as("end_time"),
          col("wd_official_website").as("official_website"),
          col("wd_gnd_id").as("gnd_id"),
          col("wd_isni_id").as("isni_id"),
          col("wd_status").as("status")).as("wikidata"),
        struct(col("dbp_uri").as("uri"), col("dbp_label").as("label"),
          col("dbp_abstract").as("abstract"), col("dbp_types").as("types"),
          col("dbp_categories").as("categories"),
          col("dbp_subjects").as("subjects"),
          col("dbp_part_of").as("part_of"),
          col("dbp_has_part").as("has_part"),
          col("dbp_fallback_source").as("fallback_source"),
          col("dbp_status").as("status")).as("dbpedia")).as("sources"),
      col("freq"))
}
