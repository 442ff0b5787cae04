package graft.kg

/** Pipeline configuration mirroring the reference's DEFAULT_CONFIG
  * (/root/reference/entityextractor/config/settings.py:12-101).
  * Only the keys that drive engine semantics are carried; LLM/API knobs
  * (rate limits, timeouts) have no Spark equivalent.
  */
final case class KgConfig(
    language: String = "de",            // settings.py:21 LANGUAGE
    maxEntities: Int = 10,              // settings.py:30 MAX_ENTITIES
    maxRelations: Int = 15,             // settings.py:38 MAX_RELATIONS
    implicitRelLimit: Int = 20,         // relationships.py:625 IMPLICIT_REL_LIMIT
    minExtractLen: Int = 100,           // wikipedia/service.py:998-1004 fallback gate
    semanticDedup: Boolean = true,      // settings.py SEMANTIC_DEDUPLICATION
    predSimThreshold: Double = 0.85,    // deduplication.py:431 similarity_threshold
    relationExtraction: Boolean = true, // settings.py RELATION_EXTRACTION
    enableEntityInference: Boolean = true, // implicit relations stage (R2)
    // P12 — settings.py:31 ALLOWED_ENTITY_TYPES ("auto" = None = no filter)
    allowedEntityTypes: Option[Set[String]] = None,
    // E4 — entity_inference.py:28-154 standalone implicit-entity stage
    // (reference default: ENABLE_ENTITY_INFERENCE=False)
    inferEntities: Boolean = false,
    tfidfWeight: Double = 0.3,          // L14 context-cosine weight (north_star scoring)
    // L7 — models/data_models.py:22-33: the multilang struct supports
    // de/en/fr/es/it/nl/pl/ru/ja/zh. Entries beyond the primary language
    // and the automatic fallback secondary are filled from these languages'
    // wiki dictionaries via Wikidata sitelinks (data-bound: only languages
    // with a dictionary can be listed here).
    extraLanguages: Seq[String] = Nil,
    // pin the two gated joins whose probe can hold a hot key
    // (link_key_payload, wd_ref_labels) to the salted shuffle-hash path,
    // which Linking.decide otherwise takes only for a dictionary too large
    // to broadcast: tests and benchmarks run the at-scale shape at small
    // scale
    forceSaltedJoins: Boolean = false
)

object KgConfig {
  val default: KgConfig = KgConfig()
}
