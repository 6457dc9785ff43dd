package graft.pipeline

/**
 * Deterministic, fully synthetic entity universe.
 *
 * Plays the role of the reference's recorded Wikipedia/Wikidata/DBpedia cache
 * fixtures (reference: entityextractor/cache/README.md:1-5, the JSON blobs under cache/wikidata/)
 * — a small closed world of entities with aliases, types, and part-of /
 * has-parts / member-of / instance-of relations. Both the synthetic corpus
 * generator (which plants entity surfaces into file contents) and the KB
 * fixture builders (alias index, wikidata props, dbpedia props) derive from
 * THIS object, so golden expectations are computable without running the
 * pipeline. No external data; everything below is invented.
 */
object EntityUniverse {

  final case class EntitySpec(
      qid: String,
      title: String,
      entityType: String, // SOFTWARE | LANGUAGE | ORGANIZATION | PERSON | CONCEPT
      exactAliases: Seq[String], // matched with aliasKind=exact
      redirectAliases: Seq[String], // aliasKind=redirect
      synonymAliases: Seq[String], // aliasKind=synonym
      popularity: Long,
      instanceOf: Seq[String],
      partOf: Seq[String], // titles of parents
      memberOf: Seq[String],
      categories: Seq[String])

  // Predicate vocabulary mirrors the style of the reference's relation prompts
  // (reference: entityextractor/prompts/relationship_prompts.py:14 — short,
  // lowercase, 1-3 word predicates).
  val PredPartOf = "part of"
  val PredHasPart = "has part"
  val PredMemberOf = "member of"
  val PredInstanceOf = "instance of"
  val PredUses = "uses"
  val PredDevelopedBy = "developed by"
  val PredWrittenIn = "written in"
  val PredRelatedTo = "related to"
  val PredWorksOn = "works on"

  val entities: Seq[EntitySpec] = Seq(
    // --- languages ---
    EntitySpec("Q9001", "Lumina Language", "LANGUAGE",
      Seq("lumina language", "lumina"), Seq("lumina lang"), Seq("lml"),
      980, Seq("programming language"), Seq("Lumina Platform"), Nil,
      Seq("Programming languages", "Functional languages")),
    EntitySpec("Q9002", "Quartzite", "LANGUAGE",
      Seq("quartzite"), Seq("quartzite language"), Seq("qz"),
      870, Seq("programming language"), Nil, Nil,
      Seq("Programming languages", "Systems languages")),
    EntitySpec("Q9003", "Veldt", "LANGUAGE",
      Seq("veldt"), Nil, Seq("veldt lang"),
      640, Seq("programming language"), Nil, Nil,
      Seq("Programming languages", "Scripting languages")),
    // --- software / frameworks ---
    EntitySpec("Q9101", "Lumina Platform", "SOFTWARE",
      Seq("lumina platform"), Seq("lumina sdk"), Seq("the platform"),
      920, Seq("software platform"), Nil, Nil,
      Seq("Software platforms")),
    EntitySpec("Q9102", "Brookfall", "SOFTWARE",
      Seq("brookfall"), Seq("brook fall"), Seq("bfall"),
      750, Seq("dataflow engine"), Nil, Nil,
      Seq("Distributed computing", "Dataflow engines")),
    EntitySpec("Q9103", "Cinderworks", "SOFTWARE",
      Seq("cinderworks"), Seq("cinder works"), Nil,
      700, Seq("build tool"), Nil, Nil,
      Seq("Build automation")),
    EntitySpec("Q9104", "Mistgate", "SOFTWARE",
      Seq("mistgate"), Nil, Seq("mg server"),
      560, Seq("web server"), Seq("Lumina Platform"), Nil,
      Seq("Web servers")),
    EntitySpec("Q9105", "Opalbridge", "SOFTWARE",
      Seq("opalbridge"), Seq("opal bridge"), Nil,
      530, Seq("message broker"), Nil, Nil,
      Seq("Message brokers", "Distributed computing")),
    EntitySpec("Q9106", "Fernweaver", "SOFTWARE",
      Seq("fernweaver"), Nil, Seq("fw toolkit"),
      410, Seq("machine learning library"), Nil, Nil,
      Seq("Machine learning", "Software libraries")),
    // --- organizations ---
    EntitySpec("Q9201", "Halverson Systems", "ORGANIZATION",
      Seq("halverson systems", "halverson"), Seq("halverson sys"), Nil,
      890, Seq("software company"), Nil, Seq("Open Compute Circle"),
      Seq("Software companies")),
    EntitySpec("Q9202", "Tidewater Labs", "ORGANIZATION",
      Seq("tidewater labs", "tidewater"), Nil, Seq("twl"),
      820, Seq("research institute"), Nil, Seq("Open Compute Circle"),
      Seq("Research institutes")),
    EntitySpec("Q9203", "Open Compute Circle", "ORGANIZATION",
      Seq("open compute circle"), Seq("compute circle"), Seq("occ"),
      610, Seq("standards body"), Nil, Nil,
      Seq("Standards organizations")),
    // --- people ---
    EntitySpec("Q9301", "Ingrid Malvik", "PERSON",
      Seq("ingrid malvik", "malvik"), Nil, Nil,
      480, Seq("software engineer"), Nil, Seq("Halverson Systems"),
      Seq("Software engineers")),
    EntitySpec("Q9302", "Tomas Ferreira", "PERSON",
      Seq("tomas ferreira", "ferreira"), Nil, Nil,
      460, Seq("computer scientist"), Nil, Seq("Tidewater Labs"),
      Seq("Computer scientists")),
    EntitySpec("Q9303", "Aya Nakamura-Boone", "PERSON",
      Seq("aya nakamura-boone", "nakamura-boone"), Nil, Nil,
      350, Seq("researcher"), Nil, Seq("Open Compute Circle"),
      Seq("Researchers")),
    // --- concepts ---
    EntitySpec("Q9401", "stream processing", "CONCEPT",
      Seq("stream processing"), Seq("stream-processing"), Nil,
      760, Seq("computing paradigm"), Nil, Nil,
      Seq("Computing paradigms")),
    EntitySpec("Q9402", "dependency resolution", "CONCEPT",
      Seq("dependency resolution"), Nil, Nil,
      540, Seq("computing concept"), Nil, Nil,
      Seq("Computing concepts")),
    EntitySpec("Q9403", "vector clock", "CONCEPT",
      Seq("vector clock", "vector clocks"), Nil, Nil,
      520, Seq("computing concept"), Nil, Nil,
      Seq("Distributed computing")),
    EntitySpec("Q9404", "consensus protocol", "CONCEPT",
      Seq("consensus protocol", "consensus protocols"), Nil, Nil,
      500, Seq("computing concept"), Nil, Nil,
      Seq("Distributed computing")),
    EntitySpec("Q9405", "columnar storage", "CONCEPT",
      Seq("columnar storage"), Seq("column store"), Nil,
      490, Seq("computing concept"), Nil, Nil,
      Seq("Databases")),
    // --- deliberate ambiguity: the alias "mercury" maps to BOTH entities
    // below; link scoring must pick deterministically (exact alias on the
    // higher-popularity one wins; the synonym loses). Exercises the
    // window-ranked argmax disambiguation path (north_star).
    EntitySpec("Q9501", "Mercury Queue", "SOFTWARE",
      Seq("mercury queue", "mercury"), Nil, Nil,
      470, Seq("message queue"), Nil, Nil,
      Seq("Message brokers")),
    EntitySpec("Q9502", "Mercury Protocol", "CONCEPT",
      Seq("mercury protocol"), Nil, Seq("mercury"),
      430, Seq("network protocol"), Nil, Nil,
      Seq("Network protocols")))

  /** Ubiquitous skew surface (north_rule: skew handled explicitly): planted in
   * a large fraction of files, like `String` in real code. */
  val hotEntity: EntitySpec = EntitySpec("Q9601", "Corelib Buffer", "SOFTWARE",
    Seq("corelib buffer", "buffer"), Nil, Nil,
    2000, Seq("software library"), Seq("Lumina Platform"), Nil,
    Seq("Software libraries"))

  val all: Seq[EntitySpec] = entities :+ hotEntity

  val byTitle: Map[String, EntitySpec] = all.map(e => e.title -> e).toMap

  /**
   * German-language surface forms (langlinks fixture) — the reference is
   * German-first (`LANGUAGE=de`, settings.py:15) and resolves titles across
   * languages via Wikipedia langlinks (wikipedia_service.py:31-87). Synthetic
   * invented German-ish titles for the concept/language entities; proper
   * nouns (products, orgs, people) intentionally have NO entry — on real
   * Wikipedia their titles usually coincide across languages, and the
   * resolution path must handle the missing-langlink fallback.
   */
  val deTitles: Map[String, String] = Map(
    "Lumina Language" -> "Lumina-Sprache",
    "Quartzite" -> "Quarzgestein",
    "Veldt" -> "Grasland",
    "stream processing" -> "Datenstromverarbeitung",
    "dependency resolution" -> "Abhängigkeitsauflösung",
    "vector clock" -> "Vektoruhr",
    "consensus protocol" -> "Konsensprotokoll",
    "columnar storage" -> "Spaltenspeicherung",
    "Corelib Buffer" -> "Corelib-Puffer")

  /** Extra German aliases beyond the de title itself. */
  val deAliases: Map[String, Seq[String]] = Map(
    "Lumina Language" -> Seq("lumina-sprache", "die lumina sprache"),
    "stream processing" -> Seq("datenstromverarbeitung", "stromverarbeitung"),
    "vector clock" -> Seq("vektoruhr", "vektoruhren"),
    "consensus protocol" -> Seq("konsensprotokoll", "konsensprotokolle"),
    "columnar storage" -> Seq("spaltenspeicherung", "spaltenorientierte speicherung"),
    "Corelib Buffer" -> Seq("corelib-puffer", "puffer"))

  /** Normalization applied to both alias index and detected surfaces
   * (mirrors reference query normalization, wikipedia_service.py:140-147). */
  def norm(s: String): String = // Locale.ROOT: join keys must not vary with the JVM's default locale
    s.toLowerCase(java.util.Locale.ROOT).replace('_', ' ').replaceAll("[()]", "").trim

  /** Deterministic type-pair → predicate rule replacing the reference's
   * per-document relation LLM call (relationship_inference.py:217-232).
   * Returns the predicate for an ordered co-occurring pair, if any. */
  def cooccurrencePredicate(subjType: String, objType: String): Option[String] =
    (subjType, objType) match {
      case ("SOFTWARE", "LANGUAGE") => Some(PredWrittenIn)
      case ("SOFTWARE", "ORGANIZATION") => Some(PredDevelopedBy)
      case ("SOFTWARE", "SOFTWARE") => Some(PredUses)
      case ("SOFTWARE", "CONCEPT") => Some(PredUses)
      case ("PERSON", "ORGANIZATION") => Some(PredMemberOf)
      case ("PERSON", "SOFTWARE") => Some(PredWorksOn)
      case ("PERSON", "LANGUAGE") => Some(PredUses)
      case ("LANGUAGE", "CONCEPT") => Some(PredRelatedTo)
      case ("CONCEPT", "CONCEPT") => Some(PredRelatedTo)
      case ("LANGUAGE", "LANGUAGE") => Some(PredRelatedTo)
      case _ => None
    }
}
