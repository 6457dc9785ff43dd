package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/**
 * Parameterized-scale synthetic KB: the scale-stress counterpart of the toy
 * [[EntityUniverse]] (round-3 VERDICT "what's missing" #1 — every broadcast
 * dimension and the gazetteer DFA had only ever been exercised at ~dozens of
 * aliases, while the reference resolves against the real Wikipedia/Wikidata
 * namespace: /root/reference/entityextractor/services/wikipedia_service.py:139-266,
 * wikidata_service.py:25-79).
 *
 * Every entity is a PURE FUNCTION of its index (and the KB size), so
 * executors derive any entity without shipping a driver-side list: the label
 * index, wikidata/dbpedia dims, corpus plant plans, and golden fixtures are
 * all computable independently at any parallelism. Titles are two invented
 * words plus the index ("Bracorjin Engine 4217"), which makes every alias
 * unique by construction — the linking golden is the plant plan itself.
 * Entities form groups of [[GroupSize]]: members carry partOf → their group
 * head (the implicit-triple and hasParts structure at scale).
 *
 * Closed world, fully invented — same design contract as EntityUniverse.
 */
object SyntheticKb {

  val GroupSize = 10

  private val Syl = Array(
    "bra", "cor", "del", "fen", "gar", "hol", "jin", "kel", "lor", "mar",
    "nev", "ost", "pel", "qui", "ral", "sor", "tam", "ulv", "ver", "wex",
    "yor", "zan")

  private val Nouns = Array(
    "engine", "module", "kernel", "router", "parser", "codec", "broker",
    "cache", "ledger", "daemon", "scheduler", "registry", "gateway",
    "compiler", "allocator", "index", "planner", "sampler", "encoder",
    "monitor")

  private val Types = Array("SOFTWARE", "LANGUAGE", "ORGANIZATION", "PERSON", "CONCEPT")

  private def cap(s: String): String = s.head.toUpper + s.tail

  /** First word: 484 syllable pairs ("Bracorjin" without the third). */
  private def word1(i: Long): String =
    cap(Syl((i % 22).toInt) + Syl(((i / 22) % 22).toInt))

  private def word2(i: Long): String = cap(Nouns(((i / 484) % 20).toInt))

  final case class Spec(
      idx: Long,
      qid: String,
      title: String,
      entityType: String,
      exactAlias: String,
      synonymAlias: Option[String],
      popularity: Long,
      partOfTitle: Option[String],
      categories: Seq[String])

  def title(i: Long): String = s"${word1(i)} ${word2(i)} $i"

  def qid(i: Long): String = s"Q${1000000L + i}"

  /** The i-th entity of an m-entity KB — pure, executor-safe. */
  def spec(i: Long, m: Long): Spec = {
    require(i >= 0 && i < m)
    val t = title(i)
    val head = i - i % GroupSize
    Spec(
      idx = i,
      qid = qid(i),
      title = t,
      entityType = Types((i % 5).toInt),
      exactAlias = t.toLowerCase,
      // every 3rd entity also has a single-token synonym alias
      synonymAlias = if (i % 3 == 0) Some(s"${word1(i)}${word2(i)}$i".toLowerCase) else None,
      popularity = 100 + (i * 2654435761L) % 1000,
      partOfTitle = if (i % GroupSize != 0 && head < m) Some(title(head)) else None,
      categories = Seq(s"Synthetic ${word2(i)}s", s"Group ${head}"))
  }

  def labelRowsFor(s: Spec): Seq[KbLabel] = {
    def row(alias: String, kind: String) = KbLabel(
      aliasNorm = EntityUniverse.norm(alias),
      canonicalTitle = s.title,
      qid = s.qid,
      aliasKind = kind,
      entityType = s.entityType,
      popularity = s.popularity,
      lang = "en",
      extract = s"${s.title} is a synthetic scale-test entity.",
      categories = s.categories)
    row(s.exactAlias, "exact") +: s.synonymAlias.map(row(_, "synonym")).toSeq
  }

  /** Distributed label-index generation (the dimension a real deployment
   * would load from a Wikidata dump — here derived, not shipped). */
  def labels(spark: SparkSession, m: Long): Dataset[KbLabel] = {
    import spark.implicits._
    spark.range(0L, m, 1L, math.max(8, spark.sparkContext.defaultParallelism))
      .flatMap(i => labelRowsFor(spec(i, m)))
  }

  def wikidata(spark: SparkSession, m: Long): Dataset[KbWikidata] = {
    import spark.implicits._
    spark.range(0L, m, 1L, math.max(8, spark.sparkContext.defaultParallelism))
      .map { i =>
        val s = spec(i, m)
        val isHead = i % GroupSize == 0
        KbWikidata(
          qid = s.qid,
          label = s.title,
          description = "synthetic scale-test entity",
          aliases = s.exactAlias +: s.synonymAlias.toSeq,
          instanceOf = Seq(s.entityType.toLowerCase),
          subclassOf = Nil,
          partOf = s.partOfTitle.toSeq,
          hasParts = if (isHead) ((i + 1) until math.min(i + GroupSize, m)).map(title)
            else Nil,
          memberOf = Nil,
          officialWebsite = s"https://example.org/${s.idx}")
      }
  }

  def dbpedia(spark: SparkSession, m: Long): Dataset[KbDbpedia] = {
    import spark.implicits._
    spark.range(0L, m, 1L, math.max(8, spark.sparkContext.defaultParallelism))
      .map { i =>
        val s = spec(i, m)
        KbDbpedia(
          resourceUri = s"http://dbpedia.example/resource/${s.title.replace(' ', '_')}",
          qid = s.qid,
          label = s.title,
          abstractText = s"${s.title} — synthetic abstract.",
          types = Seq(s.entityType.toLowerCase),
          subjects = s.categories.map("Category:" + _),
          partOf = s.partOfTitle.toSeq,
          hasParts = Nil,
          memberOf = Nil)
      }
  }

  /** Driver-side gazetteer build over all m entities' aliases — cached per
   * size: the automaton is a build-once artifact (like the IVF index), and
   * the bench's warm-up + measured reps must not pay the build thrice. */
  private val gazCache = new BuildOnce[Long, Gazetteer]

  def gazetteer(m: Long): Gazetteer = gazCache(m) {
    val patterns = (0L until m).iterator.flatMap { i =>
      val s = spec(i, m)
      Iterator(s.exactAlias) ++ s.synonymAlias.iterator
    }.toSeq
    Gazetteer.build(patterns)
  }

  /** Per-(SparkContext, size) cache of session-lived KB artifacts: the
   * eagerly-checkpointed label index and the canonical map. Both are
   * build-once per session — exactly like loading a label-index table once
   * per application in production; re-deriving the canonical map's CC loop
   * per pipeline run was the largest fixed serial share of a scaled run
   * (driver-synchronized iterations over 3·10^5 identity nodes). */
  private[pipeline] val dimsCache = new BuildOnce[(String, Long), (Dataset[KbLabel],
      DataFrame, DataFrame, org.apache.spark.broadcast.Broadcast[Gazetteer])]

  /** The full KB dimension bundle for [[Pipeline.run]]. */
  def kbDims(spark: SparkSession, m: Long): KbDims = {
    val (lbl, canon, link, gazBc) = BuildOnce.inSession(dimsCache, spark, m) {
      val l = labels(spark, m).localCheckpoint(true)
      val c = Canonicalize.canonicalMapFromKb(l, dbpedia(spark, m), None)
        .localCheckpoint(true)
      // third build-once artifact: the per-alias argmax link dimension —
      // a pure function of the KB; rebuilding its groupBy per run was the
      // largest remaining fixed serial share after the canonical map got
      // this treatment (~5-8 s/run at m=10^5, BASELINE.md round-4 analysis)
      val bp = Link.bestPerAlias(l).localCheckpoint(true)
      // fourth: the gazetteer BROADCAST — the automaton object was already
      // cached per size, but re-broadcasting serialized + shipped the CSR
      // arrays on every run (~17 MB at m=10^5); the handle is session-lived
      val g = spark.sparkContext.broadcast(gazetteer(m))
      (l, c, bp, g)
    }
    KbDims(
      labels = lbl,
      wikidata = wikidata(spark, m),
      dbpedia = dbpedia(spark, m),
      dbpediaLookup = None,
      buildGazetteer = () => gazetteer(m),
      canonicalMap = Some(canon),
      linkDim = Some(link),
      gazetteerBroadcast = Some(gazBc))
  }
}
