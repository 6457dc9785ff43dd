package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

class GazetteerSpec extends AnyFunSuite {

  test("finds patterns at word boundaries, case-insensitive") {
    val g = Gazetteer.build(Seq("brookfall", "lumina language", "lumina"))
    val ms = g.findMentions("Brookfall uses the Lumina Language today; brookfalls is not a hit.")
    assert(ms.map(_.pattern) == Vector("brookfall", "lumina language"))
    assert(ms.head.start == 0 && ms.head.end == 9)
  }

  test("longest match wins over nested shorter alias") {
    val g = Gazetteer.build(Seq("mercury", "mercury queue"))
    val ms = g.findMentions("Use Mercury Queue here, plain Mercury there.")
    assert(ms.map(_.pattern) == Vector("mercury queue", "mercury"))
  }

  test("word-boundary blocks substring/underscore matches") {
    val g = Gazetteer.build(Seq("buffer", "window"))
    assert(g.findMentions("open_window rebuffering bufferX").isEmpty)
    assert(g.findMentions("a buffer!").map(_.pattern) == Vector("buffer"))
  }

  test("interior chunk edges are cuts, not word boundaries") {
    val g = Gazetteer.build(Seq("spark"))
    // standalone text: edges ARE document edges
    assert(g.findMentions("spark").map(_.pattern) == Vector("spark"))
    // interior chunk slice: matches touching a cut edge are suppressed
    assert(g.findMentions("spark", atDocStart = false, atDocEnd = false).isEmpty)
    assert(g.findMentions("spark on", atDocStart = false).isEmpty)
    assert(g.findMentions("a spark", atDocEnd = false).isEmpty)
    assert(g.findMentions("a spark b", atDocStart = false, atDocEnd = false)
      .map(_.pattern) == Vector("spark"))
  }

  test("a chunk cut inside a longer word yields no phantom mention end-to-end") {
    import SparkHolder.spark
    import spark.implicits._
    // size=10/overlap=5 cuts "xxxxxsparkle yy spark z" at offset 10 — right
    // after the 'spark' prefix of 'sparkle'. The eager boundary treated the
    // cut as a word end and emitted a phantom "spark" at offset 5; only the
    // real mention at offset 16 (inside the final chunk) may survive.
    val corpus = Seq(SourceFile("r", "p", "c0", "md", "xxxxxsparkle yy spark z")).toDS()
    val gaz = spark.sparkContext.broadcast(Gazetteer.build(Seq("spark")))
    val ms = Detect.mentions(corpus, gaz, size = 10, overlap = 5).collect()
    assert(ms.map(m => (m.citationStart, m.citationEnd)).toSeq == Seq((16, 21)))
    assert(ms.head.surface == "spark")
  }

  test("offsets are exact") {
    val g = Gazetteer.build(Seq("veldt"))
    val text = "xx Veldt yy veldt"
    val ms = g.findMentions(text)
    assert(ms.map(m => (m.start, m.end)) == Vector((3, 8), (12, 17)))
    assert(ms.forall(m => text.substring(m.start, m.end).equalsIgnoreCase("veldt")))
  }

  test("non-ASCII patterns and text exercise the sparse fallback identically") {
    // the dense-DFA fast path covers chars < 128; umlaut patterns (the
    // multilingual de surfaces) must flow through the sparse fail-walk with
    // the same boundary/longest-match semantics, including mid-pattern
    // transitions between the two paths
    val g = Gazetteer.build(Seq("brücke", "große brücke", "veldt"))
    val text = "Die Große Brücke neben veldt; brücken is not a hit, Brücke is."
    val ms = g.findMentions(text)
    assert(ms.map(_.pattern) == Vector("große brücke", "veldt", "brücke"))
    assert(ms.forall(m => text.substring(m.start, m.end)
      .equalsIgnoreCase(m.pattern) || m.pattern == "große brücke"))
    // offsets exact also across multi-byte-free Char handling
    assert(text.substring(ms.head.start, ms.head.end).equalsIgnoreCase("Große Brücke"))
  }

  test("dense-DFA path equals a brute-force scan on random ASCII word soup") {
    val words = Seq("alpha", "beta", "gamma", "delta", "alphabeta", "x1", "y_z")
    val pats = Seq("alpha", "beta", "alphabeta", "x1")
    val g = Gazetteer.build(pats)
    val rnd = new scala.util.Random(7)
    (0 until 50).foreach { _ =>
      val text = (0 until 30).map(_ => words(rnd.nextInt(words.length)))
        .mkString(rnd.nextBoolean().toString.take(1)) // weird separators too
      val got = g.findMentions(text).map(m => (m.start, m.end, m.pattern))
      // brute force: all boundary-valid occurrences, leftmost-longest
      def isWord(c: Char) = Character.isLetterOrDigit(c) || c == '_'
      val low = text.toLowerCase
      val all = pats.flatMap { p =>
        Iterator.iterate(low.indexOf(p))(i => low.indexOf(p, i + 1))
          .takeWhile(_ >= 0)
          .filter { i =>
            (i == 0 || !isWord(text.charAt(i - 1))) &&
            (i + p.length >= text.length || !isWord(text.charAt(i + p.length)))
          }
          .map(i => (i, i + p.length, p)).toList
      }.sortBy(m => (m._1, -(m._2 - m._1)))
      val kept = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String)]
      var lastEnd = -1
      all.foreach { m => if (m._1 >= lastEnd) { kept += m; lastEnd = m._2 } }
      assert(got == kept.toVector, s"text=$text")
    }
  }
}

class RatcliffObershelpSpec extends AnyFunSuite {
  // expectations computed from the published definition (difflib.ratio parity)
  test("identical and empty strings") {
    assert(RatcliffObershelp.ratio("part of", "part of") == 1.0)
    assert(RatcliffObershelp.ratio("", "") == 1.0)
    assert(RatcliffObershelp.ratio("a", "") == 0.0)
  }
  test("known values") {
    // difflib: SequenceMatcher(None, "works on", "works in").ratio() == 0.875
    assert(math.abs(RatcliffObershelp.ratio("works on", "works in") - 0.875) < 1e-9)
    // "uses" vs "used": M=3 -> 0.75
    assert(math.abs(RatcliffObershelp.ratio("uses", "used") - 0.75) < 1e-9)
    // disjoint
    assert(RatcliffObershelp.ratio("abc", "xyz") == 0.0)
  }
  test("symmetric-ish on our vocabulary") {
    val r1 = RatcliffObershelp.ratio("member of", "part of")
    assert(r1 < 0.85) // must NOT merge distinct predicates
    assert(RatcliffObershelp.ratio("related to", "related too") >= 0.85)
  }
}

class ChunkerSpec extends AnyFunSuite {
  import SparkHolder.spark
  import spark.implicits._

  private def mkCorpus(content: String) =
    spark.createDataset(Seq(SourceFile("r", "p", "c", "java", content)))

  test("short doc yields one chunk") {
    val out = Detect.chunks(mkCorpus("x" * 100), size = 200, overlap = 50).collect()
    assert(out.length == 1)
    assert(out.head.chunkStart == 0 && out.head.chunkText.length == 100)
  }

  test("exact-size doc yields one chunk") {
    val out = Detect.chunks(mkCorpus("x" * 200), size = 200, overlap = 50).collect()
    assert(out.length == 1)
  }

  test("overlapping windows cover the doc with step size-overlap") {
    val n = 500
    val out = Detect.chunks(mkCorpus("x" * n), size = 200, overlap = 50)
      .collect().sortBy(_.chunkId)
    // step 150: starts 0,150,300,450 -> ceil((500-200)/150)+1 = 3; starts 0,150,300
    assert(out.map(_.chunkStart).toSeq == Seq(0, 150, 300))
    assert(out.last.chunkStart + out.last.chunkText.length == n)
    // reassembly covers every position
    val covered = out.flatMap(c => c.chunkStart until (c.chunkStart + c.chunkText.length)).toSet
    assert(covered == (0 until n).toSet)
  }

  test("mention offsets survive chunking and overlap dedup") {
    // mention at offset 150 falls inside the [140,200) overlap zone of
    // chunks 0 and 1 (size=200, overlap=60, step=140) -> emitted twice, deduped
    val pad = "y " * 75 // 150 chars
    val text = pad + "Brookfall" + (" z" * 100)
    val gaz = spark.sparkContext.broadcast(Gazetteer.build(Seq("brookfall")))
    val ms = Detect.mentions(mkCorpus(text), gaz, size = 200, overlap = 60).collect()
    assert(ms.length == 1)
    assert(text.substring(ms.head.citationStart, ms.head.citationEnd) == "Brookfall")
  }
}

class DedupSpec extends AnyFunSuite {
  import SparkHolder.spark
  import spark.implicits._

  private def t(s: String, p: String, o: String, inf: String, doc: String = "d1") =
    Triple(s, p, o, inf, "SOFTWARE", "SOFTWARE", "explicit", "explicit", doc, "java")

  test("exact dedup: explicit beats implicit on same key") {
    val in = spark.createDataset(Seq(
      t("A", "uses", "B", "implicit"), t("A", "uses", "B", "explicit", "d2")))
    val out = Dedup.exact(in).collect()
    assert(out.length == 1 && out.head.inferred == "explicit" && out.head.docId == "d2")
  }

  test("pair consolidation keeps one triple per semantically distinct predicate group") {
    // reference semantics (deduplication_utils.py): dissimilar predicates
    // between the same pair ALL survive; near-identical ones merge
    val in = spark.createDataset(Seq(
      t("A", "part of", "B", "implicit"),
      t("B", "uses", "A", "explicit"),
      t("A", "collaborates with", "B", "explicit"),
      t("A", "related to", "B", "implicit"),
      t("B", "related too", "A", "explicit"))) // RO(related to, related too)=0.952
    val out = Dedup.consolidatePairs(in).collect()
    assert(out.map(_.predicate).sorted.toSeq ==
      Seq("collaborates with", "part of", "related too", "uses"))
    // the merged cluster kept the EXPLICIT formulation (LLM preference
    // composed with keep-shortest: explicit-first dominates)
    assert(out.find(_.predicate == "related too").get.inferred == "explicit")
  }

  test("pair consolidation with fuzzy=false groups by exact predicate equality") {
    val in = spark.createDataset(Seq(
      t("A", "related to", "B", "implicit"),
      t("B", "related too", "A", "explicit"),
      t("B", "uses", "A", "explicit"), t("A", "uses", "B", "implicit")))
    val out = Dedup.consolidatePairs(in, fuzzy = false).collect()
    // near-identical predicates both survive; the directional duplicate of
    // the SAME predicate collapses (explicit kept)
    assert(out.map(_.predicate).sorted.toSeq == Seq("related to", "related too", "uses"))
    assert(out.find(_.predicate == "uses").get.inferred == "explicit")
  }

  test("self-pair groups with itself") {
    val in = spark.createDataset(Seq(
      t("A", "related to", "A", "explicit"), t("A", "related too", "A", "explicit"),
      t("A", "references", "A", "explicit"))) // RO(references, related to)<0.85
    val out = Dedup.consolidatePairs(in).collect()
    assert(out.map(_.predicate).sorted.toSeq == Seq("references", "related to"))
  }

  test("fuzzy merges near-identical predicates, keeps shortest") {
    val in = spark.createDataset(Seq(
      t("A", "related to", "B", "explicit"),
      t("A", "related too", "B", "explicit"),
      t("A", "member of", "B", "explicit")))
    val out = Dedup.fuzzy(in).collect()
    assert(out.map(_.predicate).sorted.toSeq == Seq("member of", "related to"))
  }

  test("dedup chain is idempotent") {
    val in = spark.createDataset(Seq(
      t("A", "uses", "B", "explicit"), t("B", "uses", "A", "explicit"),
      t("A", "part of", "B", "implicit"), t("C", "uses", "C", "explicit")))
    val once = Dedup.all(in).collect().toSet
    val twice = Dedup.all(Dedup.all(in)).collect().toSet
    assert(once == twice)
  }

  // DedupFusionSpec: the fused one-exchange pipeline dedup must equal the
  // chained exact→consolidate form row-for-row on a duplicate-heavy,
  // tie-heavy input — the equivalence Pipeline.run's round-6 switch rests on
  test("exactThenConsolidate equals consolidatePairs(exact(_)) (fused == chained)") {
    val rnd = new scala.util.Random(7)
    val subjects = Seq("A", "B", "C", "Delta Engine", "zeta")
    val preds = Seq("uses", "part of", "related to", "related too", "member of")
    val infs = Seq("explicit", "implicit")
    val rows = (0 until 400).map { i =>
      Triple(subjects(rnd.nextInt(5)), preds(rnd.nextInt(5)), subjects(rnd.nextInt(5)),
        infs(rnd.nextInt(2)), "SOFTWARE", "CONCEPT", "explicit", "implicit",
        s"d${rnd.nextInt(6)}", if (i % 3 == 0) "py" else "java")
    }
    val in = spark.createDataset(rows).repartition(7) // partition-layout independence
    for (fuzzy <- Seq(true, false)) {
      val chained = Dedup.consolidatePairs(Dedup.exact(in), fuzzy = fuzzy)
        .collect().toSet
      val fusedDs = Dedup.exactThenConsolidate(in, fuzzy = fuzzy)
      val fused = fusedDs.collect().toSet
      assert(fused == chained, s"fused != chained for fuzzy=$fuzzy")
      // the pair grouping is only correct while the fused plan adds exactly
      // one exchange to the input's, hash-partitioned on the pair key
      val added = PlanShuffles.of(fusedDs.queryExecution.executedPlan)
        .diff(PlanShuffles.of(in.queryExecution.executedPlan))
      assert(added == Seq("hashpartitioning(pairA, pairB)"),
        s"fused dedup exchanges beyond the input's: $added")
    }
  }
}

class ConnectedComponentsSpec extends AnyFunSuite {
  import SparkHolder.spark
  import spark.implicits._

  private def cc(edges: (String, String)*): Map[String, String] =
    Canonicalize.connectedComponents(edges.toSeq.toDF("src", "dst"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap

  test("empty edge set returns an empty labels frame (no NPE on the checksum)") {
    // a dedup corpus with ZERO near-dup pairs feeds CC an empty edge set —
    // the convergence checksum must tolerate sum() over no rows (NULL)
    val m = cc()
    assert(m.isEmpty)
  }

  test("chain collapses to min id") {
    val m = cc("b" -> "c", "a" -> "b", "c" -> "d")
    assert(Set("a", "b", "c", "d").map(m) == Set("a"))
  }

  test("two components stay separate") {
    val m = cc("a" -> "b", "x" -> "y")
    assert(m("a") == "a" && m("b") == "a" && m("x") == "x" && m("y") == "x")
  }

  test("cycle and star converge") {
    val m = cc("a" -> "b", "b" -> "c", "c" -> "a", "hub" -> "s1", "hub" -> "s2", "hub" -> "s3")
    assert(m("c") == "a" && m("s3") == "hub" && m("s1") == "hub")
  }

  test("permutation invariance") {
    val e = Seq("a" -> "b", "b" -> "c", "d" -> "c")
    assert(cc(e: _*) == cc(e.reverse: _*))
  }

  test("minIterations hint never under-converges on chains longer than the hint") {
    import SparkHolder.spark.implicits._
    // distance-5 chain (the n—q1—d—q2 shape the synthetic KB never builds,
    // but real data with shared surfaces / sameAs bridges does)
    val edges = Seq("n:x" -> "q:1", "q:1" -> "d:r", "d:r" -> "q:2",
      "q:2" -> "n:y", "n:y" -> "q:3").toDF("src", "dst")
    val m = Canonicalize.connectedComponents(edges, minIterations = 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m.values.toSet == Set("d:r")) // one component, min node id
    assert(m.size == 6)
  }
}

/** Pins the general canonicalMap's broadcast→shuffle cutover: both dim-join
 * paths (identityEdges' qid anti-join + label-keyed Lookup fallback join)
 * must produce the identical map — the same discipline Link.link and
 * Relate.triples already carry (ScaleKbSpec). */
class CanonicalMapCutoverSpec extends AnyFunSuite {
  import SparkHolder.spark
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private def le(name: String, qid: String) = LinkedEntity(
    docId = "d1", repo = "r", path = "p", lang = "scala", surface = name,
    citationStart = 0, citationEnd = name.length, inferred = "explicit",
    entityName = name, entityType = "TOOL", qid = qid,
    wikipediaTitle = name, wikipediaExtract = "", categories = Seq.empty,
    linkScore = 1.0)

  test("broadcast and shuffle canonical maps are identical (fallback exercised)") {
    // Alpha Kit: qid in the DBpedia dim → n—q—d chain.
    // Beta Forge: qid MISSES the dim, label present in Lookup → fallback edge.
    // Gamma: qid misses both → surface-node fallback via coalesce.
    val linked = spark.createDataset(Seq(
      le("Alpha Kit", "Q1"), le("Beta Forge", "Q2"), le("Gamma", "Q3")))
    val dbpedia = spark.createDataset(Seq(KbDbpedia(
      resourceUri = "dbp/Alpha_Kit", qid = "Q1", label = "Alpha Kit",
      abstractText = "", types = Seq.empty, subjects = Seq.empty,
      partOf = Seq.empty, hasParts = Seq.empty, memberOf = Seq.empty)))
    val lookup = Seq("Beta Forge").toDF("name")
      .select(graft.functions.TextFunctions.labelNorm($"name").as("labelNorm"),
        lit("dbp/Beta_Forge").as("resourceUri"))

    def collectMap(b: Boolean): Map[String, String] =
      Canonicalize.canonicalMap(linked, dbpedia, Some(lookup), broadcastDim = b)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap

    val viaBroadcast = collectMap(true)
    val viaShuffle = collectMap(false)
    assert(viaBroadcast == viaShuffle)
    assert(viaBroadcast("Alpha Kit") == "d:dbp/Alpha_Kit")   // qid-dim chain
    assert(viaBroadcast("Beta Forge") == "d:dbp/Beta_Forge") // Lookup fallback
    assert(viaBroadcast("Gamma") == "n:gamma")               // unlinked surface
  }
}

/** Local alias so specs share the single session. */
object SparkHolder {
  val spark = graft.SparkTestBase.spark
}

/** The shuffle exchanges of an executed plan, AQE query stages included:
 * hash partitionings as `hashpartitioning(col, ...)`, others by kind. */
object PlanShuffles
    extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import org.apache.spark.sql.catalyst.expressions.Attribute
  import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
  import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

  def of(plan: org.apache.spark.sql.execution.SparkPlan): Seq[String] =
    collect(plan) { case e: ShuffleExchangeExec => e.outputPartitioning match {
      case h: HashPartitioning => h.expressions
        .map { case a: Attribute => a.name; case x => x.sql }
        .mkString("hashpartitioning(", ", ", ")")
      case p => p.getClass.getSimpleName
    } }
}
