package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Stage 5: canonicalization — connected components over an entity-identity
 * edge DataFrame via iterative joins (no RDDs, per north_star; the reference
 * analog is entity dedup by URL-or-name, orchestrator.py:56-61, which merges
 * records naming the same page).
 *
 * Nodes: "n:<lower(name)>" surface nodes, "q:<qid>" Wikidata nodes,
 * "d:<uri>" DBpedia nodes. Edges: surface—qid from linking, qid—dbpedia from
 * sameAs bridges. The component representative (lexicographic min node id)
 * becomes the canonical entity id.
 *
 * Algorithm: min-label propagation to fixpoint — each iteration one shuffle
 * join (labels ⋈ symmetric edges) + one partial-aggregated min groupBy.
 * Hot hub nodes (e.g. a ubiquitous entity's qid) are handled by map-side
 * combine of the min() aggregate, so skew cannot concentrate on one reducer
 * beyond a single (node → min) row per map partition. Lineage is cut with
 * localCheckpoint every `checkpointEvery` iterations, bounding plan depth for
 * long chains; iteration count is bounded by graph diameter (tiny for
 * entity-identity graphs) with a hard cap.
 */
object Canonicalize {

  /** Connected components on an undirected edge list.
   * @param edges DataFrame with columns (src, dst) of any orderable type
   * (string qids here; long doc ids in DedupOps.nearDupClusters)
   * @return DataFrame (id, component) — component = min node id reachable
   * @param minIterations skip the per-round convergence checksum for the
   * first `minIterations - 1` rounds (they cannot have converged when the
   * expected diameter is known to be ≥ that); from round `minIterations` on,
   * the checksum runs and the loop ends only on a VERIFIED fixpoint — an
   * expected-diameter hint can save convergence jobs but can never
   * under-converge (distance-(d+1) chains on real data — e.g. shared
   * surfaces bridging two qids — still propagate to completion).
   * NOTE (round 6): label init performs the first propagation round
   * (seeded min-of-neighbors), so a diameter-d graph reaches its fixpoint
   * after d-1 LOOP rounds — hint minIterations = d - 1, not d. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20,
      checkpointEvery: Int = 3, minIterations: Int = 1): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // Symmetrize in ONE pass over the (possibly expensive) edge subtree:
    // each edge row explodes into both directions, then one distinct — the
    // round-5 shape (edges.distinct → persist → union(swap) → distinct)
    // paid two exchanges and an extra persisted frame just to avoid
    // recomputing the subtree for the union's second reference.
    // The repartition by src BEFORE the dedup means (a) the distinct needs
    // no further exchange (src ⊆ group keys), and (b) the CACHED frame is
    // already hash-partitioned by the join key, so the per-iteration join
    // never exchanges the edge side again — the loop body is down to ONE
    // exchange per iteration (the min-propagation groupBy), from three.
    // localCheckpoint (eager), not persist: a cached-but-lineage-bearing
    // edge frame makes EVERY iteration re-plan the full (possibly huge)
    // edge-derivation subtree — measured as iteration floors growing with
    // the upstream plan (1.0 s/iter over the jaccard-pair subtree vs
    // 0.5 s/iter over a scan-rooted one, round 6). The checkpoint cuts the
    // plan to a LogicalRDD (partitioning preserved) at the same
    // materialization cost the first action would pay anyway.
    val sym = edges
      .select(explode(array(
        struct($"src", $"dst"),
        struct($"dst".as("src"), $"src".as("dst")))).as("e"))
      .select($"e.src".as("src"), $"e.dst".as("dst"))
      .repartition($"src")
      .distinct()
      .localCheckpoint(true)
    // Seeded labels: component₀ = min(id, min neighbor id), computed in
    // sym's partitioning (no exchange) — this IS the first propagation
    // round, done inside the init aggregate instead of a join+groupBy
    // iteration. The fixpoint (min reachable id) is unchanged: seeding is
    // one application of the same monotone propagation operator.
    var labels = sym.groupBy($"src")
      .agg(min($"dst").as("m"))
      .select($"src".as("id"), least($"src", $"m").as("component"))
      .persist()
    var iter = 0
    var converged = false
    // Convergence via label-set checksum: labels are monotonically
    // non-increasing under min-propagation, so an unchanged
    // sum(xxhash64(id, component)) means a fixpoint — one cheap aggregate
    // per iteration instead of a join against the previous labels.
    // decimal(38,0) sum: full-range long hashes overflow BIGINT under ANSI.
    // sum() over ZERO rows is NULL — an empty edge set (e.g. a dedup
    // corpus with no near-dup pairs) must converge, not NPE.
    def checksumOf(df: DataFrame): String = Option(
      df.agg(sum(xxhash64(col("id"), col("component")).cast("decimal(38,0)")))
        .head().getDecimal(0)).map(_.toString).getOrElse("<empty>")
    // Pre-seed with the SEED labels' checksum: a diameter-1 graph (isolated
    // duplicate pairs — the common near-dup shape) is already at its
    // fixpoint after seeding, so round 1's unchanged checksum ends the loop
    // after ONE iteration instead of two. Comparing non-consecutive rounds
    // stays sound: labels are pointwise monotone, so equal multiset
    // checksums across ANY number of rounds imply no change in all of them.
    // The small aggregate also eagerly fills the label cache before round 1.
    var prevChecksum: Option[String] = Some(checksumOf(labels))
    while (iter < maxIter && !converged) {
      // propagate: min component among neighbors (and self). SHUFFLE_HASH:
      // both sides are already hash-partitioned on the join key (sym by
      // construction, labels by the previous groupBy), so the join plans
      // exchange-free; the hash build (labels, node-dimension-sized per
      // partition) skips the per-iteration sort a sort-merge join would
      // re-run over the cached edge frame every round.
      val propagated = sym
        .join(labels.hint("SHUFFLE_HASH"), sym("src") === labels("id"))
        .select($"dst".as("id"), $"component")
        .unionByName(labels)
        .groupBy($"id").agg(min($"component").as("newComponent"))
      val next0 = propagated.withColumnRenamed("newComponent", "component")
      // checkpointed frames are already materialized RDDs — persisting them
      // too would double-cache every third label frame
      val next = if ((iter + 1) % checkpointEvery == 0) next0.localCheckpoint(true)
        else next0.persist()
      if (iter + 1 >= minIterations) {
        val checksum = checksumOf(next)
        converged = prevChecksum.contains(checksum)
        prevChecksum = Some(checksum)
      }
      // a skipped round leaves `next` lazy on purpose: the first counted
      // checksum materializes the whole chain in ONE action over the
      // checkpointed edge frame — fewer job boundaries than one per round
      labels.unpersist()
      labels = next
      iter += 1
    }
    sym.unpersist()
    // a silent unconverged return would emit cluster FRAGMENTS whose ids
    // point at non-canonical interior nodes — fail loudly instead (raise
    // maxIter for graphs of larger diameter)
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge within maxIter=$maxIter iterations " +
        "(graph diameter exceeds the cap) — raise maxIter")
    // hand back an RDD-backed frame and release the loop's cache: callers
    // never unpersist the result, and a permanently cached label frame per
    // dedup run would accumulate for the session's lifetime (checkpoint
    // blocks are freed by the ContextCleaner once the frame is unreachable)
    val out = labels.localCheckpoint(true)
    labels.unpersist(false)
    out
  }

  /** Cluster election over an undirected (src, dst) edge set: connected
   * components + min-id canonical representative — the shared keep-one
   * step of the near-duplicate cluster operators (n-gram Jaccard in
   * [[graft.ops.DedupOps.nearDupClusters]], embedding cosine in
   * [[graft.ops.SimOps.cosineDupClusters]]). One definition so the two
   * modalities can never silently diverge in election semantics.
   * Output: (idCol, cluster_id, is_canonical) for every node on ≥ 1 edge. */
  def electClusters(edges: DataFrame, idCol: String, maxIter: Int = 20): DataFrame =
    connectedComponents(edges, maxIter = maxIter)
      .select(col("id").as(idCol), col("component").as("cluster_id"))
      .withColumn("is_canonical", col(idCol) === col("cluster_id"))

  /** Identity edges from the linked-entity table + KB sameAs bridges.
   * @param dbpediaLookup optional label-keyed Lookup fallback table
   * (KB.dbpediaLookup; reference dbpedia_service.py:103-197): entities whose
   * qid has NO row in the qid-keyed dim get a surface→dbpedia edge via their
   * normalized label, so fallback-linked entities canonicalize too.
   * @param broadcastDim ship the qid dim and the lookup table as broadcast
   * build sides (default; both are KB-dimension-sized). false = shuffled
   * hash joins for KBs past the ~5 GB broadcast ceiling (real Wikidata:
   * 1.1e8 labels) — same cutover Link.link/Relate.triples carry; both paths
   * pinned identical in CanonicalMapCutoverSpec. */
  def identityEdges(linked: Dataset[LinkedEntity], dbpedia: Dataset[KbDbpedia],
      dbpediaLookup: Option[DataFrame] = None,
      broadcastDim: Boolean = true): DataFrame = {
    val spark = linked.sparkSession
    import spark.implicits._
    def dim(df: DataFrame): DataFrame = if (broadcastDim) broadcast(df) else df
    val surfaceToQid = linked
      .filter($"qid".isNotNull)
      .select(concat(lit("n:"), lower($"entityName")).as("src"),
        concat(lit("q:"), $"qid").as("dst"))
      .distinct()
    val qidToDbp = dbpedia
      .select(concat(lit("q:"), $"qid").as("src"),
        concat(lit("d:"), $"resourceUri").as("dst"))
      .distinct()
    val fallbackEdges = dbpediaLookup match {
      case Some(lookup) =>
        // entities whose qid misses the dim → label-keyed fallback join
        // probe key mirrors EntityUniverse.norm (NOT bare lower) — the
        // lookup table is norm-keyed; node ids stay lower()-keyed because
        // they only ever join against themselves
        val misses = linked.filter($"qid".isNotNull)
          .join(dim(dbpedia.select($"qid")), Seq("qid"), "left_anti")
          .select(graft.functions.TextFunctions.labelNorm($"entityName").as("labelNorm"),
            concat(lit("n:"), lower($"entityName")).as("src"))
          .distinct()
        misses.join(dim(lookup.select($"labelNorm", $"resourceUri")), Seq("labelNorm"))
          .select($"src", concat(lit("d:"), $"resourceUri").as("dst"))
      case None => spark.emptyDataFrame.select(lit("").as("src"), lit("").as("dst")).limit(0)
    }
    surfaceToQid.unionByName(qidToDbp).unionByName(fallbackEdges)
  }

  /**
   * KB-derived canonical map — the scale path used by the pipeline.
   *
   * The identity edges only relate (canonical title, qid, dbpedia URI)
   * chains, and every linkable (title, qid) pair is already present in the
   * KB label dimension — so the WHOLE canonicalization is computable from
   * dimensions alone, with zero corpus scans: n:title—q:qid edges from the
   * per-alias argmax of the label index, q:qid—d:uri edges from the DBpedia
   * dim, and n:title—d:uri fallback edges from the label-keyed Lookup table
   * for titles whose qid misses the dim. Names outside the KB (unlinked
   * surfaces) need no map row — canonicalTriples falls back to the surface
   * node id via coalesce.
   *
   * Measured: the corpus-derived formulation (below) re-scanned the cached
   * linked table inside the first CC action — 12 s warm and up to 90 s under
   * cache eviction per pipeline run at 2M files, pure fixed overhead that no
   * extra cores remove. This form is also a build-once artifact: the map
   * depends only on the KB, so repeated runs (or a 10^12-file corpus) reuse
   * it unchanged.
   */
  def canonicalMapFromKb(labels: Dataset[KbLabel], dbpedia: Dataset[KbDbpedia],
      dbpediaLookup: Option[DataFrame] = None): DataFrame = {
    val spark = labels.sparkSession
    import spark.implicits._
    val titleQid = Link.bestPerAlias(labels)
      .select($"canonicalTitle", $"qid").distinct()
    val surfaceToQid = titleQid
      .select(concat(lit("n:"), lower($"canonicalTitle")).as("src"),
        concat(lit("q:"), $"qid").as("dst"))
    val qidToDbp = dbpedia
      .select(concat(lit("q:"), $"qid").as("src"),
        concat(lit("d:"), $"resourceUri").as("dst"))
      .distinct()
    val fallback = dbpediaLookup match {
      case Some(lookup) =>
        titleQid.join(dbpedia.select($"qid"), Seq("qid"), "left_anti")
          .select(graft.functions.TextFunctions.labelNorm($"canonicalTitle").as("labelNorm"),
            concat(lit("n:"), lower($"canonicalTitle")).as("src"))
          .join(lookup.select($"labelNorm", $"resourceUri"), Seq("labelNorm"))
          .select($"src", concat(lit("d:"), $"resourceUri").as("dst"))
      case None => spark.emptyDataFrame
        .select(lit("").as("src"), lit("").as("dst")).limit(0)
    }
    val cc = connectedComponents(
      surfaceToQid.unionByName(qidToDbp).unionByName(fallback), minIterations = 2)
    // one map row per NAME: two KB entities sharing a canonicalTitle share
    // the same n: node (and hence component) — without the distinct the
    // name-keyed map would carry duplicate rows and fan out every triple
    // touching that name in canonicalTriples (canonicalMap() already
    // guards this with its distinct on the linked side)
    titleQid.select($"canonicalTitle".as("entityName")).distinct()
      .withColumn("nodeId", concat(lit("n:"), lower($"entityName")))
      .join(cc, $"nodeId" === cc("id"), "left")
      .select($"entityName", coalesce($"component", $"nodeId").as("canonicalId"))
  }

  /** Map entityName → canonical component id from the OBSERVED linked table
   * (falls back to the surface node id for unlinked entities). General form
   * for arbitrary linked inputs; the pipeline uses the dimension-only
   * canonicalMapFromKb. Result columns: (entityName, canonicalId).
   * @param broadcastDim see identityEdges. */
  def canonicalMap(linked: Dataset[LinkedEntity], dbpedia: Dataset[KbDbpedia],
      dbpediaLookup: Option[DataFrame] = None,
      broadcastDim: Boolean = true): DataFrame = {
    val spark = linked.sparkSession
    import spark.implicits._
    // surface—qid—dbpedia chains make diameter 3 the EXPECTED case, so the
    // first two convergence checksums are skipped — but convergence is still
    // verified, because shared surfaces / sameAs bridges on real data can
    // chain components past the synthetic diameter (n—q1—d—q2 is distance 4)
    val cc = connectedComponents(
      identityEdges(linked, dbpedia, dbpediaLookup, broadcastDim),
      minIterations = 2)
    linked.select($"entityName").distinct()
      .withColumn("nodeId", concat(lit("n:"), lower($"entityName")))
      .join(cc, $"nodeId" === cc("id"), "left")
      .select($"entityName", coalesce($"component", $"nodeId").as("canonicalId"))
  }

  /** Rewrite triples to canonical ids (two joins on entity name; the
   * canonical map is entity-dimension-sized, so both are broadcastable to
   * the measured 1M-alias scale).
   *
   * @param broadcastDim ship both renamed views of the canonical map as
   * broadcast build sides (default). false = shuffled hash joins for KBs
   * past the ~5 GB broadcast ceiling (real Wikidata: 1.1e8 labels). Both
   * paths pinned identical in ScaleKbSpec. */
  def canonicalTriples(triples: Dataset[Triple], canonMap: DataFrame,
      broadcastDim: Boolean = true): Dataset[CanonicalTriple] = {
    val spark = triples.sparkSession
    import spark.implicits._
    def dim(df: DataFrame): DataFrame = if (broadcastDim) broadcast(df) else df
    val subjMap = dim(canonMap
      .withColumnRenamed("entityName", "subject")
      .withColumnRenamed("canonicalId", "subjectId"))
    val objMap = dim(canonMap
      .withColumnRenamed("entityName", "obj")
      .withColumnRenamed("canonicalId", "objectId"))
    triples
      .join(subjMap, Seq("subject"), "left")
      .join(objMap, Seq("obj"), "left")
      .select(
        coalesce($"subjectId", concat(lit("n:"), lower($"subject"))).as("subjectId"),
        $"subject", $"predicate",
        coalesce($"objectId", concat(lit("n:"), lower($"obj"))).as("objectId"),
        $"obj", $"inferred", $"subjectType", $"objectType", $"docId", $"lang")
      .as[CanonicalTriple]
  }
}
