package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/**
 * Stage 2: entity linking = candidate generation + deterministic
 * disambiguation (north_star's "salted hash-join + window-ranked argmax",
 * executed in its algebraically reduced form — see below).
 *
 * Replaces the reference's sequential 4-level fallback cascade per entity
 * (reference: entityextractor/core/linker.py:63-121 — LLM URL, opensearch
 * top-1, redirect follow, synonym retry) with ONE broadcast hash join against
 * a union'd alias index whose aliasKind column encodes the fallback level.
 *
 * Physical design, learned the hard way (see git history): the deterministic
 * candidate score (kind priority, popularity, qid) is a pure function of the
 * ALIAS, so the per-mention argmax factors through a per-alias argmax over
 * the KB — a dimension-sized reduction done once, NOT a corpus-sized
 * window/sort-aggregate. Per-mention grouping of a 10^12-row stream with a
 * window or min_by(struct) plans as SortAggregate + per-row interpreted
 * struct orderings (measured GC storms locally); the reduced form is a
 * broadcast join plus a pure HashAggregate distinct. A context-dependent
 * score (if one is ever added) belongs in a follow-up scoring join, not in
 * the mention-stream aggregate.
 */
object Link {

  /** Alias-kind priority (exact > redirect > synonym) — ONE definition for
   * every ranking site so the tie order cannot drift. (The round-5
   * `candidates` full-candidate view was dead code with a stale doc and a
   * hard-coded broadcast — deleted per round-5 VERDICT nit #2; the
   * per-alias argmax below is the only candidate path.) */
  private def kindPrio: org.apache.spark.sql.Column =
    when(col("aliasKind") === "exact", 0)
      .when(col("aliasKind") === "redirect", 1)
      .otherwise(2)

  /** Per-alias best candidate: argmax by (kind priority, popularity desc,
   * qid asc). KB-dimension-sized — the one place a sort-aggregate is fine. */
  def bestPerAlias(labels: Dataset[KbLabel]): DataFrame = {
    val payload = struct(
      col("canonicalTitle"), col("qid"), col("entityType"), col("popularity"),
      col("extract"), col("categories"), col("kindPriority"))
    labels
      .withColumn("kindPriority", kindPrio)
      .groupBy(col("aliasNorm"))
      .agg(min_by(payload, struct(col("kindPriority"), (-col("popularity")).as("negPop"), col("qid"))).as("best"))
      .select(col("aliasNorm"), col("best.*"))
  }

  /**
   * Link the raw mention stream. Overlap duplicates (same docId+offset from
   * adjacent chunks) are identical rows once chunk provenance is dropped, so
   * dedup is a plain distinct() — grouping keys only, empty aggregation
   * buffer, whole-stage-codegen HashAggregate with map-side partial
   * collapse. Unmatched mentions survive with null qid — the reference
   * keeps unlinked entities too (linker.py:227).
   */
  /**
   * @param broadcastDim ship the per-alias KB argmax as a broadcast build
   * side (default). Measured (BASELINE.md "KB-dimension scale probe",
   * round 4): the dimension is 77 MB in-memory at 10^5 entities / 133k
   * aliases and 581 MB at 1M aliases — broadcastable well past the tested
   * sizes, so the documented cutover is ~10^7 alias rows (≈ 5 GB, the
   * practical broadcast ceiling); real Wikidata at ~1.1e8 labels is past
   * it. There this flag flips the lookup to a plain shuffled hash join on
   * aliasNorm: identical output (ScaleKbSpec pins both paths equal), one
   * extra exchange of the mention stream.
   * @param prebuiltDim a session-lived [[bestPerAlias]] frame (must be
   * checkpointed/cached by the provider — [[KbDims.linkDim]] documents the
   * contract). The argmax is a pure function of the KB, so recomputing its
   * groupBy per pipeline run was pure fixed serial cost (~5-8 s of the
   * 8-core scaled leg, BASELINE.md round-4 fixed-cost analysis); a prebuilt
   * frame reduces the per-run cost to the broadcast build itself.
   */
  def link(mentions: Dataset[Mention], labels: Dataset[KbLabel],
      broadcastDim: Boolean = true,
      prebuiltDim: Option[DataFrame] = None): Dataset[LinkedEntity] = {
    val spark = mentions.sparkSession
    import spark.implicits._
    // ONE shuffle for the whole detect→link→docEntities chain: hash by
    // docId once, and every downstream clustering key CONTAINS docId, so
    // HashPartitioning(docId) satisfies them all — the distinct here plans
    // as a single no-exchange HashAggregate, the broadcast link join
    // preserves the partitioning, and docEntities' groupBy(docId, …) runs
    // exchange-free too. The naive form shuffled the full mention stream
    // TWICE (distinct on all columns, then the per-doc group); measured
    // ~25% of the 8-core pipeline wall. Cost: overlap duplicates (same
    // mention seen by two adjacent chunks, a few % of rows) now travel
    // through the one shuffle instead of collapsing map-side — strictly
    // cheaper than a second full-stream exchange. Per-doc skew is bounded
    // by document length, the same bound docEntities already requires.
    val uniq = mentions.drop("chunkId").repartition($"docId").distinct()
    val dimBase = prebuiltDim.getOrElse(bestPerAlias(labels))
    val dim = if (broadcastDim) broadcast(dimBase) else dimBase
    uniq.join(dim, Seq("aliasNorm"), "left")
      .select(
        $"docId", $"repo", $"path", $"lang", $"surface",
        $"citationStart", $"citationEnd", $"inferred",
        coalesce($"canonicalTitle", $"surface").as("entityName"),
        coalesce($"entityType", lit("UNKNOWN")).as("entityType"),
        $"qid",
        $"canonicalTitle".as("wikipediaTitle"),
        $"extract".as("wikipediaExtract"),
        coalesce($"categories", array().cast("array<string>")).as("categories"),
        when($"qid".isNull, lit(0.0))
          .otherwise($"popularity".cast("double") - $"kindPriority" * 1000000.0)
          .as("linkScore"))
      .as[LinkedEntity]
  }

  /**
   * Per-document entity dimension: distinct entities, first occurrence wins
   * (reference entity dedup by URL-or-name, orchestrator.py:56-61).
   *
   * Hash-aggregate-only: every column that is constant within a
   * (docId, entityName) group — type, qid, provenance — goes into the GROUP
   * KEY; the only aggregated value is the fixed-width min offset. (The
   * first-occurrence surface/citation span is a packaging concern — see
   * packagedEntities — and deliberately not computed here, where it would
   * force a sort-aggregate onto the hot path.)
   */
  def docEntities(linked: Dataset[LinkedEntity]): DataFrame = {
    val spark = linked.sparkSession
    import spark.implicits._
    linked
      .groupBy($"docId", $"entityName", $"repo", $"path", $"lang",
        $"entityType", $"qid", $"inferred")
      .agg(min($"citationStart").as("firstPos"))
  }

  /** Packaged entities with exact first-citation spans (reference R5 shape,
   * orchestrator.py:349-445): join the lean dimension back to the mention
   * rows at the winning offset. Costs one co-partitioned shuffle join; used
   * by output materialization, not by the relate/canonicalize hot path. */
  def packagedEntities(linked: Dataset[LinkedEntity], docEntities: DataFrame): DataFrame = {
    val spans = linked.select(
      col("docId"), col("entityName"),
      col("citationStart").as("firstPos"),
      col("surface").as("citation"), col("citationEnd"))
    docEntities.join(spans, Seq("docId", "entityName", "firstPos"), "left")
      .dropDuplicates("docId", "entityName") // a span join can only tie on identical rows
  }
}
