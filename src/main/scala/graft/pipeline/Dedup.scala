package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * Stage 4: triple deduplication chain, mirroring the reference's three-level
 * dedup (reference: orchestrator.py:63-76):
 *
 *  1. exact dedup on (s,p,o) with explicit-over-implicit preference
 *     (orchestrator.py:63-72) — a window argmin;
 *  2. per-undirected-pair predicate consolidation (the LLM pair-dedup,
 *     deduplication_utils.py:12-87) replaced by a deterministic total order:
 *     explicit first, then shortest predicate, then lexicographic;
 *  3. fuzzy predicate clustering per pair with Ratcliff/Obershelp ≥ 0.85,
 *     keep the shortest of each cluster (semantic_dedup_utils.py:3-36) — a
 *     typed flatMapGroups (groups are tiny: ≤ MAX_RELATIONS per pair).
 *
 * All three shuffle at most once on high-cardinality keys; the undirected
 * pair key (least, greatest) cannot hot-spot worse than the hottest entity
 * pair, and partial aggregation applies to the window shuffles.
 */
object Dedup {

  private def inferredPriority = when(col("inferred") === PipelineSchema.InferredExplicit, 0).otherwise(1)

  /** Exact (s,p,o) dedup, explicit wins over implicit; deterministic
   * tie-break on provenance for reproducibility at any parallelism. */
  def exact(triples: Dataset[Triple]): Dataset[Triple] = {
    val spark = triples.sparkSession
    import spark.implicits._
    // min_by hash aggregate, not a window: one group per distinct triple,
    // partial aggregation collapses duplicates map-side before the shuffle
    val payload = struct($"subject", $"predicate", $"obj", $"inferred",
      $"subjectType", $"objectType", $"subjectInferred", $"objectInferred",
      $"docId", $"lang")
    triples
      .groupBy($"subject", $"predicate", $"obj")
      .agg(min_by(payload, struct(inferredPriority.as("p"), $"docId", $"lang")).as("best"))
      .select($"best.*")
      .as[Triple]
  }

  /**
   * Per-undirected-pair predicate consolidation, mirroring the reference's
   * LLM pair dedup (deduplication_utils.py:12-87): the LLM receives ALL
   * triples sharing an undirected entity pair (self-pairs allowed,
   * deduplication_utils.py:38-43) and keeps one triple per SEMANTICALLY
   * DISTINCT predicate group — dissimilar predicates (e.g. "uses" and
   * "part of" between the same pair) all survive.
   *
   * Deterministic stand-in for the LLM grouping: greedy clustering of the
   * pair's predicates by Ratcliff/Obershelp >= `threshold` (the same metric
   * the reference's follow-up fuzzy filter uses, semantic_dedup_utils.py:27),
   * keeping per cluster the min by (explicit-first, shortest predicate,
   * lexicographic) — the composite of the LLM's explicit preference and the
   * fuzzy pass's keep-shortest rule. With `fuzzy = false` the grouping
   * degrades to exact predicate equality (distinct predicate strings all
   * survive), matching a run with the fuzzy filter disabled.
   *
   * One shuffle on the pair key; groups are tiny (≤ the per-pair relation
   * count, bounded by the predicate vocabulary), so the typed flatMapGroups
   * does O(k²) string work on a handful of rows per group.
   */
  def consolidatePairs(triples: Dataset[Triple], threshold: Double = 0.85,
      fuzzy: Boolean = true): Dataset[Triple] = {
    val spark = triples.sparkSession
    import spark.implicits._
    triples
      .groupByKey(t => {
        val a = if (t.subject <= t.obj) t.subject else t.obj
        val b = if (t.subject <= t.obj) t.obj else t.subject
        (a, b)
      })
      .flatMapGroups { (_: (String, String), it: Iterator[Triple]) =>
        consolidateGroup(it.toVector, threshold, fuzzy)
      }
  }

  /** One undirected pair's consolidation (shared by [[consolidatePairs]]
   * and [[exactThenConsolidate]] so the two entry points cannot drift):
   * pinned total order → partition-count-invariant greedy clustering,
   * first of each cluster = the min by the sort. */
  private def consolidateGroup(rels0: Seq[Triple], threshold: Double,
      fuzzy: Boolean): Seq[Triple] = {
    val rels = rels0.sortBy(t =>
      (if (t.inferred == PipelineSchema.InferredExplicit) 0 else 1,
        t.predicate.length, t.predicate, t.subject, t.obj))
    val clusters = scala.collection.mutable.ArrayBuffer[Triple]()
    rels.foreach { r =>
      val dup = clusters.exists(c =>
        if (fuzzy) RatcliffObershelp.ratio(c.predicate, r.predicate) >= threshold
        else c.predicate == r.predicate)
      if (!dup) clusters += r
    }
    clusters.toVector
  }

  /**
   * [[exact]] ∘ [[consolidatePairs]] fused into ONE exchange of the triple
   * stream (guide §2.4) — the pipeline's dedup chain previously paid two:
   * exact's groupBy (s,p,o) shuffle, then consolidatePairs' typed
   * groupByKey re-shuffle of the deduped stream on the (opaque-to-Catalyst)
   * pair key. Every (s,p,o) group is wholly contained in its undirected
   * pair group, so one repartition by (least(s,o), greatest(s,o)) serves
   * both: the exact-dedup hash aggregate then plans exchange-free (the
   * pair key is part of its grouping key), and the consolidation runs as a
   * mapPartitions over pair-sorted rows — no second exchange, no typed
   * row round-trip through groupByKey's key closure. Output row set is
   * identical (DedupFusionSpec pins fused == chained on duplicate-heavy
   * inputs for both fuzzy settings).
   *
   * INVARIANT: exactly one exchange, hashpartitioning(pairA, pairB), feeds
   * the mapPartitions, with no exchange in between. Pairs are grouped as
   * runs of pair-sorted rows within ONE partition, so any other shuffle
   * would split pair groups and silently emit extra triples. The fused ==
   * chained test in UnitSpecs asserts this on the executed plan.
   */
  def exactThenConsolidate(triples: Dataset[Triple], threshold: Double = 0.85,
      fuzzy: Boolean = true): Dataset[Triple] = {
    val spark = triples.sparkSession
    import spark.implicits._
    val payload = struct($"subject", $"predicate", $"obj", $"inferred",
      $"subjectType", $"objectType", $"subjectInferred", $"objectInferred",
      $"docId", $"lang")
    triples
      .withColumn("pairA", least($"subject", $"obj"))
      .withColumn("pairB", greatest($"subject", $"obj"))
      .repartition($"pairA", $"pairB")
      .groupBy($"pairA", $"pairB", $"subject", $"predicate", $"obj")
      .agg(min_by(payload, struct(inferredPriority.as("p"), $"docId", $"lang")).as("best"))
      .select($"pairA".as("_1"), $"pairB".as("_2"), $"best".as("_3"))
      .as[(String, String, Triple)]
      .sortWithinPartitions($"_1", $"_2")
      .mapPartitions { it =>
        val buf = it.buffered
        new Iterator[Seq[Triple]] {
          def hasNext: Boolean = buf.hasNext
          def next(): Seq[Triple] = {
            val (a, b, _) = buf.head
            val g = Vector.newBuilder[Triple]
            while (buf.hasNext && buf.head._1 == a && buf.head._2 == b)
              g += buf.next()._3
            g.result()
          }
        }.flatMap(consolidateGroup(_, threshold, fuzzy))
      }
  }

  /** Greedy fuzzy predicate clustering per undirected pair; keeps the
   * shortest predicate of each similarity cluster. Input order inside a
   * group is fixed by a total sort so results are partition-invariant
   * (the reference iterates Python list order, semantic_dedup_utils.py:20-33
   * — order-dependent; we pin it). */
  def fuzzy(triples: Dataset[Triple], threshold: Double = 0.85): Dataset[Triple] = {
    val spark = triples.sparkSession
    import spark.implicits._
    triples
      .groupByKey(t => {
        val a = if (t.subject <= t.obj) t.subject else t.obj
        val b = if (t.subject <= t.obj) t.obj else t.subject
        (a, b)
      })
      .flatMapGroups { (_: (String, String), it: Iterator[Triple]) =>
        val rels = it.toVector.sortBy(t =>
          (if (t.inferred == PipelineSchema.InferredExplicit) 0 else 1,
            t.predicate.length, t.predicate, t.subject, t.obj))
        val clusters = scala.collection.mutable.ArrayBuffer[scala.collection.mutable.ArrayBuffer[Triple]]()
        rels.foreach { r =>
          clusters.find(c => RatcliffObershelp.ratio(c.head.predicate, r.predicate) >= threshold) match {
            case Some(c) => c += r
            case None => clusters += scala.collection.mutable.ArrayBuffer(r)
          }
        }
        // keep the shortest predicate per cluster (ties: input order = the
        // total sort above, so .minBy is deterministic)
        clusters.map(c => c.minBy(t => (t.predicate.length, t.predicate))).toVector
      }
  }

  /** Full chain as run by the pipeline. The reference runs the fuzzy filter
   * as a separate pass after the LLM dedup (orchestrator.py:344-346);
   * consolidatePairs' greedy clustering already leaves cluster heads that
   * are pairwise < threshold similar, so the second pass is provably a
   * no-op and is folded in — one pair-key shuffle instead of two. */
  def all(triples: Dataset[Triple]): Dataset[Triple] =
    consolidatePairs(exact(triples))
}

/**
 * Ratcliff/Obershelp similarity = 2*M / (|a|+|b|), M = recursively matched
 * chars around the longest common substring — the metric behind Python
 * difflib.SequenceMatcher.ratio() used by the reference
 * (semantic_dedup_utils.py:27). Implemented from the published definition;
 * `levenshtein` is NOT a drop-in (different metric ⇒ different clusters).
 */
object RatcliffObershelp {

  def ratio(a: String, b: String): Double = {
    if (a.isEmpty && b.isEmpty) 1.0
    else 2.0 * matchedChars(a, 0, a.length, b, 0, b.length) / (a.length + b.length)
  }

  /** Reusable DP rows (ping-pong pair), thread-confined. The metric runs
   * once per VERIFIED candidate pair — millions of calls per query — and
   * per-call array/substring allocation dominated the round-2 profile
   * (q_similarity_expr's verify stage: 15.9 s CPU at sf0.1, ~8 µs/call on
   * 10-char names whose DP is only ~100 cells). Ranges replace substrings;
   * the two rows swap instead of copying. Recursion is safe: a frame is
   * done with the buffers before it recurses, and only scalars survive. */
  private val dpRows = new ThreadLocal[Array[Array[Int]]] {
    override def initialValue(): Array[Array[Int]] =
      Array(new Array[Int](64), new Array[Int](64))
  }

  /** Matched chars of a[as,ae) vs b[bs,be): longest common substring (ties
   * broken by earliest start in a, then b — same scan order as before, so
   * difflib-parity values are unchanged) + recursion on both flanks. */
  private def matchedChars(a: String, as: Int, ae: Int,
      b: String, bs: Int, be: Int): Int = {
    if (as >= ae || bs >= be) return 0
    val m = be - bs
    var bufs = dpRows.get()
    if (bufs(0).length < m + 1) {
      bufs = Array(new Array[Int](m + 1), new Array[Int](m + 1))
      dpRows.set(bufs)
    }
    var prev = bufs(0)
    var cur = bufs(1)
    java.util.Arrays.fill(prev, 0, m + 1, 0)
    cur(0) = 0
    var bestLen = 0; var bestI = as; var bestJ = bs
    var i = as
    while (i < ae) {
      val ca = a.charAt(i)
      var j = 0
      while (j < m) {
        val v = if (ca == b.charAt(bs + j)) prev(j) + 1 else 0
        cur(j + 1) = v
        if (v > bestLen) { bestLen = v; bestI = i - v + 1; bestJ = bs + j - v + 1 }
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    if (bestLen == 0) 0
    else bestLen +
      matchedChars(a, as, bestI, b, bs, bestJ) +
      matchedChars(a, bestI + bestLen, ae, b, bestJ + bestLen, be)
  }
}
