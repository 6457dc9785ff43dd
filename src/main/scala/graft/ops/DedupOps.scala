package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * Document-deduplication operators for training-data pipelines:
 * exact (fingerprint group), n-gram Jaccard, MinHash+LSH, SimHash.
 *
 * Scale design: nothing here is O(n²) over the corpus. Exact dedup is one
 * hash aggregate; Jaccard joins only pairs sharing a shingle (inverted-index
 * join); MinHash/LSH joins only within (band, bucket); SimHash joins only
 * within a band-key. Candidate generation always happens BEFORE any pairwise
 * verification.
 */
object DedupOps {

  /** Persisted intermediates created by the convenience entry points (the
   * shared shingle frames). Persisting is a perf necessity — Spark does not
   * dedupe common plan subtrees — but a library must not leak blocks until
   * LRU eviction, so every internal persist registers here and long-running
   * callers (Bench, servers) drain it between workloads. Unpersisting is
   * always safe: a still-referenced frame just recomputes. */
  private val persistedIntermediates =
    scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  private def registerPersisted(df: DataFrame): DataFrame = synchronized {
    persistedIntermediates += df
    df
  }

  def unpersistIntermediates(): Unit = synchronized {
    persistedIntermediates.foreach(_.unpersist(false))
    persistedIntermediates.clear()
  }

  // ---------------- exact ----------------

  /** Exact-duplicate clusters: fingerprint → (clusterId = min doc_id,
   * cluster size), keeping only real duplicates (size > 1). */
  // no fanOut here: the fingerprint (regex + md5) is whole-stage-codegen
  // and cheap enough that a fan-out exchange of the text COSTS more than it
  // saves (measured 0.59 → 0.81 s, round-6 midpoint bench) — fanOut pays
  // only for interpreted-HOF generators like the shingle pass
  def exactClusters(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol), TextOps.fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("cluster_id"), count(lit(1)).as("cluster_size"))
      .filter(col("cluster_size") > 1)

  /** Representative-per-fingerprint dedup: keeps the smallest id per
   * fingerprint (deterministic "first occurrence wins"). */
  def dropExactDuplicates(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val w = Window.partitionBy(TextOps.fingerprint(col(textCol))).orderBy(col(idCol))
    docs.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  // ---------------- shingles + exact Jaccard ----------------

  /** Distinct word n-gram shingles per doc: (id, shingle). */
  def shingles(docs: DataFrame, n: Int = 3, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val toks = TextOps.tokens(col(textCol))
    // n-gram i = tokens[i..i+n-1] joined by ''
    // NB sequence(0, -1) in Spark yields a DESCENDING sequence, not an
    // empty one -- guard docs shorter than n tokens explicitly. Separator
    // \u0001 prevents cross-token shingle collisions ("ab"+"c" vs "a"+"bc").
    val grams = when(size(toks) >= n,
      transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws("\u0001", slice(toks, i + 1, lit(n)))))
      .otherwise(array().cast("array<string>"))
    // fanOut BEFORE the generator: the tokenize + n-gram assembly is
    // interpreted (HOFs are CodegenFallback) and would otherwise run inside
    // the scan stage's 1-2 tasks on small inputs — measured 3.7 s single-task
    // vs 0.57 s fanned for this exact pass (OPTIMIZATION_r06.md "The two
    // structural findings", round 6); no-op at scale. Keyed by id: the
    // distinct then plans exchange-free ({id} ⊆ {id, shingle}), and so does
    // EVERY downstream per-id aggregate over the persisted frame
    // (shingle-count sizes, the MinHash signature groupBy) — one narrow text
    // exchange replaces three exchanges of the 50×-wider shingle stream.
    Par.fanOutBy(docs, col(idCol))
      .select(col(idCol).as("id"), explode(grams).as("shingle")).distinct()
  }

  /** Exact n-gram Jaccard near-duplicate pairs (a < b, jaccard >= threshold).
   * Inverted-index self-join on shingle, then |∩| / (|A|+|B|-|∩|). Skew note:
   * a shingle shared by k docs contributes k² candidate rows — at web scale,
   * drop shingles with document frequency above a cap first (standard
   * SparkER-style blocking-key filtering); `dfCap` does that here. */
  def jaccardPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.8,
      dfCap: Int = 1000): DataFrame = {
    // three consumers (see minhashDupPairs); registered for caller drain
    val sh = registerPersisted(shingles(docs, n).persist())
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("nsh"))
    // inverted-index self-join: pairs stream out of the shingle-partitioned
    // join (an in-row k² array materialization was measured 7x slower).
    // dfCap drops ubiquitous shingles (SparkER-style blocking-key filter):
    // they cost k² candidates and carry no near-dup signal. The cap is a
    // KEY-level filter, so applying it to ONE side of the self-join yields
    // the identical pair set (a capped shingle contributes no join rows
    // once either side drops it) at half the df-join cost — the right side
    // joins the cached shingle frame directly. df is projected away before
    // the exchange (guide §2.3: shuffle only what the join needs).
    val dfCounts = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    val filtered = sh.join(dfCounts.filter(col("df") <= dfCap), Seq("shingle"))
      .select(col("shingle"), col("id"))
    val inter = filtered.as("l").join(sh.as("r"),
        col("l.shingle") === col("r.shingle") && col("l.id") < col("r.id"))
      .groupBy(col("l.id").as("a"), col("r.id").as("b"))
      .agg(count(lit(1)).as("inter"))
    // sizes is corpus-sized: let AQE pick broadcast when it fits rather
    // than forcing it (a forced broadcast would break at web scale)
    inter
      .join(sizes.withColumnRenamed("id", "a").withColumnRenamed("nsh", "na"), Seq("a"))
      .join(sizes.withColumnRenamed("id", "b").withColumnRenamed("nsh", "nb"), Seq("b"))
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /**
   * Near-duplicate CLUSTERS: connected components over the exact n-gram
   * Jaccard pair graph, with the canonical representative elected as the
   * min doc id per component — the cluster → keep-one step a training-data
   * dedup pipeline runs after pair generation (near-dup similarity is not
   * transitive, so pairs alone under-delete: a~b, b~c with a!~c must still
   * collapse to ONE survivor). Output: (doc_id, cluster_id, is_canonical)
   * for every doc on >= 1 near-dup edge; keep `is_canonical` docs, drop the
   * rest. Scale shape: the pair graph is bounded by the jaccardPairs
   * inverted-index + dfCap valve; components are propagated dimension-only
   * (label frame is one row per CLUSTERED doc, not per corpus doc), with
   * map-side-combined min propagation and verified convergence
   * ([[graft.pipeline.Canonicalize.connectedComponents]] — works on any
   * orderable id type; doc ids stay longs so min is numeric). */
  def nearDupClusters(docs: DataFrame, n: Int = 3, threshold: Double = 0.8,
      dfCap: Int = 1000): DataFrame = {
    val edges = jaccardPairs(docs, n, threshold, dfCap)
      .select(col("a").as("src"), col("b").as("dst"))
    graft.pipeline.Canonicalize.electClusters(edges, "doc_id")
  }

  /**
   * Benchmark decontamination: flag corpus documents sharing at least
   * `minHits` distinct word n-gram shingles with any benchmark document —
   * the standard n-gram overlap filter a pretraining pipeline runs against
   * its eval suites before training. The benchmark side is dimension-sized
   * (eval suites are thousands of documents, not billions) and is
   * BROADCAST; the corpus side streams through one narrow shingle pass and
   * the broadcast hash join — no shuffle of corpus data at all, so the
   * pass costs one scan at 100 TB. Output: (doc_id, bench_id, hits) for
   * every contaminated (corpus doc, benchmark doc) pair; callers typically
   * anti-join the distinct doc_ids away (self-pairs appear when the
   * benchmark IS a corpus subset — they prove detection and are trivially
   * filtered with doc_id != bench_id).
   */
  def contamination(docs: DataFrame, bench: DataFrame, n: Int = 5,
      minHits: Int = 2): DataFrame = {
    val ds = shingles(docs, n)
    val bs = broadcast(shingles(bench, n)
      .select(col("id").as("bench_id"), col("shingle")))
    ds.join(bs, Seq("shingle"))
      .groupBy(col("id").as("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("hits"))
      .filter(col("hits") >= minHits)
  }

  // ---------------- MinHash + LSH ----------------

  /**
   * MinHash signature matrix in WIDE form: one row per id with numHashes
   * min-hash columns, computed as a single HashAggregate with numHashes
   * fixed-width min() buffers — no (shingle × hashIdx) row explosion and no
   * sort aggregate. numHashes = bands * rowsPerBand.
   *
   * Collision property: all numHashes functions derive from ONE 64-bit
   * xxhash64 of the shingle, so two shingles whose pre-hashes collide
   * collide in every function at once, not independently: they act as one
   * shingle. Negligible below about 2^32 distinct shingles (birthday
   * bound); revisit, e.g. with a 128-bit pre-hash, before scaling past
   * billions.
   */
  def minhashWide(sh: DataFrame, numHashes: Int): DataFrame = {
    // hash the VARIABLE-WIDTH shingle string once (xxhash64), then derive
    // the numHashes family members from the fixed-width 8-byte value —
    // the round-5 form re-read the whole string through murmur3 numHashes
    // times per row (guide §2.3, narrower types: 64× the string bytes per
    // row collapsed to one string read + 64 long mixes). The family is
    // equally uniform (murmur3 over a 64-bit avalanched input), so the
    // LSH recall argument is unchanged; output equality with brute-force
    // Jaccard is re-proven by the oracle.
    val mins = (0 until numHashes).map(i =>
      min(hash(col("hv"), lit(i))).as(s"mh$i"))
    sh.withColumn("hv", xxhash64(col("shingle")))
      .groupBy("id").agg(mins.head, mins.tail: _*)
  }

  /**
   * LSH candidate pairs: docs sharing at least one (band, band-signature)
   * bucket; band signature = murmur3 of the band's rowsPerBand min-hashes.
   * Only same-bucket docs are ever paired — the shuffle key (band, sig)
   * spreads uniformly by construction. Takes a prebuilt (id, shingle)
   * frame so callers that also verify with exact Jaccard share ONE
   * persisted shingle frame instead of recomputing the tokenize→gram→
   * distinct subtree three times.
   */
  def lshCandidatesFromShingles(sh: DataFrame, bands: Int = 16,
      rowsPerBand: Int = 4): DataFrame = {
    val wide = minhashWide(sh, bands * rowsPerBand)
    val bandSigs = (0 until bands).map { b =>
      val cols = (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), hash(cols :+ lit(b): _*).as("sig"))
    }
    val banded = wide.select(col("id"), explode(array(bandSigs: _*)).as("bs"))
      .select(col("id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
    banded.as("l").join(banded.as("r"),
        col("l.band") === col("r.band") && col("l.sig") === col("r.sig") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"))
      .distinct()
  }

  /** MinHash-LSH near-dup pairs, verified with exact Jaccard — output equals
   * the brute-force jaccardPairs result whenever LSH recall holds (with
   * 16×4 hashes at J≥0.8, miss probability < 1e-3), at a fraction of the
   * candidate pairs. */
  def minhashDupPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.8,
      bands: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    // ONE shingle frame feeds signature building, the size table, and both
    // verification joins — persisted, because Spark does not dedupe common
    // plan subtrees and the tokenize→gram→distinct chain dominated the
    // round-1 profile when recomputed per consumer
    val sh = registerPersisted(shingles(docs, n).persist())
    val cand = lshCandidatesFromShingles(sh, bands, rowsPerBand)
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("nsh"))
    // count shared shingles for candidate pairs only (never all pairs)
    val shA = sh.select(col("id").as("a"), col("shingle"))
    val shB = sh.select(col("id").as("b"), col("shingle"))
    val inter = cand.join(shA, Seq("a")).join(shB, Seq("b", "shingle"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("id", "a").withColumnRenamed("nsh", "na"), "a")
      .join(sizes.withColumnRenamed("id", "b").withColumnRenamed("nsh", "nb"), "b")
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  // ---------------- SimHash ----------------

  /** 32-bit SimHash per doc from word hashes: bit i = sign of Σ±1 over
   * tokens' murmur3 bit i.
   *
   * Shape: ONE hash aggregate over the token stream with 32 fixed
   * conditional-sum buffers (the same wide single-HashAggregate shape as
   * minhashWide), then the signature assembles from the 32 sums in a pure
   * projection. The round-2 form exploded `(id, hv) × sequence(0, 31)` —
   * a 32× multiplication of the token stream BEFORE the shuffle, measured
   * as 20.9 s on the driver bench; this form shuffles only the map-side
   * combined (id, 32 longs) rows. */
  def simhash(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
              tokenHash: Column => Column = hash(_)): DataFrame = {
    // fanOut: same single-task-scan-stage fix as shingles() — the
    // normalize + tokenize + explode is the expensive narrow stage here.
    // Keyed by id so the 32-buffer vote aggregate plans exchange-free.
    val tok = Par.fanOutBy(docs, col(idCol)).select(col(idCol).as("id"),
      explode(TextOps.tokens(TextOps.normalized(col(textCol)))).as("w"))
      .withColumn("hv", tokenHash(col("w")))
    val votes = (0 until 32).map(i =>
      sum(when(shiftright(col("hv"), i).bitwiseAND(lit(1)) === 1, 1).otherwise(-1))
        .as(s"b$i"))
    tok.groupBy("id").agg(votes.head, votes.tail: _*)
      .select(col("id"),
        (0 until 32).map(i => when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** SimHash near-dup pairs: candidates share one of 4 8-bit bands, verified
   * by Hamming distance <= maxHamming.
   *
   * The Hamming verify lives INSIDE the join condition: simhash bits are
   * biased on real text (common tokens push the same directions), so band
   * keys collide far beyond the uniform estimate — measured 4.5 M candidate
   * rows from 5 k docs at sf0.1. A post-join distinct would shuffle all of
   * them; as a join predicate the XOR+popcount runs in the same codegen
   * stage and only survivors (pairs, not per-band rows) reach the distinct. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
                   tokenHash: Column => Column = hash(_)): DataFrame = {
    val shs = simhash(docs, tokenHash = tokenHash)
    val banded = shs.select(col("id"), col("simhash"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("key", expr("shiftright(simhash, band * 8)").bitwiseAND(0xFF))
    banded.as("l").join(banded.as("r"),
        col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
          col("l.id") < col("r.id") &&
          bit_count(col("l.simhash").bitwiseXOR(col("r.simhash"))) <= maxHamming)
      .select(col("l.id").as("a"), col("r.id").as("b"),
        bit_count(col("l.simhash").bitwiseXOR(col("r.simhash"))).as("hamming"))
      .distinct()
  }
}
