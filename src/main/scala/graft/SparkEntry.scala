package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.ops.{DedupOps, MediaOps, SimOps, TextOps}
import graft.pipeline.BuildOnce

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
 *
 * Every operator family from SURVEY.md §2 plus the training-data ops
 * (dedup / similarity / text analysis / multimodal) is exposed as a
 * `queries` entry over the driver testdata; SQL-expressible ones carry a
 * DuckDB oracle in `oracleSql` with IDENTICAL column names and ordering.
 */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Total-order finisher: same output order as `orderBy(cols)` (sort keys
   * are unique per query contract) WITHOUT a range exchange. A global sort
   * plans RangePartitioning, whose bounds job SAMPLES the child — measured
   * re-executing the full upstream pipeline a second time (2-5× taskSum on
   * the pair queries; q_similarity_expr 3.9 s → 18.7 s of CPU from the sort
   * alone). Results here are driver-compare-sized (≤ a few 100 k rows), so
   * one round-robin exchange + a single-task sort is strictly cheaper. At
   * cluster scale with large results, keep orderBy — there the parallel
   * range sort is the right plan and the sampling pass amortizes. */
  private implicit class OrderedOps(df: DataFrame) {
    def orderedBy(cols: org.apache.spark.sql.Column*): DataFrame =
      df.repartition(1).sortWithinPartitions(cols: _*)
  }

  /** Per-table IVF index cache (an index is a build-once artifact), keyed by
   * table IDENTITY (path + file lengths/mtimes), not the directory string —
   * a regenerated embeddings table must not be served a stale index — and
   * by session, since the index cells are persisted in one context. */
  private val ivfIndexCache = new BuildOnce[(String, String), SimOps.IvfIndex]

  /** Cheap driver-side table signature from filesystem metadata (works on
   * any Hadoop FileSystem, not just local paths). */
  private def tableSig(s: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(p).filter(_.isFile)
    s"$path#${files.length}#${files.map(f => f.getLen + 31L * f.getModificationTime).sum}"
  }

  /** Flagship: the full KG pipeline (detect → link → relate → dedup →
    * canonicalize) over a seed-fixed synthetic corpus; returns the canonical
    * triple table. Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    import graft.pipeline._
    val corpus = Corpus.generate(spark, numFiles = 500L, numRepos = 50, seed = 42L, partitions = 8)
    Pipeline.run(spark, corpus).canonicalTriples.toDF()
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- scans / aggregation (§2.6) ----
    "q_agg_pricing" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_rows"))
        .orderedBy(col("l_returnflag"), col("l_linestatus"))
    }),
    "q_filter_project" -> ((s, dir) => {
      // predicate + projection pushdown to the parquet scan
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1995-06-01 00:00:00"))
          && col("l_discount") > 0.05)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"), round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderedBy(col("l_returnflag"))
    }),
    "q_conditional_agg" -> ((s, dir) => {
      t(s, dir, "orders").agg(
        count(lit(1)).as("total_orders"),
        sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("n_f"),
        round(sum(when(col("o_orderstatus") === "F", 1).otherwise(0)) * 100.0 / count(lit(1)), 2)
          .as("pct_f"))
    }),
    "q_topk" -> ((s, dir) => {
      // plans as TakeOrderedAndProject (true top-k)
      t(s, dir, "lineitem")
        .groupBy(col("l_partkey")).agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), col("l_partkey")).limit(10)
    }),
    // ---- statistics-block patterns (§2.6: orchestrator.py:483-591) ----
    "q_explode_topk" -> ((s, dir) => {
      // the top_wikidata_types / top_dbpedia_* shape: explode an array
      // column, count, true top-k — via the engine's Stats.topByArray
      graft.pipeline.Stats.topByArray(
        t(s, dir, "part"), split(col("p_type"), " "), "word", 10)
    }),
    "q_join_explode_topk" -> ((s, dir) => {
      // the withWikidata→topByArray shape: broadcast dimension join, THEN
      // explode+count+top-k (how top_wikidata_types weights by entity rows)
      val li = t(s, dir, "lineitem"); val p = t(s, dir, "part")
      graft.pipeline.Stats.topByArray(
        li.join(broadcast(p), li("l_partkey") === p("p_partkey")),
        split(col("p_type"), " "), "word", 10)
    }),
    "q_linked_share" -> ((s, dir) => {
      // the linked.{wikipedia,wikidata,dbpedia} one-pass shape: N conditional
      // counts + percents in a single aggregate (orchestrator.py:494-506)
      def cnt(status: String) = sum(when(col("o_orderstatus") === status, 1).otherwise(0))
      def pct(status: String) = round(cnt(status) * 100.0 / count(lit(1)), 2)
      t(s, dir, "orders").agg(
        count(lit(1)).as("total"),
        cnt("F").as("f_count"), pct("F").as("f_percent"),
        cnt("O").as("o_count"), pct("O").as("o_percent"),
        cnt("P").as("p_count"), pct("P").as("p_percent"))
    }),

    // ---- joins (§2.4) ----
    "q_join_broadcast" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("total"))
        .orderedBy(col("c_mktsegment"))
    }),
    "q_join_star" -> ((s, dir) => {
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val c = t(s, dir, "customer"); val n = t(s, dir, "nation"); val r = t(s, dir, "region")
      // SHUFFLE_HASH on the 4×-smaller orders side (guide §3.1: deliberate
      // strategy choice) — same two exchanges as the default sort-merge
      // join but no sort of either side; per-partition hash build is
      // orders/shuffle-partitions, safe at any scale that sizes partitions
      li.join(o.hint("SHUFFLE_HASH"), li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderedBy(col("r_name"))
    }),
    "q_semi_join" -> ((s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      c.join(o.select(col("o_custkey").as("c_custkey")), Seq("c_custkey"), "left_semi")
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_customers"))
        .orderedBy(col("c_nationkey"))
    }),
    "q_anti_join" -> ((s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      c.join(o.select(col("o_custkey").as("c_custkey")), Seq("c_custkey"), "left_anti")
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_customers"))
        .orderedBy(col("c_nationkey"))
    }),
    "q_full_outer_merge" -> ((s, dir) => {
      // the reference's JSON+XML merge-by-URI pattern: full outer + coalesce
      val c = t(s, dir, "customer")
      val agg = t(s, dir, "orders").groupBy(col("o_custkey").as("c_custkey"))
        .agg(round(sum(col("o_totalprice")), 2).as("total"))
      c.select(col("c_custkey"), col("c_acctbal"))
        .join(agg, Seq("c_custkey"), "full_outer")
        .select(col("c_custkey"),
          round(coalesce(col("total"), lit(0.0)), 2).as("order_total"),
          round(coalesce(col("c_acctbal"), lit(0.0)), 2).as("acctbal"))
        .orderedBy(col("c_custkey"))
    }),

    // ---- window / dedup (§2.5) ----
    "q_window_argmax" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(desc("o_totalprice"), col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"), round(col("o_totalprice"), 2).as("best_price"))
        .orderedBy(col("o_custkey"))
    }),
    "q_dedup_first" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"), col("event_type")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"))
        .orderedBy(col("user_id"), col("event_type"))
    }),

    // ---- set ops (§2.8) ----
    "q_set_except" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val all = o.select(col("o_custkey"))
      val f = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      all.distinct().except(f.distinct())
        .withColumnRenamed("o_custkey", "custkey")
        .orderedBy(col("custkey"))
    }),

    // ---- graph degree (§2.6 entity_connections) ----
    "q_distinct_degree" -> ((s, dir) => {
      // ONE scan + explode instead of a two-scan union (guide §2.4) and
      // NUMERIC aggregation keys: the node/neighbor strings are a bijection
      // of (side tag, int key) — and a p-node's neighbors are all s-keys,
      // so countDistinct needs only the bare int — string assembly moves
      // AFTER the aggregate (once per group, not per row) and the exchange
      // carries ints instead of strings (guide §2.3). No fanOut: the
      // partial aggregate already collapses map-side, so an extra exchange
      // costs more than the parallelism buys (single-JVM A/B in
      // OPTIMIZATION_r06.md "Degree queries").
      val li = t(s, dir, "lineitem").select(col("l_partkey"), col("l_suppkey"))
      val e = li.select(explode(array(
          struct(lit(0).as("tag"), col("l_partkey").as("key"),
            col("l_suppkey").as("nkey")),
          struct(lit(1).as("tag"), col("l_suppkey").as("key"),
            col("l_partkey").as("nkey")))).as("e"))
        .select(col("e.tag").as("tag"), col("e.key").as("key"), col("e.nkey").as("nkey"))
      e.groupBy(col("tag"), col("key"))
        .agg(countDistinct(col("nkey")).as("degree"))
        .select(concat(when(col("tag") === 0, "p").otherwise("s"), col("key")).as("node"),
          col("degree"))
        .orderBy(desc("degree"), col("node")).limit(50)
    }),

    // ---- connected components over nation-region star forest (§2.7) ----
    "q_cc_components" -> ((s, dir) => {
      val edges = t(s, dir, "nation").select(
        concat(lit("n"), lpad(col("n_nationkey").cast("string"), 2, "0")).as("src"),
        concat(lit("r"), col("n_regionkey")).as("dst"))
      graft.pipeline.Canonicalize.connectedComponents(edges)
        .withColumnRenamed("id", "node")
        .orderedBy(col("node"))
    }),

    // ---- chunking (§2.3) ----
    "q_chunk" -> ((s, dir) => {
      val size = 100; val step = 80 // overlap 20
      t(s, dir, "documents")
        .withColumn("len", length(col("text")))
        .withColumn("n_chunks",
          when(col("len") <= size, lit(1))
            .otherwise(ceil((col("len") - size).cast("double") / step).cast("int") + 1))
        .select(col("doc_id"), explode(sequence(lit(0), col("n_chunks") - 1)).as("chunk_id"),
          col("text"))
        .withColumn("chunk_start", col("chunk_id") * step)
        .withColumn("chunk_md5", md5(expr(s"substring(text, chunk_start + 1, $size)")))
        .select(col("doc_id"), col("chunk_id"), col("chunk_start"), col("chunk_md5"))
        .orderedBy(col("doc_id"), col("chunk_id"))
    }),

    // ---- time-window aggregation (§2.9 batch form) ----
    "q_time_window" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour").getField("start").as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
        .orderedBy(col("hour"), col("event_type"))
    }),

    // ---- text analysis ops ----
    "q_token_count" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextOps.tokenCount(col("text")).as("n_tokens"))
        .orderedBy(col("doc_id"))
    }),
    "q_fingerprint" -> ((s, dir) => {
      graft.ops.Par.fanOut(t(s, dir, "documents"))
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
        .orderedBy(col("doc_id"))
    }),
    "q_lang_id" -> ((s, dir) => {
      // fanOut: langId is 4 interpreted higher-order filters over a
      // re-tokenized text — the most per-row-expensive projection of the
      // text suite; single-task in the scan stage otherwise (Par.fanOut doc)
      graft.ops.Par.fanOut(t(s, dir, "documents"))
        .select(col("doc_id"), TextOps.langId(col("text")).as("lang_pred"))
        .orderedBy(col("doc_id"))
    }),
    "q_quality" -> ((s, dir) => {
      TextOps.quality(graft.ops.Par.fanOut(t(s, dir, "documents")))
        .select(col("doc_id"), col("n_chars"), col("n_tokens"), col("mean_token_len"),
          col("punct_ratio"), col("stopword_ratio"), col("quality_score"))
        .orderedBy(col("doc_id"))
    }),

    // ---- dedup ops ----
    "q_dedup_exact" -> ((s, dir) => {
      // plant exact duplicates by unioning a shifted copy
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val dup = d.withColumn("doc_id", col("doc_id") + 1000000)
      DedupOps.exactClusters(d.unionByName(dup))
        .select(col("cluster_id"), col("cluster_size"))
        .orderedBy(col("cluster_id"))
    }),
    "q_jaccard_pairs" -> ((s, dir) => {
      DedupOps.jaccardPairs(t(s, dir, "documents"), n = 3, threshold = 0.8)
        .orderedBy(col("a"), col("b"))
    }),
    "q_minhash_dedup" -> ((s, dir) => {
      DedupOps.minhashDupPairs(t(s, dir, "documents"), n = 3, threshold = 0.8)
        .orderedBy(col("a"), col("b"))
    }),
    "q_neardup_clusters" -> ((s, dir) => {
      // cluster -> keep-one: CC over the near-dup pair graph (near-dup
      // similarity is not transitive; pairs alone under-delete)
      DedupOps.nearDupClusters(t(s, dir, "documents"), n = 3, threshold = 0.8)
        .orderedBy(col("doc_id"))
    }),
    "q_simhash_pairs" -> ((s, dir) => {
      // Portable md5-derived token hash so DuckDB can recompute the exact
      // simhash values; with 4 bands and maxHamming=3 the banded join is
      // pigeonhole-exact, so the oracle is plain brute force over pairs.
      DedupOps.simhashPairs(t(s, dir, "documents"), maxHamming = 3,
          tokenHash = TextOps.portableHash32)
        .orderedBy(col("a"), col("b"))
    }),

    // ---- similarity search ----
    "q_ann_topk" -> ((s, dir) => {
      val q = t(s, dir, "embeddings").filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      SimOps.topKBrute(t(s, dir, "embeddings"), q, k = 20)
    }),
    "q_ann_lsh" -> ((s, dir) => {
      val q = t(s, dir, "embeddings").filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      SimOps.topKLsh(t(s, dir, "embeddings"), q, k = 20)
    }),
    "q_ann_ivf" -> ((s, dir) => {
      val q = t(s, dir, "embeddings").filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      // the IVF index is a build-once artifact: built on first use per
      // table, every subsequent query (incl. the measured bench run) is a
      // pure centroid-probe + cell scan
      val idx = BuildOnce.inSession(ivfIndexCache, s,
        tableSig(s, s"$dir/embeddings.parquet"))(
        SimOps.buildIvfIndex(t(s, dir, "embeddings")))
      SimOps.topKIvfIndexed(idx, q, k = 20)
    }),
    "q_cosine_pairs" -> ((s, dir) => {
      // plant exact duplicates (cosine 1.0) by unioning a shifted copy — the
      // LSH-blocked plan must recover them AND any natural >= 0.95 pairs,
      // equal to the DuckDB brute-force oracle (16×6 bands with the
      // >=2-band-hit rule: P(miss) ≈ 1.2e-4 at exactly c = 0.95, 0 for the
      // planted duplicates; recall/candidate math in SimOps.cosineDupPairs)
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = e.unionByName(
        e.select((col("vec_id") + 1000000).as("vec_id"), col("embedding")))
      SimOps.cosineDupPairs(planted, threshold = 0.95)
        .orderedBy(col("a"), col("b"))
    }),
    "q_cosine_clusters" -> ((s, dir) => {
      // cluster election over the SAME planted-duplicate pair graph as
      // q_cosine_pairs: CC + min-id canonical — the keep-one step an
      // embedding dedup pipeline runs after pair generation (cosine
      // near-dup is not transitive, pairs alone under-delete)
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = e.unionByName(
        e.select((col("vec_id") + 1000000).as("vec_id"), col("embedding")))
      SimOps.cosineDupClusters(planted, threshold = 0.95)
        .orderedBy(col("vec_id"))
    }),

    // ---- gazetteer mention detection over documents ----
    "q_mention_count" -> ((s, dir) => {
      import s.implicits._
      val terms = Seq("spark", "join", "window", "hash")
      val gazB = s.sparkContext.broadcast(graft.pipeline.Gazetteer.build(terms))
      t(s, dir, "documents").select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions { it =>
          val g = gazB.value
          it.flatMap { case (id, text) =>
            g.findMentions(text).map(m => (id, m.pattern))
          }
        }.toDF("doc_id", "term")
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("n"))
        .orderedBy(col("doc_id"), col("term"))
    }),

    // ---- sessionization (gap-based event-time sessions) ----
    "q_sessionize" -> ((s, dir) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("is_new",
          when(col("prev_ts").isNull
            || col("ts").cast("timestamp").cast("long")
               - col("prev_ts").cast("timestamp").cast("long") > 1800, 1).otherwise(0))
        .withColumn("session_id", sum(col("is_new")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(min(col("ts")).as("session_start"), count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("total_value"))
        .orderedBy(col("user_id"), col("session_id"))
    }),

    // ---- approximate distinct degree (the 10^12-scale fallback for
    // entity_connections; rows-only check: HLL estimates are engine-specific) ----
    "q_distinct_degree_approx" -> ((s, dir) => {
      // kept in its round-5 two-scan union form DELIBERATELY: unlike the
      // exact variant, the HLL input must stay the STRING nbr
      // (approx_count_distinct hashes its input — an int would change the
      // engine-specific, rows-only-checked estimates), so the one-scan
      // explode would build every neighbor string in HALF the scan tasks;
      // measured 0.68 s union vs 1.13-1.17 s for both explode variants in
      // full-bench context (round-6 mid/final benches)
      val li = t(s, dir, "lineitem")
      val e = li.select(concat(lit("p"), col("l_partkey")).as("node"),
          concat(lit("s"), col("l_suppkey")).as("nbr"))
        .unionByName(li.select(concat(lit("s"), col("l_suppkey")).as("node"),
          concat(lit("p"), col("l_partkey")).as("nbr")))
      e.groupBy(col("node")).agg(approx_count_distinct(col("nbr")).as("degree_approx"))
        .orderedBy(col("node"))
    }),

    // ---- custom codegen Expression: Ratcliff/Obershelp similarity join
    // (rows-only: the metric is not available in DuckDB) ----
    "q_similarity_expr" -> ((s, dir) => {
      // RO similarity join via the inverted-index candidate generator
      // (shared-token within brand + length band + df cap) feeding the
      // codegen ro_sim verify — replaces the round-1 brand-only blocking
      // whose within-block pair space was Θ(n²/25). Output equality with
      // the brute-force within-brand join is pinned by SimilarityJoinSpec.
      graft.ops.SimilarityJoin.roSelfJoin(
        t(s, dir, "part"), "p_partkey", "p_name", Seq("p_brand"), 0.8)
        .orderedBy(col("a"), col("b"))
    }),

    // ---- scalar parsing / URL functions (reference §2.2) ----
    "q_parse_lines" -> ((s, dir) => {
      val lines = t(s, dir, "part")
        .select(col("p_partkey"),
          concat_ws("; ", col("p_name"), col("p_brand"), col("p_type"),
            col("p_size").cast("string")).as("line"))
      lines.select(col("p_partkey"),
          graft.functions.TextFunctions.parseEntityLine(col("line")).as("e"))
        .select(col("p_partkey"), col("e.name").as("name"),
          col("e.entityType").as("entity_type"), col("e.url").as("url"),
          col("e.citation").as("citation"))
        .orderedBy(col("p_partkey"))
    }),
    "q_url_ops" -> ((s, dir) => {
      val urls = t(s, dir, "part").select(col("p_partkey"),
        concat(lit("https://en.wikipedia.org/wiki/"),
          replace(col("p_name"), lit(" "), lit("_"))).as("url"))
      urls.select(col("p_partkey"),
          graft.functions.TextFunctions.isValidWikipediaUrl(col("url")).as("valid"),
          graft.functions.TextFunctions.urlToTitle(col("url")).as("title"),
          graft.functions.TextFunctions.langFromUrl(col("url")).as("lang"))
        .orderedBy(col("p_partkey"))
    }),

    // ---- interlanguage translate-first linking (§2.4; reference
    // wikipedia_service.py:31-87): the ENGINE's own langlinks path —
    // KB.labelsForLang resolves each de alias to its local canonical title,
    // then translates to English through one broadcast langlinks join,
    // falling back to the local title when no langlink exists. The oracle
    // mirrors the same fixture rows (KB.labelRowsLocal("de") + langlinks)
    // as VALUES tables and replays the join in SQL. ----
    "q_translate_first" -> ((s, dir) => {
      graft.pipeline.KB.labelsForLang(s, "de")
        .select(col("aliasNorm").as("alias_norm"),
          col("canonicalTitle").as("canonical_title"), col("qid"))
        .orderedBy(col("alias_norm"), col("qid"))
    }),

    // ---- explicit skew handling (north_rule) ----
    "q_salted_agg" -> ((s, dir) => {
      graft.ops.Skew.saltedCount(t(s, dir, "lineitem"), Seq("l_returnflag"))
        .orderedBy(col("l_returnflag"))
    }),
    "q_salted_distinct" -> ((s, dir) => {
      graft.ops.Skew.saltedDistinctCount(t(s, dir, "lineitem"), Seq("l_returnflag"), "l_partkey")
        .orderedBy(col("l_returnflag"))
    }),

    // ---- multimodal columns (REAL PNG/BMP/WAV codecs via javax.imageio +
    // RIFF chunk walk; video = declared minimal container) ----
    // Value-oracled round 5: the decode parses real container headers
    // (PNG IHDR / BMP header / WAV fmt+data chunks / GVID header), while
    // the DuckDB oracle recomputes the generator's parameters from pure
    // id arithmetic — matching proves the encode→header-parse round trip
    // end-to-end. Byte lengths and pixel/sample checksums are not SQL-
    // derivable (zlib-compressed payloads) and stay pinned at fixture
    // level in MediaOpsSpec; the decode still computes them per row.
    "q_media_decode" -> ((s, dir) => {
      MediaOps.decode(MediaOps.generate(s, 300)).toDF()
        .select(col("mediaId").as("media_id"), col("kind"), col("format"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("sampleRate").cast("long").as("sample_rate"),
          col("frames").cast("long").as("frames"))
        .orderedBy(col("media_id"))
    }),
    "q_media_frames" -> ((s, dir) => {
      MediaOps.sampleFrames(MediaOps.generate(s, 300), stride = 6)
        .groupBy(col("mediaId").as("media_id"))
        .agg(count(lit(1)).as("n_sampled"))
        .orderedBy(col("media_id"))
    }),

    // ---- as-of (point-in-time) join: every purchase matched to the
    // latest view by the same user at or before its timestamp; the right
    // side is deduped to one row per (user_id, ts) — largest event_id
    // wins — so the DuckDB ASOF oracle's equal-ts pick is deterministic ----
    "q_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val vw = Window.partitionBy(col("user_id"), col("ts"))
        .orderBy(col("event_id").desc)
      val views = ev.filter(col("event_type") === "view")
        .withColumn("rn", row_number().over(vw)).filter(col("rn") === 1)
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      graft.ops.AsofJoin.asof(purchases, views,
          keyCols = Seq("user_id"), tsCol = "ts", seqCol = "event_id",
          payload = Seq("value"))
        .orderedBy(col("event_id"))
    }),

    // ---- token-budget shard packing (distributed prefix sum) ----
    "q_pack_shards" -> ((s, dir) => {
      graft.ops.PackOps.packShards(t(s, dir, "documents"), "doc_id",
          TextOps.tokenCount(col("text")), budget = 2048, numBins = 32)
        .select(col("doc_id"), col("n_tokens"),
          col("offset").as("start_offset"), col("shard"))
        .orderedBy(col("doc_id"))
    }),

    // ---- benchmark decontamination: every 50th document plays the eval
    // suite; 5-gram overlap with >= 2 hits flags contamination (self-pairs
    // included — they prove detection on the planted subset) ----
    "q_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      DedupOps.contamination(docs, docs.filter(col("doc_id") % 50 === 0),
          n = 5, minHits = 2)
        .orderedBy(col("doc_id"), col("bench_id"))
    }),

    // ---- deterministic stratified sampling (training-mix filter):
    // en halved, zh 0.30, es 0.80, everything else kept ----
    "q_stratified_sample" -> ((s, dir) => {
      graft.ops.PackOps.stratifiedSample(t(s, dir, "documents"),
          stratumCol = "lang", idCol = "doc_id",
          ratesBp = Map("en" -> 5000, "zh" -> 3000, "es" -> 8000),
          defaultBp = 10000)
        .select(col("doc_id"), col("lang"))
        .orderedBy(col("doc_id"))
    }))

  def oracleSql: Map[String, String] = Map(
    "q_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_filter_project" ->
      """SELECT l_returnflag, count(*) AS n_rows, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1995-06-01 00:00:00' AND l_discount > 0.05
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_conditional_agg" ->
      """SELECT count(*) AS total_orders,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        |  CAST(round(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) * 100.0 / count(*), 2) AS DOUBLE) AS pct_f
        |FROM orders""".stripMargin,
    "q_topk" ->
      """SELECT l_partkey, count(*) AS cnt FROM lineitem
        |GROUP BY 1 ORDER BY cnt DESC, l_partkey LIMIT 10""".stripMargin,
    "q_explode_topk" ->
      """SELECT word, count(*) AS cnt FROM (
        |  SELECT unnest(string_split(p_type, ' ')) AS word FROM part)
        |GROUP BY 1 ORDER BY cnt DESC, word LIMIT 10""".stripMargin,
    "q_join_explode_topk" ->
      """SELECT word, count(*) AS cnt FROM (
        |  SELECT unnest(string_split(p_type, ' ')) AS word
        |  FROM lineitem JOIN part ON l_partkey = p_partkey)
        |GROUP BY 1 ORDER BY cnt DESC, word LIMIT 10""".stripMargin,
    "q_linked_share" ->
      """SELECT count(*) AS total,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS f_count,
        |  CAST(round(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) * 100.0 / count(*), 2) AS DOUBLE) AS f_percent,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS o_count,
        |  CAST(round(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) * 100.0 / count(*), 2) AS DOUBLE) AS o_percent,
        |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS p_count,
        |  CAST(round(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) * 100.0 / count(*), 2) AS DOUBLE) AS p_percent
        |FROM orders""".stripMargin,
    "q_join_broadcast" ->
      """SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_join_star" ->
      """SELECT r_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_semi_join" ->
      """SELECT c_nationkey, count(*) AS n_customers FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_anti_join" ->
      """SELECT c_nationkey, count(*) AS n_customers FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_full_outer_merge" ->
      """SELECT COALESCE(c.c_custkey, a.c_custkey) AS c_custkey,
        |  round(COALESCE(a.total, 0.0), 2) AS order_total,
        |  round(COALESCE(c.c_acctbal, 0.0), 2) AS acctbal
        |FROM (SELECT c_custkey, c_acctbal FROM customer) c
        |FULL OUTER JOIN (
        |  SELECT o_custkey AS c_custkey, round(sum(o_totalprice), 2) AS total
        |  FROM orders GROUP BY 1) a
        |ON c.c_custkey = a.c_custkey
        |ORDER BY 1""".stripMargin,
    "q_window_argmax" ->
      """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS best_price FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn = 1 ORDER BY o_custkey""".stripMargin,
    "q_dedup_first" ->
      """SELECT user_id, event_type, event_id FROM (
        |  SELECT user_id, event_type, event_id,
        |    row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
        |  FROM events) WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
    "q_set_except" ->
      """SELECT o_custkey AS custkey FROM orders
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY 1""".stripMargin,
    "q_distinct_degree" ->
      """WITH e AS (
        |  SELECT 'p' || l_partkey AS node, 's' || l_suppkey AS nbr FROM lineitem
        |  UNION ALL
        |  SELECT 's' || l_suppkey AS node, 'p' || l_partkey AS nbr FROM lineitem)
        |SELECT node, count(DISTINCT nbr) AS degree FROM e
        |GROUP BY 1 ORDER BY degree DESC, node LIMIT 50""".stripMargin,
    "q_cc_components" ->
      """WITH nodes AS (
        |  SELECT 'n' || lpad(CAST(n_nationkey AS VARCHAR), 2, '0') AS node,
        |         'r' || n_regionkey AS rnode, n_regionkey
        |  FROM nation),
        |reps AS (
        |  SELECT n_regionkey, least(min(node), min(rnode)) AS component
        |  FROM nodes GROUP BY 1)
        |SELECT x.node, r.component FROM (
        |  SELECT node, n_regionkey FROM nodes
        |  UNION ALL
        |  SELECT DISTINCT rnode AS node, n_regionkey FROM nodes) x
        |JOIN reps r USING (n_regionkey)
        |ORDER BY node""".stripMargin,
    "q_chunk" ->
      """WITH d AS (
        |  SELECT doc_id, text, length(text) AS len,
        |    CASE WHEN length(text) <= 100 THEN 1
        |         ELSE CAST(ceil((length(text) - 100) / 80.0) AS INT) + 1 END AS n_chunks
        |  FROM documents)
        |SELECT doc_id, CAST(i AS INT) AS chunk_id, CAST(i * 80 AS INT) AS chunk_start,
        |  md5(substring(text, CAST(i * 80 AS INT) + 1, 100)) AS chunk_md5
        |FROM d, unnest(range(0, n_chunks)) AS u(i)
        |ORDER BY doc_id, chunk_id""".stripMargin,
    "q_time_window" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |  count(*) AS n, round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_token_count" ->
      """SELECT doc_id, len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_fingerprint" ->
      """SELECT doc_id, md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]+', ' ', 'g'), ' +', ' ', 'g'))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_lang_id" ->
      s"""WITH toks AS (
         |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM documents),
         |scores AS (
         |  SELECT doc_id,
         |    len(list_filter(w, x -> list_contains(${duckList(TextOps.stopwords(0)._2)}, x))) AS s_en,
         |    len(list_filter(w, x -> list_contains(${duckList(TextOps.stopwords(1)._2)}, x))) AS s_de,
         |    len(list_filter(w, x -> list_contains(${duckList(TextOps.stopwords(2)._2)}, x))) AS s_fr,
         |    len(list_filter(w, x -> list_contains(${duckList(TextOps.stopwords(3)._2)}, x))) AS s_es
         |  FROM toks)
         |SELECT doc_id,
         |  CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
         |       WHEN s_es > s_en AND s_es > s_de AND s_es > s_fr THEN 'es'
         |       WHEN s_fr > s_en AND s_fr > s_de THEN 'fr'
         |       WHEN s_de > s_en THEN 'de'
         |       ELSE 'en' END AS lang_pred
         |FROM scores ORDER BY doc_id""".stripMargin,
    "q_quality" ->
      s"""WITH b AS (
         |  SELECT doc_id, text,
         |    length(text) AS n_chars,
         |    len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
         |    length(regexp_replace(text, '\\s+', '', 'g')) AS solid,
         |    length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS punct,
         |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
         |        x -> list_contains(${duckList(TextOps.stopwords(0)._2)}, x))) AS stop_hits
         |  FROM documents)
         |SELECT doc_id, n_chars, n_tokens,
         |  round(CAST(solid AS DOUBLE) / n_tokens, 4) AS mean_token_len,
         |  round(CAST(punct AS DOUBLE) / n_chars, 4) AS punct_ratio,
         |  round(CAST(stop_hits AS DOUBLE) / n_tokens, 4) AS stopword_ratio,
         |  floor((least(CAST(1.0 AS DOUBLE), CAST(n_tokens AS DOUBLE) / CAST(100.0 AS DOUBLE)) * CAST(0.5 AS DOUBLE)
         |    + least(CAST(1.0 AS DOUBLE), round(CAST(stop_hits AS DOUBLE) / n_tokens, 4) * CAST(5 AS DOUBLE)) * CAST(0.3 AS DOUBLE)
         |    + CASE WHEN round(CAST(solid AS DOUBLE) / n_tokens, 4) BETWEEN 3.0 AND 8.0
         |           THEN CAST(0.2 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) * 10000) / 10000 AS quality_score
         |FROM b ORDER BY doc_id""".stripMargin,
    "q_dedup_exact" ->
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents),
        |f AS (
        |  SELECT doc_id, md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]+', ' ', 'g'), ' +', ' ', 'g'))) AS fp
        |  FROM d)
        |SELECT min(doc_id) AS cluster_id, count(*) AS cluster_size
        |FROM f GROUP BY fp HAVING count(*) > 1 ORDER BY cluster_id""".stripMargin,
    "q_sessionize" ->
      """WITH marked AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |           OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events),
        |sess AS (
        |  SELECT user_id, ts, value,
        |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM marked)
        |SELECT user_id, session_id, min(ts) AS session_start,
        |  count(*) AS n_events, round(sum(value), 2) AS total_value
        |FROM sess GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_parse_lines" ->
      """WITH l AS (
        |  SELECT p_partkey,
        |    p_name || '; ' || p_brand || '; ' || p_type || '; ' || CAST(p_size AS VARCHAR) AS line
        |  FROM part)
        |SELECT p_partkey,
        |  trim(string_split(line, ';')[1]) AS name,
        |  trim(string_split(line, ';')[2]) AS entity_type,
        |  trim(string_split(line, ';')[3]) AS url,
        |  trim(string_split(line, ';')[4]) AS citation
        |FROM l ORDER BY p_partkey""".stripMargin,
    "q_url_ops" ->
      """WITH u AS (
        |  SELECT p_partkey,
        |    'https://en.wikipedia.org/wiki/' || replace(p_name, ' ', '_') AS url
        |  FROM part)
        |SELECT p_partkey,
        |  regexp_matches(url, '^https?://[a-z]{2}\.wikipedia\.org/wiki/[\w\-%]+') AS valid,
        |  replace(regexp_extract(url, '/wiki/([^#?]+)', 1), '_', ' ') AS title,
        |  regexp_extract(url, '^https?://([a-z]{2})\.', 1) AS lang
        |FROM u ORDER BY p_partkey""".stripMargin,
    "q_translate_first" -> translateFirstOracle,
    "q_salted_agg" ->
      """SELECT l_returnflag, count(*) AS cnt FROM lineitem
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_salted_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS distinct_cnt FROM lineitem
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_jaccard_pairs" -> jaccardOracle,
    "q_minhash_dedup" -> jaccardOracle,
    "q_neardup_clusters" -> nearDupClustersOracle,
    "q_ann_topk" ->
      """SELECT vec_id, round(list_cosine_similarity(
        |    CAST(embedding AS DOUBLE[]),
        |    (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS sim
        |FROM embeddings ORDER BY sim DESC, vec_id LIMIT 20""".stripMargin,
    "q_cosine_pairs" ->
      """WITH e AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings),
        |p AS (
        |  SELECT l.vec_id AS a, r.vec_id AS b,
        |    round(list_cosine_similarity(CAST(l.embedding AS DOUBLE[]),
        |      CAST(r.embedding AS DOUBLE[])), 6) AS sim
        |  FROM e l JOIN e r ON l.vec_id < r.vec_id)
        |SELECT a, b, sim FROM p WHERE sim >= 0.95 ORDER BY a, b""".stripMargin,
    "q_cosine_clusters" -> cosineClustersOracle,
    "q_mention_count" ->
      """WITH terms AS (SELECT unnest(['spark', 'join', 'window', 'hash']) AS term)
        |SELECT doc_id, term,
        |  len(regexp_extract_all(lower(text), '\b' || term || '\b')) AS n
        |FROM documents, terms
        |WHERE len(regexp_extract_all(lower(text), '\b' || term || '\b')) > 0
        |ORDER BY doc_id, term""".stripMargin,
    "q_simhash_pairs" -> simhashOracle,

    // Media decode: the oracle recomputes the deterministic generator's
    // parameters (MediaOps.generate id arithmetic) with no byte access;
    // the Spark side recovers the same values by parsing the real encoded
    // container headers. kind/format come from magic-byte sniffing, width/
    // height from PNG IHDR / BMP header / GVID header, sample_rate+frames
    // from the WAV fmt/data chunk walk (frames = nSamples for audio).
    "q_media_decode" ->
      """SELECT id AS media_id,
        |  CASE id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |  CASE WHEN id % 3 = 0 THEN (CASE WHEN id % 2 = 0 THEN 'png' ELSE 'bmp' END)
        |       WHEN id % 3 = 1 THEN 'wav' ELSE 'gvid' END AS format,
        |  CASE WHEN id % 3 = 0 THEN 24 + (id % 8) * 8 WHEN id % 3 = 1 THEN -1 ELSE 320 END AS width,
        |  CASE WHEN id % 3 = 0 THEN 16 + (id % 5) * 8 WHEN id % 3 = 1 THEN -1 ELSE 240 END AS height,
        |  CASE WHEN id % 3 = 1 THEN (CASE (id // 3) % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END)
        |       ELSE -1 END AS sample_rate,
        |  CASE WHEN id % 3 = 0 THEN 1 WHEN id % 3 = 1 THEN 500 + (id % 1000)
        |       ELSE 24 + (id % 4) * 6 END AS frames
        |FROM range(0, 300) t(id) ORDER BY 1""".stripMargin,
    // Frame fan-out: stride-6 sampling of f = 24 + (id%4)*6 frames yields
    // exactly 4 + (id%4) sampled indices per video row.
    "q_media_frames" ->
      """SELECT id AS media_id, 4 + (id % 4) AS n_sampled
        |FROM range(0, 300) t(id) WHERE id % 3 = 2 ORDER BY 1""".stripMargin,
    "q_similarity_expr" -> roSimOracle,

    // As-of join: DuckDB's native ASOF JOIN is an independent formulation
    // of the same point-in-time semantics (greatest right ts <= left ts,
    // inclusive), so equality proves the union+window trick end-to-end.
    "q_asof_join" ->
      """WITH v0 AS (
        |  SELECT user_id, ts, value,
        |    row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        |  FROM events WHERE event_type = 'view'),
        |v AS (SELECT user_id, ts, value FROM v0 WHERE rn = 1),
        |p AS (SELECT event_id, user_id, ts, value FROM events
        |      WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.ts, p.value,
        |  v.ts AS matched_ts, v.value AS matched_value
        |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
        |ORDER BY p.event_id""".stripMargin,

    // Shard packing: the oracle IS the single-global-window formulation the
    // distributed three-pass prefix-scan must equal.
    "q_pack_shards" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS start_offset
        |  FROM t)
        |SELECT doc_id, n_tokens, start_offset, start_offset // 2048 AS shard
        |FROM o ORDER BY doc_id""".stripMargin,

    // Decontamination: 5-gram shingles recomputed in SQL (same slicing as
    // jaccardCtes, n=5), benchmark = the doc_id % 50 = 0 subset.
    "q_decontaminate" ->
      """WITH t AS (
        |  SELECT doc_id AS id, string_split(trim(text), ' ') AS w FROM documents),
        |idx AS (
        |  SELECT id, w, unnest(range(0, greatest(len(w) - 4, 0))) AS i FROM t),
        |sh AS (
        |  SELECT DISTINCT id, array_to_string(w[CAST(i + 1 AS INT):CAST(i + 5 AS INT)], chr(1)) AS shingle FROM idx),
        |b AS (SELECT id AS bench_id, shingle FROM sh WHERE id % 50 = 0)
        |SELECT s.id AS doc_id, b.bench_id, count(*) AS hits
        |FROM sh s JOIN b ON s.shingle = b.shingle
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY doc_id, bench_id""".stripMargin,

    // Stratified sample: the md5-derived hash threshold is recomputed
    // bit-identically (same basis as simhashOracle's portable hash).
    "q_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10000
        |  < CASE lang WHEN 'en' THEN 5000 WHEN 'zh' THEN 3000
        |              WHEN 'es' THEN 8000 ELSE 10000 END
        |ORDER BY doc_id""".stripMargin)
    // rows-only (no SQL oracle): q_ann_lsh, q_ann_ivf,
    // q_distinct_degree_approx (engine-specific hash functions /
    // sub-100% recall — ANN recall floors measured in AnnRecallSpec)

  /** Ratcliff/Obershelp in PURE SQL — the gestalt recursion as a recursive
   * CTE over (pair, a-segment, b-segment) rows. Each step finds the longest
   * common substring of a segment pair by enumerating every (start, len)
   * substring of the a-side as a struct `{nl: -len, ao: start, bo:
   * strpos(b, sub)}`, filtering to those present in b, and taking
   * `list_sort(...)[1]`: struct comparison is lexicographic by field, so
   * the minimum is (max len, min a-start, then the FIRST b occurrence) —
   * exactly the strict-> scan order of [[graft.pipeline.RatcliffObershelp
   * .matchedChars]] (i outer ascending, j inner ascending). The match
   * length is credited to the LEFT flank child (`got`), so
   * `sum(got)` per pair is the total matched chars and the final ratio is
   * `2*sum(got)/(la+lb)`. The candidate space is the brute-force
   * within-brand id<id join (blocking in [[graft.ops.SimilarityJoin]] is
   * lossless on this corpus — pinned by SimilarityJoinSpec); the length
   * band `max <= min*(2/t-1)` is an implication of RO >= t, not an
   * approximation. Runs in ~3 s on the sf0.01 part table in DuckDB 1.0. */
  private def roSimOracle: String =
    """WITH RECURSIVE
      |p0 AS (
      |  SELECT p_partkey AS id, p_name AS nm, p_brand AS br, length(p_name) AS ln
      |  FROM part),
      |cand AS (
      |  SELECT x.id AS a, y.id AS b, x.nm AS na, y.nm AS nb, x.ln + y.ln AS tot
      |  FROM p0 x JOIN p0 y ON x.br = y.br AND x.id < y.id
      |  WHERE greatest(x.ln, y.ln) * 2 <= least(x.ln, y.ln) * 3),
      |seg AS (
      |  SELECT a, b, tot, na AS sa, nb AS sb, 0 AS got FROM cand
      |  UNION ALL
      |  SELECT a, b, tot,
      |    CASE side WHEN 0 THEN substr(sa, 1, t.ao - 1) ELSE substr(sa, t.ao - t.nl) END,
      |    CASE side WHEN 0 THEN substr(sb, 1, t.bo - 1) ELSE substr(sb, t.bo - t.nl) END,
      |    CASE side WHEN 0 THEN -t.nl ELSE 0 END
      |  FROM (
      |    SELECT a, b, tot, sa, sb,
      |      (list_sort(list_filter(flatten(
      |        list_transform(range(1, length(sa) + 1), ao ->
      |          list_transform(range(1, least(length(sa) - ao + 1, length(sb)) + 1), l ->
      |            {'nl': -l, 'ao': ao, 'bo': strpos(sb, substr(sa, ao, l))}))),
      |        s -> s.bo > 0)))[1] AS t
      |    FROM seg
      |    WHERE length(sa) > 0 AND length(sb) > 0
      |  ) par
      |  CROSS JOIN (SELECT unnest([0, 1]) AS side) sides
      |  WHERE t IS NOT NULL)
      |SELECT a, b, round(2.0 * SUM(got) / tot, 4) AS sim
      |FROM seg
      |GROUP BY a, b, tot
      |HAVING 2.0 * SUM(got) / tot >= 0.8
      |ORDER BY a, b""".stripMargin

  /** Brute-force simhash oracle on the portable md5 token-hash basis
   * (TextOps.portableHash32): DuckDB recomputes the exact 32-bit simhash
   * (per-bit ±1 vote sums, bit set iff sum > 0 — the same tie rule as
   * DedupOps.simhash) and enumerates all id<id pairs at Hamming <= 3.
   * The Spark side's 4×8-bit banding is pigeonhole-exact at maxHamming=3,
   * so banded == brute force and the hash comparison is value-for-value. */
  private def simhashOracle: String = {
    val bits = (0 until 32).map(i =>
      s"CASE WHEN sum(CASE WHEN ((hv >> $i) & 1) = 1 THEN 1 ELSE -1 END) > 0 THEN ${1L << i} ELSE 0 END")
      .mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id AS id,
       |    unnest(string_split_regex(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]+', ' ', 'g'), ' +', ' ', 'g')), '\\s+')) AS w
       |  FROM documents),
       |hv AS (SELECT id, CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) AS hv FROM tok),
       |sh AS (SELECT id, $bits AS simhash FROM hv GROUP BY id)
       |SELECT l.id AS a, r.id AS b,
       |  CAST(bit_count(xor(l.simhash, r.simhash)) AS INTEGER) AS hamming
       |FROM sh l JOIN sh r ON l.id < r.id
       |WHERE bit_count(xor(l.simhash, r.simhash)) <= 3
       |ORDER BY a, b""".stripMargin
  }

  /** Word-trigram jaccard-pair CTE chain (through `pairs`), shared by the
   * exact / MinHash-LSH pair oracles and the cluster oracle. */
  private def jaccardCtes: String =
    """t AS (
      |  SELECT doc_id AS id, string_split(trim(text), ' ') AS w FROM documents),
      |idx AS (
      |  SELECT id, w, unnest(range(0, greatest(len(w) - 2, 0))) AS i FROM t),
      |sh AS (
      |  SELECT DISTINCT id, array_to_string(w[CAST(i + 1 AS INT):CAST(i + 3 AS INT)], chr(1)) AS shingle FROM idx),
      |sz AS (SELECT id, count(*) AS nsh FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT l.id AS a, r.id AS b, count(*) AS inter
      |  FROM sh l JOIN sh r ON l.shingle = r.shingle AND l.id < r.id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT a, b,
      |    round(CAST(inter AS DOUBLE) / (sa.nsh + sb.nsh - inter), 4) AS jaccard
      |  FROM inter
      |  JOIN sz sa ON sa.id = a
      |  JOIN sz sb ON sb.id = b
      |  WHERE round(CAST(inter AS DOUBLE) / (sa.nsh + sb.nsh - inter), 4) >= 0.8)""".stripMargin

  /** word-trigram jaccard oracle shared by the exact and the MinHash-LSH
   * variants (LSH + verify must equal brute force at these parameters). */
  private def jaccardOracle: String =
    s"WITH $jaccardCtes\nSELECT a, b, jaccard FROM pairs ORDER BY a, b"

  /** Connected components over the jaccard pair graph as a transitive
   * closure: recursive UNION (set-fixpoint) over symmetrized edges, then
   * component = min reachable id per node — aggregation stays OUTSIDE the
   * recursive term (standard SQL; components are near-dup clusters of a
   * few docs, so the closure is tiny). Mirrors
   * [[graft.ops.DedupOps.nearDupClusters]]. */
  private def nearDupClustersOracle: String =
    s"""WITH RECURSIVE $jaccardCtes,
       |e AS (SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs),
       |r AS (
       |  SELECT src, dst FROM e
       |  UNION
       |  SELECT r.src, e.dst FROM r JOIN e ON r.dst = e.src)
       |SELECT src AS doc_id, least(src, min(dst)) AS cluster_id,
       |  src = least(src, min(dst)) AS is_canonical
       |FROM r GROUP BY src ORDER BY doc_id""".stripMargin

  /** Transitive closure over the BRUTE-FORCE cosine pair graph (same
   * planted-duplicate universe and round-then-filter rule as the
   * q_cosine_pairs oracle), component = min reachable id — aggregation
   * outside the recursive term, as in [[nearDupClustersOracle]]. Mirrors
   * [[graft.ops.SimOps.cosineDupClusters]]: equality additionally re-proves
   * LSH pair recall, since CC over a missing edge would split a cluster. */
  private def cosineClustersOracle: String =
    """WITH RECURSIVE e0 AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings),
      |p AS (
      |  SELECT l.vec_id AS a, r.vec_id AS b
      |  FROM e0 l JOIN e0 r ON l.vec_id < r.vec_id
      |  WHERE round(list_cosine_similarity(CAST(l.embedding AS DOUBLE[]),
      |    CAST(r.embedding AS DOUBLE[])), 6) >= 0.95),
      |e AS (SELECT a AS src, b AS dst FROM p UNION SELECT b, a FROM p),
      |r AS (
      |  SELECT src, dst FROM e
      |  UNION
      |  SELECT r.src, e.dst FROM r JOIN e ON r.dst = e.src)
      |SELECT src AS vec_id, least(src, min(dst)) AS cluster_id,
      |  src = least(src, min(dst)) AS is_canonical
      |FROM r GROUP BY src ORDER BY vec_id""".stripMargin

  private def duckList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("[", ", ", "]")

  /** DuckDB replay of the engine's translate-first join: the de-local alias
   * rows and the de→en langlinks rows (the exact fixture content behind
   * KB.labelsForLang(spark, "de")) as VALUES tables, joined and coalesced the
   * same way. Entities without a langlink keep their local title — the
   * missing-langlink fallback is part of what's being verified. */
  private def translateFirstOracle: String = {
    def q(v: String) = "'" + v.replace("'", "''") + "'"
    val localRows = graft.pipeline.KB.labelRowsLocal("de")
      .map(l => s"(${q(l.aliasNorm)}, ${q(l.canonicalTitle)}, ${q(l.qid)})")
      .mkString(", ")
    val linkRows = graft.pipeline.EntityUniverse.deTitles.toSeq.sorted
      .map { case (en, de) => s"(${q(de)}, ${q(en)})" }
      .mkString(", ")
    s"""WITH local_labels(alias_norm, local_title, qid) AS (VALUES $localRows),
       |links(title_from, title_to) AS (VALUES $linkRows)
       |SELECT l.alias_norm,
       |  COALESCE(k.title_to, l.local_title) AS canonical_title, l.qid
       |FROM local_labels l LEFT JOIN links k ON l.local_title = k.title_from
       |ORDER BY l.alias_norm, l.qid""".stripMargin
  }
}
