package perfbench

import graft.SparkEntry
import graft.pipeline._
import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** One workload: a closed loop with one client, pass after pass. */
abstract class Workload(val spark: SparkSession, val o: Opts) {
  /** work units in one pass (source files, or queries) */
  def units: Long
  /** cold build of the workload's KB artifacts; returns the Spark jobs it ran */
  def setup(tr: Option[Tracer]): Long
  /** per-layer figures of the traced setup */
  def setupLayers(tr: Tracer): Map[String, Double] = Map.empty
  /** untimed input preparation for pass i */
  def prepare(i: Int): Unit = ()
  /** the timed pass */
  def pass(i: Int, tr: Option[Tracer]): Unit
  /** untimed output check of pass i; None = correct */
  def check(i: Int): Option[String]
  /** per-layer figures of traced pass i (untimed, before release) */
  def layers(i: Int, tr: Tracer): Map[String, Double]
  /** untimed release of pass i's state */
  def release(i: Int): Unit
  /** passes after the first that run and are checked but not measured */
  def warmupPasses: Int = 0

  protected def spanS(tr: Tracer, name: String, i: Int): Double =
    tr.named(name, i).map(_.seconds).getOrElse(0.0)

  /** engine counters of pass i's root span, under the `spark.*` names */
  protected def engine(tr: Tracer, i: Int): Map[String, Double] = tr.named("pass", i) match {
    case None => Map.empty
    case Some(p) =>
      val c = tr.counters(p)
      Map(
        "spark.jobs" -> c.jobs.toDouble, "spark.stages" -> c.stages.toDouble,
        "spark.tasks" -> c.tasks.toDouble, "spark.task_s" -> c.taskMs / 1e3,
        "spark.gc_s" -> c.gcMs / 1e3, "spark.spill_mb" -> c.spillMb,
        "spark.shuffle_mb" -> c.shuffleMb, "spark.task_skew" -> c.taskSkew,
        "spark.core_busy_frac" -> c.taskMs / 1e3 / (p.seconds * o.cores),
        "Pipeline.self_s" -> tr.selfSeconds(p), "trace.span_coverage" -> tr.childCoverage(p))
  }
}

object Workload {
  def apply(spark: SparkSession, o: Opts): Workload = o.workload match {
    case "kg_incremental" => new KgIncremental(spark, o)
    case "ops_suite" => new OpsWorkload(spark, o)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def rmTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }

  /** (regular files, bytes) under a directory */
  def du(p: Path): (Long, Long) = if (!Files.exists(p)) (0L, 0L) else {
    val s = Files.walk(p)
    try {
      val files = s.filter(f => Files.isRegularFile(f)).toArray.map(_.asInstanceOf[Path])
      (files.length.toLong, files.map(Files.size).sum)
    } finally s.close()
  }
}

/** persisted stage frames of a traced KG pass, with their row counts */
private final case class Traced(frames: Seq[Dataset[_]], mentions: Long, linked: Long,
    docEntities: Long, raw: Long, deduped: Long, linkedFrame: Dataset[LinkedEntity])

/**
 * The KG pipeline over a [[SyntheticKb]] and the dense scaled corpus: pass i
 * reads batch i of a stream of disjoint file batches, runs Pipeline.run and
 * writes the canonical triples with Materialize.writeStage into a directory
 * of its own.
 */
final class KgIncremental(spark: SparkSession, o: Opts) extends Workload(spark, o) {
  import spark.implicits._
  import Check.Triple4

  /** batch b holds plan file ids b, b + Stride, b + 2·Stride, …:
   * disjoint batches with the same hot-repo share; a prime stride spreads
   * each batch over the plan's repos (id % NumRepos) */
  val Stride = 100003L
  val NumRepos = 200
  /** pass times still fall over the first batches after the cold one; the
   * first warm batch runs unmeasured */
  override val warmupPasses = 1
  private val cfg = PipelineConfig()
  private val kbSize = o.need("kb").toLong
  private val batchFiles = o.need("batch-files").toLong
  private val corpusRoot = o.work.resolve("corpus")
  private val outRoot = o.work.resolve("out")

  private var dims: KbDims = _
  private var corpus: Dataset[SourceFile] = _
  private var golden: Set[Triple4] = Set.empty
  private var chunkCount = 0L
  private var result: Option[PipelineResult] = None
  private var traced: Option[Traced] = None

  def units: Long = batchFiles

  private def outDir(i: Int): Path = outRoot.resolve(f"pass-$i%04d")

  def setup(tr: Option[Tracer]): Long = tr match {
    case None =>
      val sc = spark.sparkContext
      sc.setJobGroup("perfbench.setup", "KB artifacts", interruptOnCancel = false)
      try dims = SyntheticKb.kbDims(spark, kbSize) finally sc.clearJobGroup()
      sc.statusTracker.getJobIdsForGroup("perfbench.setup").length.toLong
    case Some(t) =>
      // the calls of SyntheticKb.kbDims, one span each
      val m = kbSize
      t.span("setup", -1) {
        val l = t.span("KbDims.labels", -1)(SyntheticKb.labels(spark, m).localCheckpoint(true))
        val c = t.span("KbDims.canon_map", -1)(
          Canonicalize.canonicalMapFromKb(l, SyntheticKb.dbpedia(spark, m), None)
            .localCheckpoint(true))
        val bp = t.span("KbDims.link_dim", -1)(Link.bestPerAlias(l).localCheckpoint(true))
        val gaz = t.span("Gazetteer.build", -1)(SyntheticKb.gazetteer(m))
        val g = t.span("KbDims.broadcast", -1)(spark.sparkContext.broadcast(gaz))
        dims = KbDims(labels = l, wikidata = SyntheticKb.wikidata(spark, m),
          dbpedia = SyntheticKb.dbpedia(spark, m), dbpediaLookup = None,
          buildGazetteer = () => SyntheticKb.gazetteer(m), canonicalMap = Some(c),
          linkDim = Some(bp), gazetteerBroadcast = Some(g))
      }
      t.counters(t.named("setup", -1).get).jobs
  }

  override def setupLayers(t: Tracer): Map[String, Double] = {
    val g = dims.gazetteerBroadcast.get.value
    Map(
      "KbDims.labels_s" -> spanS(t, "KbDims.labels", -1),
      "KbDims.canon_map_s" -> spanS(t, "KbDims.canon_map", -1),
      "KbDims.link_dim_s" -> spanS(t, "KbDims.link_dim", -1),
      "KbDims.link_dim_rows" -> dims.linkDim.get.count().toDouble,
      "KbDims.broadcast_s" -> spanS(t, "KbDims.broadcast", -1),
      "Gazetteer.build_s" -> spanS(t, "Gazetteer.build", -1),
      "Gazetteer.states" -> g.nStates.toDouble,
      "Gazetteer.mb" -> g.sparseBytes / 1e6)
  }

  override def prepare(i: Int): Unit = {
    require(i < Stride, s"batch $i exceeds the plan")
    // plain locals: the generator closure must not capture this workload
    val (seed, n, m, repos, stride) = (o.seed, batchFiles, kbSize, NumRepos, Stride)
    val planFiles = n * stride
    val ids = (0L until n).map(k => i + k * stride)
    val dir = corpusRoot.resolve(f"batch-$i%04d").toString
    spark.range(0L, n, 1L, o.cores * 2).map { k =>
      val p = Corpus.planScaled(seed, planFiles, repos, m, i + k * stride)
      SourceFile(p.repo, p.path, p.commit, p.lang, Corpus.render(p))
    }.write.parquet(dir)
    corpus = spark.read.parquet(dir).as[SourceFile]
    golden = Check.goldenScaled(seed, planFiles, repos, m, ids)
    if (o.trace) chunkCount = Detect.chunks(corpus, cfg.chunkSize, cfg.chunkOverlap).count()
  }

  private def sink(canonical: Dataset[CanonicalTriple], i: Int): Unit =
    Materialize.writeStage(canonical.toDF(), "triples", outDir(i).toString, cfg.buckets,
      resume = false)

  def pass(i: Int, tr: Option[Tracer]): Unit = tr match {
    case None =>
      val r = Pipeline.run(spark, corpus, cfg, Some(dims))
      result = Some(r)
      sink(r.canonicalTriples, i)
    case Some(t) =>
      // the stage sequence of Pipeline.run with its configuration (prebuilt
      // KbDims, broadcast dims, fuzzy dedup, no KGC); each span forces its
      // output so that its Spark work lands inside it
      def keep[T](ds: Dataset[T]): (Dataset[T], Long) = {
        val p = ds.persist()
        (p, p.count())
      }
      val (mentions, nMentions) = t.span("Detect", i)(keep(Detect.rawMentions(
        Detect.chunks(corpus, cfg.chunkSize, cfg.chunkOverlap), dims.gazetteerBroadcast.get,
        inferred = PipelineSchema.InferredExplicit)))
      val (linked, nLinked) = t.span("Link", i)(keep(Link.link(mentions, dims.labels,
        broadcastDim = cfg.broadcastDims, prebuiltDim = dims.linkDim)))
      val (docEntities, nDocEntities) = t.span("Link.docEntities", i)(keep(Link.docEntities(linked)))
      val (raw, nRaw) = t.span("Relate", i)(keep(Relate.triples(docEntities, dims.wikidata,
        cfg.broadcastDims)))
      val (deduped, nDeduped) = t.span("Dedup", i)(keep(Dedup.exactThenConsolidate(raw,
        fuzzy = cfg.runFuzzyDedup)))
      val (canonical, _) = t.span("Canonicalize", i)(keep(Canonicalize.canonicalTriples(deduped,
        dims.canonicalMap.get, cfg.broadcastDims)))
      traced = Some(Traced(Seq(mentions, linked, docEntities, raw, deduped, canonical),
        nMentions, nLinked, nDocEntities, nRaw, nDeduped, linked))
      t.span("Materialize", i)(sink(canonical, i))
  }

  /** every pass: the triples read back from disk equal the golden, and
   * the lineage row counts sum to the triple count */
  def check(i: Int): Option[String] = {
    val got = Materialize.readStage(spark, "triples", outDir(i).toString)
      .select("subject", "predicate", "obj", "inferred").as[Triple4].collect().toSeq
    Check.triples(got, golden).orElse {
      val lineageRows = spark.read.json(outDir(i).resolve("triples/lineage").toString)
        .agg(org.apache.spark.sql.functions.sum("rowCount")).head().getLong(0)
      if (lineageRows == golden.size) None
      else Some(s"lineage counts $lineageRows rows, data holds ${golden.size}")
    }
  }

  def layers(i: Int, t: Tracer): Map[String, Double] = {
    val tf = traced.get
    def shuffle(name: String) = t.named(name, i).map(t.counters(_).shuffleMb).getOrElse(0.0)
    val qidLinked = tf.linkedFrame.filter(col("qid").isNotNull).count()
    val (files, bytes) = Workload.du(outDir(i).resolve("triples"))
    engine(t, i) ++ Map(
      "Detect.wall_s" -> spanS(t, "Detect", i),
      "Detect.chunks" -> chunkCount.toDouble,
      "Detect.mentions" -> tf.mentions.toDouble,
      "Link.wall_s" -> spanS(t, "Link", i),
      "Link.shuffle_mb" -> shuffle("Link"),
      "Link.spill_mb" -> t.named("Link", i).map(t.counters(_).spillMb).getOrElse(0.0),
      "Link.mention_dedup_ratio" -> tf.linked.toDouble / math.max(1L, tf.mentions),
      "Link.linked_share" -> qidLinked.toDouble / math.max(1L, tf.linked),
      "Link.doc_entities_s" -> spanS(t, "Link.docEntities", i),
      "Link.doc_entities_rows" -> tf.docEntities.toDouble,
      "Relate.wall_s" -> spanS(t, "Relate", i),
      "Relate.raw_triples" -> tf.raw.toDouble,
      "Relate.shuffle_mb" -> shuffle("Relate"),
      "Dedup.wall_s" -> spanS(t, "Dedup", i),
      "Dedup.kept_ratio" -> tf.deduped.toDouble / math.max(1L, tf.raw),
      "Dedup.shuffle_mb" -> shuffle("Dedup"),
      "Canonicalize.wall_s" -> spanS(t, "Canonicalize", i),
      "Canonicalize.shuffle_mb" -> shuffle("Canonicalize"),
      "Materialize.wall_s" -> spanS(t, "Materialize", i),
      "Materialize.files" -> files.toDouble,
      "Materialize.mb" -> bytes / 1e6,
      "Materialize.bytes_per_triple" -> bytes.toDouble / math.max(1, golden.size))
  }

  def release(i: Int): Unit = {
    result.foreach(_.unpersistStages(keepCanonMap = true))
    result = None
    traced.foreach(_.frames.foreach(_.unpersist(false)))
    traced = None
    // every pass writes into a directory of its own; once checked and
    // measured it is removed so a long run does not fill the disk
    Workload.rmTree(outDir(i))
    Workload.rmTree(corpusRoot.resolve(f"batch-$i%04d"))
  }
}

/** SparkEntry queries over the test tables; one pass is one sweep over the
 * selected queries. Each result is collected to the driver (a few rows to a
 * few thousand), so the output of the timed sweep itself is what is checked. */
final class OpsWorkload(spark: SparkSession, o: Opts) extends Workload(spark, o) {
  private val data = o.need("data")
  private val queries = o.need("queries").split(",").toSeq.sorted.map { q =>
    q -> SparkEntry.queries.getOrElse(q, throw new IllegalArgumentException(s"unknown query $q"))
  }
  private val verify = o.work.resolve("verify")
  private val outputs = mutable.LinkedHashMap[String, (StructType, Array[Row])]()

  def units: Long = queries.size.toLong

  def setup(tr: Option[Tracer]): Long = 0L

  override def prepare(i: Int): Unit = if (i == 0) {
    Files.createDirectories(verify)
    Files.writeString(verify.resolve("oracle_sql.json"), Json.value(SparkEntry.oracleSql))
  }

  def pass(i: Int, tr: Option[Tracer]): Unit = queries.foreach { case (name, fn) =>
    def run(): Unit = {
      val df = fn(spark, data)
      outputs(name) = (df.schema, df.collect())
    }
    tr match {
      case Some(t) => t.span(s"SparkEntry.$name", i)(run())
      case None => run()
    }
  }

  /** Writes each query's collected output of pass i as one parquet file for
   * the DuckDB compare with SparkEntry.oracleSql that run.py makes once this
   * JVM has exited. */
  def check(i: Int): Option[String] = {
    outputs.foreach { case (name, (schema, rows)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
        .write.parquet(verify.resolve(f"pass-$i%04d").resolve(name).toString)
    }
    None
  }

  def layers(i: Int, t: Tracer): Map[String, Double] =
    engine(t, i) ++ queries.map { case (name, _) =>
      s"SparkEntry.${name}_s" -> spanS(t, s"SparkEntry.$name", i)
    }

  def release(i: Int): Unit = {
    outputs.clear()
    graft.ops.DedupOps.unpersistIntermediates()
    graft.ops.PackOps.unpersistIntermediates()
    graft.ops.SimOps.unpersistIntermediates()
  }
}
