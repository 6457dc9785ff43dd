package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * Stage 3: relation inference — deterministic rules replacing the reference's
 * per-document relation LLM call (reference:
 * entityextractor/core/relationship_inference.py:46-375).
 *
 * Explicit triples: adjacent co-occurrence pairs (per document, in first-
 * occurrence order) mapped through a type-pair → predicate rule table —
 * computed with a window `lead()`, i.e. ONE shuffle by docId and no self-join.
 *
 * Implicit triples: KB part-of / member-of relations lifted from the
 * broadcast Wikidata property table (mirroring P361/P463 extraction,
 * wikidata_service.py:609-649) for entity pairs co-present in a document.
 *
 * Validation (subject and object must be known entities of the document,
 * relationship_inference.py:146,174) is a double semi-join operator.
 */
object Relate {

  /** Type-pair → predicate rule rows (broadcast dimension). */
  def ruleRows: Seq[(String, String, String)] = {
    val types = Seq("SOFTWARE", "LANGUAGE", "ORGANIZATION", "PERSON", "CONCEPT")
    for {
      s <- types; o <- types
      p <- EntityUniverse.cooccurrencePredicate(s, o)
    } yield (s, o, p)
  }

  def rules(spark: SparkSession): DataFrame = {
    import spark.implicits._
    ruleRows.toDF("rSubjType", "rObjType", "rPred")
  }

  /** Explicit co-occurrence triples from the per-doc entity dimension
   * (output of [[Link.docEntities]]). */
  def explicitTriples(docEntities: DataFrame): DataFrame = {
    val spark = docEntities.sparkSession
    import spark.implicits._
    // entityName tiebreak: implicit entities (no citation span) all carry the
    // same sentinel position, and the pair order must be deterministic
    val w = Window.partitionBy($"docId").orderBy($"firstPos", $"entityName")
    val pairs = docEntities
      .withColumn("nextName", lead($"entityName", 1).over(w))
      .withColumn("nextType", lead($"entityType", 1).over(w))
      .withColumn("nextInferred", lead($"inferred", 1).over(w))
      .filter($"nextName".isNotNull)
    val r = rules(spark)
    val fwd = r.withColumnRenamed("rSubjType", "aT").withColumnRenamed("rObjType", "bT")
      .withColumnRenamed("rPred", "fwdPred")
    val rev = r.withColumnRenamed("rSubjType", "bT2").withColumnRenamed("rObjType", "aT2")
      .withColumnRenamed("rPred", "revPred")
    pairs
      .join(broadcast(fwd), $"entityType" === $"aT" && $"nextType" === $"bT", "left")
      .join(broadcast(rev), $"entityType" === $"aT2" && $"nextType" === $"bT2", "left")
      .filter($"fwdPred".isNotNull || $"revPred".isNotNull)
      .select(
        when($"fwdPred".isNotNull, $"entityName").otherwise($"nextName").as("subject"),
        coalesce($"fwdPred", $"revPred").as("predicate"),
        when($"fwdPred".isNotNull, $"nextName").otherwise($"entityName").as("obj"),
        lit(PipelineSchema.InferredExplicit).as("inferred"),
        when($"fwdPred".isNotNull, $"entityType").otherwise($"nextType").as("subjectType"),
        when($"fwdPred".isNotNull, $"nextType").otherwise($"entityType").as("objectType"),
        when($"fwdPred".isNotNull, $"inferred").otherwise($"nextInferred").as("subjectInferred"),
        when($"fwdPred".isNotNull, $"nextInferred").otherwise($"inferred").as("objectInferred"),
        $"docId", $"lang")
  }

  /** Implicit KB-lifted triples: partOf/memberOf where BOTH endpoints are
   * entities of the same document.
   *
   * @param broadcastDim ship the KB partOf/memberOf rel table as a broadcast
   * build side (default; dimension-sized — a strict subset of the wikidata
   * dim measured at 581 MB/1M entities, BASELINE.md "KB-dimension scale
   * probe"). false = shuffled hash join on qid for KBs past the ~5 GB
   * broadcast ceiling (real Wikidata: 1.1e8 labels). Both paths pinned
   * identical in ScaleKbSpec. */
  /** KB partOf/memberOf relations exploded to (key, predicate, target)
   * rows, keyed by `keyCol` — "qid" for the per-document implicit lift,
   * "label" for KGC. ONE definition so the two lift sites cannot drift
   * (a new lifted predicate lands in both or neither). */
  def kbRelations(wikidata: Dataset[KbWikidata], keyCol: String): DataFrame = {
    val spark = wikidata.sparkSession
    import spark.implicits._
    wikidata.select(col(keyCol).as("kKey"),
        explode(concat(
          transform($"partOf", t => struct(lit(EntityUniverse.PredPartOf).as("pred"), t.as("target"))),
          transform($"memberOf", t => struct(lit(EntityUniverse.PredMemberOf).as("pred"), t.as("target")))
        )).as("rel"))
      .select($"kKey", $"rel.pred".as("predicate"), $"rel.target".as("target"))
  }

  def implicitTriples(docEntities: DataFrame, wikidata: Dataset[KbWikidata],
      broadcastDim: Boolean = true): DataFrame = {
    val spark = docEntities.sparkSession
    import spark.implicits._
    val kbRel = kbRelations(wikidata, "qid").withColumnRenamed("kKey", "qid")
    val kbRelDim = if (broadcastDim) broadcast(kbRel) else kbRel
    val lifted = docEntities.as("e")
      .join(kbRelDim.as("k"), $"e.qid" === $"k.qid", "inner")
    // require the target entity to be present in the same document.
    // SHUFFLE_HASH: both sides are docId-partitioned already (docEntities'
    // aggregate preserved the pipeline's one docId exchange), so the join
    // plans exchange-free either way — the hint replaces the sort-merge
    // join's two full sorts of corpus-sized streams with a per-partition
    // hash build of the narrow 4-column target projection (guide §3.1).
    val tgt = docEntities.select($"docId".as("tDocId"), $"entityName".as("tName"),
      $"entityType".as("tType"), $"inferred".as("tInferred"))
    lifted
      .join(tgt.hint("SHUFFLE_HASH"), $"e.docId" === $"tDocId" && $"target" === $"tName", "inner")
      .select(
        $"e.entityName".as("subject"),
        $"predicate",
        $"tName".as("obj"),
        lit(PipelineSchema.InferredImplicit).as("inferred"),
        $"e.entityType".as("subjectType"),
        $"tType".as("objectType"),
        $"e.inferred".as("subjectInferred"),
        $"tInferred".as("objectInferred"),
        $"e.docId".as("docId"), $"e.lang".as("lang"))
  }

  /** All per-document triples (explicit ∪ implicit). */
  def triples(docEntities: DataFrame, wikidata: Dataset[KbWikidata],
      broadcastDim: Boolean = true): Dataset[Triple] = {
    val spark = docEntities.sparkSession
    import spark.implicits._
    explicitTriples(docEntities)
      .unionByName(implicitTriples(docEntities, wikidata, broadcastDim))
      .as[Triple]
  }

  /** Validity check: both endpoints must be known entities of the document
   * (double semi-join; reference relationship_inference.py:146,174,243-253).
   * In the default pipeline triples are valid by construction; this operator
   * exists for untrusted DOCUMENT-GROUNDED triple sources. KGC-lifted rows
   * (docId = [[PipelineSchema.KgcDocId]]) are KB-derived — no docEntities
   * row can ever ground them, so they pass through unvalidated rather than
   * being silently dropped wholesale. */
  def validate(triples: Dataset[Triple], docEntities: DataFrame): Dataset[Triple] = {
    val spark = triples.sparkSession
    import spark.implicits._
    val ents = docEntities.select($"docId", $"entityName")
    val docGrounded = triples.filter($"docId" =!= PipelineSchema.KgcDocId)
    docGrounded
      .join(ents.withColumnRenamed("entityName", "subject"), Seq("docId", "subject"), "left_semi")
      .join(ents.withColumnRenamed("entityName", "obj"), Seq("docId", "obj"), "left_semi")
      .as[Triple]
      .unionByName(triples.filter($"docId" === PipelineSchema.KgcDocId))
  }
}
