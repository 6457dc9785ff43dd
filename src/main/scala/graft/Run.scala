package graft

import graft.pipeline._

/**
 * CLI entry mirroring the reference's main (reference:
 * entityextractor/main.py:19-158): run the full KG pipeline over a corpus and
 * emit the reference-shaped outputs — triple/entity tables, the statistics
 * JSON block, optional training JSONL and compendium, with KGC and dedup
 * toggles.
 *
 * Usage: runMain graft.Run [--files=N] [--out=DIR] [--cores=N]
 *   [--corpus=PARQUET_DIR]        read corpus from parquet instead of generating
 *   [--kgc-rounds=N]              reference ENABLE_KGC/KGC_ROUNDS (settings.py:62-63)
 *   [--no-fuzzy]                  disable fuzzy predicate dedup
 *   [--chunk-size=N --overlap=N]  reference TEXT_CHUNK_SIZE/OVERLAP (settings.py:24-26)
 *   [--training]                  write entity+relation JSONL (openai_service.py:133-209)
 *   [--compendium]                write per-doc compendium (compendium_service.py:9-89)
 *   [--allowed-types=A,B]         restrict entity types at extraction (prompt_utils.py:4-13)
 *   [--language=de]               pipeline language: local-surface detection +
 *                                 translate-first linking (settings.py:15,
 *                                 wikipedia_service.py:31-87)
 *   [--generate --topics=T1,T2]   generate mode (main.py generate flow →
 *                                 generator.py:78-191): KB-driven pseudo-corpus
 *                                 per topic, everything inferred=implicit
 *   [--infer-implicit]            ENABLE_ENTITY_INFERENCE (entity_inference.py)
 *   [--max-entities=N]            generate-mode MAX_ENTITIES (generator.py:113)
 */
object Run {

  def main(args: Array[String]): Unit = {
    val opts = args.filter(_.startsWith("--")).map { a =>
      a.stripPrefix("--").split("=", 2) match {
        case Array(k, v) => k -> v
        case Array(k) => k -> "true"
      }
    }.toMap
    // positional form `Run <files> <outDir> <cores>` accepted alongside
    // flags: positionals fill the FIRST slots not already set by a flag
    // (so `--files=N /data/out` routes "/data/out" to outDir, instead of
    // silently dropping it because slot 1 was indexed absolutely)
    val posQueue = scala.collection.mutable.Queue(args.filterNot(_.startsWith("--")): _*)
    def slot(key: String): Option[String] =
      opts.get(key).orElse(if (posQueue.nonEmpty) Some(posQueue.dequeue()) else None)
    val numFiles = slot("files").map(_.toLong).getOrElse(2000L)
    val outDir = slot("out").getOrElse("/tmp/graft-out")
    val cores = slot("cores").map(_.toInt).getOrElse(8)

    val spark = Sessions.local(cores, "graft-kg")
    import spark.implicits._

    val cfg = PipelineConfig(
      chunkSize = opts.get("chunk-size").map(_.toInt).getOrElse(Detect.DefaultChunkSize),
      chunkOverlap = opts.get("overlap").map(_.toInt).getOrElse(Detect.DefaultOverlap),
      kgcRounds = opts.get("kgc-rounds").map(_.toInt).getOrElse(0),
      runFuzzyDedup = !opts.contains("no-fuzzy"),
      generateMode = opts.contains("generate"),
      inferImplicit = opts.contains("infer-implicit"),
      language = opts.getOrElse("language", "en"),
      // extraction-level restriction (the reference restricts the PROMPT, so
      // disallowed entities never enter adjacency; filtering triples after
      // relate would lose A–C edges across a disallowed B)
      allowedTypes = opts.get("allowed-types").map(_.split(",").map(_.trim).toSeq))

    val topics: Option[org.apache.spark.sql.DataFrame] =
      if (opts.contains("generate")) {
        val ts = opts.getOrElse("topics", "stream processing with lumina")
          .split(",").map(_.trim).zipWithIndex.map { case (t, i) => (i.toString, t) }
        Some(ts.toSeq.toDF("topicId", "topic"))
      } else None

    val t0 = System.nanoTime()
    val corpus = topics
      .map(ts => Generate.corpusFromTopics(ts, KB.labels(spark),
        maxEntities = opts.get("max-entities").map(_.toInt).getOrElse(10)))
      .orElse(opts.get("corpus").map(dir => spark.read.parquet(dir).as[SourceFile]))
      .getOrElse(Corpus.generate(spark, numFiles, numRepos = 200, seed = 42L,
        partitions = cores * 2))
      .persist()
    val nDocs = corpus.count()

    val result = Pipeline.run(spark, corpus, cfg)

    Materialize.writeStage(result.canonicalTriples.toDF(), "triples", outDir, resume = false)
    val nTriples = result.triples.count()

    if (opts.contains("training")) {
      topics match {
        case Some(ts) =>
          TrainingData.write(TrainingData.generationExamples(ts, result.docEntities),
            s"$outDir/training_generation")
        case None =>
          // packaged entities carry the first-occurrence surface span as the
          // citation (openai_service.py:158-173 extract-from-text fidelity)
          TrainingData.write(TrainingData.entityExamples(corpus,
            Link.packagedEntities(result.linked, result.docEntities)),
            s"$outDir/training_entities")
      }
      TrainingData.write(TrainingData.relationExamples(corpus, result.triples),
        s"$outDir/training_relations")
    }
    if (opts.contains("compendium"))
      Compendium.perDocument(result.linked,
        lengthBudget = opts.get("compendium-length").map(_.toInt).getOrElse(8000),
        educational = opts.contains("educational"))
        .write.mode("overwrite").json(s"$outDir/compendium")

    val statsJson = Stats.statisticsJson(result.linked, result.docEntities, result.triples,
      KB.wikidata(spark), KB.dbpedia(spark), Some(KB.dbpediaLookup(spark)))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/statistics.json"), statsJson)

    val elapsed = (System.nanoTime() - t0) / 1e9
    println(s"== graft KG pipeline ==")
    println(f"docs=$nDocs triples=$nTriples elapsed=$elapsed%.2fs " +
      f"files/sec=${nDocs / elapsed}%.1f triples/sec=${nTriples / elapsed}%.1f")
    println(s"statistics: $statsJson")
    spark.stop()
  }
}
