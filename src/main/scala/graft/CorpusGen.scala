package graft

/**
 * Pre-materialize an on-disk bench corpus without running the pipeline, so a
 * later pinned measurement leg (ScaleBenchOne) never pays the one-time
 * corpus write inside its window. Idempotent: Corpus.materialize* skip
 * generation when the layout marker matches.
 *
 * Usage: runMain graft.CorpusGen <nFiles> [kbSize]  (kbSize 0 = toy corpus)
 */
object CorpusGen {
  def main(args: Array[String]): Unit = {
    val nFiles = args(0).toLong
    val kbSize = args.lift(1).map(_.toLong).getOrElse(0L)
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt,
      "graft-corpus-gen")
    val t0 = System.nanoTime()
    val corpus =
      if (kbSize > 0)
        graft.pipeline.Corpus.materializeScaled(spark,
          s"/tmp/graft-corpus-kb$kbSize-$nFiles", nFiles, kbSize,
          numRepos = 200, seed = 42L,
          partitions = spark.sparkContext.defaultParallelism * 2)
      else
        graft.pipeline.Corpus.materialize(spark, s"/tmp/graft-corpus-$nFiles",
          nFiles, numRepos = 200, seed = 42L,
          partitions = spark.sparkContext.defaultParallelism * 2)
    val n = corpus.count()
    println(f"corpus ready: files=$n elapsed=${(System.nanoTime() - t0) / 1e9}%.1f s")
    spark.stop()
  }
}
