package perfbench

import graft.pipeline.{Corpus, PipelineSchema}

/** Output checks: a pipeline's triple set against the golden set computed
 * from the corpus plan, independently of the pipeline. */
object Check {
  type Triple4 = (String, String, String, String) // subject, predicate, obj, inferred

  /** Golden final triples of the scaled plan restricted to the given file
   * ids — the semantics of [[Corpus.goldenFinalTriplesScaled]] (per-document
   * rule triples, explicit over implicit on one key, pair consolidation),
   * for any file set rather than only the prefix 0 until numFiles. */
  def goldenScaled(seed: Long, planFiles: Long, numRepos: Int, kbSize: Long,
      ids: Iterable[Long]): Set[Triple4] = {
    val perDoc = ids.iterator.flatMap { id =>
      Corpus.docTriplesScaled(Corpus.planScaled(seed, planFiles, numRepos, kbSize, id).plants,
        kbSize)
    }.toSeq
    Corpus.consolidateGolden(perDoc.groupBy(t => (t._1, t._2, t._3)).map { case (_, ts) =>
      ts.find(_._4 == PipelineSchema.InferredExplicit).getOrElse(ts.head)
    }.toSet)
  }

  /** None when `got` holds exactly the golden rows, each once (precision
   * and recall 1.0); otherwise what differs. */
  def triples(got: Seq[Triple4], want: Set[Triple4]): Option[String] = {
    val gotSet = got.toSet
    val missing = want -- gotSet
    val extra = gotSet -- want
    if (got.size != gotSet.size)
      Some(s"${got.size - gotSet.size} duplicate rows among ${got.size}")
    else if (missing.nonEmpty || extra.nonEmpty)
      Some(s"got ${gotSet.size} want ${want.size}: missing ${missing.size} " +
        s"${missing.take(3).mkString(";")} extra ${extra.size} ${extra.take(3).mkString(";")}")
    else None
  }
}
