package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TaskContext

import graft.pipeline._

/**
 * Deterministic-under-task-retry proof, the preemptible-cluster property:
 * a transient task failure anywhere in the DAG must leave the output — and
 * the per-partition lineage digests — byte-identical, because Spark's
 * recovery is recompute-from-lineage and every stage here is deterministic
 * (no nondeterministic functions, stable sort keys before every digest and
 * write; see Materialize.lineage). At 100 TB on 1000 executors, task
 * retries are not an edge case but a steady-state fact (spot kills, node
 * drains, shuffle-fetch failures), so "correct" means "correct under
 * retry", not just "correct on a clean run".
 *
 * Mechanics: runs in its OWN JVM (RetrySpec forks it) because the retry
 * budget is fixed in the master URL — `local[8, 2]` = 2 task attempts —
 * and a JVM's SparkContext is a singleton the shared test session already
 * claims with the default no-retry local master. The fault is injected as
 * an identity mapPartitions over the corpus that throws exactly once
 * (AtomicInteger latch; single-JVM local mode shares the static) on the
 * first attempt of one partition; Spark retries the task, the retry takes
 * the latch's open path, and the run must complete with output identical
 * to the clean run's.
 */
object RetryCheck {

  /** 0 = armed; >0 = already fired (the retried attempt passes through). */
  val fired = new AtomicInteger(0)

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(8, "graft-retry-check", maxTaskAttempts = 2)
    import spark.implicits._

    val out = args.headOption.getOrElse("/tmp/graft-retry-check")
    val nFiles = 2000L
    val corpus = Corpus.generate(spark, nFiles)

    def digests(dir: String, faulty: Boolean): (Long, Set[(String, Long, Long, String)]) = {
      val src =
        if (!faulty) corpus
        else corpus.mapPartitions { it =>
          val tc = TaskContext.get()
          if (tc.partitionId() == 0 && tc.attemptNumber() == 0 &&
              fired.compareAndSet(0, 1))
            throw new RuntimeException(
              "injected transient task failure (RetryCheck)")
          it
        }
      val result = Pipeline.run(spark, src)
      Materialize.writeStage(result.canonicalTriples.toDF(), "triples", dir,
        resume = false)
      val rows = spark.read.json(s"$dir/triples/lineage")
        .select("lang", "bucket", "rowCount", "sha256")
        .as[(String, Long, Long, String)].collect().toSet
      (result.canonicalTriples.count(), rows)
    }

    val (nClean, clean) = digests(s"$out/clean", faulty = false)
    val (nFaulty, faulty) = digests(s"$out/faulty", faulty = true)

    require(fired.get() == 1, "fault was never injected — the check proved nothing")
    require(nClean > 0, s"clean run produced no canonical triples")
    require(nClean == nFaulty, s"row counts differ: clean=$nClean faulty=$nFaulty")
    require(clean == faulty,
      s"lineage digests differ under retry:\n  clean-only: ${clean -- faulty}\n  faulty-only: ${faulty -- clean}")
    println(s"RETRY_CHECK_OK triples=$nClean lineageRows=${clean.size}")
    spark.stop()
  }
}
