package graft.pipeline

import org.apache.spark.sql.SparkSession

/**
 * Build-once-per-key cache for artifacts that cost Spark jobs, checkpoints or
 * broadcasts to make (KB dimensions, gazetteers, the IVF index).
 * `TrieMap.getOrElseUpdate` may run its build once per racing caller and
 * keep one result, leaking the losers' broadcasts and checkpointed frames;
 * here racing callers of one key share a single lazy cell, so the build
 * runs once and the others wait for its result. A build that throws
 * leaves the cell unbuilt and the next caller retries.
 */
final class BuildOnce[K, V] {

  private final class Cell(build: => V) {
    lazy val value: V = { builds.incrementAndGet(); build }
  }

  private val cells = scala.collection.concurrent.TrieMap.empty[K, Cell]

  /** Build runs started over this cache's lifetime. */
  private[graft] val builds = new java.util.concurrent.atomic.AtomicInteger(0)

  def apply(key: K)(build: => V): V =
    cells.getOrElseUpdate(key, new Cell(build)).value
}

object BuildOnce {

  /** For artifacts that live in a SparkContext (checkpointed frames,
   * broadcasts): keyed by the context's applicationId too, and entries of
   * every other context are dropped first, so artifacts of a stopped
   * context are never served. */
  def inSession[K, V](cache: BuildOnce[(String, K), V], spark: SparkSession,
      key: K)(build: => V): V = {
    val app = spark.sparkContext.applicationId
    cache.cells.filterInPlace { case ((a, _), _) => a == app }
    cache((app, key))(build)
  }
}
