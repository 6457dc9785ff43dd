package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import graft.pipeline._

/**
 * Structured Streaming wrappers (SURVEY.md §2.9). The reference is strictly
 * batch (one synchronous call per text, orchestrator.py:26-35); these give
 * incremental ingest of the SAME stage functions without inventing new
 * semantics: a streaming source feeds `foreachBatch`, each micro-batch runs
 * the identical batch pipeline. Event-time windowed aggregation with a
 * watermark is provided for the events stream.
 */
object StreamingOps {

  /** Tumbling 1-hour event-time aggregation — usable identically over a
   * batch DataFrame or a stream (with watermark applied by the caller).
   * The group key is the WHOLE window struct, projected to its start
   * afterwards: grouping on `window(...).getField("start")` would strip the
   * event-time metadata from the aggregation key, so watermark-based state
   * eviction could never run (Append mode rejected / Complete-mode state
   * grows without bound on a long-lived stream). */
  def windowedEventStats(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n"), col("total_value"))

  /** File-based corpus stream: each new parquet file under `dir` becomes a
   * micro-batch. Schema must be supplied (streaming requirement). */
  def corpusStream(spark: SparkSession, dir: String): Dataset[SourceFile] = {
    import spark.implicits._
    spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[SourceFile]].schema)
      .parquet(dir)
      .as[SourceFile]
  }

  /**
   * Incremental KG construction: per micro-batch run detect→link→relate→dedup
   * and append the batch's triples to `outDir/triples_stream`. Cross-batch
   * exact dedup happens on read (the same Dedup.exact window) — append-only
   * storage plus dedup-on-read is the streaming-safe equivalent of the batch
   * dedup chain.
   *
   * `kb` carries the session KB artifacts ([[KbDims]]: gazetteer broadcast,
   * canonical map, link dim). Without it each micro-batch rebuilds every
   * KB-derived dimension — seconds per batch at dimension sizes ≥ 10^5
   * (BASELINE.md "KB-dimension probe additions", round 5), which would
   * dominate micro-batch latency; the batch pipeline amortizes exactly the
   * same costs the same way.
   */
  def incrementalKg(spark: SparkSession, stream: Dataset[SourceFile], outDir: String,
      cfg: PipelineConfig = PipelineConfig(),
      kb: Option[KbDims] = None): StreamingQuery = {
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .foreachBatch { (batch: Dataset[SourceFile], batchId: Long) =>
        if (!batch.isEmpty) {
          val result = Pipeline.run(spark, batch, cfg, kb)
          result.triples.write.mode("append").parquet(s"$outDir/triples_stream")
          // every micro-batch runs a full pipeline: without this each batch
          // leaves three persisted frames behind for the stream's lifetime
          result.unpersistStages(keepCanonMap = kb.exists(_.canonicalMap.nonEmpty))
        }
        ()
      }
      .start()
  }

  // ---- stateful sessionization (flatMapGroupsWithState) ----

  /** One event of the sessionization stream (subset of the events table). */
  final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp,
      event_id: Long, value: Double)

  /** Open-session state carried across micro-batches. */
  final case class OpenSession(session_start: java.sql.Timestamp,
      lastSec: Long, n_events: Long, total_value: Double)

  /** A closed session — identical shape to the batch sessionizer's output
   * (q_sessionize) minus the per-user ordinal. */
  final case class UserSession(user_id: Long, session_start: java.sql.Timestamp,
      n_events: Long, total_value: Double)

  private def epochMicros(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  private def round2(d: Double): Double =
    BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Sessionization state: events still at-or-above the watermark (they may
   * be joined by admissible out-of-order peers, so they cannot be folded
   * yet) plus the open session built from everything below it. */
  final case class SessState(pending: Seq[SessionEvent], open: Option[OpenSession])

  /**
   * Gap-based event-time sessionization as a STATEFUL streaming operator
   * (SURVEY.md §2.9 / brief: `flatMapGroupsWithState` for custom state): a
   * session closes when the floor-second gap between consecutive events of a
   * user exceeds `gapSeconds` — the exact semantics of the batch
   * sessionizer (q_sessionize).
   *
   * Watermark-final folding: an event is folded into the session structure
   * only once the watermark passes its event time — from then on every
   * arriving event is later, so the fold order is the global event-time
   * order even when events ARRIVE out of order within the lateness budget
   * (the round-5 self-review caught the eager-fold version diverging from
   * batch under any watermarkDelay > 0). A closed session is emitted when
   * its closer is itself below the watermark, or when the watermark passes
   * the open session's gap window — both final, so Append mode is correct.
   *
   * Scale shape: per-key state = one open session + the events inside the
   * watermark lag (delay 0 ⇒ one trigger's tail), so state is bounded by
   * lateness budget × per-key rate, not stream length. Late events beyond
   * the watermark are dropped by the engine — the caller picks the budget;
   * StreamingSpec pins stream == batch on both in-order and out-of-order
   * admissible input.
   */
  def sessionizeStateful(events: Dataset[SessionEvent], gapSeconds: Long = 1800,
      watermarkDelay: String = "0 seconds"): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        sessionFunc(gapSeconds))
  }

  private def sessionFunc(gapSeconds: Long)(userId: Long,
      events: Iterator[SessionEvent], state: GroupState[SessState])
      : Iterator[UserSession] = {
    def emit(s: OpenSession): UserSession =
      UserSession(userId, s.session_start, s.n_events, round2(s.total_value))
    val prev = state.getOption.getOrElse(SessState(Nil, None))
    val wMicros = state.getCurrentWatermarkMs() * 1000L
    val wSec = Math.floorDiv(wMicros, 1000000L)
    val all = prev.pending ++ events
    // fold ONLY events the watermark has passed — later arrivals are all
    // strictly after them, so this is the global per-key event-time order
    val (ripe, fresh) = all.partition(e => epochMicros(e.ts) < wMicros)
    val closed = scala.collection.mutable.ArrayBuffer.empty[UserSession]
    var open = prev.open
    ripe.sortBy(e => (epochMicros(e.ts), e.event_id)).foreach { e =>
      val sec = Math.floorDiv(epochMicros(e.ts), 1000000L)
      open match {
        case Some(s) if sec - s.lastSec <= gapSeconds =>
          open = Some(s.copy(lastSec = sec, n_events = s.n_events + 1,
            total_value = s.total_value + e.value))
        case Some(s) =>
          // the closer `e` is itself below the watermark, so no future
          // event can land inside s's gap window — the close is final
          closed += emit(s)
          open = Some(OpenSession(e.ts, sec, 1L, e.value))
        case None =>
          open = Some(OpenSession(e.ts, sec, 1L, e.value))
      }
    }
    // the open session is final once the watermark passes its gap window
    open match {
      case Some(s) if wSec > s.lastSec + gapSeconds =>
        closed += emit(s)
        open = None
      case _ => ()
    }
    if (fresh.isEmpty && open.isEmpty) state.remove()
    else {
      state.update(SessState(fresh, open))
      // wake when the watermark can next make progress: past the open
      // session's gap window, or past the oldest pending event
      val targets =
        open.map(s => (s.lastSec + gapSeconds + 1) * 1000L).toSeq ++
          (if (fresh.nonEmpty)
            Seq(fresh.map(e => epochMicros(e.ts)).min / 1000L + 1) else Nil)
      state.setTimeoutTimestamp(math.max(targets.min, state.getCurrentWatermarkMs() + 1))
    }
    closed.iterator
  }

  // ---- stateful as-of (point-in-time) join ----

  /** One tagged event of the as-of stream: side 0 = right (build) rows,
   * side 1 = left (probe) rows. */
  final case class AsofEvent(user_id: Long, ts: java.sql.Timestamp,
      event_id: Long, value: Double, side: Int)

  /** A resolved probe — same shape as the batch [[graft.ops.AsofJoin]]
   * output (matched_* empty when no right row at-or-before the probe). */
  final case class AsofMatch(event_id: Long, user_id: Long,
      ts: java.sql.Timestamp, value: Double,
      matched_ts: Option[java.sql.Timestamp], matched_value: Option[Double])

  /** Per-key as-of state carried across micro-batches: unemitted probes and
   * the right-side history, COMPRESSED at the watermark — every right row
   * below the watermark except the (ts, seq)-maximum is dominated for all
   * future probes (future rows have event time ≥ watermark), so the
   * below-watermark history is exactly one row. State size is therefore
   * bounded by the watermark lag, not the stream length. */
  final case class AsofState(pendingLeft: Seq[AsofEvent],
      rightRecent: Seq[AsofEvent], rightBest: Option[AsofEvent])

  /**
   * Streaming point-in-time join ([[graft.ops.AsofJoin]] as a STATEFUL
   * operator): every left probe is matched to the latest right row of the
   * same key with `right.ts <= left.ts`, ties by largest event_id — the
   * batch operator's exact semantics, pinned stream == batch in
   * StreamingSpec.
   *
   * A probe is emitted only once the watermark passes its event time: from
   * then on every arriving row has event time ≥ watermark > probe ts, so
   * no future right row can change the match — the emission is final
   * (Append-mode correct). Pending probes flush via event-time timeout.
   * Late rows beyond the watermark delay may be dropped by the engine —
   * the caller picks the lateness budget, as with [[sessionizeStateful]].
   */
  def asofStateful(events: Dataset[AsofEvent],
      watermarkDelay: String = "0 seconds"): Dataset[AsofMatch] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        asofFunc)
  }

  private def asofFunc(userId: Long, events: Iterator[AsofEvent],
      state: GroupState[AsofState]): Iterator[AsofMatch] = {
    def key(e: AsofEvent) = (epochMicros(e.ts), e.event_id)
    val prev = state.getOption.getOrElse(AsofState(Nil, Nil, None))
    val incoming = events.toIndexedSeq
    val wMicros = state.getCurrentWatermarkMs() * 1000L
    val lefts = prev.pendingLeft ++ incoming.filter(_.side == 1)
    val rights = prev.rightBest.toSeq ++ prev.rightRecent ++
      incoming.filter(_.side == 0)
    val (emit, keep) = lefts.partition(l => epochMicros(l.ts) < wMicros)
    val out = emit.map { l =>
      val m = rights.filter(r => epochMicros(r.ts) <= epochMicros(l.ts))
        .sortBy(key).lastOption
      AsofMatch(l.event_id, l.user_id, l.ts, l.value, m.map(_.ts), m.map(_.value))
    }
    val (rightOld, rightNew) = rights.partition(r => epochMicros(r.ts) < wMicros)
    val best = if (rightOld.nonEmpty) Some(rightOld.maxBy(key)) else None
    if (keep.isEmpty && rightNew.isEmpty && best.isEmpty) state.remove()
    else {
      state.update(AsofState(keep, rightNew, best))
      // wake when the watermark can make progress: past the oldest pending
      // probe (to emit it) or past the oldest uncompressed right row (to
      // compress it — without this an idle key's rightRecent would be
      // retained uncompressed forever). A key left with ONLY rightBest
      // needs no timeout: its state is already the single-row minimum.
      val targets =
        (if (keep.nonEmpty)
          Seq(keep.map(l => epochMicros(l.ts)).min / 1000L + 1) else Nil) ++
        (if (rightNew.nonEmpty)
          Seq(rightNew.map(r => epochMicros(r.ts)).min / 1000L + 1) else Nil)
      if (targets.nonEmpty)
        state.setTimeoutTimestamp(math.max(targets.min, state.getCurrentWatermarkMs() + 1))
    }
    out.iterator
  }

  /** Read-side dedup for the append-only stream output. Exact (s,p,o) dedup
   * and equality-keyed pair consolidation are min-selections under total
   * orders — associative, so batched-then-merged equals global. The FUZZY
   * predicate clustering is greedy and therefore associative only when
   * similarity is effectively transitive within a pair's predicates; that
   * holds on the pipeline's closed predicate vocabulary (clusters are
   * singletons or tight spelling variants), and StreamingSpec asserts
   * stream == batch end-to-end. On an open vocabulary, run the final fuzzy
   * pass over the merged stream output only (it is idempotent), not
   * per-batch. */
  def readStreamTriples(spark: SparkSession, outDir: String): Dataset[Triple] = {
    import spark.implicits._
    Dedup.all(spark.read.parquet(s"$outDir/triples_stream").as[Triple])
  }
}
