package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline._

class StreamingSpec extends AnyFunSuite {
  import graft.pipeline.SparkHolder.spark
  import spark.implicits._

  test("streaming windowed aggregation equals the batch result") {
    // watermarks require TIMESTAMP (with tz); driver parquet ships TIMESTAMP_NTZ
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .withColumn("ts", $"ts".cast("timestamp"))
    val batch = StreamingOps.windowedEventStats(events)
      .collect().map(_.toSeq).toSet

    val tmp = java.nio.file.Files.createTempDirectory("graft-evt").toString
    events.write.mode("overwrite").parquet(tmp)
    val s2 = spark.readStream.schema(events.schema).parquet(tmp)
    val q = StreamingOps.windowedEventStats(s2.withWatermark("ts", "1 hour"))
      .writeStream.format("memory").queryName("evt_agg").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("evt_agg").collect().map(_.toSeq).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("stateful streaming sessionization equals the batch sessionizer across micro-batches") {
    import StreamingOps.{SessionEvent, UserSession}
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .withColumn("ts", $"ts".cast("timestamp"))
      .select($"user_id", $"ts", $"event_id", $"value".cast("double"))

    // batch oracle: q_sessionize's exact semantics, minus the per-user ordinal
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts", $"event_id")
    val batch = events
      .withColumn("prev_ts", lag($"ts", 1).over(byUser))
      .withColumn("is_new", when($"prev_ts".isNull
        || $"ts".cast("long") - $"prev_ts".cast("long") > 1800, 1).otherwise(0))
      .withColumn("session_id", sum($"is_new").over(byUser.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy($"user_id", $"session_id")
      .agg(min($"ts").as("session_start"), count(lit(1)).as("n_events"),
        round(sum($"value"), 2).as("total_value"))
      .select($"user_id", $"session_start", $"n_events", $"total_value")
      .collect().map(_.toSeq).toSet

    // stream input: three time-split files (every event in file k+1 is later
    // than every event in file k, so a 0s watermark drops nothing), plus a
    // far-future sentinel event that advances the watermark past every real
    // session's gap window — flushing all open sessions via timeout
    val inDir = java.nio.file.Files.createTempDirectory("graft-sess").toString
    val byTime = events.orderBy("ts", "event_id").collect()
    val slices = Seq(byTime.take(byTime.length / 3),
      byTime.slice(byTime.length / 3, 2 * byTime.length / 3),
      byTime.drop(2 * byTime.length / 3))
    val maxTs = byTime.last.getTimestamp(1).getTime
    slices.foreach { rows =>
      spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), events.schema)
        .coalesce(1).write.mode("append").parquet(inDir)
      Thread.sleep(1050) // distinct file mtimes => deterministic batch order
    }
    val sentinel = Seq((-1L, new java.sql.Timestamp(maxTs + 10L * 3600 * 1000), -1L, 0.0))
      .toDF("user_id", "ts", "event_id", "value")
    sentinel.coalesce(1).write.mode("append").parquet(inDir)

    val stream = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir).as[SessionEvent]
    val q = StreamingOps.sessionizeStateful(stream)
      .writeStream.format("memory").queryName("sess_out").outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("sess_out").filter($"user_id" >= 0)
        .collect().map(_.toSeq).toSet
      assert(streamed == batch,
        s"streamed ${streamed.size} sessions vs batch ${batch.size}")
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("windowed aggregation works in APPEND mode — watermark finalizes windows") {
    // grouping by window(...).getField("start") used to strip the event-time
    // metadata from the key; Append mode then has no watermark on the
    // aggregation keys and the query cannot finalize anything
    val base = 1600000000L * 1000
    val real = Seq(
      (1L, new java.sql.Timestamp(base), "view", 1.0),
      (2L, new java.sql.Timestamp(base + 600000), "view", 2.0),
      (3L, new java.sql.Timestamp(base + 3600000), "click", 3.0))
    val schema = real.toDF("event_id", "ts", "event_type", "value").schema
    val batch = StreamingOps.windowedEventStats(
      real.toDF("event_id", "ts", "event_type", "value"))
      .collect().map(_.toSeq).toSet

    val inDir = java.nio.file.Files.createTempDirectory("graft-wapp").toString
    real.toDF("event_id", "ts", "event_type", "value")
      .coalesce(1).write.mode("append").parquet(inDir)
    Thread.sleep(1050)
    // far-future sentinel drives the watermark past every real window's end
    Seq((-1L, new java.sql.Timestamp(base + 100L * 3600000), "sentinel", 0.0))
      .toDF("event_id", "ts", "event_type", "value")
      .coalesce(1).write.mode("append").parquet(inDir)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val q = StreamingOps.windowedEventStats(stream.withWatermark("ts", "0 seconds"))
      .writeStream.format("memory").queryName("wapp_out").outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("wapp_out").filter($"event_type" =!= "sentinel")
        .collect().map(_.toSeq).toSet
      assert(streamed == batch, s"append-mode streamed $streamed vs batch $batch")
      assert(batch.size == 2) // two view events share one hour window + one click window
    } finally q.stop()
  }

  test("sessionization folds watermark-late-but-admissible events in event-time order") {
    import StreamingOps.{SessionEvent, UserSession}
    // the round-5 self-review scenario: with a 1-hour lateness budget, an
    // out-of-order event (t=1000s arriving after t=4000s) is admissible —
    // the eager fold used to corrupt both sessions; the watermark-buffered
    // fold must produce the batch answer {t0..t1000 (n=2)}, {t4000 (n=1)}
    val base = 1600000000L
    def ev(sec: Long, id: Long, v: Double) =
      (1L, new java.sql.Timestamp((base + sec) * 1000), id, v)
    val schema = Seq(ev(0, 1, 1.0)).toDF("user_id", "ts", "event_id", "value").schema
    val inDir = java.nio.file.Files.createTempDirectory("graft-late").toString
    Seq(Seq(ev(0, 1, 1.0), ev(4000, 2, 2.0)),   // batch 1: creates W = 4000s - 1h = 400s
        Seq(ev(1000, 3, 4.0)),                   // batch 2: late (1000 > W=400) but admissible
        Seq((-1L, new java.sql.Timestamp((base + 900000) * 1000), -1L, 0.0))) // sentinel flush
      .foreach { rows =>
        rows.toDF("user_id", "ts", "event_id", "value")
          .coalesce(1).write.mode("append").parquet(inDir)
        Thread.sleep(1050)
      }
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir).as[SessionEvent]
    val q = StreamingOps.sessionizeStateful(stream, gapSeconds = 1800,
        watermarkDelay = "1 hour")
      .writeStream.format("memory").queryName("late_out").outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("late_out").filter($"user_id" >= 0)
        .as[UserSession].collect()
        .map(s => (s.session_start.getTime / 1000 - base, s.n_events, s.total_value)).toSet
      assert(streamed == Set((0L, 2L, 5.0), (4000L, 1L, 2.0)),
        s"got $streamed")
    } finally q.stop()
  }

  test("stateful streaming as-of join equals the batch AsofJoin across micro-batches") {
    import StreamingOps.AsofEvent
    // purchases probe the latest prior view (the q_asof_join shape), but on
    // RAW rights — both the batch operator and the streaming state resolve
    // equal-ts rights to the largest event_id, so no pre-dedup is needed
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .withColumn("ts", $"ts".cast("timestamp"))
      .filter($"event_type".isin("view", "purchase"))
      .select($"user_id", $"ts", $"event_id", $"value".cast("double"),
        when($"event_type" === "purchase", 1).otherwise(0).as("side"))

    val left = ev.filter($"side" === 1).select($"event_id", $"user_id", $"ts", $"value")
    val right = ev.filter($"side" === 0).select($"user_id", $"ts", $"event_id", $"value")
    val batch = graft.ops.AsofJoin.asof(left, right,
        Seq("user_id"), "ts", "event_id", Seq("value"))
      .select($"event_id", $"matched_ts", $"matched_value")
      .collect().map(_.toSeq).toSet

    // three time-split files + a far-future sentinel right row that drives
    // the watermark past every probe, flushing pending state via timeout
    val inDir = java.nio.file.Files.createTempDirectory("graft-asof").toString
    val byTime = ev.orderBy("ts", "event_id").collect()
    val slices = Seq(byTime.take(byTime.length / 3),
      byTime.slice(byTime.length / 3, 2 * byTime.length / 3),
      byTime.drop(2 * byTime.length / 3))
    val maxTs = byTime.last.getTimestamp(1).getTime
    slices.foreach { rows =>
      spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), ev.schema)
        .coalesce(1).write.mode("append").parquet(inDir)
      Thread.sleep(1050)
    }
    Seq((-1L, new java.sql.Timestamp(maxTs + 10L * 3600 * 1000), -1L, 0.0, 0))
      .toDF("user_id", "ts", "event_id", "value", "side")
      .coalesce(1).write.mode("append").parquet(inDir)

    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir).as[AsofEvent]
    val q = StreamingOps.asofStateful(stream)
      .writeStream.format("memory").queryName("asof_out").outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("asof_out").filter($"event_id" >= 0)
        .select($"event_id", $"matched_ts", $"matched_value")
        .collect().map(_.toSeq).toSet
      assert(streamed == batch,
        s"streamed ${streamed.size} matches vs batch ${batch.size}")
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("incremental KG over micro-batches equals the batch pipeline triples") {
    val corpus = Corpus.generate(spark, 120L, numRepos = 10, seed = 42L, partitions = 4)
    val batchTriples = Pipeline.run(spark, corpus).triples
      .select("subject", "predicate", "obj", "inferred").collect().map(_.toSeq).toSet

    val inDir = java.nio.file.Files.createTempDirectory("graft-stream-in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-stream-out").toString
    // two separate files -> two micro-batches
    corpus.filter($"path".substr(-4, 4) =!= ".py").write.mode("append").parquet(inDir)
    corpus.filter($"path".substr(-4, 4) === ".py").write.mode("append").parquet(inDir)

    val q = StreamingOps.incrementalKg(spark,
      StreamingOps.corpusStream(spark, inDir), outDir)
    q.awaitTermination(120000)

    val streamed = StreamingOps.readStreamTriples(spark, outDir)
      .select("subject", "predicate", "obj", "inferred").collect().map(_.toSeq).toSet
    // per-batch relate only sees its own docs; cross-batch dedup on read.
    // The batch run's pair-consolidation is global, so the streamed set must
    // be a superset of the batch set at equal explicit/implicit semantics —
    // for this corpus the plants are per-doc, so sets match exactly.
    assert(streamed == batchTriples)
  }

  test("incremental KG at the scaled KB reuses session dims and equals batch") {
    // Same equality contract as the toy test, at dimension scale: a
    // 20k-entity SyntheticKb (the ScaleKbSpec KB) whose session artifacts
    // (gazetteer broadcast, canonical map, link dim) are built ONCE and
    // shared by the batch run and every micro-batch — without KbDims each
    // batch would pay the full KB rebuild (BASELINE.md "KB-dimension probe
    // additions", round 5).
    val kbSize = 20000L
    val corpus = Corpus.generateScaled(spark, 200L, kbSize,
      numRepos = 20, seed = 42L, partitions = 4).persist()
    val dims = SyntheticKb.kbDims(spark, kbSize)
    val batchTriples = Pipeline.run(spark, corpus, kb = Some(dims)).triples
      .select("subject", "predicate", "obj", "inferred").collect().map(_.toSeq).toSet

    val inDir = java.nio.file.Files.createTempDirectory("graft-stream-skb-in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-stream-skb-out").toString
    // two micro-batches split on language (both halves non-empty: the scaled
    // plan draws lang uniformly from 5 values over 200 files)
    corpus.filter($"lang".isin("py", "md")).write.mode("append").parquet(inDir)
    corpus.filter(!$"lang".isin("py", "md")).write.mode("append").parquet(inDir)

    val q = StreamingOps.incrementalKg(spark,
      StreamingOps.corpusStream(spark, inDir), outDir, kb = Some(dims))
    q.awaitTermination(180000)

    val streamed = StreamingOps.readStreamTriples(spark, outDir)
      .select("subject", "predicate", "obj", "inferred").collect().map(_.toSeq).toSet
    assert(batchTriples.size > 200, "dense corpus should yield > 1 triple per file")
    assert(streamed == batchTriples,
      s"streamed ${streamed.size} vs batch ${batchTriples.size}")
    corpus.unpersist()
  }
}
