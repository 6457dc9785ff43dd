package perfbench

import org.apache.spark.sql.SparkSession
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The run's arguments. Every size is an argument without a default: run.py
 * sets each in one place, and a workload reads the ones it needs. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: Path, args: Map[String, String]) {
  val cores: Int = Runtime.getRuntime.availableProcessors

  def need(key: String): String = args.getOrElse(key,
    throw new IllegalArgumentException(s"--$key is required by workload $workload"))
}

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
      case other => throw new IllegalArgumentException(s"bad arguments ${other.mkString(" ")}")
    }.toMap
    Opts(workload = m("workload"), seed = m("seed").toLong, seconds = m("seconds").toDouble,
      trace = m("trace") == "1", work = Paths.get(m("work")).toAbsolutePath, args = m)
  }
}

/**
 * One workload run in a fresh JVM: cold setup, a first pass, the workload's
 * unmeasured warm-up passes, then measured warm passes for the given
 * seconds, each pass checked against its golden outside the timed region. Writes result.json (and spans.json when traced) under
 * --work; run.py turns them into the benchmark's metrics.
 *
 * Usage: Harness --workload kg_incremental|ops_suite --seed N --seconds S
 *   --trace 0|1 --work DIR, then for kg_incremental --kb M --batch-files B,
 *   for ops_suite --data DIR --queries q1,q2,..
 */
object Harness {
  /** measured warm passes a run makes at least, whatever --seconds says */
  val MinWarm = 3
  val MaxPasses = 10000
  val MinSpanCoverage = 0.9

  private def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** CPU time of this JVM, all threads (tasks, GC, JIT), in seconds */
  def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** old-generation occupancy after a full GC, in MB */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.contains("Old Gen")).map(_.getUsage.getUsed).sum / 1e6
  }

  def main(args: Array[String]): Unit = {
    val jvmUptimeS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val o = Opts.parse(args)
    Files.createDirectories(o.work)
    val rec = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace, "cores" -> o.cores,
      "args" -> o.args, "jvm_uptime_at_start_s" -> jvmUptimeS)
    def write(): Unit = Files.writeString(o.work.resolve("result.json"), Json.obj(rec.toSeq))

    // setup_s is a cold read: no session may exist in this JVM before it
    require(SparkSession.getDefaultSession.isEmpty && SparkSession.getActiveSession.isEmpty,
      "a Spark session already exists in this JVM; setup would not be cold")
    val t0 = System.nanoTime()
    val spark = Session.start(o)
    val sessionS = since(t0)
    try {
      spark.sparkContext.setLogLevel("WARN")
      val tracer = if (o.trace) Some(new Tracer(spark.sparkContext)) else None
      val wl = Workload(spark, o)
      val t1 = System.nanoTime()
      val coldJobs = wl.setup(tracer)
      val kbS = since(t1)
      // a warm artifact lookup runs no Spark job; a KG setup that ran none
      // was served from a cache and is not the cold build it claims to be
      if (o.workload != "ops_suite")
        require(coldJobs > 0, s"KB artifact setup ran no Spark job: not a cold build")
      rec ++= Seq("session_s" -> sessionS, "kb_s" -> kbS, "setup_s" -> (sessionS + kbS),
        "setup_jobs" -> coldJobs, "units" -> wl.units)
      tracer.foreach(t => rec("setup_layers") = wl.setupLayers(t))

      val passes = mutable.ArrayBuffer[mutable.LinkedHashMap[String, Any]]()
      var attempted = 0
      var failed = 0
      var consecutiveFails = 0

      /** one pass, checked; traced passes run inside a root span */
      def runPass(i: Int, traced: Boolean, warmup: Boolean = false): Unit = {
        val p = mutable.LinkedHashMap[String, Any]("pass" -> i, "traced" -> traced,
          "warmup" -> warmup)
        passes += p
        attempted += 1
        try {
          wl.prepare(i)
          val cpu0 = processCpuS()
          val secs = tracer.filter(_ => traced) match {
            case Some(t) =>
              t.span("pass", i)(wl.pass(i, Some(t)))
              t.named("pass", i).get.seconds
            case None =>
              val tp = System.nanoTime()
              wl.pass(i, None)
              since(tp)
          }
          p("seconds") = secs
          p("cpu_s") = processCpuS() - cpu0
          var err = wl.check(i)
          if (traced) {
            val layers = wl.layers(i, tracer.get)
            p("layers") = layers
            // a trace whose child spans leave much of the pass unexplained
            // attributes the wrong stage
            layers.get("trace.span_coverage").filter(_ < MinSpanCoverage).foreach { c =>
              err = err.orElse(Some(f"child spans cover $c%.3f of the traced pass"))
            }
          } else p("live_heap_mb") = liveHeapMb()
          err.foreach(e => p("error") = e)
          p("ok") = err.isEmpty
        } catch {
          case NonFatal(e) =>
            p("ok") = false
            p("error") = s"${e.getClass.getName}: ${e.getMessage}".take(2000)
        } finally {
          try wl.release(i) catch { case NonFatal(_) => () }
        }
        val ok = p("ok") == true
        if (!ok) failed += 1
        consecutiveFails = if (ok) 0 else consecutiveFails + 1
        if (!ok) System.err.println(s"[perfbench] pass $i failed: ${p("error")}")
      }

      runPass(0, traced = false) // first pass after setup: the cold read
      val warmup = wl.warmupPasses
      (1 to warmup).foreach(i => runPass(i, traced = false, warmup = true))
      var i = 1 + warmup
      val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
      // traced runs alternate traced and untraced passes (at least two each),
      // for the overhead
      def enough = {
        val measured = passes.count(p => p("pass") != 0 && p("warmup") == false)
        System.nanoTime() >= deadline && measured >= (if (o.trace) MinWarm + 1 else MinWarm)
      }
      while (!enough && consecutiveFails < 3 && i < MaxPasses) {
        runPass(i, traced = o.trace && (i - warmup) % 2 == 1)
        i += 1
      }
      rec ++= Seq("attempted" -> attempted, "failed" -> failed, "passes" -> passes)
      tracer.foreach(t => Files.writeString(o.work.resolve("spans.json"), t.toJson))
      write()
    } finally spark.stop()
  }
}

object Session {
  /** The program's bench configuration at this host's core count, with all
   * scratch space inside the benchmark's work directory. */
  def start(o: Opts): SparkSession = SparkSession.builder()
    .master(s"local[${o.cores}]")
    .appName(s"perfbench-${o.workload}")
    .config("spark.sql.shuffle.partitions", o.cores.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
    .config("spark.sql.files.maxPartitionBytes", "8m")
    .config("spark.buffer.pageSize", "4m")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", o.work.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
    .getOrCreate()
}
