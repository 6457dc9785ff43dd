package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Engine counters of one job group (one span of one pass). */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** executor run time of every task, per stage (task skew) */
  val stageTaskMs = mutable.LinkedHashMap[Int, mutable.ArrayBuffer[Long]]()

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    gcMs += o.gcMs; shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    o.stageTaskMs.foreach { case (s, ts) =>
      stageTaskMs.getOrElseUpdate(s, mutable.ArrayBuffer[Long]()) ++= ts
    }
  }

  def shuffleMb: Double = shuffleWriteBytes / 1e6
  def spillMb: Double = spillBytes / 1e6

  /** max / median task time per stage, weighted by the stage's task time;
   * stages with a single task carry no skew and are left out */
  def taskSkew: Double = {
    val multi = stageTaskMs.values.filter(_.size > 1).toSeq
    val weight = multi.map(_.sum.toDouble).sum
    if (weight <= 0) 1.0
    else multi.map { ts =>
      val sorted = ts.sorted
      val med = math.max(1L, sorted(sorted.size / 2))
      sorted.last.toDouble / med * ts.sum / weight
    }.sum
  }
}

/** Attributes task metrics to the job group active when each stage was
 * submitted. Owned by the benchmark; the program registers no listener. */
final class EngineListener extends SparkListener {
  private val stageGroup = mutable.HashMap[Int, String]()
  private val groups = mutable.HashMap[String, Counters]()

  private def groupOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    groupOf(e.properties).foreach(g => groups.getOrElseUpdate(g, new Counters).jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    groupOf(e.properties).foreach { g =>
      stageGroup(e.stageInfo.stageId) = g
      groups.getOrElseUpdate(g, new Counters).stages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val c = groups.getOrElseUpdate(g, new Counters)
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
        c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) += m.executorRunTime
      }
    }
  }

  def counters(group: String): Counters = synchronized {
    val c = new Counters
    groups.get(group).foreach(c += _)
    c
  }
}

/** One timed interval around a call into a layer. */
final case class Span(id: Int, name: String, pass: Int, parent: Int,
    startNs: Long, var endNs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
  def group: String = s"p$pass/$name"
}

/**
 * In-memory span recorder. Each span sets a job group named after itself,
 * so [[EngineListener]] attributes the Spark work inside it; a span's
 * callers force its output (persist, then count) so that the work lands
 * inside the span and not in a later one.
 */
final class Tracer(sc: SparkContext) {
  val listener = new EngineListener
  sc.addSparkListener(listener)
  val spans = mutable.ArrayBuffer[Span]()
  private val open = mutable.Stack[Span]()

  def span[T](name: String, pass: Int)(f: => T): T = {
    val s = Span(spans.size, name, pass, open.headOption.map(_.id).getOrElse(-1), System.nanoTime())
    spans += s
    open.push(s)
    sc.setJobGroup(s.group, name, interruptOnCancel = false)
    try f
    finally {
      s.endNs = System.nanoTime()
      open.pop()
      open.headOption match {
        case Some(p) => sc.setJobGroup(p.group, p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  def named(name: String, pass: Int): Option[Span] =
    spans.find(s => s.name == name && s.pass == pass)

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** Share of the span's wall covered by its children (union of intervals). */
  def childCoverage(s: Span): Double = {
    val ivs = children(s).map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    ivs.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    covered.toDouble / math.max(1L, s.endNs - s.startNs)
  }

  def selfSeconds(s: Span): Double = s.seconds * (1.0 - childCoverage(s))

  /** Counters of a span and all its descendants. */
  def counters(s: Span): Counters = {
    org.apache.spark.PerfbenchBus.drain(sc)
    val c = listener.counters(s.group)
    children(s).foreach(ch => c += counters(ch))
    c
  }

  def toJson: String = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    spans.map { s =>
      val c = listener.counters(s.group)
      Json.obj(Seq("id" -> s.id, "name" -> s.name, "pass" -> s.pass, "parent" -> s.parent,
        "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
        "self_s" -> selfSeconds(s), "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "task_s" -> c.taskMs / 1e3, "gc_s" -> c.gcMs / 1e3, "shuffle_mb" -> c.shuffleMb,
        "spill_mb" -> c.spillMb))
    }.mkString("[\n", ",\n", "\n]\n")
  }
}
