package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed region: a call into a library layer, or a benchmark step
  * that groups such calls. Times are nanoTime for durations and epoch
  * milliseconds for overlap with Spark job events. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long,
    startMs: Long, var endNs: Long = 0L, var endMs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Engine counters of one job, accumulated from listener events. */
final class JobStats(val group: Int, val startMs: Long) {
  var endMs: Long = startMs
  var stages = 0
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var waitMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
}

/** Attributes Spark jobs, stages and tasks to the benchmark span that was
  * innermost when the job started: each span sets its id as the job
  * group of the calling thread (which Spark propagates to the threads
  * that run broadcasts and subqueries for it). */
final class EngineListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobStats]
  private val stageJob = mutable.HashMap.empty[Int, JobStats]
  private val stageSubmitted = mutable.HashMap.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(_.toIntOption).getOrElse(-1)
    val js = new JobStats(g, e.time)
    jobs(e.jobId) = js
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = js)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmitted(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { js =>
      js.tasks += 1
      stageSubmitted.get(e.stageId).foreach { sub =>
        js.waitMs += math.max(0L, e.taskInfo.launchTime - sub)
      }
      val m = e.taskMetrics
      if (m != null) {
        js.runMs += m.executorRunTime
        js.cpuNs += m.executorCpuTime
        js.gcMs += m.jvmGCTime
        js.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        js.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        js.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

/** In-memory span recorder. Disabled, [[span]] is a plain call, so the
  * untraced run pays nothing but a branch. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  def span[T](name: String)(f: => T): T = {
    if (!enabled) return f
    val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
      System.nanoTime(), System.currentTimeMillis())
    spans += s
    stack = s :: stack
    sc.setJobGroup(s.id.toString, name)
    try f
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(p.id.toString, p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  private var childIndex: (Int, Map[Int, Seq[Span]]) = (-1, Map.empty)
  private def children: Map[Int, Seq[Span]] = {
    if (childIndex._1 != spans.size) childIndex = (spans.size, spans.toSeq.groupBy(_.parent))
    childIndex._2
  }

  /** The span and all spans below it. */
  def subtree(s: Span): Seq[Span] =
    s +: children.getOrElse(s.id, Nil).flatMap(subtree)

  /** Duration minus the part of it covered by child spans. */
  def selfSeconds(s: Span): Double = {
    val covered = children.getOrElse(s.id, Nil).map(_.seconds).sum
    s.seconds - covered
  }

  /** Total seconds of all spans with this name. */
  def total(name: String): Double = spans.filter(_.name == name).map(_.seconds).sum

  def count(name: String): Int = spans.count(_.name == name)

  /** Jobs started inside `s` or any span below it. */
  def jobsOf(s: Span, l: EngineListener): Seq[JobStats] = {
    val ids = subtree(s).map(_.id).toSet
    l.synchronized(l.jobs.values.filter(j => ids(j.group)).toSeq)
  }

  /** Mean number of jobs per span named `name`. */
  def jobsPerSpan(name: String, l: EngineListener): Double = {
    val ss = spans.filter(_.name == name)
    if (ss.isEmpty) 0.0 else ss.map(s => jobsOf(s, l).size).sum.toDouble / ss.size
  }

  /** Span time not covered by any of the span's jobs: driver-side work
    * (plan building, planning, result handling) plus scheduling gaps. */
  def driverSelfSeconds(s: Span, l: EngineListener): Double = {
    val iv = jobsOf(s, l).map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0.0, s.seconds - covered / 1e3)
  }

  /** Spans as JSON lines, each with its self time. */
  def toJson: String = spans.map { s =>
    f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
      f""""start_ms":${s.startMs},"end_ms":${s.endMs},"dur_s":${s.seconds}%.6f,""" +
      f""""self_s":${selfSeconds(s)}%.6f}"""
  }.mkString("\n")
}

/** Per-workload engine counters over a set of root spans. */
object EngineCounters {
  def apply(tr: Tracer, l: EngineListener, roots: Seq[Span]): Map[String, Double] = {
    val js = roots.flatMap(r => tr.jobsOf(r, l))
    val mb = 1024.0 * 1024.0
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> js.map(_.stages).sum.toDouble,
      "spark.tasks" -> js.map(_.tasks).sum.toDouble,
      "spark.task_run_s" -> js.map(_.runMs).sum / 1e3,
      "spark.task_cpu_s" -> js.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> js.map(_.gcMs).sum / 1e3,
      "spark.task_wait_s" -> js.map(_.waitMs).sum / 1e3,
      "spark.shuffle_write_mb" -> js.map(_.shuffleWrite).sum / mb,
      "spark.shuffle_read_mb" -> js.map(_.shuffleRead).sum / mb,
      "spark.spill_mb" -> js.map(_.spill).sum / mb,
      "spark.driver_self_s" -> roots.map(r => tr.driverSelfSeconds(r, l)).sum)
  }
}
