package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.jdk.CollectionConverters._

/** One clock for spans and Spark events: epoch microseconds, advanced
  * by `nanoTime` so span durations are monotonic. */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseMicros = System.currentTimeMillis() * 1000L
  def micros(): Long = baseMicros + (System.nanoTime() - baseNano) / 1000L
}

/** Spark counts attributed to a span (or to a whole run). */
final case class SparkCounts(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
                             taskRunMs: Long = 0, taskCpuNs: Long = 0, gcMs: Long = 0,
                             shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0,
                             spillBytes: Long = 0, recordsRead: Long = 0) {
  def +(o: SparkCounts): SparkCounts = SparkCounts(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, taskRunMs + o.taskRunMs, taskCpuNs + o.taskCpuNs, gcMs + o.gcMs,
    shuffleReadBytes + o.shuffleReadBytes, shuffleWriteBytes + o.shuffleWriteBytes,
    spillBytes + o.spillBytes, recordsRead + o.recordsRead)
  def toMap: Map[String, Any] = Map("jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_run_s" -> taskRunMs / 1000.0, "task_cpu_s" -> taskCpuNs / 1e9,
    "gc_s" -> gcMs / 1000.0, "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes,
    "records_read" -> recordsRead)
}

object SparkCounts {
  def ofStage(s: StageInfo): SparkCounts = {
    val m = s.taskMetrics
    if (m == null) SparkCounts(stages = 1, tasks = s.numTasks)
    else SparkCounts(stages = 1, tasks = s.numTasks,
      taskRunMs = m.executorRunTime, taskCpuNs = m.executorCpuTime, gcMs = m.jvmGCTime,
      shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
      shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
      spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled,
      recordsRead = m.inputMetrics.recordsRead)
  }
}

/** A Spark job as the listener saw it, with the submitting thread's
  * span property. */
final case class Job(id: Int, startUs: Long, span: Option[Long], stageIds: Seq[Int]) {
  @volatile var endUs: Long = Long.MaxValue
}

/**
 * Records every Spark job and completed stage, with the span property
 * the submitting thread had set. Installed on every run: the untraced
 * run uses it only to count jobs, the traced run also to stamp spans.
 */
final class Collector extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentHashMap[Int, StageInfo]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val j = Job(e.jobId, e.time * 1000L,
      p.flatMap(x => Option(x.getProperty(Trace.SpanProp))).map(_.toLong), e.stageIds)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endUs = e.time * 1000L)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.put(e.stageInfo.stageId, e.stageInfo)

  /** Jobs whose start lies in [fromUs, toUs]. */
  def jobsBetween(fromUs: Long, toUs: Long): Seq[Job] =
    jobs.values.asScala.filter(j => j.startUs >= fromUs && j.startUs <= toUs).toSeq.sortBy(_.id)

  /** Completed stages a job ran (a stage shared with an earlier job
    * counts for that job only). */
  def stagesOf(j: Job): Seq[StageInfo] =
    j.stageIds.flatMap(s => Option(stages.get(s)).filter(_ => stageJob.get(s) == j.id))

  def countsOfJob(j: Job): SparkCounts =
    stagesOf(j).map(SparkCounts.ofStage).foldLeft(SparkCounts(jobs = 1))(_ + _)
}

/** A traced call: name, start, end, parent span, request id. */
final class Span(val id: Long, val parent: Long, val name: String, val req: Long,
                 val thread: String, val startUs: Long) {
  @volatile var endUs: Long = -1
  val attrs = new ConcurrentHashMap[String, Any]()
  def durUs: Long = endUs - startUs
}

/**
 * Span recorder. A span is (name, start, end, parent, request id);
 * spans nest per thread. While a span is open its id is set as a Spark
 * local property on the calling thread, so jobs that thread submits
 * carry it. Jobs submitted from other threads (the program's own
 * `Par` pools) are attributed by time window instead: to the innermost
 * span open at the job's start, when exactly one request's spans are
 * open; otherwise the job is counted as unattributed. An inherited
 * property is trusted only while its span is still open.
 *
 * With `enabled = false` no span is kept and `span` only runs its body.
 */
final class Trace(val enabled: Boolean, sc: SparkContext) {
  import Trace._

  private val ids = new AtomicLong
  private val all = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Span]] { override def initialValue() = Nil }

  def span[T](name: String, req: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val parentStack = stack.get
      val parent = parentStack.headOption
      val s = new Span(ids.incrementAndGet(), parent.map(_.id).getOrElse(0L), name,
        if (req >= 0) req else parent.map(_.req).getOrElse(-1L),
        Thread.currentThread.getName, Clock.micros())
      all.add(s)
      stack.set(s :: parentStack)
      val prevProp = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.endUs = Clock.micros()
        stack.set(parentStack)
        sc.setLocalProperty(SpanProp, prevProp)
      }
    }

  /** Attach an attribute to the innermost open span of this thread. */
  def attr(k: String, v: Any): Unit =
    if (enabled) stack.get.headOption.foreach(_.attrs.put(k, v))

  def spans: Seq[Span] = all.asScala.toSeq.sortBy(_.id)
}

/** Spans of a finished phase matched against the jobs Spark ran in
  * [fromUs, toUs]. */
final class Analysis(trace: Trace, c: Collector, fromUs: Long, toUs: Long) {
  import Trace.coveredUs
  val spanList: Seq[Span] = trace.spans.filter(_.endUs >= 0)
  private val byId = spanList.map(s => s.id -> s).toMap
  val children: Map[Long, Seq[Span]] = spanList.groupBy(_.parent)
  private val slackUs = 2000L

  private def open(s: Span, t: Long) = t >= s.startUs - slackUs && t <= s.endUs + slackUs

  /** Job -> span id (None when unattributable). */
  val jobSpan: Map[Int, Option[Long]] = c.jobsBetween(fromUs, toUs).map { j =>
    val viaProp = j.span.flatMap(byId.get).filter(s => open(s, j.startUs))
    val attributed = viaProp.orElse {
      val live = spanList.filter(s => open(s, j.startUs))
      val reqs = live.map(_.req).distinct
      if (reqs.size == 1) Some(live.maxBy(s => (s.startUs, s.id))) else None
    }
    j.id -> attributed.map(_.id)
  }.toMap

  val unattributed: Int = jobSpan.count(_._2.isEmpty)
  private val jobsById = c.jobsBetween(fromUs, toUs).map(j => j.id -> j).toMap

  val selfCounts: Map[Long, SparkCounts] = jobSpan.toSeq.collect {
    case (jid, Some(sid)) => sid -> c.countsOfJob(jobsById(jid))
  }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).reduce(_ + _) }

  /** Counts of a span and all its descendants. */
  def inclusive(s: Span): SparkCounts =
    children.getOrElse(s.id, Nil).map(inclusive)
      .foldLeft(selfCounts.getOrElse(s.id, SparkCounts()))(_ + _)

  /** Jobs attributed to a span or its descendants. */
  def jobsUnder(s: Span): Seq[Job] = {
    val ids = descendants(s).map(_.id).toSet + s.id
    jobSpan.collect { case (jid, Some(sid)) if ids(sid) => jobsById(jid) }.toSeq
  }

  def descendants(s: Span): Seq[Span] =
    children.getOrElse(s.id, Nil).flatMap(ch => ch +: descendants(ch))

  /** Self time: duration minus the part of it child spans cover. */
  def selfUs(s: Span): Long = s.durUs - coveredUs(s.startUs, s.endUs,
    children.getOrElse(s.id, Nil).map(ch => (ch.startUs, ch.endUs)))

  /** Time in [s.start, s.end] with no attributed Spark job running. */
  def driverOnlyUs(s: Span): Long = s.durUs - coveredUs(s.startUs, s.endUs,
    jobsUnder(s).map(j => (j.startUs, math.min(j.endUs, s.endUs))))

  def writeJsonl(out: java.io.File): Unit = {
    out.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(out, "UTF-8")
    try spanList.foreach { s =>
      val attrs = s.attrs.asScala.toMap
      w.println(Stats.json(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "req" -> s.req, "thread" -> s.thread, "start_us" -> s.startUs, "end_us" -> s.endUs,
        "dur_ms" -> s.durUs / 1000.0, "self_ms" -> selfUs(s) / 1000.0,
        "attrs" -> attrs, "spark_self" -> selfCounts.getOrElse(s.id, SparkCounts()).toMap,
        "spark" -> inclusive(s).toMap)))
    } finally w.close()
  }
}

object Trace {
  val SpanProp = "perfbench.span"

  /** Length of the union of intervals clipped to [from, to]. */
  def coveredUs(from: Long, to: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
