package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `parent` is the enclosing span
  * on the same thread (-1 at the root); `req`, the id of the root span,
  * ties every span of one request or query together. Times are
  * `System.nanoTime`. */
final case class Span(
    id: Long, name: String, parent: Long, req: Long, start: Long, end: Long)

/** In-memory span recorder. Each span sets the calling thread's Spark job
  * group to `span-<id>`, so [[JobListener]] can charge every job (and its
  * stages and tasks) to the innermost span that started it. Disabled, it
  * runs the body and records nothing. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)

  /** Id of the most recent span; spans started later have larger ids. */
  def lastId: Long = ids.get()

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      val parent = outer.headOption.map(_._1).getOrElse(-1L)
      val r = outer.headOption.map(_._2).getOrElse(id)
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      val prevDesc = sc.getLocalProperty("spark.job.description")
      sc.setJobGroup(s"span-$id", name)
      stack.set((id, r) :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, name, parent, r, t0, System.nanoTime()))
        stack.set(outer)
        if (prevGroup == null) sc.clearJobGroup()
        else sc.setJobGroup(prevGroup, prevDesc)
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)

  /** Duration minus the union of the child spans' intervals (children of
    * one span may overlap when a layer runs work concurrently). */
  def selfTimes: Map[Long, Long] = {
    val all = spans
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)).sortBy(_._1)
      var covered = 0L
      var (lo, hi) = (Long.MinValue, Long.MinValue)
      iv.foreach { case (a, b) =>
        if (a > hi) { if (hi > lo) covered += hi - lo; lo = a; hi = b }
        else hi = math.max(hi, b)
      }
      if (hi > lo) covered += hi - lo
      s.id -> math.max(0L, (s.end - s.start) - covered)
    }.toMap
  }

  /** Spans as JSON lines (times in seconds from the first span). */
  def writeJsonl(path: java.nio.file.Path, jobsBySpan: Map[Long, Int]): Unit = {
    val all = spans
    val t0 = if (all.isEmpty) 0L else all.map(_.start).min
    val self = selfTimes
    val lines = all.map { s =>
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"req":${s.req},""" +
        f""""start_s":${(s.start - t0) / 1e9}%.6f,"end_s":${(s.end - t0) / 1e9}%.6f,""" +
        f""""self_s":${self(s.id) / 1e9}%.6f,"jobs":${jobsBySpan.getOrElse(s.id, 0)}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Per-job totals of the scheduler and executor counters. */
final class JobStats(val jobId: Int, val span: Long) {
  var stages = 0
  var tasks = 0L
  var taskWaitMs = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** Charges jobs to spans through the job group and sums task metrics per
  * job. Task wait is task launch minus its stage's submission. */
final class JobListener extends SparkListener {
  private val jobs = mutable.Map.empty[Int, JobStats]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSubmitted = mutable.Map.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id")))
    val span = group.filter(_.startsWith("span-"))
      .map(_.stripPrefix("span-").toLong).getOrElse(-1L)
    val js = new JobStats(e.jobId, span)
    js.stages = e.stageInfos.size
    jobs(e.jobId) = js
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmitted(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); js <- jobs.get(jid)) {
      js.tasks += 1
      stageSubmitted.get(e.stageId).foreach(t =>
        js.taskWaitMs += math.max(0L, e.taskInfo.launchTime - t))
      val m = e.taskMetrics
      if (m != null) {
        js.runMs += m.executorRunTime
        js.cpuNs += m.executorCpuTime
        js.gcMs += m.jvmGCTime
        js.inputBytes += m.inputMetrics.bytesRead
        js.inputRecords += m.inputMetrics.recordsRead
        js.outputBytes += m.outputMetrics.bytesWritten
        js.shuffleBytes += m.shuffleReadMetrics.totalBytesRead
        js.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def all: Seq[JobStats] = synchronized(jobs.values.toSeq.sortBy(_.jobId))
}

/** Catalyst phase times of every completed query execution, with the
  * wall-clock start of its analysis phase so a phase can be placed in the
  * benchmark section that ran it. */
final case class PhaseTimes(startMs: Long, analysisMs: Long, optimizationMs: Long,
    planningMs: Long)

final class PhaseListener extends QueryExecutionListener {
  private val seen = new ConcurrentLinkedQueue[PhaseTimes]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    val start = ph.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
    seen.add(PhaseTimes(start, ms("analysis"), ms("optimization"), ms("planning")))
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def all: Seq[PhaseTimes] = seen.asScala.toSeq
}

/** Per-layer metrics derived from the spans, the job totals and the
  * catalyst phase times of one traced run. An "op" is one served request
  * or one batch query; per-op figures divide the totals of the jobs
  * charged to op spans (and their descendants) by the op count. */
final class Layers(tracer: Tracer, jobs: JobListener, phases: PhaseListener) {
  val spans: Seq[Span] = tracer.spans
  private val byId = spans.map(s => s.id -> s).toMap
  private val allJobs = jobs.all

  private def chain(id: Long): Iterator[Span] =
    Iterator.iterate(byId.get(id))(_.flatMap(s => byId.get(s.parent)))
      .takeWhile(_.isDefined).map(_.get)

  /** Jobs charged to a span matching `p` or to any of its descendants. */
  def jobsUnder(p: Span => Boolean): Seq[JobStats] =
    allJobs.filter(j => chain(j.span).exists(p))

  def named(prefix: String): Seq[Span] = spans.filter(_.name.startsWith(prefix))

  def seconds(s: Span): Double = (s.end - s.start) / 1e9

  def medianSeconds(name: String, keep: Span => Boolean = _ => true): Double = {
    val xs = spans.filter(s => s.name == name && keep(s)).map(seconds)
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }

  def totalSeconds(name: String): Double = spans.filter(_.name == name).map(seconds).sum

  /** Scheduler, executor and catalyst figures per op. `windows` are the
    * wall-clock intervals (epoch ms) of the timed op sections. */
  def perOp(isOp: Span => Boolean, windows: Seq[(Long, Long)], resultRows: Long,
      out: collection.mutable.Map[String, Double]): Unit = {
    val n = math.max(1, spans.count(isOp)).toDouble
    val js = jobsUnder(isOp)
    def sum(f: JobStats => Double) = js.map(f).sum
    val qes = phases.all.filter(p => windows.exists { case (a, b) => p.startMs >= a && p.startMs <= b })
    out("catalyst.analysis_s") = qes.map(_.analysisMs).sum / 1000.0 / n
    out("catalyst.optimization_s") = qes.map(_.optimizationMs).sum / 1000.0 / n
    out("catalyst.planning_s") = qes.map(_.planningMs).sum / 1000.0 / n
    out("sched.jobs_per_op") = js.size / n
    out("sched.stages_per_op") = sum(_.stages) / n
    out("sched.tasks_per_op") = sum(_.tasks.toDouble) / n
    out("sched.task_wait_s") = sum(_.taskWaitMs / 1000.0) / n
    out("exec.run_s") = sum(_.runMs / 1000.0) / n
    out("exec.cpu_s") = sum(_.cpuNs / 1e9) / n
    out("exec.gc_s") = sum(_.gcMs / 1000.0) / n
    out("exec.input_mb") = sum(_.inputBytes / 1048576.0) / n
    out("exec.rows_read_per_result") = sum(_.inputRecords.toDouble) / math.max(1L, resultRows)
    out("exec.shuffle_mb") = sum(_.shuffleBytes / 1048576.0) / n
    out("exec.spill_mb") = sum(_.spillBytes / 1048576.0) / n
  }

  def jobsBySpan: Map[Long, Int] = allJobs.groupBy(_.span).map { case (k, v) => k -> v.size }
}
