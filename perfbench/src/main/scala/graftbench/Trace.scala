package graftbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One finished span: the benchmark's call into a layer. Times are
  * nanoseconds since the tracer started; `parent` 0 is the root.
  */
final case class Span(id: Int, parent: Int, trace: Int, name: String, start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** Spark work of one job, summed over its tasks. `span` is the span
  * that submitted it; `module` is the innermost engine object on the
  * job's call site (e.g. `operators.Dedup`), or `other`.
  */
final class JobCounters(val span: Int, val module: String, val submitMs: Long) {
  var endMs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var shuffleWriteBytes = 0L
  var taskWaitMs = 0L
  def wallS: Double = math.max(0L, endMs - submitMs) / 1e3
}

/** Sum of a set of jobs' counters. */
final case class SparkTotals(
    jobs: Int, tasks: Long, cpuS: Double, gcS: Double, inputBytes: Long,
    outputBytes: Long, shuffleWriteBytes: Long, taskWaitS: Double, busyS: Double)

object SparkTotals {
  def of(js: Iterable[JobCounters]): SparkTotals = SparkTotals(
    js.size, js.map(_.tasks).sum, js.map(_.cpuNs).sum / 1e9, js.map(_.gcMs).sum / 1e3,
    js.map(_.inputBytes).sum, js.map(_.outputBytes).sum, js.map(_.shuffleWriteBytes).sum,
    js.map(_.taskWaitMs).sum / 1e3, js.map(_.wallS).sum)
}

/** Spans around the benchmark's calls into the engine plus a
  * SparkListener whose job counters are attributed to the enclosing
  * span (through a job-local property, which the engine's worker pools
  * inherit) and to the engine module on the job's call site. Disabled,
  * `span` just runs its body and no listener is registered.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val SpanProp = "graftbench.span"
  private val t0 = System.nanoTime()
  private val nextId = new AtomicInteger(0)
  private val finished = mutable.ArrayBuffer[Span]()
  // (span id, trace id) of the innermost open span on this thread
  private val current = new InheritableThreadLocal[(Int, Int)]
  private val muted = new InheritableThreadLocal[Boolean] { override def initialValue = false }
  private val jobs = mutable.LinkedHashMap[Int, JobCounters]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stageSubmitMs = mutable.Map[Int, Long]()
  private val execModule = mutable.Map[Long, String]()

  @volatile private var recording = true

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) jobs.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt).getOrElse(0)
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
      // jobs an adaptive plan submits from its own threads carry no
      // engine frame: they take the module of their SQL execution
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => execModule.get(id.toLong))
      val module = exec.getOrElse(Tracer.moduleOf(site))
      if (span >= 0) jobs(e.jobId) = new JobCounters(span, module, e.time)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => jobs.synchronized {
        val m = Tracer.moduleOf(x.details)
        if (m != "other") execModule(x.executionId) = m
      }
      case _ => ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = jobs.synchronized {
      stageSubmitMs(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
      for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
        j.tasks += 1
        stageSubmitMs.get(e.stageId).foreach { s =>
          j.taskWaitMs += math.max(0L, e.taskInfo.launchTime - s)
        }
        val m = e.taskMetrics
        if (m != null) {
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.inputBytes += m.inputMetrics.bytesRead
          j.outputBytes += m.outputMetrics.bytesWritten
          j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Run `body` inside a span named `name`. `newTrace` starts a fresh
    * trace id (one per benchmark operation); otherwise the span joins
    * its parent's trace.
    */
  def span[T](name: String, newTrace: Boolean = false)(body: => T): T =
    if (!enabled || muted.get) body
    else {
      val parent = Option(current.get)
      val id = nextId.incrementAndGet()
      val trace = parent.filterNot(_ => newTrace).map(_._2).getOrElse(id)
      val prevProp = sc.getLocalProperty(SpanProp)
      current.set((id, trace))
      sc.setLocalProperty(SpanProp, id.toString)
      val start = System.nanoTime() - t0
      try body
      finally {
        val end = System.nanoTime() - t0
        if (recording) finished.synchronized(finished += Span(id, parent.map(_._1).getOrElse(0), trace, name, start, end))
        current.set(parent.orNull)
        sc.setLocalProperty(SpanProp, prevProp)
      }
    }

  /** Run `body` with no spans and no job counters recorded (warm-up
    * inside the traced window).
    */
  def untraced[T](body: => T): T =
    if (!enabled) body
    else {
      val prevProp = sc.getLocalProperty(SpanProp)
      muted.set(true)
      sc.setLocalProperty(SpanProp, "-1")
      try body
      finally { muted.set(false); sc.setLocalProperty(SpanProp, prevProp) }
    }

  /** Forget everything recorded so far: the traced window starts here
    * (set-up and warm-up spans and jobs are not part of it).
    */
  def restart(): Unit = if (enabled) {
    org.apache.spark.graftbench.BusBridge.drain(sc)
    finished.synchronized(finished.clear())
    jobs.synchronized { jobs.clear(); stageJob.clear(); stageSubmitMs.clear(); execModule.clear() }
  }

  /** End the traced window: later spans and jobs are not recorded, and
    * every queued listener event of the window is delivered.
    */
  def stop(): Unit = if (enabled) {
    recording = false
    org.apache.spark.graftbench.BusBridge.drain(sc)
  }

  def spans: Seq[Span] = finished.synchronized(finished.toSeq)

  def named(name: String): Seq[Span] = spans.filter(_.name == name)

  /** Ids of every span named `name` and all their descendants. */
  private def subtreeIds(name: String): Set[Int] = {
    val all = spans
    val kids = all.groupBy(_.parent)
    var frontier = all.filter(_.name == name).map(_.id)
    val out = mutable.Set[Int]()
    while (frontier.nonEmpty) {
      out ++= frontier
      frontier = frontier.flatMap(id => kids.getOrElse(id, Nil).map(_.id))
    }
    out.toSet
  }

  private def jobList: Seq[JobCounters] = jobs.synchronized(jobs.values.toSeq)

  /** Spark work submitted under spans named `names` (children included). */
  def sparkUnder(names: String*): SparkTotals = {
    val ids = names.flatMap(subtreeIds).toSet
    SparkTotals.of(jobList.filter(j => ids(j.span)))
  }

  /** Spark work of the jobs whose call site is in one of `modules`. */
  def sparkOfModules(modules: String*): SparkTotals =
    SparkTotals.of(jobList.filter(j => modules.contains(j.module)))

  /** Self time of each span: its duration minus the union of its
    * children's intervals (children may overlap: the Runner's pool runs
    * sibling jobs concurrently).
    */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.start max s.start, k.end min s.end))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    kids.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = curB max b
    }
    covered += curB - curA
    (s.end - s.start - covered) / 1e9
  }

  /** Spans and job counters as JSON lines, for the trace file. */
  def dump(): Seq[String] = {
    val js = jobList
    val bySpan = js.groupBy(_.span)
    spans.sortBy(_.start).map { s =>
      val t = SparkTotals.of(bySpan.getOrElse(s.id, Nil))
      Json.obj(
        "span" -> s.id, "parent" -> s.parent, "trace" -> s.trace, "name" -> s.name,
        "start_s" -> s.start / 1e9, "end_s" -> s.end / 1e9, "self_s" -> selfSeconds(s),
        "spark_jobs" -> t.jobs, "spark_tasks" -> t.tasks, "executor_cpu_s" -> t.cpuS,
        "gc_s" -> t.gcS, "input_bytes" -> t.inputBytes, "output_bytes" -> t.outputBytes,
        "shuffle_write_bytes" -> t.shuffleWriteBytes, "task_wait_s" -> t.taskWaitS,
        "modules" -> Json.Raw(Json.obj(bySpan.getOrElse(s.id, Nil).groupBy(_.module).toSeq
          .sortBy(_._1).map { case (m, g) => m -> (g.size: Any) }: _*)))
    }
  }
}

object Tracer {

  /** Engine module of a job from its long-form call site: the innermost
    * `graft.*` frame, as `package.Object` (`operators.Dedup`,
    * `plans.MetaStore`, `LakeDriver`); the benchmark's own frames
    * (`graftbench.*`) never match. A job with no engine frame is `other`.
    */
  def moduleOf(callSite: String): String =
    callSite.split('\n').iterator.map(_.trim)
      .filter(_.startsWith("graft."))
      .map { f =>
        val method = f.takeWhile(_ != '(')
        method.take(method.lastIndexOf('.')).takeWhile(_ != '$').stripPrefix("graft.")
      }
      .find(_.nonEmpty)
      .getOrElse("other")
}
