package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark work attributed to one span. A span owns the jobs launched
  * under its job group; `inclusive` adds every descendant's. */
final class Counts {
  var jobs, tasks, jobWallMs, taskRunMs, taskCpuNs, gcMs = 0L
  var shuffleWriteBytes, spillBytes, bytesWritten, codegenClasses = 0L
  var codegenMs = 0.0
  /** (start, end) epoch ms of each finished job. */
  val jobIntervals = ArrayBuffer.empty[(Long, Long)]

  /** Time at least one job was running: the union of the job
    * intervals (jobs of one span can overlap, e.g. broadcasts). */
  def busyMs: Long = {
    var busy, end = 0L
    jobIntervals.sortBy(_._1).foreach { case (a, b) =>
      if (a >= end) { busy += b - a; end = b }
      else if (b > end) { busy += b - end; end = b }
    }
    busy
  }

  def add(o: Counts): Unit = {
    jobs += o.jobs; tasks += o.tasks; jobWallMs += o.jobWallMs
    taskRunMs += o.taskRunMs; taskCpuNs += o.taskCpuNs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    bytesWritten += o.bytesWritten; codegenClasses += o.codegenClasses
    codegenMs += o.codegenMs
    jobIntervals ++= o.jobIntervals
  }
}

final class Span(val id: Int, val name: String, val parent: Int,
    val startNs: Long) {
  var endNs = 0L
  val own = new Counts
  val inclusive = new Counts
  var childNs = 0L
  def wallS: Double = (endNs - startNs) / 1e9
  def selfS: Double = (endNs - startNs - childNs) / 1e9
}

/** In-memory span recorder for the traced run. Each span runs its body
  * under a job group of its own, so the listener can attribute jobs,
  * stages and task metrics to the span that launched them; codegen
  * compiles are attributed to the innermost open span (the benchmark
  * has one client thread). With `enabled = false` a span is just its
  * body: no job groups, no attribution, no log hook; the listener then
  * only sums the run's task CPU, which every run reports in its
  * contention stamp. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  @volatile private var current: Span = null
  private val byGroup = new ConcurrentHashMap[String, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val jobStart = new ConcurrentHashMap[Int, (Span, Long)]()
  val totalTaskCpuNs = new AtomicLong()
  private val unattributed = new Counts
  private val codegenBefore = codegenCount()

  private def group(s: Span) = s"perfbench-${s.id}"

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
        .orNull
      val s = if (g == null) null else byGroup.get(g)
      if (s == null) unattributed.synchronized { unattributed.jobs += 1 }
      else {
        jobStart.put(e.jobId, (s, e.time))
        e.stageIds.foreach(stageSpan.put(_, s))
        s.own.synchronized { s.own.jobs += 1 }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (s, t) =>
        s.own.synchronized {
          s.own.jobWallMs += e.time - t
          s.own.jobIntervals += ((t, e.time))
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        totalTaskCpuNs.addAndGet(m.executorCpuTime)
        if (enabled) {
          val s = stageSpan.get(e.stageId)
          val c = if (s == null) unattributed else s.own
          c.synchronized {
            c.tasks += 1
            c.taskRunMs += m.executorRunTime
            c.taskCpuNs += m.executorCpuTime
            c.gcMs += m.jvmGCTime
            c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            c.bytesWritten += m.outputMetrics.bytesWritten
          }
        }
      }
    }
  })

  // CodeGenerator logs one "Code generated in <ms> ms" line per actual
  // compile (cache hits are silent); hooking that logger at INFO gives
  // exact per-span compile counts and times without touching the root
  // log level.
  if (enabled) {
    val name = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val app = new AbstractAppender("perfbench-codegen", null, null, true,
        Property.EMPTY_ARRAY) {
      private val Generated = """Code generated in ([0-9.]+) ms""".r.unanchored
      override def append(e: LogEvent): Unit =
        e.getMessage.getFormattedMessage match {
          case Generated(ms) =>
            val s = current
            val c = if (s == null) unattributed else s.own
            c.synchronized { c.codegenClasses += 1; c.codegenMs += ms.toDouble }
          case _ =>
        }
    }
    app.start()
    val lc = new LoggerConfig(name, Level.INFO, false)
    lc.addAppender(app, Level.INFO, null)
    ctx.getConfiguration.addLogger(name, lc)
    ctx.updateLoggers()
  }

  private def codegenCount(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      .getCount

  /** Run `body` as span `name`, a child of the innermost open span. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.length, name, stack.headOption.fold(-1)(_.id),
        System.nanoTime())
      spans += s
      byGroup.put(group(s), s)
      stack = s :: stack
      current = s
      sc.setJobGroup(group(s), name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        current = stack.headOption.orNull
        stack.headOption match {
          case Some(p) => sc.setJobGroup(group(p), p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Wait for every posted listener event, then roll counts and child
    * time up the span tree. Call once, after the last span closed. */
  def finish(): Seq[Span] = {
    org.apache.spark.perfbench.BusDrain(sc)
    spans.foreach(s => s.inclusive.add(s.own))
    spans.reverseIterator.filter(_.parent >= 0).foreach { s =>
      val p = spans(s.parent)
      p.inclusive.add(s.inclusive)
      p.childNs += s.endNs - s.startNs
    }
    spans.toSeq
  }

  def unattributedCounts: Counts = unattributed

  /** Id the next span will get. */
  def nextSpanId: Int = spans.length

  /** Compiles counted by Spark's own CodegenMetrics since the tracer
    * started — a cross-check on the log-derived per-span counts. */
  def codegenMetricDelta: Long = codegenCount() - codegenBefore
}
