package lakebench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.LakebenchSql
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Benchmark-side spans. A span wraps one call into a graft layer; it has
  * a name, start, end, parent span and the measured op it belongs to
  * (-1 outside the measured phase). Spans stay in memory until the run
  * ends. With tracing off, [[span]] is a plain call and nothing is kept. */
object Trace {
  /** Local property that ties a Spark job to the span that started it. */
  val SpanProp = "lakebench.span"

  final class Span(val id: Int, val name: String, val parent: Int,
                   val op: Int, val startNs: Long, val startMs: Long) {
    var endNs: Long = 0L
    var endMs: Long = 0L
  }

  @volatile var on: Boolean = false
  var op: Int = -1
  private var sc: SparkContext = _
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  def start(context: SparkContext, enabled: Boolean): Unit = {
    sc = context
    on = enabled
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = new Span(spans.size, name, stack.headOption.fold(-1)(_.id), op,
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(SpanProp, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Innermost measured span whose wall-clock interval holds `timeMs`
    * (spans are strictly nested on the single client thread). */
  def spanAt(timeMs: Long): Int = {
    var best = -1
    var i = spans.size - 1
    while (i >= 0) {
      val s = spans(i)
      if (s.startMs <= timeMs && timeMs <= s.endMs &&
          (best < 0 || s.startNs >= spans(best).startNs)) best = s.id
      i -= 1
    }
    best
  }
}

/** Per-span Spark execution counters. */
final class ExecCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskFailures = 0L
  var taskCpuNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Catalyst phases and scan metrics of one finished SQL execution. */
final case class SqlExec(endMs: Long, phasesMs: Map[String, Double],
                         scans: Seq[(Seq[String], Long, Long)])

/** The benchmark's own listener, registered only when tracing is on. Jobs
  * are attributed to spans through [[Trace.SpanProp]]; task events reach
  * their span through the stage → job → span map built at job start. It
  * also records every job and task by time, attributed or not, so the
  * per-span sums can be checked against the totals of a time window. */
final class BenchListener extends SparkListener with AdaptiveSparkPlanHelper {
  val bySpan = mutable.HashMap.empty[Int, ExecCounters]
  private val jobSpan = mutable.HashMap.empty[Int, Int]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  val sqlExecs = mutable.ArrayBuffer.empty[SqlExec]
  /** Start time of every job. */
  private val jobTimes = mutable.ArrayBuffer.empty[Long]
  /** Launch time, input, output and shuffle-write bytes of every task. */
  private val taskBytes = mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]

  private def counters(span: Int) = bySpan.getOrElseUpdate(span, new ExecCounters)

  /** Jobs started and task bytes of tasks launched within [from, to]. */
  def totals(fromMs: Long, toMs: Long): ExecCounters = synchronized {
    def within(t: Long) = fromMs <= t && t <= toMs
    val c = new ExecCounters
    c.jobs = jobTimes.count(within).toLong
    taskBytes.foreach { case (t, in, out, sw) =>
      if (within(t)) {
        c.inputBytes += in
        c.outputBytes += out
        c.shuffleWrite += sw
      }
    }
    c
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobTimes += e.time
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Trace.SpanProp))).map(_.toInt)
    span.foreach { s =>
      jobSpan(e.jobId) = s
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(stageSpan(_) = s)
      counters(s).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { s =>
      counters(s).jobIntervals += ((jobStart.remove(e.jobId).get, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageSpan.get(e.stageInfo.stageId).foreach(counters(_).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) taskBytes += ((e.taskInfo.launchTime,
      m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
      m.shuffleWriteMetrics.bytesWritten))
    stageSpan.get(e.stageId).foreach { s =>
      val c = counters(s)
      c.tasks += 1
      if (e.reason != org.apache.spark.Success) c.taskFailures += 1
      if (m != null) {
        c.taskCpuNs += m.executorCpuTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.inputBytes += m.inputMetrics.bytesRead
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd
        if LakebenchSql.queryExecution(end) != null =>
      val qe = LakebenchSql.queryExecution(end)
      val phases = qe.tracker.phases.map { case (k, v) =>
        k -> (v.endTimeMs - v.startTimeMs).toDouble }
      val scans = try collectScans(qe.executedPlan) catch {
        case _: Throwable => Seq.empty }
      synchronized { sqlExecs += SqlExec(end.time, phases, scans) }
    case _ => ()
  }

  /** (root paths, files read, bytes read) of every file scan in `plan`,
    * subqueries and adaptive stages included. */
  private def collectScans(plan: SparkPlan): Seq[(Seq[String], Long, Long)] =
    collectWithSubqueries(plan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        def metric(n: String) = s.metrics.get(n).map(_.value).getOrElse(0L)
        (s.relation.location.rootPaths.map(_.toString),
          metric("numFiles"), metric("filesSize"))
    }
}
