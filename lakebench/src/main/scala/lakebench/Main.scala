package lakebench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.LakebenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One output check; a failed check counts as a failed op. */
final case class Check(name: String, ok: Boolean, detail: String)

/** A benchmark workload. The runner times session start, [[setup]] and
  * [[warmup]] together as the set-up, then calls [[op]] closed-loop until
  * the measured phase ends. Inputs come only from the seed. */
trait Workload {
  /** Build the seeded inputs once per run (not timed). */
  def generate(): Unit
  /** Fresh table root, table load and cache fill. */
  def setup(): Unit
  /** Warm-up before the measured phase, after [[setup]]. */
  def warmup(): Unit
  /** One measured op; returns the items it processed. */
  def op(i: Int): Long
  /** Output checks, run after the measured phase. */
  def checks(): Seq[Check]
  /** Input sizes recorded with the run. */
  def inputs: Map[String, Any]
  /** End-of-run layer facts (lake size, cache counters, ...). */
  def endFacts(): Map[String, Any]
  /** Untimed bookkeeping after each measured op. */
  def afterOp(i: Int): Unit = ()
  /** Bytes under the lake root the workload writes. */
  def lakeBytes(): Long = 0L
}

object Workload {
  /** Run `df` to completion through the noop sink. */
  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

/** Byte accounting over a table root. */
object Files {
  def bytesUnder(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  def fileBytes(spark: SparkSession, files: Seq[String]): Long =
    files.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getFileStatus(p).getLen
    }.sum
}

/** Counters that workloads add to during measured ops (summed per run). */
object Facts {
  val sums = mutable.LinkedHashMap.empty[String, Double]
  def add(name: String, v: Double): Unit =
    if (Trace.op >= 0) sums(name) = sums.getOrElse(name, 0.0) + v
  /** Time `body` under a span and add its wall time to `name`. */
  def timed[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try Trace.span(name)(body)
    finally add(name, (System.nanoTime() - t0) / 1e6)
  }
}

object Main {
  /** The measured phase lasts at least `--seconds` and at least this many
    * ops, so a median never rests on one or two samples. */
  val MinOps = 3
  /** Task slots of the local Spark master. */
  val Cores = "4"

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val trace = arg(args, "trace") == "1"
    val out = arg(args, "out")
    val work = arg(args, "work")

    val tSession = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"lakebench-$workload")
      .config("spark.sql.shuffle.partitions", Cores)
      .config("spark.default.parallelism", Cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.sql.GraftSparkExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - tSession) / 1e9

    val listener = if (trace) Some(new BenchListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    Trace.start(spark.sparkContext, trace)

    val w: Workload = workload match {
      case "gold_read" => new GoldRead(spark, seed, work)
      case "daily_ingest" => new DailyIngest(spark, seed, work)
      case "curation" => new Curation(spark, seed, work)
      case other => sys.error(s"unknown workload $other")
    }
    val tGen = System.nanoTime()
    w.generate()
    val generateS = (System.nanoTime() - tGen) / 1e9
    val tLoad = System.nanoTime()
    w.setup()
    val loadS = (System.nanoTime() - tLoad) / 1e9
    val tWarm = System.nanoTime()
    w.warmup()
    val warmupS = (System.nanoTime() - tWarm) / 1e9
    // set-up is everything before the measured phase but input generation:
    // session start, table load, cache fill and JIT warm-up, paid once per JVM
    val setupS = sessionS + loadS + warmupS

    val gcBefore = gcTotals()
    val lakeBefore = w.lakeBytes()
    val ops = mutable.ArrayBuffer.empty[(Double, Long)]
    var failedOps = 0
    val errors = mutable.ArrayBuffer.empty[String]
    val windowStartMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < deadline || i < MinOps) {
      Trace.op = i
      val s = System.nanoTime()
      try {
        val items = Trace.span("op")(w.op(i))
        ops += (((System.nanoTime() - s) / 1e6, items))
      } catch {
        case e: Throwable =>
          failedOps += 1
          if (errors.size < 5) errors += s"op $i: $e"
      }
      w.afterOp(i)
      i += 1
    }
    val measureS = (System.nanoTime() - t0) / 1e9
    val windowEndMs = System.currentTimeMillis()
    Trace.op = -1
    val gcAfter = gcTotals()
    val lakeAfter = w.lakeBytes()

    // heap the caches keep at the end of the measured phase: collect, let Spark's cleaner drop what the
    // collection freed (checkpointed blocks, shuffle state), collect again
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    val heapMb =
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val tChecks = System.nanoTime()
    val checks = try w.checks() catch {
      case e: Throwable => Seq(Check("checks", ok = false, e.toString))
    }
    val checksS = (System.nanoTime() - tChecks) / 1e9
    val facts = w.endFacts()
    // tracing off must leave the listener bus exactly as Spark set it up
    val ours = LakebenchBus.listenerClasses(spark.sparkContext)
      .filter(_.startsWith("lakebench."))
    val busCheck = Check("listener_registration", ours.nonEmpty == trace,
      s"trace=$trace benchmark listeners=${ours.mkString(",")}")

    val listenerOut = listener.map { l =>
      LakebenchBus.drain(spark.sparkContext)
      traceJson(l, windowStartMs, windowEndMs)
    }
    val allChecks = (checks :+ busCheck) ++
      listener.map(traceCheck(_, windowStartMs, windowEndMs)).toSeq

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "cores" -> Cores.toInt,
      "session_s" -> sessionS,
      "generate_s" -> generateS,
      "load_s" -> loadS,
      "warmup_s" -> warmupS,
      "setup_s" -> setupS,
      "checks_s" -> checksS,
      "measure_s" -> measureS,
      "op_ms" -> ops.map(_._1),
      "op_items" -> ops.map(_._2),
      "failed_ops" -> failedOps,
      "errors" -> errors,
      "checks" -> allChecks.map(c =>
        Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "retained_heap_mb" -> heapMb,
      "gc_ms" -> (gcAfter._1 - gcBefore._1),
      "gc_count" -> (gcAfter._2 - gcBefore._2),
      "lake_bytes_before" -> lakeBefore,
      "lake_bytes_after" -> lakeAfter,
      "inputs" -> w.inputs,
      "facts" -> (Facts.sums.toMap ++ facts))
    listenerOut.foreach(result ++= _)
    val f = new java.io.PrintWriter(out, "UTF-8")
    try f.print(Json.render(result)) finally f.close()
    spark.stop()
  }

  private def gcTotals(): (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime.max(0L)).sum,
      beans.map(_.getCollectionCount.max(0L)).sum)
  }

  /** Spans (times relative to the first span) with their attributed Spark
    * counters and SQL executions, plus the listener's totals over the
    * measured window. */
  private def traceJson(l: BenchListener, fromMs: Long,
                        toMs: Long): Map[String, Any] = l.synchronized {
    val base = Trace.spans.headOption.fold(0L)(_.startNs)
    val baseMs = Trace.spans.headOption.fold(0L)(_.startMs)
    val sqlBySpan = l.sqlExecs.groupBy(e => Trace.spanAt(e.endMs))
    val spans = Trace.spans.filter(_.op >= 0).map { s =>
      val c = l.bySpan.getOrElse(s.id, new ExecCounters)
      val sql = sqlBySpan.getOrElse(s.id, Seq.empty)
      Map(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ms" -> (s.startNs - base) / 1e6,
        "end_ms" -> (s.endNs - base) / 1e6,
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "task_failures" -> c.taskFailures,
        "task_cpu_ms" -> c.taskCpuNs / 1e6,
        "shuffle_write_bytes" -> c.shuffleWrite,
        "shuffle_read_bytes" -> c.shuffleRead,
        "input_bytes" -> c.inputBytes, "output_bytes" -> c.outputBytes,
        "job_intervals_ms" -> c.jobIntervals.map { case (a, b) =>
          Seq((a - baseMs).toDouble, (b - baseMs).toDouble) },
        "catalyst_ms" -> Seq("analysis", "optimization", "planning").map(p =>
          p -> sql.map(_.phasesMs.getOrElse(p, 0.0)).sum).toMap,
        "scans" -> sql.flatMap(_.scans).map { case (roots, files, bytes) =>
          Map("roots" -> roots, "files" -> files, "bytes" -> bytes) })
    }
    val t = l.totals(fromMs, toMs)
    Map("spans" -> spans,
      "listener_totals" -> Map("jobs" -> t.jobs, "input_bytes" -> t.inputBytes,
        "output_bytes" -> t.outputBytes, "shuffle_write_bytes" -> t.shuffleWrite))
  }

  /** Every job and task of the measured window, attributed to a span or
    * not, must be counted in the emitted (measured) spans: a job that
    * escapes span attribution makes the totals differ. */
  private def traceCheck(l: BenchListener, fromMs: Long,
                         toMs: Long): Check = l.synchronized {
    val measured = Trace.spans.filter(_.op >= 0).map(_.id).toSet
    val cs = l.bySpan.collect { case (s, c) if measured(s) => c }
    val jobs = cs.map(_.jobs).sum
    val in = cs.map(_.inputBytes).sum
    val outB = cs.map(_.outputBytes).sum
    val sw = cs.map(_.shuffleWrite).sum
    val t = l.totals(fromMs, toMs)
    Check("trace_totals",
      jobs == t.jobs && in == t.inputBytes && outB == t.outputBytes &&
        sw == t.shuffleWrite,
      s"spans/listener: jobs $jobs/${t.jobs} in $in/${t.inputBytes} " +
        s"out $outB/${t.outputBytes} shuffle $sw/${t.shuffleWrite}")
  }
}

/** Minimal JSON rendering for the run record. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case it: Iterable[_] => it.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
