package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import graft.sinks.MetaCache

/** Dev-only profiling main (optimization rounds): run named queries once
  * (after a warm-up) with (a) a listener that records every Spark job and
  * its first-stage call site, and (b) a driver stack sampler that
  * attributes the DRIVER GAP (wall − job time) to code paths. This is the
  * guide-§1 "where is the time actually going" measurement for a bench
  * whose queries each run dozens of tiny jobs. Each query's header also
  * gives its Janino compiles (generated classes that missed Spark's
  * codegen cache) and their compile time, so recompiles show next to jobs,
  * and the lake metadata cache's ([[graft.sinks.MetaCache]]) hits, misses
  * and evictions.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt "runMain graft.Profile q115_merge_commit q256_apply_changes_scd2"
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = DevSession()

    final case class JobRec(id: Int, desc: String, start: Long,
                            var end: Long = 0L)
    val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, JobRec]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = js.stageInfos.headOption.map(_.name).getOrElse("?")
          .take(110)
        jobs.synchronized { jobs(js.jobId) = JobRec(js.jobId, desc, js.time) }
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(je.jobId).foreach(_.end = je.time) }
    }

    def run(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    try run("q1_agg") catch { case _: Throwable => () } // warm-up
    val names = if (args.nonEmpty) args.toSeq else Seq("q115_merge_commit")
    names.foreach { name =>
      try run(name) catch { case e: Throwable =>
        println(s"$name WARMUP FAILED: ${e.getMessage}") }
      jobs.synchronized(jobs.clear())
      spark.sparkContext.addSparkListener(listener)

      // driver stack sampler: samples the QUERY thread every 5 ms and
      // buckets by the innermost graft/spark frame of interest
      val queryThread = Thread.currentThread()
      val samples =
        new java.util.concurrent.ConcurrentHashMap[String, Integer]()
      @volatile var sampling = true
      val sampler = new Thread(() => {
        while (sampling) {
          val st = queryThread.getStackTrace
          if (st.nonEmpty) {
            // innermost frame in graft code, plus the top spark/hadoop/
            // parquet package — shows BOTH what we called and where it sat
            val g = st.find(f => f.getClassName.startsWith("graft."))
              .map(f => s"${f.getClassName.stripPrefix("graft.")}.${f.getMethodName}:${f.getLineNumber}")
              .getOrElse("-")
            val top = st.headOption.map { f =>
              val cn = f.getClassName
              val pkg = cn.split("\\.").take(4).mkString(".")
              s"$pkg.${f.getMethodName}"
            }.getOrElse("-")
            val key = s"$top  @  $g"
            samples.merge(key, 1, (a, b) => a + b)
            if (st.head.getClassName.contains("zip.")) {
              val deep = st.take(12).map(f =>
                s"${f.getClassName}.${f.getMethodName}").mkString(" <- ")
              samples.merge(s"ZLIBSTACK $deep", 1, (a, b) => a + b)
            }
          }
          Thread.sleep(5)
        }
      })
      sampler.setDaemon(true)
      sampler.start()
      val (compiles0, compileNs0) = janino()
      val meta0 = MetaCache.stats
      val t0 = System.nanoTime()
      try run(name) catch { case e: Throwable =>
        println(s"$name FAILED: ${e.getMessage}") }
      val wallMs = (System.nanoTime() - t0) / 1e6
      val (compiles1, compileNs1) = janino()
      val meta1 = MetaCache.stats
      sampling = false
      Thread.sleep(300) // listener bus is async: let it drain
      spark.sparkContext.removeSparkListener(listener)
      val snap = jobs.synchronized(jobs.values.toVector)
      val jobMs = snap.map(j => (j.end - j.start).max(0L)).sum
      println(f"\n===== $name: wall ${wallMs}%.0f ms, ${snap.size} jobs, " +
        f"job-time $jobMs ms, driver gap ${wallMs - jobMs}%.0f ms, " +
        f"janino ${compiles1 - compiles0} compiles / " +
        f"${(compileNs1 - compileNs0) / 1e6}%.0f ms, " +
        s"metacache ${meta1.hits - meta0.hits} hits / " +
        s"${meta1.misses - meta0.misses} misses / " +
        s"${meta1.evictions - meta0.evictions} evictions =====")
      val byDesc = snap.groupBy(_.desc).map { case (d, js) =>
        (d, js.size, js.map(j => (j.end - j.start).max(0L)).sum)
      }.toVector.sortBy(-_._3)
      println("-- job time by first-stage call site --")
      byDesc.take(20).foreach { case (d, n, ms) =>
        println(f"  $ms%6d ms  n=$n%-3d  $d")
      }
      println("-- driver-thread samples (5 ms each) --")
      import scala.jdk.CollectionConverters._
      samples.asScala.toVector.sortBy(-_._2).take(25).foreach {
        case (k, n) => println(f"  ${n * 5}%6d ms  $k")
      }
    }
    spark.stop()
  }

  /** JVM-wide Janino compiles so far: the count from `CodegenMetrics`,
    * the nanoseconds from `CodeGenerator.compileTime` (the histogram's
    * decaying reservoir samples values, so it cannot give an exact sum). */
  private def janino(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
}
