package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites run in
  * one forked JVM under sbt). */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.sql.GraftSparkExtensions")
    .config("spark.sql.catalog.lake", "graft.sql.LakeCatalog")
    .config("spark.sql.catalog.lake.warehouse",
      java.nio.file.Files.createTempDirectory("graft_lake_wh").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** First-stage call sites of the Spark jobs `body` starts. */
  def jobsOf(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(js.stageInfos.headOption.map(_.name).getOrElse("?")): Unit
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      // the listener bus is asynchronous but ordered: once a fence job
      // started after `body` is seen, every job of `body` has been seen
      val fence = s"fence-${java.util.UUID.randomUUID()}"
      sc.setCallSite(fence)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearCallSite()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(fence) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains(fence), "listener never saw the fence job")
      import scala.jdk.CollectionConverters._
      seen.asScala.toSeq.takeWhile(_ != fence)
    } finally sc.removeSparkListener(listener)
  }
}
