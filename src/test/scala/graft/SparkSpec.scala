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
    .config("spark.hadoop.fs.countfs.impl", classOf[CountingFs].getName)
    .getOrCreate()
}

/** The local file system under the `countfs://` scheme, counting every
  * directory listing and every existence or status probe by path — how a
  * spec prices the listings and probes a statement makes (on an object
  * store each listing is a paged LIST, each probe a HEAD). */
class CountingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("countfs:///")
  override def getScheme: String = "countfs"
  override def listStatus(
      f: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] = {
    CountingFs.listed.add(CountingFs.key(f))
    super.listStatus(f)
  }
  // RawLocalFileSystem answers `exists` itself, without `getFileStatus`,
  // so each probe counts once
  override def exists(f: org.apache.hadoop.fs.Path): Boolean = {
    CountingFs.probed.add(CountingFs.key(f))
    super.exists(f)
  }
  override def getFileStatus(
      f: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileStatus = {
    CountingFs.probed.add(CountingFs.key(f))
    super.getFileStatus(f)
  }
}

object CountingFs {
  private[graft] val listed =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private[graft] val probed =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private[graft] def key(p: org.apache.hadoop.fs.Path): String =
    p.toUri.getPath.stripSuffix("/")
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** A fresh dir under the counting file system ([[CountingFs]]). */
  def countingDir(prefix: String): String = "countfs://" + tmpDir(prefix)

  /** How many times `body` lists the directory `dir` (a `countfs://`
    * path): for a manifest root, the root listings behind version
    * resolution. */
  def listingsOf(dir: String)(body: => Unit): Int =
    countsOf(CountingFs.listed, dir)(body)

  /** How many times `body` probes the path `dir` (a `countfs://` path)
    * with `exists` or `getFileStatus`. */
  def probesOf(dir: String)(body: => Unit): Int =
    countsOf(CountingFs.probed, dir)(body)

  private def countsOf(seen: java.util.Queue[String], dir: String)
                      (body: => Unit): Int = {
    val k = CountingFs.key(new org.apache.hadoop.fs.Path(dir))
    seen.clear()
    body
    import scala.jdk.CollectionConverters._
    seen.asScala.count(_ == k)
  }

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
