package graft.sinks

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** A stopped session's memoized read plans leave [[Dv]]'s read-plan memo.
  * The suites share one SparkContext, and stopping it would end them all,
  * so the check runs in a child JVM ([[ReadLiveStopProbe]]) that starts
  * its own session, memoizes a read, stops the session and reports. */
class ReadLiveStopSpec extends AnyFunSuite {
  test("stopping a session drops its memoized read plans") {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString).filter(_.startsWith("--add-opens"))
    val dir = java.nio.file.Files.createTempDirectory("graft_readlive_stop")
    val cmd = Seq(javaBin, "-Xmx1g") ++ opens ++ Seq("-cp",
      System.getProperty("java.class.path"), ReadLiveStopProbe.getClass.getName
        .stripSuffix("$"), dir.resolve("t").toString)
    val out = new StringBuilder
    val code = scala.sys.process.Process(cmd)
      .!(scala.sys.process.ProcessLogger(l => out.append(l).append('\n'), _ => ()))
    assert(code == 0, out.toString)
    val report = out.toString.linesIterator.filter(_.startsWith("plans ")).toSeq
    assert(report == Seq("plans before stop 1, after stop 0"), out.toString)
  }
}

object ReadLiveStopProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(3).write.parquet(args(0))
    val part = new java.io.File(args(0)).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Dv.readLive(spark, Seq(Dv.Entry(part.toURI.toString, None)))
    val before = Dv.readLivePlans(spark)
    spark.stop()
    println(s"plans before stop $before, after stop ${Dv.readLivePlans(spark)}")
  }
}
