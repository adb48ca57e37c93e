package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.SparkSpec
import graft.sinks.{Layout, Snapshots}

/** The version-log streaming source: version offsets, manifest-exact file
  * delivery, append-only enforcement, exactly-once restart. */
class TableCommitsSourceSpec extends SparkSpec {

  private def data = spark.range(6000)
    .select(col("id"),
      pmod(xxhash64(col("id")), lit(1000)).as("x"),
      pmod(xxhash64(col("id"), lit(1)), lit(1000)).as("y"))

  private def freshTable(): String = {
    val dir = tmpDir("tcs")
    Layout.zorderWrite(data.filter(col("id") % 3 === 0), Seq("x", "y"),
      s"$dir/z", nFiles = 4)
    Snapshots.commit(spark,
      Layout.buildManifest(spark, s"$dir/z", Seq("x", "y")), s"$dir/m")
    (1 to 2).foreach { d =>
      Snapshots.appendCommit(spark, data.filter(col("id") % 3 === d),
        Seq("x", "y"), s"$dir/z", s"$dir/m", nFiles = 2)
    }
    dir
  }

  private def drain(dir: String, extra: Map[String, String] = Map.empty): Unit = {
    var b = spark.readStream.format("graft.sources.v2.TableCommitsSource")
      .option("manifestRoot", s"$dir/m")
    extra.foreach { case (k, v) => b = b.option(k, v) }
    val q = b.load().writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.coalesce(1).write.mode("append").parquet(s"$dir/captured")
        ()
      }.start()
    assert(q.awaitTermination(300000))
  }

  test("streams each commit's added files exactly, resumes exactly-once") {
    val dir = freshTable()
    drain(dir)
    val captured = spark.read.parquet(s"$dir/captured")
      .collect().map(r => (r.getInt(0), r.getString(1)))
    def files(v: Int): Set[String] =
      if (v < 1) Set.empty
      else Snapshots.manifestAt(spark, s"$dir/m", v)
        .select("file").collect().map(_.getString(0)).toSet
    val expected = (1 to 3).map(v => v -> (files(v) -- files(v - 1))).toMap
    assert(captured.groupBy(_._1).map { case (v, rs) =>
      v -> rs.map(_._2).toSet } == expected)
    // reading the streamed files reassembles the table
    assert(spark.read.parquet(captured.map(_._2).distinct: _*)
      .count() == 6000L)
    // restart: the checkpointed version offset re-emits nothing
    drain(dir)
    assert(spark.read.parquet(s"$dir/captured").count() ==
      captured.length.toLong)
    // new commit after restart: exactly its files stream next
    Snapshots.appendCommit(spark,
      spark.range(6000, 6500).select(col("id"), lit(1L).as("x"),
        lit(2L).as("y")),
      Seq("x", "y"), s"$dir/z", s"$dir/m", nFiles = 2)
    drain(dir)
    val after = spark.read.parquet(s"$dir/captured")
      .collect().map(r => (r.getInt(0), r.getString(1)))
    assert(after.filter(_._1 == 4).map(_._2).toSet == (files(4) -- files(3)))
  }

  test("a non-append commit fails the stream loudly") {
    val dir = freshTable()
    drain(dir)
    Snapshots.deleteWhere(spark, s"$dir/z", s"$dir/m", Seq("x", "y"),
      Seq(("x", 100.0, 199.0)))
    val e = intercept[Exception] { drain(dir) }
    def causes(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: causes(x.getCause))
    assert(causes(e).exists(m => m != null && m.contains("non-append")))
  }

  test("ignoreDeletes streams past a delete commit, delivering only adds") {
    val dir = freshTable()
    Snapshots.deleteWhere(spark, s"$dir/z", s"$dir/m", Seq("x", "y"),
      Seq(("x", 100.0, 199.0)))
    drain(dir, Map("ignoreDeletes" -> "true"))
    val captured = spark.read.parquet(s"$dir/captured")
    // v4 (the delete) contributed only its survivor-rewrite adds
    val v4files = captured.filter(col("version") === 4).count()
    assert(v4files > 0)
    assert(captured.select("version").distinct().count() == 4L)
  }

  test("an aborted txn stage between two appends: both appends stream") {
    val dir = freshTable()
    val (z, m) = (s"$dir/z", s"$dir/m")
    def batch(lo: Long) = spark.range(lo, lo + 300).select(col("id"),
      lit(5L).as("x"), lit(6L).as("y"))
    val (v4, _) = Snapshots.appendCommit(spark, batch(7000), Seq("x", "y"),
      z, m, nFiles = 1)
    val (txnDir, id) = (s"$dir/txn", "t1")
    val (stage, _) = Snapshots.appendCommit(spark, batch(8000), Seq("x", "y"),
      z, m, nFiles = 1,
      contentFiles = Seq(Snapshots.TxnPendingMarker -> s"$txnDir\n$id"))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(txnDir, s"abort_$id")).close()
    val (v6, _) = Snapshots.appendCommit(spark, batch(9000), Seq("x", "y"),
      z, m, nFiles = 1)
    assert(stage == v4 + 1 && v6 == stage + 1)
    drain(dir)
    val captured = spark.read.parquet(s"$dir/captured")
      .collect().map(r => (r.getInt(0), r.getString(1)))
    def files(v: Int): Set[String] =
      Snapshots.manifestAt(spark, m, v)
        .select("file").collect().map(_.getString(0)).toSet
    assert(captured.map(_._1).toSet == Set(1, 2, 3, v4, v6))
    assert(captured.filter(_._1 == v6).map(_._2).toSet == files(v6) -- files(v4))
    assert(spark.read.parquet(captured.map(_._2).distinct: _*).count() ==
      6000L + 600L, "the aborted stage's rows must never stream")
  }
}
