package graft.sinks

import org.apache.spark.sql.functions._
import graft.SparkSpec

class RowTrackingSpec extends SparkSpec {
  import spark.implicits._

  private def ids(root: String, v: Int) =
    RowTracking.readTracked(spark, s"$root/m", v)
      .select(col("k"), col("_row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("row ids are unique across appends and stable across compaction") {
    val root = tmpDir("rt1")
    val b1 = (0L until 40L).map(k => (k, k * 2.0)).toDF("k", "v")
    val b2 = (40L until 100L).map(k => (k, k * 2.0)).toDF("k", "v")
    val (v1, _) = RowTracking.appendTracked(spark, b1, Seq("k"),
      s"$root/t", s"$root/m", nFiles = 3)
    val (v2, _) = RowTracking.appendTracked(spark, b2, Seq("k"),
      s"$root/t", s"$root/m", nFiles = 3)
    val at2 = ids(root, v2)
    assert(at2.size == 100)
    assert(at2.values.toSeq.distinct.size == 100, "row ids must be unique")
    // pinned read: v1 serves only batch 1, with the same ids v2 shows
    val at1 = ids(root, v1)
    assert(at1.size == 40)
    at1.foreach { case (k, rid) => assert(at2(k) == rid) }
    // compaction is a pure re-layout: every (key → row id) survives
    val (v3, nIn, nOut) = RowTracking.compactTracked(spark, s"$root/t",
      s"$root/m", Seq("k"), nFiles = 2)
    assert(nIn == 6 && nOut == 2)
    assert(ids(root, v3) == at2, "compaction must not renumber rows")
  }

  test("high-water mark survives compaction: later appends never reuse ids") {
    val root = tmpDir("rt2")
    val b1 = (0L until 50L).map(k => (k, "a")).toDF("k", "s")
    RowTracking.appendTracked(spark, b1, Seq("k"),
      s"$root/t", s"$root/m", nFiles = 2)
    RowTracking.compactTracked(spark, s"$root/t", s"$root/m", Seq("k"), 1)
    val b2 = (50L until 80L).map(k => (k, "b")).toDF("k", "s")
    val (v3, _) = RowTracking.appendTracked(spark, b2, Seq("k"),
      s"$root/t", s"$root/m", nFiles = 2)
    val at3 = ids(root, v3)
    assert(at3.size == 80)
    assert(at3.values.toSeq.distinct.size == 80,
      "post-compaction append must allocate above the high-water mark")
    // materialized ids (from the compacted files) and fresh derived ids
    // coexist in one read
    val old = at3.filterKeys(_ < 50L).values.toSet
    val fresh = at3.filterKeys(_ >= 50L).values.toSet
    assert(old.intersect(fresh).isEmpty)
    assert(fresh.min >= 50L, "fresh ids start at or above the high-water")
  }

  test("readTracked refuses a DV-masked snapshot loudly") {
    val root = tmpDir("rt3")
    val b = (0L until 20L).map(k => (k, k.toDouble)).toDF("k", "v")
    RowTracking.appendTracked(spark, b, Seq("k"),
      s"$root/t", s"$root/m", nFiles = 1)
    // mask a row via the MoR delete path, then expect the refusal
    Dv.deleteWhereMoR(spark, s"$root/t", s"$root/m",
      Seq(("k", 3.0, 3.0)))
    val v = Snapshots.latestVersion(spark, s"$root/m")
    val e = intercept[IllegalArgumentException] {
      RowTracking.readTracked(spark, s"$root/m", v).collect()
    }
    assert(e.getMessage.contains("DV-masked"))
  }

  test("appendTracked appends past an aborted txn stage at the raw log tail") {
    val root = tmpDir("rt4")
    val (t, m) = (s"$root/t", s"$root/m")
    def batch(ks: Range) = ks.map(k => (k.toLong, k.toDouble)).toDF("k", "v")
    val (v1, _) = RowTracking.appendTracked(spark, batch(0 until 20),
      Seq("k"), t, m, nFiles = 1)
    // a cross-table txn stages the next slot, then aborts
    val (txnDir, id) = (s"$root/txn", "t1")
    val (staged, _) = Snapshots.appendCommit(spark, batch(100 until 110),
      Seq("k"), t, m, 1,
      contentFiles = Seq(Snapshots.TxnPendingMarker -> s"$txnDir\n$id"))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(txnDir, s"abort_$id")).close()
    assert(Snapshots.latestVersion(spark, m) == v1)
    val (v3, _) = RowTracking.appendTracked(spark, batch(20 until 30),
      Seq("k"), t, m, nFiles = 1)
    assert(v3 == staged + 1)
    val at3 = ids(root, v3)
    assert(at3.keySet == (0L until 30L).toSet,
      "the aborted stage's rows must never be served")
    assert(at3.values.toSeq.distinct.size == 30)
    ids(root, v1).foreach { case (k, rid) => assert(at3(k) == rid) }
  }

  test("appendTracked enforces the table's CHECK constraints") {
    val root = tmpDir("rt5")
    val (t, m) = (s"$root/t", s"$root/m")
    def batch(ks: Range) = ks.map(k => (k.toLong, k.toDouble)).toDF("k", "v")
    RowTracking.appendTracked(spark, batch(0 until 10), Seq("k"), t, m, 1)
    Snapshots.addConstraint(spark, m, "k_small", "k < 100")
    val before = Snapshots.versions(spark, m)
    intercept[Snapshots.ConstraintViolationException] {
      RowTracking.appendTracked(spark, batch(95 until 105), Seq("k"), t, m, 1)
    }
    assert(Snapshots.versions(spark, m) == before, "nothing committed")
    val (v, _) = RowTracking.appendTracked(spark, batch(10 until 20),
      Seq("k"), t, m, 1)
    assert(ids(root, v).keySet == (0L until 20L).toSet)
  }
}
