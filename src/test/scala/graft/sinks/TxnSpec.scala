package graft.sinks

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Optimistic commit: conflict detection + rebase above the CAS slot loop. */
class TxnSpec extends SparkSpec {

  private def data = spark.range(10000)
    .select(col("id"), (col("id") % 1000).as("x"))

  /** Range layout on x: file boundaries are x-quantiles, so far-apart x
    * bands deterministically touch disjoint file sets. */
  private def freshLayout(): (String, Int) = {
    val dir = tmpDir("txn")
    Layout.zorderWrite(data, Seq("x"), s"$dir/z", nFiles = 16)
    val v1 = Snapshots.commit(spark,
      Layout.buildManifest(spark, s"$dir/z", Seq("x")), s"$dir/m")
    (dir, v1)
  }

  private def manifestFiles(dir: String, v: Int): Seq[String] =
    Snapshots.manifestAt(spark, s"$dir/m", v)
      .select(col("file")).collect().map(_.getString(0)).toSeq.sorted

  test("disjoint file-drop txns from the same snapshot both land (rebase)") {
    val (dir, v1) = freshLayout()
    val fs = manifestFiles(dir, v1)
    val a = Snapshots.Txn(v1, Set(fs.head), None, Set(fs.head))
    val b = Snapshots.Txn(v1, Set(fs.last), None, Set(fs.last))
    val rb = Snapshots.commitTxn(spark, s"$dir/m", b)
    assert(rb.version == 2 && rb.rebasedOver == 0)
    val ra = Snapshots.commitTxn(spark, s"$dir/m", a) // rebases over b
    assert(ra.version == 3 && ra.rebasedOver == 1)
    val remaining = manifestFiles(dir, 3).toSet
    assert(!remaining.contains(fs.head) && !remaining.contains(fs.last))
    assert(remaining.size == fs.size - 2)
  }

  test("a txn whose read set was invalidated raises a conflict, not a lost update") {
    val (dir, v1) = freshLayout()
    val fs = manifestFiles(dir, v1)
    val shared = fs.head
    val b = Snapshots.Txn(v1, Set(shared), None, Set(shared))
    Snapshots.commitTxn(spark, s"$dir/m", b)
    val a = Snapshots.Txn(v1, Set(shared, fs(1)), None, Set(shared, fs(1)))
    intercept[Snapshots.CommitConflictException] {
      Snapshots.commitTxn(spark, s"$dir/m", a)
    }
    // nothing landed for a: the losing txn left no version behind
    assert(Snapshots.versions(spark, s"$dir/m") == Seq(1, 2))
  }

  test("commitTxn versions carry a commit timestamp") {
    val (dir, v1) = freshLayout()
    val fs = manifestFiles(dir, v1)
    val r = Snapshots.commitTxn(spark, s"$dir/m",
      Snapshots.Txn(v1, Set(fs.head), None, Set(fs.head)))
    val ts = Snapshots.commitTimestamp(spark, s"$dir/m", r.version)
    assert(ts.isDefined, "a txn commit must be stamped like any other")
    val now = math.max(System.currentTimeMillis(), ts.get)
    assert(Snapshots.versionAtTimestamp(spark, s"$dir/m", now) == r.version)
  }

  test("losing the CAS slot is not a conflict: re-diff and land on the next") {
    val (dir, v1) = freshLayout()
    // another writer takes v=2 with an identical manifest (no removals)
    val copy = Snapshots.manifestAt(spark, s"$dir/m", v1).localCheckpoint()
    Snapshots.commit(spark, copy, s"$dir/m")
    val fs = manifestFiles(dir, v1)
    val a = Snapshots.Txn(v1, Set(fs.head), None, Set(fs.head))
    val r = Snapshots.commitTxn(spark, s"$dir/m", a)
    assert(r.version == 3 && r.rebasedOver == 1)
    assert(!manifestFiles(dir, 3).contains(fs.head))
  }

  test("planned MoR deletes on far-apart bands interleave: both masks land") {
    val (dir, v1) = freshLayout()
    // A plans first (snapshot v1), B plans+commits in between, A rebases
    val Some((txnA, delA)) = Dv.planDeleteMoR(spark, s"$dir/z", s"$dir/m",
      Seq(("x", 50.0, 150.0)))
    val Some((txnB, delB)) = Dv.planDeleteMoR(spark, s"$dir/z", s"$dir/m",
      Seq(("x", 600.0, 700.0)))
    val rb = Snapshots.commitTxn(spark, s"$dir/m", txnB)
    val ra = Snapshots.commitTxn(spark, s"$dir/m", txnA)
    assert(rb.version == 2 && ra.version == 3 && ra.rebasedOver == 1)
    assert(delA == data.filter(col("x").between(50, 150)).count())
    assert(delB == data.filter(col("x").between(600, 700)).count())
    val expected = data
      .filter(!col("x").between(50, 150) && !col("x").between(600, 700))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(Snapshots.tableAt(spark, s"$dir/m", 3)
      .select("id").collect().map(_.getLong(0)).toSet == expected)
  }

  test("overlapping planned MoR deletes: second conflicts, replan succeeds") {
    val (dir, _) = freshLayout()
    val Some((txnA, _)) = Dv.planDeleteMoR(spark, s"$dir/z", s"$dir/m",
      Seq(("x", 50.0, 150.0)))
    val Some((txnB, _)) = Dv.planDeleteMoR(spark, s"$dir/z", s"$dir/m",
      Seq(("x", 100.0, 200.0))) // overlaps A's touch set
    Snapshots.commitTxn(spark, s"$dir/m", txnA)
    intercept[Snapshots.CommitConflictException] {
      Snapshots.commitTxn(spark, s"$dir/m", txnB)
    }
    // replan from the fresh snapshot: sees A's mask, masks only the rest
    val Some((txnB2, del2)) = Dv.planDeleteMoR(spark, s"$dir/z", s"$dir/m",
      Seq(("x", 100.0, 200.0)))
    val r = Snapshots.commitTxn(spark, s"$dir/m", txnB2)
    assert(del2 == data.filter(col("x").between(151, 200)).count())
    val expected = data.filter(!col("x").between(50, 200)).count()
    assert(Snapshots.tableAt(spark, s"$dir/m", r.version).count() == expected)
  }

  test("an aborted txn stage above the head does not block an optimistic commit") {
    val (dir, v1) = freshLayout()
    val m = s"$dir/m"
    // v2: a cross-table txn stage whose transaction then aborts
    val id = "aborted1"
    val staged = Snapshots.commit(spark,
      Snapshots.manifestAt(spark, m, v1).localCheckpoint(), m,
      contentFiles = Seq(Snapshots.TxnPendingMarker -> s"$dir/txn\n$id"))
    assert(staged == 2)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(s"$dir/txn", s"abort_$id")).close()
    assert(Snapshots.latestVersion(spark, m) == v1)
    val files = manifestFiles(dir, v1)
    val r = Snapshots.commitTxn(spark, m,
      Snapshots.Txn(v1, Set(files.head), None, Set(files.head)))
    // lands above the aborted slot with no rebase — it used to lose the
    // rename onto v=2 until the attempt cap and throw
    assert(r.version == 3 && r.rebasedOver == 0)
    assert(Snapshots.visibleVersions(spark, m) == Seq(1, 3))
    assert(Snapshots.latestVersion(spark, m) == 3)
    assert(manifestFiles(dir, 3) == files.tail)
  }

  test("a failed read of a future version does not make a later txn " +
      "stage in that slot visible") {
    val (dir, v1) = freshLayout()
    val m = s"$dir/m"
    intercept[Exception](Snapshots.manifestAt(spark, m, v1 + 1).collect())
    val (stage, _) = Snapshots.appendCommit(spark, data.limit(10), Seq("x"),
      s"$dir/z", m, nFiles = 1,
      contentFiles = Seq(Snapshots.TxnPendingMarker -> s"$dir/txn\nt1"))
    assert(stage == v1 + 1)
    assert(Snapshots.latestVersion(spark, m) == v1)
    assert(Snapshots.visibleVersions(spark, m) == Seq(v1))
  }
}
