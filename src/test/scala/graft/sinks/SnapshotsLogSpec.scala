package graft.sinks

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Log-structured commits over the version log: delta appends fold to the
  * same snapshots full commits would produce, checkpoints re-base the fold,
  * vacuum keeps a delta tail self-contained, and the MoR key delete's
  * delta-commit flavor matches its full-commit twin row for row. */
class SnapshotsLogSpec extends SparkSpec {

  private def data = spark.range(8000)
    .select(col("id"),
      pmod(xxhash64(col("id")), lit(1000)).as("x"),
      pmod(xxhash64(col("id"), lit(1)), lit(1000)).as("y"))

  private def slice(i: Int) = data.filter(pmod(col("id"), lit(4)) === i)

  /** base slice 0 as a FULL v1, slices 1..3 as delta appends v2..v4. */
  private def freshLog(checkpointEvery: Int = 0): String = {
    val dir = tmpDir("snaplog")
    Layout.zorderWrite(slice(0), Seq("x", "y"), s"$dir/z", nFiles = 8)
    Snapshots.commit(spark,
      Layout.buildManifest(spark, s"$dir/z", Seq("x", "y")), s"$dir/m")
    (1 to 3).foreach { i =>
      Snapshots.appendCommitDelta(spark, slice(i), Seq("x", "y"),
        s"$dir/z", s"$dir/m", nFiles = 4, checkpointEvery = checkpointEvery)
    }
    dir
  }

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("id").collect().map(_.getLong(0)).toSet

  test("delta appends fold to the right snapshot at every version") {
    val dir = freshLog()
    assert(Snapshots.versions(spark, s"$dir/m") == Seq(1, 2, 3, 4))
    // v1 full, v2..v4 deltas
    assert(!Snapshots.isDelta(spark, s"$dir/m", 1))
    (2 to 4).foreach(v => assert(Snapshots.isDelta(spark, s"$dir/m", v)))
    // every pinned read = the union of slices committed by then
    (1 to 4).foreach { v =>
      val want = ids(data.filter(pmod(col("id"), lit(4)) < v))
      assert(ids(Snapshots.tableAt(spark, s"$dir/m", v)) == want,
        s"wrong snapshot at v$v")
    }
    val info = Snapshots.foldInfo(spark, Snapshots.tableHead(spark, s"$dir/m"))
    assert(info ==
      Snapshots.FoldInfo(1, baseIsCheckpoint = false, Seq(2, 3, 4)))
  }

  test("a delta commit writes O(batch) manifest rows, not O(table)") {
    val dir = freshLog()
    val deltaRows = spark.read.parquet(s"$dir/m/v=4").count()
    val foldedRows = Snapshots.manifestAt(spark, s"$dir/m", 4).count()
    assert(deltaRows == 4, s"v4 delta should carry its 4 new files' stats")
    assert(foldedRows == 8 + 3 * 4)
  }

  test("remove actions drop files; add upserts replace a file's row") {
    val dir = tmpDir("snaplog")
    Layout.zorderWrite(slice(0), Seq("x", "y"), s"$dir/z", nFiles = 4)
    Snapshots.commit(spark,
      Layout.buildManifest(spark, s"$dir/z", Seq("x", "y")), s"$dir/m")
    val m1 = Snapshots.manifestAt(spark, s"$dir/m", 1)
    val files = m1.select("file").collect().map(_.getString(0)).sorted
    // v2: remove one file, upsert another with a fake dv pointer
    val upsert = m1.filter(col("file") === files(1))
      .withColumn("dv", lit("sentinel_dv"))
    Snapshots.commitDelta(spark, s"$dir/m", Some(upsert), Seq(files(0)))
    val m2 = Dv.ensureDv(Snapshots.manifestAt(spark, s"$dir/m", 2))
    assert(m2.count() == files.length - 1)
    assert(m2.filter(col("file") === files(0)).isEmpty)
    assert(m2.filter(col("file") === files(1)).select("dv")
      .collect().head.getString(0) == "sentinel_dv")
    // v1 is untouched by the delta above it
    assert(Snapshots.manifestAt(spark, s"$dir/m", 1).count() == files.length)
  }

  test("a delta chain with no base is rejected, not misread") {
    val dir = tmpDir("snaplog")
    import spark.implicits._
    val fakeAdd = Seq(("nofile.parquet", 0.0, 1.0))
      .toDF("file", "min_x", "max_x")
    Snapshots.commitDelta(spark, s"$dir/m", Some(fakeAdd))
    val e = intercept[IllegalArgumentException] {
      Snapshots.manifestAt(spark, s"$dir/m", 1).count()
    }
    assert(e.getMessage.contains("full commit"))
  }

  test("checkpointEvery re-bases the fold; checkpoints list and are reused") {
    val dir = freshLog(checkpointEvery = 2)
    // deltas at v2 (tail 1: no ckpt), v3 (tail 2: ckpt), v4 (tail 1 again)
    val head = Snapshots.tableHead(spark, s"$dir/m")
    assert(head.checkpoints == Seq(3))
    val info = Snapshots.foldInfo(spark, head)
    assert(info == Snapshots.FoldInfo(3, baseIsCheckpoint = true, Seq(4)))
    // checkpointed read ≡ direct fold from v1
    assert(ids(Snapshots.tableAt(spark, s"$dir/m", 4)) == ids(data))
    // writeCheckpoint is idempotent
    Snapshots.writeCheckpoint(spark, head.at(3))
    assert(Snapshots.tableHead(spark, s"$dir/m").checkpoints == Seq(3))
  }

  test("vacuum self-contains a delta tail and reclaims stale checkpoints") {
    val dir = freshLog(checkpointEvery = 2) // ckpt=3, latest v4 is a delta
    val vac = Snapshots.vacuum(spark, s"$dir/z", s"$dir/m", retainLast = 1)
    assert(vac.versionsDropped == 3)
    assert(Snapshots.versions(spark, s"$dir/m") == Seq(4))
    // the cut (v4, a delta) was checkpointed before its base was dropped;
    // the stale ckpt=3 is gone
    assert(Snapshots.tableHead(spark, s"$dir/m").checkpoints == Seq(4))
    assert(ids(Snapshots.tableAt(spark, s"$dir/m", 4)) == ids(data))
    // appends removed nothing, so no data file is reclaimable
    assert(vac.filesDeleted == 0)
  }

  test("change feed works across delta commits") {
    val dir = freshLog()
    val feed = Snapshots.changesBetween(spark, s"$dir/m", 2, 3)
    assert(feed.df.filter(col("change_type") =!= "insert").isEmpty)
    assert(ids(feed.df) == ids(slice(2)))
    assert(feed.filesRead < feed.filesTotal)
  }

  test("MoR key delete in delta form matches the full-commit twin") {
    val dirA = freshLog() // full-commit flavor
    val dirB = freshLog() // delta flavor
    val keys = data.filter(pmod(col("id"), lit(37)) === 5).select("id")
    val full = Dv.deleteKeysMoR(spark, s"$dirA/z", s"$dirA/m", "id", keys)
    val delta = Dv.deleteKeysMoR(spark, s"$dirB/z", s"$dirB/m", "id", keys,
      deltaCommit = true)
    assert(full.rowsDeleted == delta.rowsDeleted && delta.rowsDeleted > 0)
    assert(full.filesMasked == delta.filesMasked)
    assert(Snapshots.isDelta(spark, s"$dirB/m", delta.version))
    // identical surviving rows either way
    assert(ids(Snapshots.tableAt(spark, s"$dirA/m", full.version)) ==
      ids(Snapshots.tableAt(spark, s"$dirB/m", delta.version)))
    // the delta commit wrote only the touched rows
    val rows = spark.read.parquet(s"$dirB/m/v=${delta.version}").count()
    assert(rows == delta.filesMasked)
  }

  test("MoR key delete prunes by key stats when the manifest carries them") {
    val dir = tmpDir("snaplog")
    // id-clustered layout + id stats in the manifest ⇒ disjoint [min_id,
    // max_id] ranges per file, so the stats prune can actually bite
    Layout.zorderWrite(data, Seq("id"), s"$dir/z", nFiles = 8)
    Snapshots.commit(spark,
      Layout.buildManifest(spark, s"$dir/z", Seq("id")), s"$dir/m")
    val keys = data.filter(col("id") < 100).select("id")
    val res = Dv.deleteKeysMoR(spark, s"$dir/z", s"$dir/m", "id", keys,
      deltaCommit = true)
    assert(res.rowsDeleted == 100)
    assert(res.filesMasked < res.filesTotal,
      s"key stats should prune the touch set: masked ${res.filesMasked} of ${res.filesTotal}")
    assert(Snapshots.isDelta(spark, s"$dir/m", res.version))
    assert(ids(Snapshots.tableAt(spark, s"$dir/m", res.version)) ==
      ids(data.filter(col("id") >= 100)))
  }

  test("optimistic txns rebase over delta commits") {
    val dir = freshLog()
    // plan a MoR band delete against v4, then land a DISJOINT delta append
    // before committing it — the txn must rebase, keeping both outcomes
    val planned = Dv.planDeleteMoR(spark, s"$dir/z", s"$dir/m",
      Seq(("x", 0.0, 49.0)))
    assert(planned.nonEmpty)
    val extra = data.filter(col("id") < 500)
      .select((col("id") + 100000).as("id"), col("x"), col("y"))
    Snapshots.appendCommitDelta(spark, extra, Seq("x", "y"),
      s"$dir/z", s"$dir/m", nFiles = 2)
    val res = Snapshots.commitTxn(spark, s"$dir/m", planned.get._1)
    assert(res.rebasedOver == 1)
    val got = Snapshots.tableAt(spark, s"$dir/m", res.version)
    // the append landed AFTER the delete planned its mask, so its in-band
    // rows survive (snapshot isolation: the txn deletes what it read)
    val want = ids(data.filter(!col("x").between(0, 49))) ++ ids(extra)
    assert(ids(got) == want)
  }
}
