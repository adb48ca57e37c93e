package graft.sinks

import org.apache.spark.sql.functions._
import graft.SparkSpec

class SnapshotsSpec extends SparkSpec {

  private def data = spark.range(10000)
    .select(col("id"),
      pmod(xxhash64(col("id")), lit(1000)).as("x"),
      pmod(xxhash64(col("id"), lit(1)), lit(1000)).as("y"))

  private def freshLayout(): (String, Int) = {
    val dir = tmpDir("snap")
    Layout.zorderWrite(data, Seq("x", "y"), s"$dir/z", nFiles = 16)
    val v1 = Snapshots.commit(spark,
      Layout.buildManifest(spark, s"$dir/z", Seq("x", "y")), s"$dir/m")
    (dir, v1)
  }

  test("commit assigns increasing versions; tableAt pins each snapshot") {
    val (dir, v1) = freshLayout()
    assert(v1 == 1)
    assert(Snapshots.versions(spark, s"$dir/m") == Seq(1))
    val res = Snapshots.deleteWhere(spark, s"$dir/z", s"$dir/m",
      Seq("x", "y"), Seq(("x", 100.0, 199.0)))
    assert(res.rowsDeleted > 0)
    assert(Snapshots.versions(spark, s"$dir/m") == Seq(1, 2))
    // v1 still serves the COMPLETE pre-delete table
    assert(Snapshots.tableAt(spark, s"$dir/m", 1).count() == 10000L)
    // v2 is exactly the survivors
    val expected = data.filter(!col("x").between(100, 199)).count()
    assert(Snapshots.tableAt(spark, s"$dir/m", 2).count() == expected)
  }

  test("DELETE counts by scan when a rewritten file has no rows stat") {
    val dir = tmpDir("snap")
    Layout.zorderWrite(data, Seq("x", "y"), s"$dir/z", nFiles = 16)
    val m = Layout.buildManifest(spark, s"$dir/z", Seq("x", "y"))
    val box = Seq(("x", 100.0, 199.0))
    // one manifest entry in the rewrite set lost its row count: the
    // arithmetic (live − survivors) would silently skip it
    val blank = m.filter(Layout.intersectsExpr(box)).select("file")
      .orderBy("file").head().getString(0)
    Snapshots.commit(spark, m.withColumn("rows",
      when(col("file") === blank, lit(null).cast("long"))
        .otherwise(col("rows"))), s"$dir/m")
    val res = Snapshots.deleteWhere(spark, s"$dir/z", s"$dir/m",
      Seq("x", "y"), box)
    val expected = data.filter(col("x").between(100, 199)).count()
    assert(res.rowsDeleted == expected)
    assert(Snapshots.tableAt(spark, s"$dir/m", 2).count() ==
      10000L - expected)
  }

  test("a covered DELETE rewrites a file with no rows stat instead of dropping it") {
    val dir = tmpDir("snap")
    Layout.zorderWrite(data, Seq("x", "y"), s"$dir/z", nFiles = 16)
    val m = Layout.buildManifest(spark, s"$dir/z", Seq("x", "y"))
    val blank = m.select("file").orderBy("file").head().getString(0)
    Snapshots.commit(spark, m.withColumn("rows",
      when(col("file") === blank, lit(null).cast("long"))
        .otherwise(col("rows"))), s"$dir/m")
    // x >= 0 holds for every row, so every file is a whole-drop candidate
    val res = Snapshots.deleteWherePred(spark, s"$dir/z", s"$dir/m",
      Seq("x", "y"), col("max_x") >= 0, col("x") >= 0,
      cover = Some((col("min_x") >= 0, Seq("x"))))
    assert(res.rowsDeleted == 10000L)
    assert(res.filesRewritten == 1L)
    assert(Snapshots.tableAt(spark, s"$dir/m", 2).count() == 0L)
  }

  test("readAt time-travels a pruned box read past a delete") {
    val (dir, v1) = freshLayout()
    Snapshots.deleteWhere(spark, s"$dir/z", s"$dir/m",
      Seq("x", "y"), Seq(("x", 100.0, 199.0)))
    val pr = Snapshots.readAt(spark, s"$dir/m", v1,
      Seq(("x", 100.0, 199.0), ("y", 300.0, 399.0)))
    val expected = data.filter(col("x").between(100, 199) &&
      col("y").between(300, 399)).select("id")
      .collect().map(_.getLong(0)).toSet
    assert(expected.nonEmpty)
    assert(pr.df.select("id").collect().map(_.getLong(0)).toSet == expected)
    assert(pr.filesRead < pr.filesTotal) // still stats-pruned, not a full scan
  }

  test("vacuum drops expired versions and exactly the superseded files") {
    val (dir, _) = freshLayout()
    val res = Snapshots.deleteWhere(spark, s"$dir/z", s"$dir/m",
      Seq("x", "y"), Seq(("x", 100.0, 199.0)))
    val vac = Snapshots.vacuum(spark, s"$dir/z", s"$dir/m", retainLast = 1)
    assert(vac.versionsDropped == 1)
    assert(vac.filesDeleted == res.filesRewritten)
    assert(Snapshots.versions(spark, s"$dir/m") == Seq(2))
    // the retained snapshot is untouched by the reclaim
    val expected = data.filter(!col("x").between(100, 199)).count()
    assert(Snapshots.tableAt(spark, s"$dir/m", 2).count() == expected)
  }

  test("vacuum retaining all versions deletes nothing") {
    val (dir, _) = freshLayout()
    Snapshots.deleteWhere(spark, s"$dir/z", s"$dir/m",
      Seq("x", "y"), Seq(("x", 100.0, 199.0)))
    val vac = Snapshots.vacuum(spark, s"$dir/z", s"$dir/m", retainLast = 2)
    assert(vac.versionsDropped == 0 && vac.filesDeleted == 0)
    assert(Snapshots.tableAt(spark, s"$dir/m", 1).count() == 10000L)
  }

  test("two committers racing to the same version: loser lands at the next, no lost update") {
    val (dir, v1) = freshLayout()
    // simulate writer B winning v=2 between writer A's version listing and
    // its rename: pre-create a NON-EMPTY v=2 (a real committed manifest —
    // copied from v1) that A's exists/rename CAS must refuse to clobber
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val winner = Snapshots.manifestAt(spark, s"$dir/m", v1)
      .filter(col("rows") > 0).localCheckpoint()
    winner.coalesce(1).write.parquet(s"$dir/m/v=2")
    val loser = Snapshots.manifestAt(spark, s"$dir/m", v1).localCheckpoint()
    val landed = Snapshots.commit(spark, loser, s"$dir/m")
    assert(landed == 3, s"loser should have retried to v=3, landed at $landed")
    assert(Snapshots.versions(spark, s"$dir/m") == Seq(1, 2, 3))
    // neither commit lost: v=2 is the winner's manifest, v=3 the loser's,
    // and both still plan a complete table read
    assert(Snapshots.tableAt(spark, s"$dir/m", 2).count() == 10000L)
    assert(Snapshots.tableAt(spark, s"$dir/m", 3).count() == 10000L)
    assert(!fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/m")).exists(
      _.getPath.getName.startsWith(".tmp")), "staging dir leaked")
  }

  test("appendCommit: pinned read excludes the batch; latest includes it; base files untouched") {
    val (dir, v1) = freshLayout()
    val filesV1 = Snapshots.manifestAt(spark, s"$dir/m", v1)
      .select("file").collect().map(_.getString(0)).toSet
    val batch = spark.range(10000, 12000)
      .select(col("id"),
        pmod(xxhash64(col("id")), lit(1000)).as("x"),
        pmod(xxhash64(col("id"), lit(1)), lit(1000)).as("y"))
    val (v2, nApp) = Snapshots.appendCommit(spark, batch, Seq("x", "y"),
      s"$dir/z", s"$dir/m", nFiles = 4)
    assert(v2 == v1 + 1 && nApp == 4)
    // version-pinned read at v1 excludes the batch entirely
    assert(Snapshots.tableAt(spark, s"$dir/m", v1).count() == 10000L)
    assert(Snapshots.tableAt(spark, s"$dir/m", v2).count() == 12000L)
    // the append never rewrote base data: v2 ⊃ exactly v1's files
    val filesV2 = Snapshots.manifestAt(spark, s"$dir/m", v2)
      .select("file").collect().map(_.getString(0)).toSet
    assert(filesV1.subsetOf(filesV2) && (filesV2 -- filesV1).size == 4)
  }

  test("compactCommit rewrites the snapshot into fewer files; vacuum reclaims the inputs") {
    val (dir, v1) = freshLayout()
    val batch = spark.range(10000, 12000)
      .select(col("id"),
        pmod(xxhash64(col("id")), lit(1000)).as("x"),
        pmod(xxhash64(col("id"), lit(1)), lit(1000)).as("y"))
    val (v2, _) = Snapshots.appendCommit(spark, batch, Seq("x", "y"),
      s"$dir/z", s"$dir/m", nFiles = 4)
    val (v3, nIn, nOut) = Snapshots.compactCommit(spark, s"$dir/z", s"$dir/m",
      Seq("x", "y"), nFiles = 8)
    assert(v3 == v2 + 1 && nIn == 20 && nOut == 8)
    // a pure re-layout: same rows before and after, and older pins intact
    assert(Snapshots.tableAt(spark, s"$dir/m", v3).count() == 12000L)
    assert(Snapshots.tableAt(spark, s"$dir/m", v1).count() == 10000L)
    // vacuum to the compacted version: drops v1+v2 and exactly the 20
    // superseded input files (v1's 16 ∪ the append's 4)
    val vac = Snapshots.vacuum(spark, s"$dir/z", s"$dir/m", retainLast = 1)
    assert(vac.versionsDropped == 2 && vac.filesDeleted == 20)
    assert(Snapshots.tableAt(spark, s"$dir/m", v3).count() == 12000L)
    // and a stats-pruned read over the compacted layout still prunes
    val pr = Snapshots.readAt(spark, s"$dir/m", v3,
      Seq(("x", 100.0, 199.0), ("y", 300.0, 399.0)))
    assert(pr.filesRead < pr.filesTotal)
    val expected = spark.range(12000)
      .select(col("id"),
        pmod(xxhash64(col("id")), lit(1000)).as("x"),
        pmod(xxhash64(col("id"), lit(1)), lit(1000)).as("y"))
      .filter(col("x").between(100, 199) && col("y").between(300, 399))
      .count()
    assert(pr.df.count() == expected)
  }

  test("changesBetween: append feeds inserts, delete feeds the band, compaction feeds nothing") {
    val (dir, v1) = freshLayout()
    val batch = spark.range(10000, 12000)
      .select(col("id"),
        pmod(xxhash64(col("id")), lit(1000)).as("x"),
        pmod(xxhash64(col("id"), lit(1)), lit(1000)).as("y"))
    val (v2, _) = Snapshots.appendCommit(spark, batch, Seq("x", "y"),
      s"$dir/z", s"$dir/m", nFiles = 4)
    // append feed: exactly the batch, all inserts, only the 4 new files read
    val af = Snapshots.changesBetween(spark, s"$dir/m", v1, v2)
    assert(af.filesRead == 4 && af.filesTotal == 20)
    assert(af.df.filter(col("change_type") =!= "insert").isEmpty)
    assert(af.df.select("id").collect().map(_.getLong(0)).toSet ==
      (10000L until 12000L).toSet)
    // delete feed: exactly the band as deletes (survivor rewrites cancel)
    Snapshots.deleteWhere(spark, s"$dir/z", s"$dir/m",
      Seq("x", "y"), Seq(("x", 100.0, 199.0)))
    val v3 = Snapshots.latestVersion(spark, s"$dir/m")
    val df3 = Snapshots.changesBetween(spark, s"$dir/m", v2, v3)
    assert(df3.filesRead < df3.filesTotal) // only hit + survivor files read
    assert(df3.df.filter(col("change_type") =!= "delete").isEmpty)
    val expected = data.unionByName(batch).filter(col("x").between(100, 199))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(df3.df.select("id").collect().map(_.getLong(0)).toSet == expected)
    // compaction feed: a pure re-layout is invisible to CDC
    val (v4, _, _) = Snapshots.compactCommit(spark, s"$dir/z", s"$dir/m",
      Seq("x", "y"), nFiles = 8)
    assert(Snapshots.changesBetween(spark, s"$dir/m", v3, v4).df.isEmpty)
    // identical versions: empty feed, zero files read
    val same = Snapshots.changesBetween(spark, s"$dir/m", v4, v4)
    assert(same.df.isEmpty && same.filesRead == 0)
  }

  // merge needs key stats in the manifest: a layout z-ordered on (id, x)
  private def keyedLayout(): (String, Int) = {
    val dir = tmpDir("snapmerge")
    Layout.zorderWrite(data, Seq("id", "x"), s"$dir/z", nFiles = 16)
    val v1 = Snapshots.commit(spark,
      Layout.buildManifest(spark, s"$dir/z", Seq("id", "x")), s"$dir/m")
    (dir, v1)
  }

  test("mergeCommit: updates in place, inserts appended, touch set stats-pruned") {
    val (dir, v1) = keyedLayout()
    // updates: a contiguous key band re-valued; inserts: ids above the space
    val updates = data.filter(col("id").between(1000, 1999))
      .withColumn("y", col("y") + 5000)
    val inserts = spark.range(50000, 50100)
      .select(col("id"), lit(42L).as("x"), lit(7L).as("y"))
    val res = Snapshots.mergeCommit(spark, updates.unionByName(inserts),
      "id", Seq("id", "x"), s"$dir/z", s"$dir/m", nFiles = 8)
    assert(res.version == v1 + 1)
    assert(res.filesRewritten < res.filesTotal) // the band's files only
    assert(res.rowsUpdated == 1000)
    assert(res.rowsInserted == 100)
    val after = Snapshots.tableAt(spark, s"$dir/m", res.version)
    assert(after.count() == 10000 + 100)
    // matched rows carry the source's values, unmatched are untouched
    assert(after.filter(col("id").between(1000, 1999) &&
      col("y") < 5000).isEmpty)
    assert(after.filter(col("id") >= 50000).count() == 100)
    // v1 still serves the pre-merge snapshot
    assert(Snapshots.tableAt(spark, s"$dir/m", v1)
      .filter(col("id").between(1000, 1999) && col("y") >= 5000).isEmpty)
    // the merge's change feed: old images out, new images + inserts in
    val feed = Snapshots.changesBetween(spark, s"$dir/m", v1, res.version)
    assert(feed.df.filter(col("change_type") === "delete").count() == 1000)
    assert(feed.df.filter(col("change_type") === "insert").count() == 1100)
  }

  test("mergeCommit with no matched keys behaves as pure insert") {
    val (dir, v1) = keyedLayout()
    val inserts = spark.range(60000, 60010)
      .select(col("id"), lit(1L).as("x"), lit(2L).as("y"))
    val res = Snapshots.mergeCommit(spark, inserts, "id", Seq("id", "x"),
      s"$dir/z", s"$dir/m", nFiles = 2)
    assert(res.rowsUpdated == 0 && res.rowsInserted == 10)
    assert(res.filesRewritten == 0)
    assert(Snapshots.tableAt(spark, s"$dir/m", res.version).count() == 10010)
    assert(Snapshots.tableAt(spark, s"$dir/m", v1).count() == 10000)
  }

  test("schema evolution by append: pinned versions keep the old schema, latest merges") {
    val (dir, v1) = freshLayout()
    val batch = spark.range(10000, 11000)
      .select(col("id"), pmod(xxhash64(col("id")), lit(1000)).as("x"),
        pmod(xxhash64(col("id"), lit(1)), lit(1000)).as("y"),
        (col("id") * 2).cast("double").as("w"))
    val (v2, _) = Snapshots.appendCommit(spark, batch, Seq("x", "y"),
      s"$dir/z", s"$dir/m", nFiles = 2)
    assert(!Snapshots.tableAt(spark, s"$dir/m", v1).columns.contains("w"))
    val t2 = Snapshots.tableAt(spark, s"$dir/m", v2)
    assert(t2.columns.contains("w"))
    assert(t2.filter(col("w").isNull).count() == 10000)   // pre-evolution rows
    assert(t2.filter(col("w").isNotNull).count() == 1000) // the batch
    // the evolution commit's feed: pure inserts carrying the new column
    val feed = Snapshots.changesBetween(spark, s"$dir/m", v1, v2)
    assert(feed.df.columns.contains("w"))
    assert(feed.df.filter(col("change_type") =!= "insert").isEmpty)
    assert(feed.df.filter(col("w").isNull).isEmpty)
  }

  test("deliberate failure: vacuum must retain at least one version") {
    val (dir, _) = freshLayout()
    intercept[IllegalArgumentException] {
      Snapshots.vacuum(spark, s"$dir/z", s"$dir/m", retainLast = 0)
    }
  }

  test("deliberate failure: latestVersion on an empty log throws") {
    intercept[IllegalArgumentException] {
      Snapshots.latestVersion(spark, tmpDir("snap_empty") + "/m")
    }
  }

  test("vacuumRetention keeps the AS-OF-cutoff survivor and later versions") {
    val (dir, v1) = freshLayout()
    val (v2, nIn, _) = Snapshots.compactCommit(spark, s"$dir/z", s"$dir/m",
      Seq("x", "y"), nFiles = 4)
    Snapshots.deleteWhere(spark, s"$dir/z", s"$dir/m", Seq("x", "y"),
      Seq(("x", 100.0, 199.0)))
    val cutoff = Snapshots.commitTimestamp(spark, s"$dir/m", v2).get
    val res = Snapshots.vacuumRetention(spark, s"$dir/z", s"$dir/m", cutoff)
    assert(res.versionsDropped == 1) // only v1 predates the cutoff survivor
    assert(res.filesDeleted == nIn)  // v1's files died with it
    assert(Snapshots.versions(spark, s"$dir/m") == Seq(2, 3))
    assert(Snapshots.versionAtTimestamp(spark, s"$dir/m", cutoff) == v2)
    assert(Snapshots.tableAt(spark, s"$dir/m", v2).count() == 10000L)
    // a cutoff that predates the whole log retains everything
    val res2 = Snapshots.vacuumRetention(spark, s"$dir/z", s"$dir/m", 1L)
    assert(res2.versionsDropped == 0)
    assert(v1 == 1) // fixture shape: the dropped version was the original
  }

  test("history classifies every commit kind from the log alone") {
    val (dir, _) = freshLayout()
    Snapshots.appendCommit(spark,
      spark.range(10000, 11000).select(col("id"),
        pmod(xxhash64(col("id")), lit(1000)).as("x"),
        pmod(xxhash64(col("id"), lit(1)), lit(1000)).as("y")),
      Seq("x", "y"), s"$dir/z", s"$dir/m", nFiles = 2)
    Snapshots.deleteWhere(spark, s"$dir/z", s"$dir/m", Seq("x", "y"),
      Seq(("x", 100.0, 199.0)))
    val v3 = Snapshots.latestVersion(spark, s"$dir/m")
    Snapshots.compactCommit(spark, s"$dir/z", s"$dir/m", Seq("x", "y"),
      nFiles = 4)
    Dv.deleteWhereMoR(spark, s"$dir/z", s"$dir/m", Seq(("x", 300.0, 349.0)))
    Snapshots.restoreCommit(spark, s"$dir/m", v3)
    Snapshots.renameColumn(spark, s"$dir/m", "y", "y2")
    val ops = Snapshots.history(spark, s"$dir/m").map(e => e.version -> e.operation)
    assert(ops == Seq(1 -> "create", 2 -> "append", 3 -> "delete",
      4 -> "relayout", 5 -> "mor-delete", 6 -> "restore", 7 -> "schema"))
  }

  test("compactSmallCommit packs only the small tail; big files untouched") {
    val (dir, _) = freshLayout() // 16 healthy files
    // fragment with 5 tiny appends
    (0 until 5).foreach { i =>
      Snapshots.appendCommit(spark,
        spark.range(10000 + i * 10, 10010 + i * 10)
          .select(col("id"), pmod(xxhash64(col("id")), lit(1000)).as("x"),
            pmod(xxhash64(col("id"), lit(1)), lit(1000)).as("y")),
        Seq("x", "y"), s"$dir/z", s"$dir/m", nFiles = 1)
    }
    val vPre = Snapshots.latestVersion(spark, s"$dir/m")
    val fs = new org.apache.hadoop.fs.Path(s"$dir/z")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sizes = Dv.entries(Snapshots.manifestAt(spark, s"$dir/m", vPre))
      .map(e => e.file ->
        fs.getFileStatus(new org.apache.hadoop.fs.Path(e.file)).getLen).toMap
    val threshold = sizes.values.max / 2
    val res = Snapshots.compactSmallCommit(spark, s"$dir/z", s"$dir/m",
      Seq("x", "y"), smallBytes = threshold, nFiles = 1)
    assert(res.filesCompacted == 5 && res.filesSkipped == 16 &&
      res.filesOut == 1)
    assert(Snapshots.tableAt(spark, s"$dir/m", res.version).count() == 10050L)
    assert(Snapshots.relayoutInvisible(spark, s"$dir/m", vPre, res.version))
    // idempotence: a second pass finds at most one small file -> no-op
    val again = Snapshots.compactSmallCommit(spark, s"$dir/z", s"$dir/m",
      Seq("x", "y"), smallBytes = threshold, nFiles = 1)
    assert(again.version == res.version && again.filesCompacted == 0)
  }

  test("mergeCommit evolves the schema when the source adds a column") {
    val dir = tmpDir("snap_evo")
    Layout.zorderWrite(data, Seq("id", "x"), s"$dir/z", nFiles = 16)
    val v1 = Snapshots.commit(spark,
      Layout.buildManifest(spark, s"$dir/z", Seq("id", "x")), s"$dir/m")
    val src = spark.range(1000, 1500)
      .select(col("id"), pmod(xxhash64(col("id")), lit(1000)).as("x"),
        pmod(xxhash64(col("id"), lit(1)), lit(1000)).as("y"),
        lit("tagged").as("tag"))
    val res = Snapshots.mergeCommit(spark, src, "id", Seq("id", "x"),
      s"$dir/z", s"$dir/m", nFiles = 8)
    val head = Snapshots.tableAt(spark, s"$dir/m", res.version)
    assert(head.columns.contains("tag"))
    assert(head.filter(col("tag") === "tagged").count() == 500L)
    assert(head.filter(col("tag").isNull).count() == 9500L)
    assert(!Snapshots.tableAt(spark, s"$dir/m", v1).columns.contains("tag"))
  }

  test("relayoutInvisible: true across a compaction, false across a delete") {
    val (dir, v1) = freshLayout()
    val (vc, nIn, nOut) = Snapshots.compactCommit(spark, s"$dir/z",
      s"$dir/m", Seq("x", "y"), nFiles = 4)
    assert(nOut < nIn)
    assert(Snapshots.relayoutInvisible(spark, s"$dir/m", v1, vc))
    Snapshots.deleteWhere(spark, s"$dir/z", s"$dir/m", Seq("x", "y"),
      Seq(("x", 100.0, 199.0)))
    val vd = Snapshots.latestVersion(spark, s"$dir/m")
    // a delete moves rows out: the fingerprints must disagree
    assert(!Snapshots.relayoutInvisible(spark, s"$dir/m", vc, vd))
    // identical manifests (no file change at all) are trivially invisible
    assert(Snapshots.relayoutInvisible(spark, s"$dir/m", vd, vd))
  }

  test("DELETE and PURGE stage into their own dirs: a foreign in-flight " +
      "staging write survives and is never adopted") {
    val (dir, _) = freshLayout()
    val (z, m) = (s"$dir/z", s"$dir/m")
    val conf = spark.sparkContext.hadoopConfiguration
    // another writer's in-flight staging output under the fixed names the
    // delete and purge paths once shared
    val foreign = Seq("delete_staging", "purge_staging").map { suffix =>
      spark.range(3).coalesce(1).write.parquet(s"$z.$suffix")
      val d = new org.apache.hadoop.fs.Path(s"$z.$suffix")
      d.getFileSystem(conf).listStatus(d).map(_.getPath)
        .find(_.getName.startsWith("part-")).get
    }
    val res = Snapshots.deleteWherePred(spark, z, m, Seq("x", "y"),
      Layout.intersectsExpr(Seq(("x", 100.0, 199.0))),
      Layout.inBoxExpr(Seq(("x", 100.0, 199.0))))
    assert(res.rowsDeleted == data.filter(col("x").between(100, 199)).count())
    Dv.deleteWhereMoR(spark, z, m, Seq(("y", 0.0, 49.0)))
    val live = data.filter(!col("x").between(100, 199) &&
      !col("y").between(0, 49))
    val purged = Dv.purgeDv(spark, z, m, Seq("x", "y"))
    assert(purged.filesPurged > 0)
    val head = Snapshots.latestVersion(spark, m)
    assert(Snapshots.tableAt(spark, m, head).select("id", "x", "y")
      .exceptAll(live).isEmpty)
    assert(Snapshots.tableAt(spark, m, head).count() == live.count())
    val referenced = Dv.entries(Snapshots.manifestAt(spark, m, head))
      .map(e => Layout.fileName(e.file)).toSet
    foreign.foreach { p =>
      assert(p.getFileSystem(conf).exists(p), s"$p was overwritten")
      assert(!referenced.contains(p.getName), s"$p was adopted")
    }
  }

  /** The `prefix` marker names committed in `v=N`, read straight off the
    * filesystem. */
  private def markersIn(m: String, v: Int, prefix: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$m/v=$v")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
      .map(_.getPath.getName).filter(_.startsWith(prefix)).toSeq.sorted
  }

  /** Three ~100-char CHECK conditions: one marker name cannot hold them. */
  private val longChecks = (1 to 3).map { i =>
    s"long_check_$i" -> (s"(x + $i) >= $i AND y BETWEEN 0 AND 999 AND " +
      s"coalesce(id, 0) >= 0 AND length(cast(x AS STRING)) <= ${3 + i}")
  }.toMap

  test("three ~100-char CHECK constraints chunk across markers, each name " +
      "within NAME_MAX, and all of them gate writes") {
    val (dir, _) = freshLayout()
    val m = s"$dir/m"
    longChecks.toSeq.sorted.foreach { case (n, c) =>
      assert(c.length >= 95)
      Snapshots.addConstraint(spark, m, n, c)
    }
    val head = Snapshots.latestVersion(spark, m)
    assert(Snapshots.checkConstraints(spark, m, head) == longChecks)
    val chunks = markersIn(m, head, "_ck_")
    assert(chunks.size > 1, chunks)
    chunks.foreach(n => assert(n.getBytes("UTF-8").length <= 255, n))
    val bad = data.limit(3).withColumn("y", lit(5000L))
    intercept[Snapshots.ConstraintViolationException] {
      Snapshots.appendCommit(spark, bad, Seq("x", "y"), s"$dir/z", m, 1)
    }
    assert(Snapshots.latestVersion(spark, m) == head)
  }

  test("VACUUM past a chunked CHECK-set commit re-homes every chunk") {
    val (dir, _) = freshLayout()
    val m = s"$dir/m"
    longChecks.toSeq.sorted.foreach { case (n, c) =>
      Snapshots.addConstraint(spark, m, n, c)
    }
    val chunked = Snapshots.latestVersion(spark, m)
    val chunks = markersIn(m, chunked, "_ck_")
    assert(chunks.size > 1)
    Snapshots.setProperties(spark, m, Map("after" -> "1"))
    Snapshots.setProperties(spark, m, Map("after" -> "2"))
    val head = Snapshots.latestVersion(spark, m)
    Snapshots.vacuum(spark, s"$dir/z", m, retainLast = 1)
    assert(Snapshots.versions(spark, m) == Seq(head))
    assert(markersIn(m, head, "_ck_") == chunks)
    assert(Snapshots.checkConstraints(spark, m, head) == longChecks)
  }

  test("a map marker that fits one name is byte-identical to the " +
      "unchunked encoding (properties, column mapping, CHECK set)") {
    val (dir, _) = freshLayout()
    val m = s"$dir/m"
    def b64(s: String) = java.util.Base64.getUrlEncoder.withoutPadding
      .encodeToString(s.getBytes("UTF-8"))
    val vp = Snapshots.setProperties(spark, m,
      Map("owner" -> "ops", "tier" -> "gold"))
    assert(markersIn(m, vp, "_props_") == Seq(
      s"_props_${b64("owner")}~${b64("ops")},${b64("tier")}~${b64("gold")}"))
    val vc = Snapshots.renameColumn(spark, m, "y", "why")
    assert(markersIn(m, vc, "_cmap_") == Seq("_cmap_" + b64("id=id,why=y,x=x")))
    val vk = Snapshots.addConstraint(spark, m, "pos", "x >= 0")
    assert(markersIn(m, vk, "_ck_") == Seq(s"_ck_${b64("pos")}.${b64("x >= 0")}"))
    // and the empty set after the last DROP CONSTRAINT
    val vd = Snapshots.dropConstraint(spark, m, "pos")
    assert(markersIn(m, vd, "_ck_") == Seq("_ck_"))
    assert(Snapshots.checkConstraints(spark, m, vd).isEmpty)
  }

  test("VACUUM past the CREATE TABLE commit keeps the declared schema") {
    import org.apache.spark.sql.types._
    val dir = tmpDir("snapschema")
    val (z, m) = (s"$dir/z", s"$dir/m")
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("x", LongType)))
    Snapshots.createEmptyTable(spark, m, schema, Seq("id"))
    (1 to 2).foreach(i => Snapshots.appendCommit(spark,
      spark.range(i * 10L, i * 10L + 10).select(col("id"), col("id").as("x")),
      Seq("id"), z, m, nFiles = 1))
    val head = Snapshots.latestVersion(spark, m)
    Snapshots.vacuum(spark, z, m, retainLast = 1)
    assert(Snapshots.versions(spark, m) == Seq(head))
    assert(Snapshots.declaredSchemaAt(spark, m, head).contains(schema))
    // the NOT NULL contract it carries still gates writes
    intercept[Snapshots.ConstraintViolationException] {
      Snapshots.appendCommit(spark, spark.range(1).select(
        lit(null).cast("long").as("id"), col("id").as("x")), Seq("id"), z, m, 1)
    }
  }
}
