package graft.sinks

import org.apache.spark.sql.functions._
import graft.SparkSpec

class ColumnMappingSpec extends SparkSpec {

  private def data = spark.range(2000)
    .select(col("id"),
      pmod(xxhash64(col("id")), lit(100)).as("x"),
      (pmod(xxhash64(col("id"), lit(1)), lit(1000)) / 10.0).as("amount"))

  private def freshTable(): (String, Int) = {
    val dir = tmpDir("cmap")
    Layout.zorderWrite(data, Seq("x", "amount"), s"$dir/z", nFiles = 8)
    val v1 = Snapshots.commit(spark,
      Layout.buildManifest(spark, s"$dir/z", Seq("x", "amount")), s"$dir/m")
    (dir, v1)
  }

  /** (name, length, mtime) of every data file — the byte-identity witness. */
  private def listing(dir: String): Set[(String, Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).filter(st => st.isFile &&
        !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .map(st => (st.getPath.getName, st.getLen, st.getModificationTime))
      .toSet
  }

  test("rename commit is metadata-only: data file set byte-identical") {
    val (dir, v1) = freshTable()
    val before = listing(s"$dir/z")
    val v2 = Snapshots.renameColumn(spark, s"$dir/m", "amount", "price")
    assert(v2 == v1 + 1)
    assert(listing(s"$dir/z") == before,
      "rename touched data files — must be metadata-only")
    // the manifest content is unchanged too: same file references
    val mf = (v: Int) => Snapshots.manifestAt(spark, s"$dir/m", v)
      .select("file").collect().map(_.getString(0)).toSet
    assert(mf(v2) == mf(v1))
  }

  test("pinned reads below the rename serve the old name; above, the new") {
    val (dir, v1) = freshTable()
    val v2 = Snapshots.renameColumn(spark, s"$dir/m", "amount", "price")
    val pinned = Snapshots.mappedTableAt(spark, s"$dir/m", v1)
    assert(pinned.columns.toSeq == Seq("id", "x", "amount"))
    val latest = Snapshots.mappedTableAt(spark, s"$dir/m", v2)
    assert(latest.columns.toSeq == Seq("id", "x", "price"))
    // same rows either way — the rename is a pure relabeling
    assert(latest.select(sum(col("price"))).head.getDouble(0) ==
      pinned.select(sum(col("amount"))).head.getDouble(0))
  }

  test("append after rename via toPhysical; stats prune on the logical name") {
    val (dir, _) = freshTable()
    val v2 = Snapshots.renameColumn(spark, s"$dir/m", "amount", "price")
    val mapping = Snapshots.columnMapping(spark, s"$dir/m", v2).get
    val batch = spark.range(2000, 2500)
      .select(col("id"),
        pmod(xxhash64(col("id")), lit(100)).as("x"),
        (pmod(xxhash64(col("id"), lit(1)), lit(1000)) / 10.0).as("price"))
    val (v3, _) = Snapshots.appendCommit(spark,
      Snapshots.toPhysical(batch, mapping), Seq("x", "amount"),
      s"$dir/z", s"$dir/m", nFiles = 2)
    val t = Snapshots.mappedTableAt(spark, s"$dir/m", v3)
    assert(t.columns.toSeq == Seq("id", "x", "price"))
    assert(t.count() == 2500)
    // pruned read on the LOGICAL name: translated to min_amount/max_amount
    // stats under the hood, emitted back as `price`
    val pr = Snapshots.mappedReadAt(spark, s"$dir/m", v3,
      Seq(("price", 10.0, 30.0)))
    assert(pr.df.columns.toSeq == Seq("id", "x", "price"))
    assert(pr.filesRead < pr.filesTotal, "stats should prune through the map")
    val expected = t.filter(col("price").between(10.0, 30.0))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(pr.df.select("id").collect().map(_.getLong(0)).toSet == expected)
    // toPhysical rejects columns the mapping doesn't know
    val bad = batch.withColumnRenamed("price", "mystery")
    assertThrows[IllegalArgumentException](
      Snapshots.toPhysical(bad, mapping))
  }

  test("CDF across a rename is key-correct and rename adds no row changes") {
    val (dir, v1) = freshTable()
    val v2 = Snapshots.renameColumn(spark, s"$dir/m", "amount", "price")
    // the rename alone: an EMPTY feed (no (file, dv) pair changed)
    val renameOnly = Snapshots.mappedChangesBetween(spark, s"$dir/m", v1, v2)
    assert(renameOnly.df.count() == 0)
    val mapping = Snapshots.columnMapping(spark, s"$dir/m", v2).get
    val batch = spark.range(2000, 2300)
      .select(col("id"),
        pmod(xxhash64(col("id")), lit(100)).as("x"),
        (pmod(xxhash64(col("id"), lit(1)), lit(1000)) / 10.0).as("price"))
    val (v3, _) = Snapshots.appendCommit(spark,
      Snapshots.toPhysical(batch, mapping), Seq("x", "amount"),
      s"$dir/z", s"$dir/m", nFiles = 2)
    val feed = Snapshots.mappedChangesBetween(spark, s"$dir/m", v1, v3)
    assert(feed.df.columns.contains("price") &&
      !feed.df.columns.contains("amount"))
    val inserts = feed.df.filter(col("change_type") === "insert")
    assert(inserts.count() == 300)
    assert(feed.df.filter(col("change_type") === "delete").count() == 0)
    assert(inserts.select("id").collect().map(_.getLong(0)).toSet ==
      (2000L until 2300L).toSet)
  }

  test("drop hides the column at the new version, pinned reads keep it") {
    val (dir, _) = freshTable()
    val v2 = Snapshots.renameColumn(spark, s"$dir/m", "amount", "price")
    val before = listing(s"$dir/z")
    val v3 = Snapshots.dropColumn(spark, s"$dir/m", "x")
    assert(listing(s"$dir/z") == before, "drop must be metadata-only")
    assert(Snapshots.mappedTableAt(spark, s"$dir/m", v3).columns.toSeq ==
      Seq("id", "price"))
    assert(Snapshots.mappedTableAt(spark, s"$dir/m", v2).columns.toSeq ==
      Seq("id", "x", "price"))
    // guards: unknown columns and emptying the schema are rejected
    assertThrows[IllegalArgumentException](
      Snapshots.renameColumn(spark, s"$dir/m", "nope", "x2"))
    assertThrows[IllegalArgumentException](
      Snapshots.renameColumn(spark, s"$dir/m", "id", "price"))
    assertThrows[IllegalArgumentException](
      Snapshots.dropColumn(spark, s"$dir/m", "ghost"))
  }

  test("schema-evolution ADD after a rename: extendMapping then append") {
    val (dir, _) = freshTable()
    val v2 = Snapshots.renameColumn(spark, s"$dir/m", "amount", "price")
    // an appended physical column is invisible until mapped — extend first
    val v3 = Snapshots.extendMapping(spark, s"$dir/m", "score")
    val mapping = Snapshots.columnMapping(spark, s"$dir/m", v3).get
    assert(mapping("score") == "score" && mapping("price") == "amount")
    val batch = spark.range(2000, 2400)
      .select(col("id"),
        pmod(xxhash64(col("id")), lit(100)).as("x"),
        (pmod(xxhash64(col("id"), lit(1)), lit(1000)) / 10.0).as("price"),
        (col("id") % 7).cast("double").as("score"))
    val (v4, _) = Snapshots.appendCommit(spark,
      Snapshots.toPhysical(batch, mapping), Seq("x", "amount"),
      s"$dir/z", s"$dir/m", nFiles = 2)
    val t = Snapshots.mappedTableAt(spark, s"$dir/m", v4)
    assert(t.columns.toSeq == Seq("id", "x", "amount", "score").map {
      case "amount" => "price"; case c => c })
    assert(t.filter(col("score").isNotNull).count() == 400)
    assert(t.filter(col("score").isNull).count() == 2000)
    // pinned below the extension: no score column visible
    assert(!Snapshots.mappedTableAt(spark, s"$dir/m", v2).columns.contains("score"))
    // guards
    assertThrows[IllegalArgumentException](
      Snapshots.extendMapping(spark, s"$dir/m", "price"))
    assertThrows[IllegalArgumentException](
      Snapshots.extendMapping(spark, s"$dir/m", "cost", Some("amount")))
  }

  test("AS OF timestamp resolves to the last version at or before the stamp") {
    val (dir, v1) = freshTable()
    val res = Snapshots.deleteWhere(spark, s"$dir/z", s"$dir/m",
      Seq("x", "amount"), Seq(("x", 10.0, 40.0)))
    assert(res.rowsDeleted > 0)
    val v2 = Snapshots.latestVersion(spark, s"$dir/m")
    val ts1 = Snapshots.commitTimestamp(spark, s"$dir/m", v1).get
    val ts2 = Snapshots.commitTimestamp(spark, s"$dir/m", v2).get
    assert(ts2 > ts1, "stamps must be strictly monotonic for a single writer")
    assert(Snapshots.versionAtTimestamp(spark, s"$dir/m", ts1) == v1)
    assert(Snapshots.versionAtTimestamp(spark, s"$dir/m", ts2 - 1) == v1)
    assert(Snapshots.versionAtTimestamp(spark, s"$dir/m", ts2) == v2)
    assert(Snapshots.versionAtTimestamp(spark, s"$dir/m", ts2 + 60000) == v2)
    assertThrows[IllegalArgumentException](
      Snapshots.versionAtTimestamp(spark, s"$dir/m", ts1 - 1))
    // the resolved pre-delete version still serves the deleted band
    val asOf = Snapshots.tableAt(spark, s"$dir/m",
      Snapshots.versionAtTimestamp(spark, s"$dir/m", ts1))
    assert(asOf.filter(col("x").between(10.0, 40.0)).count() > 0)
  }

  /** A 20-column table of ten-character names: its mapping cannot fit one
    * marker name (NAME_MAX 255 on ext4). */
  private def wideTable(): String = {
    val dir = tmpDir("cmapwide")
    val cols = (1 to 20).map(i => f"measure_$i%02d")
    val df = spark.range(200).select(
      cols.zipWithIndex.map { case (c, i) => (col("id") * (i + 1)).as(c) }: _*)
    Layout.zorderWrite(df, Seq("measure_01"), s"$dir/z", nFiles = 2)
    Snapshots.commit(spark,
      Layout.buildManifest(spark, s"$dir/z", Seq("measure_01")), s"$dir/m")
    dir
  }

  private def cmapMarkers(m: String, v: Int): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$m/v=$v")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
      .map(_.getPath.getName).filter(_.startsWith("_cmap_")).toSeq.sorted
  }

  test("RENAME COLUMN on a 20-column table chunks the mapping marker") {
    val dir = wideTable()
    val m = s"$dir/m"
    val v = Snapshots.renameColumn(spark, m, "measure_07", "renamed_07")
    val chunks = cmapMarkers(m, v)
    assert(chunks.size > 1, chunks)
    chunks.foreach(n => assert(n.getBytes("UTF-8").length <= 255, n))
    val mapping = Snapshots.columnMapping(spark, m, v).get
    assert(mapping.size == 20 && mapping("renamed_07") == "measure_07")
    val t = Snapshots.mappedTableAt(spark, m, v)
    assert(t.columns.contains("renamed_07") && !t.columns.contains("measure_07"))
    assert(t.agg(sum(col("renamed_07"))).head().getLong(0) ==
      (0 until 200).map(_ * 7L).sum)
  }

  test("VACUUM past a chunked column-mapping commit re-homes every chunk") {
    val dir = wideTable()
    val m = s"$dir/m"
    val vr = Snapshots.renameColumn(spark, m, "measure_07", "renamed_07")
    val chunks = cmapMarkers(m, vr)
    assert(chunks.size > 1)
    val mapping = Snapshots.columnMapping(spark, m, vr)
    assert(mapping.exists(_.size == 20))
    Snapshots.setProperties(spark, m, Map("after" -> "1"))
    Snapshots.setProperties(spark, m, Map("after" -> "2"))
    val head = Snapshots.latestVersion(spark, m)
    Snapshots.vacuum(spark, s"$dir/z", m, retainLast = 1)
    assert(Snapshots.versions(spark, m) == Seq(head))
    assert(cmapMarkers(m, head) == chunks)
    assert(Snapshots.columnMapping(spark, m, head) == mapping)
    assert(Snapshots.mappedTableAt(spark, m, head).columns.contains("renamed_07"))
  }
}
