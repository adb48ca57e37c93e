package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sources.v2.{CommitPartition, CommitsMicroBatchStream, VersionOffset}
import graft.sql.{ApplyChanges, LakeRowsMicroBatchStream, LakeRowsOffset, LakeRowsPartition, LakeSql}

/** Every "what did commit v change" reader over one log with an aborted
  * cross-table txn stage in the middle — v1 full, v2 append, v3 a stage
  * whose txn aborted, v4 append: each skips v3 and diffs v4 against v2.
  * Plus walks from a vacuumed base, history on an empty version and its
  * job count on a warm log. */
class CommitWalkSpec extends SparkSpec {

  private val cols = Seq("id", "x")

  private def batch(lo: Long, n: Long): DataFrame =
    spark.range(lo, lo + n).select(col("id"), (col("id") % 97).as("x"))

  /** v1 (ids 0–99, two files) and v2 (ids 100–149). */
  private def base(): String = {
    val dir = tmpDir("walk")
    Layout.zorderWrite(batch(0, 100), cols, s"$dir/z", nFiles = 2)
    Snapshots.commit(spark, Layout.buildManifest(spark, s"$dir/z", cols),
      s"$dir/m")
    Snapshots.appendCommit(spark, batch(100, 50), cols, s"$dir/z",
      s"$dir/m", nFiles = 1)
    dir
  }

  /** v3: a txn stage (ids 1000–1049) whose transaction aborts; v4: ids
    * 150–199. */
  private def abortedThenAppend(dir: String): Unit = {
    val (stage, _) = Snapshots.appendCommit(spark, batch(1000, 50), cols,
      s"$dir/z", s"$dir/m", nFiles = 1,
      contentFiles = Seq(Snapshots.TxnPendingMarker -> s"$dir/txn\nt1"))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(s"$dir/txn", "abort_t1")).close()
    val (v4, _) = Snapshots.appendCommit(spark, batch(150, 50), cols,
      s"$dir/z", s"$dir/m", nFiles = 1)
    assert(stage == 3 && v4 == 4)
    assert(Snapshots.visibleVersions(spark, s"$dir/m") == Seq(1, 2, 4))
  }

  private def fixture(): String = {
    val dir = base()
    abortedThenAppend(dir)
    dir
  }

  private def files(m: String, v: Int): Set[String] =
    Dv.entries(Snapshots.manifestAt(spark, m, v)).map(_.file).toSet

  private def ids(df: DataFrame): Set[Long] =
    df.select("id").collect().map(_.getLong(0)).toSet

  test("history skips the aborted stage") {
    val m = s"${fixture()}/m"
    assert(Snapshots.history(spark, m) == Seq(
      Snapshots.HistoryEntry(1, "create", 100),
      Snapshots.HistoryEntry(2, "append", 150),
      Snapshots.HistoryEntry(4, "append", 200)))
  }

  test("Cdc.sync mirrors the commit above the aborted stage") {
    val dir = base()
    Cdc.sync(spark, s"$dir/m", s"$dir/mir/z", s"$dir/mir/m", "id", cols)
    abortedThenAppend(dir)
    val r = Cdc.sync(spark, s"$dir/m", s"$dir/mir/z", s"$dir/mir/m", "id",
      cols)
    assert(r.fromVersion == 2 && r.toVersion == 4 && r.commitsApplied == 1)
    assert(Snapshots.versionForTag(spark, s"$dir/mir/m", "cdc_4").nonEmpty)
    assert(Snapshots.versionForTag(spark, s"$dir/mir/m", "cdc_3").isEmpty)
    assert(ids(Snapshots.tableAt(spark, s"$dir/mir/m",
      Snapshots.latestVersion(spark, s"$dir/mir/m"))) == (0L until 200L).toSet)
  }

  /** base() mirrored at v2, then v3 appends, v4 deletes ids 0–9, v5
    * appends, and vacuum keeps v5 only; returns the dir and v2's files. */
  private def vacuumedPastMirror(): (String, Set[String]) = {
    val dir = base()
    val (m, z) = (s"$dir/m", s"$dir/z")
    Cdc.sync(spark, m, s"$dir/mir/z", s"$dir/mir/m", "id", cols)
    val readAt2 = files(m, 2)
    Snapshots.appendCommit(spark, batch(150, 50), cols, z, m, nFiles = 1)
    Snapshots.deleteWhere(spark, z, m, cols, Seq(("id", 0.0, 9.0)))
    Snapshots.appendCommit(spark, batch(200, 50), cols, z, m, nFiles = 1)
    Snapshots.vacuum(spark, z, m, retainLast = 1)
    assert(Snapshots.versions(spark, m) == Seq(5))
    (dir, readAt2)
  }

  test("Cdc.sync refuses a mirror that lags past a vacuum") {
    // diffed against the empty table, v5 would re-insert ids 0–149 into
    // the mirror and never delete ids 0–9
    val (dir, _) = vacuumedPastMirror()
    val mirrored = Snapshots.latestVersion(spark, s"$dir/mir/m")
    val e = intercept[IllegalStateException](
      Cdc.sync(spark, s"$dir/m", s"$dir/mir/z", s"$dir/mir/m", "id", cols))
    assert(e.getMessage.contains("vacuumed"))
    assert(Snapshots.latestVersion(spark, s"$dir/mir/m") == mirrored)
  }

  test("commitTxn refuses a read version that was vacuumed") {
    // v4 deleted from a file the txn read at v2: diffed against the empty
    // table, v5 would show no removal and the txn would land blind
    val (dir, readAt2) = vacuumedPastMirror()
    val e = intercept[IllegalStateException](Snapshots.commitTxn(spark,
      s"$dir/m", Snapshots.Txn(2, Set.empty, None, readAt2)))
    assert(e.getMessage.contains("vacuumed"))
    assert(Snapshots.versions(spark, s"$dir/m") == Seq(5))
  }

  test("a row stream from offset 0 serves the retained snapshot of a " +
      "vacuumed log") {
    val m = s"${vacuumedPastMirror()._1}/m"
    val rows = new LakeRowsMicroBatchStream(m, batch(0, 1).schema, Map.empty)
    val streamed = rows.planInputPartitions(LakeRowsOffset(0, Int.MaxValue),
        rows.latestOffset())
      .map(_.asInstanceOf[LakeRowsPartition].file).toSet
    assert(streamed == files(m, 5))
  }

  test("streams whose consumed version survived a vacuum keep going") {
    val dir = base()
    val (m, z) = (s"$dir/m", s"$dir/z")
    Snapshots.appendCommit(spark, batch(150, 50), cols, z, m, nFiles = 1)
    Snapshots.vacuum(spark, z, m, retainLast = 2)
    assert(Snapshots.versions(spark, m) == Seq(2, 3))
    val added = files(m, 3) -- files(m, 2)
    val commits = new CommitsMicroBatchStream(Map("manifestRoot" -> m))
    val parts = commits.planInputPartitions(VersionOffset(2),
        commits.latestOffset())
      .map(_.asInstanceOf[CommitPartition])
    assert(parts.map(_.version).toSeq == Seq(3) &&
      parts.head.files.toSet == added)
    val rows = new LakeRowsMicroBatchStream(m, batch(0, 1).schema, Map.empty)
    val streamed = rows.planInputPartitions(LakeRowsOffset(2, Int.MaxValue),
        rows.latestOffset())
      .map(_.asInstanceOf[LakeRowsPartition].file).toSet
    assert(streamed == added)
  }

  test("ApplyChanges.scd2 opens the keys of the commit above the aborted " +
      "stage") {
    val dir = fixture()
    LakeSql.unregister("walk_scd")
    LakeSql.sql(spark, s"""CREATE TABLE walk_scd (id BIGINT, x BIGINT,
      start_at BIGINT, end_at BIGINT, is_current BOOLEAN)
      USING lake LOCATION '$dir/scd'
      TBLPROPERTIES ('stats_cols' = 'id,start_at', 'files' = '1')""")
    try {
      val r = ApplyChanges.scd2(spark, s"$dir/m", "walk_scd", "id", Seq("x"))
      assert(r.toVersion == 4 && r.commitsApplied == 3)
      val opened = LakeSql.sql(spark,
        "SELECT start_at, id FROM walk_scd WHERE is_current").collect()
        .groupBy(_.getLong(0)).map { case (v, rs) =>
          v -> rs.map(_.getLong(1)).toSet }
      assert(opened == Map(1L -> (0L until 100L).toSet,
        2L -> (100L until 150L).toSet, 4L -> (150L until 200L).toSet))
    } finally LakeSql.unregister("walk_scd")
  }

  /** A registered, empty SCD2 target over (id, x) under `dir`. */
  private def scdTarget(dir: String, name: String): Unit = {
    LakeSql.unregister(name)
    LakeSql.sql(spark, s"""CREATE TABLE $name (id BIGINT, x BIGINT,
      start_at BIGINT, end_at BIGINT, is_current BOOLEAN)
      USING lake LOCATION '$dir/scd'
      TBLPROPERTIES ('stats_cols' = 'id,start_at', 'files' = '1')""")
    ()
  }

  test("ApplyChanges.scd2 bootstraps a fresh target from the oldest " +
      "retained version of a vacuumed source") {
    val (dir, _) = vacuumedPastMirror()
    scdTarget(dir, "walk_scd_vac")
    try {
      val r = ApplyChanges.scd2(spark, s"$dir/m", "walk_scd_vac", "id",
        Seq("x"))
      assert(r.toVersion == 5 && r.commitsApplied == 1)
      val opened = LakeSql.sql(spark,
        "SELECT start_at, id FROM walk_scd_vac WHERE is_current").collect()
      assert(opened.map(_.getLong(0)).toSet == Set(5L))
      assert(opened.map(_.getLong(1)).toSet == (10L until 250L).toSet)
    } finally LakeSql.unregister("walk_scd_vac")
  }

  test("ApplyChanges.scd2 refuses a target that lags past a source vacuum") {
    // the target applied v2; v3–v4 (a delete of ids 0–9) are vacuumed
    // away before it applies again
    val dir = base()
    val (m, z) = (s"$dir/m", s"$dir/z")
    scdTarget(dir, "walk_scd_lag")
    try {
      ApplyChanges.scd2(spark, m, "walk_scd_lag", "id", Seq("x"))
      Snapshots.appendCommit(spark, batch(150, 50), cols, z, m, nFiles = 1)
      Snapshots.deleteWhere(spark, z, m, cols, Seq(("id", 0.0, 9.0)))
      Snapshots.appendCommit(spark, batch(200, 50), cols, z, m, nFiles = 1)
      Snapshots.vacuum(spark, z, m, retainLast = 1)
      val target = Snapshots.latestVersion(spark, s"$dir/scd/m")
      val e = intercept[IllegalStateException](
        ApplyChanges.scd2(spark, m, "walk_scd_lag", "id", Seq("x")))
      assert(e.getMessage.contains("vacuumed"))
      assert(Snapshots.latestVersion(spark, s"$dir/scd/m") == target)
    } finally LakeSql.unregister("walk_scd_lag")
  }

  test("commitTxn rebases over the visible commits only") {
    val dir = fixture()
    val m = s"$dir/m"
    val drop = files(m, 1).head
    val r = Snapshots.commitTxn(spark, m,
      Snapshots.Txn(2, Set(drop), None, Set(drop)))
    assert(r.version == 5 && r.rebasedOver == 1)
    assert(files(m, 5) == files(m, 4) - drop)
  }

  test("changesBetween(2, 4) is the v4 batch") {
    val m = s"${fixture()}/m"
    val feed = Snapshots.changesBetween(spark, m, 2, 4).df
    assert(feed.filter(col("change_type") =!= "insert").isEmpty)
    assert(ids(feed) == (150L until 200L).toSet && feed.count() == 50L)
  }

  test("both commit streams emit v2 and v4, never v3") {
    val m = s"${fixture()}/m"
    val commits = new CommitsMicroBatchStream(Map("manifestRoot" -> m))
    val parts = commits.planInputPartitions(VersionOffset(0),
        commits.latestOffset())
      .map(_.asInstanceOf[CommitPartition])
    assert(parts.map(_.version).toSeq == Seq(1, 2, 4))
    assert(parts.last.files.toSet == files(m, 4) -- files(m, 2))
    val rows = new LakeRowsMicroBatchStream(m,
      batch(0, 1).schema, Map.empty)
    val streamed = rows.planInputPartitions(LakeRowsOffset(0, Int.MaxValue),
        rows.latestOffset())
      .map(_.asInstanceOf[LakeRowsPartition].file).toSet
    assert(streamed == files(m, 4))
  }

  test("table_history on a CREATE TABLE'd table and after a covering " +
      "DELETE reports the empty versions as 0 rows") {
    val root = tmpDir("walk_ct")
    LakeSql.unregister("walk_ct")
    LakeSql.sql(spark, s"""CREATE TABLE walk_ct (id BIGINT, x BIGINT)
      USING lake LOCATION '$root'
      TBLPROPERTIES ('stats_cols' = 'id', 'files' = '1')""")
    try {
      def hist() = LakeSql.sql(spark,
          "SELECT version, operation, rows FROM table_history('walk_ct') " +
            "ORDER BY version").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      assert(hist() == Seq((1L, "create", 0L)))
      LakeSql.sql(spark, "INSERT INTO walk_ct VALUES (1, 2), (3, 4)")
      LakeSql.sql(spark, "DELETE FROM walk_ct WHERE id >= 0")
      assert(hist() == Seq((1L, "create", 0L), (2L, "append", 2L),
        (3L, "delete", 0L)))
    } finally LakeSql.unregister("walk_ct")
  }

  test("history of a warm cached log starts no Spark job") {
    val root = tmpDir("walk_jobs")
    LakeSql.unregister("walk_jobs")
    LakeSql.setWarehouse(root)
    LakeSql.sql(spark, "CREATE TABLE walk_jobs TBLPROPERTIES " +
      "('stats_cols'='id','files'='1') AS SELECT id, id % 7 AS x " +
      "FROM range(10)")
    try {
      (1 to 8).foreach(i =>
        LakeSql.sql(spark, s"INSERT INTO walk_jobs VALUES ($i, $i)"))
      val m = s"$root/walk_jobs/m"
      val warm = Snapshots.history(spark, m)
      assert(warm.map(_.version) == (1 to 9) &&
        warm.last.rows == 18L)
      val jobs = jobsOf(Snapshots.history(spark, m))
      assert(jobs.isEmpty, s"warm history started jobs: $jobs")
    } finally LakeSql.unregister("walk_jobs")
  }
}
