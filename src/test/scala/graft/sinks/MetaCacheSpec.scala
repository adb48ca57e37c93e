package graft.sinks

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sql.LakeSql

/** The lake's one metadata cache: one `forget(root)` covers every kind of
  * entry (a DROP + re-create at the same LOCATION must not see the old
  * life's COPY INTO ledger or CHECK constraints), both bounds hold, an
  * unresolved txn stage is never stored, a dropped root fails like an
  * uncached read, and an oversized manifest is never collected. */
class MetaCacheSpec extends SparkSpec {

  private def fd(sql: String) = LakeSql.sql(spark, sql)

  test("COPY INTO and CHECK after DROP TABLE PURGE + re-create at the " +
      "same LOCATION see only the new table's log") {
    val root = tmpDir("mcdrop")
    val src = tmpDir("mcsrc")
    (0 until 2).foreach { i =>
      spark.range(i * 10L, i * 10L + 10).select(col("id"),
          (col("id") % 7).as("x"))
        .coalesce(1).write.mode("append").parquet(src)
    }
    def create() = fd(s"""CREATE TABLE mc_t (id BIGINT, x BIGINT) USING lake
        LOCATION '$root' TBLPROPERTIES ('stats_cols' = 'id', 'files' = '1')""")
    def loaded() = fd(s"COPY INTO mc_t FROM '$src'").head()
      .getAs[Long]("files_loaded")
    LakeSql.unregister("mc_t")
    create()
    fd("ALTER TABLE mc_t ADD CONSTRAINT x_nonneg CHECK (x >= 0)")
    assert(loaded() == 2L)
    // a no-op re-run and a valid insert bring both marker scans to the head
    assert(loaded() == 0L)
    fd("INSERT INTO mc_t VALUES (100, 1)")
    val oldHead = Snapshots.latestVersion(spark, s"$root/m")

    fd("DROP TABLE mc_t PURGE")
    create()
    // metadata-only commits take the new log to the old head without a
    // write path reading either marker set
    (2 to oldHead).foreach(i =>
      fd(s"ALTER TABLE mc_t SET TBLPROPERTIES ('n' = '$i')"))
    assert(Snapshots.latestVersion(spark, s"$root/m") == oldHead)
    assert(loaded() == 2L, "COPY INTO skipped files the old table loaded")
    fd("INSERT INTO mc_t VALUES (200, -1)") // the old CHECK must not refuse it
    assert(fd("SELECT count(*) FROM mc_t").head().getLong(0) == 21L)
    LakeSql.unregister("mc_t")
  }

  test("filling past the entry bound and the row budget stays inside both") {
    val root = s"mcfill-${java.util.UUID.randomUUID()}"
    try {
      (0 until MetaCache.MaxEntries + 100).foreach(i =>
        MetaCache.put(root, ("k", i), i))
      val s1 = MetaCache.stats
      assert(s1.entries == MetaCache.MaxEntries)
      assert(MetaCache.get[Int](root, ("k", MetaCache.MaxEntries + 99))
        .contains(MetaCache.MaxEntries + 99))
      assert(MetaCache.get[Int](root, ("k", 0)).isEmpty) // least recent
      val heavy = (MetaCache.MaxRows / MetaCache.MaxEntryRows + 5).toInt
      (0 until heavy).foreach(i =>
        MetaCache.put(root, ("m", i), i, MetaCache.MaxEntryRows.toLong))
      val s2 = MetaCache.stats
      assert(s2.rows <= MetaCache.MaxRows)
      assert(s2.entries <= MetaCache.MaxEntries)
      assert(s2.evictions > s1.evictions)
      MetaCache.forget(root)
      assert(MetaCache.get[Int](root, ("m", heavy - 1)).isEmpty)
    } finally MetaCache.clear()
  }

  test("an unresolved txn stage is never stored; its resolution is") {
    val dir = tmpDir("mctxn")
    val m = s"$dir/m"
    val manifest = spark.range(3).select(
      concat(lit("f"), col("id").cast("string")).as("file"),
      col("id").as("rows"))
    Snapshots.commit(spark, manifest, m)
    val id = "t1"
    val v = Snapshots.commit(spark, manifest, m, contentFiles =
      Seq(Snapshots.TxnPendingMarker -> s"$dir/txn\n$id"))
    assert(!Snapshots.txnVisible(spark, m, v))
    assert(MetaCache.get[Boolean](m, ("txn", v)).isEmpty)
    assert(Snapshots.latestVersion(spark, m) == v - 1)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(s"$dir/txn", s"commit_$id"))
      .close()
    assert(Snapshots.latestVersion(spark, m) == v)
    assert(MetaCache.get[Boolean](m, ("txn", v)).contains(true))
  }

  test("a dropped, not re-created root fails exactly like an uncached read") {
    val dir = tmpDir("mcgone")
    val m = s"$dir/m"
    Snapshots.commit(spark, spark.range(5).select(
      concat(lit("f"), col("id").cast("string")).as("file"),
      col("id").as("rows")), m)
    assert(Snapshots.manifestAt(spark, m, 1).count() == 5L) // cache warm
    val fs = new org.apache.hadoop.fs.Path(m)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(m), true)
    def failure(): Throwable =
      intercept[Exception](Snapshots.manifestAt(spark, m, 1).collect())
    val cached = failure()
    MetaCache.clear()
    val uncached = failure()
    assert(cached.getClass == uncached.getClass)
    assert(cached.getMessage == uncached.getMessage)
  }

  test("a manifest over the per-entry row cap is never collected") {
    val m = s"${tmpDir("mcbig")}/m"
    val n = MetaCache.MaxEntryRows + 10L
    // a distributed plan, so the commit does not stage (and cache) the
    // rows on the driver
    Snapshots.commit(spark, spark.range(n).select(
      concat(lit("f"), col("id").cast("string")).as("file"),
      col("id").as("rows")), m)
    MetaCache.clear()
    // neither a collect nor a schema-inference job: the schema comes from
    // the part file's footer, read on the driver
    val jobs = jobsOf(Snapshots.manifestAt(spark, m, 1))
    assert(jobs.isEmpty, jobs.mkString("; "))
    assert(Snapshots.manifestAt(spark, m, 1).count() == n)
  }

  test("a root replaced behind the JVM's back by a SHORTER log: properties, " +
      "column mapping and CHECK set all read the new log") {
    val dir = tmpDir("mcswap")
    val (root, other) = (s"$dir/m", s"$dir/other")
    def born(data: String, m: String): Unit = {
      Layout.zorderWrite(spark.range(20).select(col("id"),
        (col("id") % 5).as("x")), Seq("id"), data, nFiles = 1)
      Snapshots.commit(spark, Layout.buildManifest(spark, data, Seq("id")), m)
    }
    // the old log: five versions, every version's metadata read (memoized)
    born(s"$dir/za", root)
    Snapshots.renameColumn(spark, root, "x", "xa")
    Snapshots.addConstraint(spark, root, "ca", "id >= 0")
    Snapshots.setProperties(spark, root, Map("owner" -> "a"))
    Snapshots.setProperties(spark, root, Map("n" -> "5"))
    (1 to 5).foreach { v =>
      Snapshots.tableProperties(spark, root, v)
      Snapshots.columnMapping(spark, root, v)
      Snapshots.checkConstraints(spark, root, v)
    }
    // the new log, four versions, built elsewhere and copied over the
    // old root with plain FS calls: this JVM never forgets the root
    born(s"$dir/zb", other)
    Snapshots.setProperties(spark, other, Map("owner" -> "b"))
    Snapshots.renameColumn(spark, other, "x", "xb")
    Snapshots.addConstraint(spark, other, "cb", "id < 100")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    assert(org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(other), fs,
      new org.apache.hadoop.fs.Path(root), false, conf))
    val v = Snapshots.latestVersion(spark, root)
    assert(v == 4)
    assert(Snapshots.tableProperties(spark, root, v) == Map("owner" -> "b"))
    assert(Snapshots.columnMapping(spark, root, v) ==
      Some(Map("id" -> "id", "xb" -> "x")))
    assert(Snapshots.checkConstraints(spark, root, v) == Map("cb" -> "id < 100"))
  }
}
