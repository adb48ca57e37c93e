package graft.sql

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sinks.{Layout, MetaCache, Snapshots}
import graft.sql.LakeSql.LakeTableSpec

/** Round-14 SQL-surface additions: REPLACE WHERE (scoped atomic overwrite),
  * persisted CHECK constraints, OPTIMIZE … ZORDER BY re-clustering, CONVERT
  * TO LAKE in-place adoption, COPY INTO idempotent ingest, DML subquery
  * predicates, NOT-MATCHED-BY-SOURCE merges, scoped OPTIMIZE WHERE, VACUUM
  * DRY RUN, DESCRIBE DETAIL, TBLPROPERTIES + auto-compact, REORG APPLY
  * (PURGE), whole-file metadata-only DELETE drops (+ REPLACE WHERE /
  * TRUNCATE), FSCK REPAIR, SHOW CREATE TABLE, MoR delete/update modes, and
  * DEEP CLONE. */
class LakeSurfaceR14Spec extends SparkSpec {

  private def data = spark.range(10000)
    .select(col("id"),
      pmod(xxhash64(col("id")), lit(1000)).as("x"),
      pmod(xxhash64(col("id"), lit(1)), lit(1000)).as("y"))

  private def freshLake(name: String): (String, Int) = {
    val dir = tmpDir("laker14")
    Layout.zorderWrite(data, Seq("id", "x"), s"$dir/z", nFiles = 16)
    val v1 = Snapshots.commit(spark,
      Layout.buildManifest(spark, s"$dir/z", Seq("id", "x")), s"$dir/m")
    LakeSql.register(name,
      LakeTableSpec(s"$dir/z", s"$dir/m", Seq("id", "x"), nFiles = 8))
    (dir, v1)
  }

  private def dataFiles(dir: String): Set[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).toSeq.filter(_.isFile)
      .map(s => s.getPath.getName + ":" + s.getLen).toSet
  }

  // ---------------------------------------------------------- REPLACE WHERE

  test("REPLACE WHERE lands delete+insert as ONE commit, pruned") {
    val (dir, v1) = freshLake("t_rw")
    val batch = data.filter(col("x").between(100, 199))
      .withColumn("y", col("y") + 5000)
    batch.createOrReplaceTempView("rw_batch")
    val m = LakeSql.sql(spark,
      "INSERT INTO t_rw REPLACE WHERE x >= 100 AND x <= 199 " +
        "SELECT * FROM rw_batch").head()
    // ONE version: atomicity — no intermediate delete-only state exists
    assert(m.getAs[Long]("version") == v1 + 1)
    assert(Snapshots.latestVersion(spark, s"$dir/m") == v1 + 1)
    assert(m.getAs[Long]("rows_deleted") ==
      data.filter(col("x").between(100, 199)).count())
    assert(m.getAs[Long]("files_rewritten") < m.getAs[Long]("files_total"))
    // final state: out-of-scope rows untouched, in-scope rows replaced
    val got = LakeSql.sql(spark, "SELECT sum(y) AS s FROM t_rw")
      .head().getLong(0)
    val want = data.filter(!col("x").between(100, 199))
      .unionByName(batch)
      .agg(sum("y")).head().getLong(0)
    assert(got == want)
    // pinned pre-replace read intact
    assert(LakeSql.sql(spark,
      s"SELECT count(*) AS n FROM t_rw VERSION AS OF $v1")
      .head().getLong(0) == 10000L)
  }

  test("REPLACE WHERE rejects a batch with rows outside the scope") {
    val (dir, v1) = freshLake("t_rw_esc")
    data.filter(col("x").between(100, 220)) // 200..220 escape the scope
      .createOrReplaceTempView("rw_esc_batch")
    val e = intercept[IllegalArgumentException] {
      LakeSql.sql(spark,
        "INSERT INTO t_rw_esc REPLACE WHERE x >= 100 AND x <= 199 " +
          "SELECT * FROM rw_esc_batch")
    }
    assert(e.getMessage.contains("OUTSIDE"))
    // nothing committed, table byte-identical
    assert(Snapshots.latestVersion(spark, s"$dir/m") == v1)
    assert(LakeSql.sql(spark, "SELECT count(*) AS n FROM t_rw_esc")
      .head().getLong(0) == 10000L)
  }

  test("REPLACE WHERE with an unprunable predicate is rejected loudly") {
    freshLake("t_rw_unp")
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark,
        "INSERT INTO t_rw_unp REPLACE WHERE y >= 0 SELECT * FROM t_rw_unp")
    }
  }

  // ------------------------------------------------------------ COPY INTO

  test("COPY INTO loads once, skips on re-run, picks up only new files") {
    val (dir, v1) = freshLake("t_copy")
    val srcDir = tmpDir("copysrc")
    // two source parquet files (one per write)
    data.filter(col("id") < 100)
      .withColumn("id", col("id") + 100000)
      .coalesce(1).write.mode("append").parquet(srcDir)
    data.filter(col("id") >= 100 && col("id") < 150)
      .withColumn("id", col("id") + 100000)
      .coalesce(1).write.mode("append").parquet(srcDir)
    val m1 = LakeSql.sql(spark, s"COPY INTO t_copy FROM '$srcDir'").head()
    assert(m1.getAs[Long]("files_loaded") == 2L)
    assert(m1.getAs[Long]("rows_loaded") == 150L)
    assert(m1.getAs[Long]("files_skipped") == 0L)
    assert(m1.getAs[Long]("version") == v1 + 1)
    // re-run: pure no-op — no commit, everything skipped
    val m2 = LakeSql.sql(spark, s"COPY INTO t_copy FROM '$srcDir'").head()
    assert(m2.getAs[Long]("files_loaded") == 0L)
    assert(m2.getAs[Long]("files_skipped") == 2L)
    assert(Snapshots.latestVersion(spark, s"$dir/m") == v1 + 1)
    // a third file lands: only IT is loaded
    data.filter(col("id") >= 150 && col("id") < 170)
      .withColumn("id", col("id") + 100000)
      .coalesce(1).write.mode("append").parquet(srcDir)
    val m3 = LakeSql.sql(spark, s"COPY INTO t_copy FROM '$srcDir'").head()
    assert(m3.getAs[Long]("files_loaded") == 1L)
    assert(m3.getAs[Long]("rows_loaded") == 20L)
    assert(m3.getAs[Long]("files_skipped") == 2L)
    assert(LakeSql.sql(spark, "SELECT count(*) AS n FROM t_copy")
      .head().getLong(0) == 10000L + 170L)
    // the ledger survives a fresh JVM (memo reset = disk truth)
    MetaCache.clear()
    val m4 = LakeSql.sql(spark, s"COPY INTO t_copy FROM '$srcDir'").head()
    assert(m4.getAs[Long]("files_loaded") == 0L)
    assert(m4.getAs[Long]("files_skipped") == 3L)
  }

  test("COPY INTO rejects schema drift before staging") {
    val (dir, v1) = freshLake("t_copy_drift")
    val srcDir = tmpDir("copydrift")
    data.limit(10).withColumn("extra", lit("boom"))
      .coalesce(1).write.mode("append").parquet(srcDir)
    val e = intercept[IllegalArgumentException] {
      LakeSql.sql(spark, s"COPY INTO t_copy_drift FROM '$srcDir'")
    }
    assert(e.getMessage.contains("drift"))
    // nothing committed, NOT marked loaded — a fixed file re-loads
    assert(Snapshots.latestVersion(spark, s"$dir/m") == v1)
    assert(Snapshots.copiedKeys(spark, s"$dir/m").isEmpty)
  }

  test("COPY INTO FILEFORMAT = JSON reads with the table schema") {
    val (_, _) = freshLake("t_copy_json")
    val srcDir = tmpDir("copyjson")
    data.filter(col("id") < 25).withColumn("id", col("id") + 200000)
      .coalesce(1).write.mode("append").json(srcDir)
    val m = LakeSql.sql(spark,
      s"COPY INTO t_copy_json FROM '$srcDir' FILEFORMAT = JSON").head()
    assert(m.getAs[Long]("rows_loaded") == 25L)
    assert(LakeSql.sql(spark,
      "SELECT count(*) AS n FROM t_copy_json WHERE id >= 200000")
      .head().getLong(0) == 25L)
  }

  // ------------------------------------------- DML subquery predicates

  test("DELETE WHERE id IN (SELECT ...) prunes on subquery bounds") {
    val (dir, v1) = freshLake("t_insub")
    // victim keys: a narrow id slice published by another frame
    spark.range(2000, 2500).toDF("vid").createOrReplaceTempView("insub_keys")
    val m = LakeSql.sql(spark,
      "DELETE FROM t_insub WHERE id IN (SELECT vid FROM insub_keys)").head()
    assert(m.getAs[Long]("rows_deleted") == 500L)
    assert(m.getAs[Long]("files_rewritten") < m.getAs[Long]("files_total"),
      "IN-subquery delete must prune on the subquery's [min,max]")
    assert(LakeSql.sql(spark, "SELECT count(*) AS n FROM t_insub")
      .head().getLong(0) == 9500L)
    assert(Snapshots.latestVersion(spark, s"$dir/m") == v1 + 1)
  }

  test("DELETE WHERE col > (SELECT max ...) folds the scalar once") {
    val (_, _) = freshLake("t_scsub")
    // watermark-delete shape: drop everything above another table's max
    spark.range(9900, 10000).toDF("w").createOrReplaceTempView("scsub_wm")
    val m = LakeSql.sql(spark,
      "DELETE FROM t_scsub WHERE id >= (SELECT min(w) FROM scsub_wm)")
      .head()
    assert(m.getAs[Long]("rows_deleted") == 100L)
    assert(m.getAs[Long]("files_rewritten") < m.getAs[Long]("files_total"))
    assert(LakeSql.sql(spark, "SELECT max(id) AS m FROM t_scsub")
      .head().getLong(0) == 9899L)
  }

  test("NOT IN subquery is residual-only: needs a prunable companion") {
    freshLake("t_notin")
    spark.range(100, 110).toDF("vid").createOrReplaceTempView("notin_keys")
    // alone: rejected (no interval can bound 'absent')
    intercept[IllegalArgumentException] {
      LakeSql.sql(spark,
        "DELETE FROM t_notin WHERE id NOT IN (SELECT vid FROM notin_keys)")
    }
    // with a prunable companion conjunct: executes, residual applied
    val m = LakeSql.sql(spark,
      "DELETE FROM t_notin WHERE id >= 100 AND id < 120 " +
        "AND id NOT IN (SELECT vid FROM notin_keys)").head()
    assert(m.getAs[Long]("rows_deleted") == 10L)
    assert(LakeSql.sql(spark,
      "SELECT count(*) AS n FROM t_notin WHERE id >= 100 AND id < 120")
      .head().getLong(0) == 10L)
  }

  test("UPDATE with IN-subquery WHERE routes through the same compiler") {
    val (_, _) = freshLake("t_updsub")
    spark.range(0, 50).select((col("id") * 100).as("vid"))
      .createOrReplaceTempView("updsub_keys")
    val m = LakeSql.sql(spark,
      "UPDATE t_updsub SET y = -7 " +
        "WHERE id IN (SELECT vid FROM updsub_keys) AND id < 2000").head()
    // keys 0,100,...,1900 → 20 rows
    assert(m.getAs[Long]("rows_updated") == 20L)
    assert(LakeSql.sql(spark, "SELECT count(*) AS n FROM t_updsub WHERE y = -7")
      .head().getLong(0) == 20L)
  }

  // ------------------------------------------ MERGE NOT MATCHED BY SOURCE

  test("MERGE BY SOURCE cascade: scoped UPDATE then DELETE, pruned") {
    val (_, _) = freshLake("t_bs")
    // feed carries ids 1000..1999 (bumped y) and is authoritative for
    // id < 3000: absent in-scope rows are marked (x < 500) or retired
    val feed = data.filter(col("id").between(1000, 1999))
      .withColumn("y", col("y") + 100000)
    feed.createOrReplaceTempView("bs_feed")
    val m = LakeSql.sql(spark,
      """MERGE INTO t_bs t USING bs_feed s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET y = s.y
        |WHEN NOT MATCHED THEN INSERT *
        |WHEN NOT MATCHED BY SOURCE AND t.id < 3000 AND t.x < 500
        |  THEN UPDATE SET y = -1
        |WHEN NOT MATCHED BY SOURCE AND t.id < 3000 THEN DELETE
        |""".stripMargin).head()
    val scope = data.filter(col("id") < 3000 && !col("id").between(1000, 1999))
    val expStale = scope.filter(col("x") < 500).count()
    val expDel = scope.filter(col("x") >= 500).count()
    assert(m.getAs[Long]("rows_updated") == 1000L + expStale,
      s"updated=${m.getAs[Long]("rows_updated")} want ${1000L + expStale}")
    assert(m.getAs[Long]("rows_deleted") == expDel)
    assert(m.getAs[Long]("rows_inserted") == 0L)
    assert(m.getAs[Long]("files_rewritten") < m.getAs[Long]("files_total"),
      "by-source merge must stay file-pruned")
    assert(LakeSql.sql(spark, "SELECT count(*) AS n FROM t_bs")
      .head().getLong(0) == 10000L - expDel)
    assert(LakeSql.sql(spark, "SELECT count(*) AS n FROM t_bs WHERE y = -1")
      .head().getLong(0) == expStale)
    // out-of-scope rows byte-identical (no -1, no deletion, no bump)
    val out = LakeSql.sql(spark,
      "SELECT count(*) AS n FROM t_bs WHERE id >= 3000").head().getLong(0)
    assert(out == data.filter(col("id") >= 3000).count())
  }

  test("MERGE WITH SCHEMA EVOLUTION declares new source columns") {
    val (_, v1) = freshLake("t_evo")
    val feed = data.filter(col("id").between(100, 199))
      .withColumn("y", col("y") + 1).withColumn("tag", lit("fresh"))
    feed.createOrReplaceTempView("evo_feed")
    // without the clause: extra source columns are REJECTED, not dropped
    val e = intercept[IllegalArgumentException] {
      LakeSql.sql(spark,
        "MERGE INTO t_evo t USING evo_feed s ON t.id = s.id " +
          "WHEN MATCHED THEN UPDATE SET * " +
          "WHEN NOT MATCHED THEN INSERT *")
    }
    assert(e.getMessage.contains("SCHEMA EVOLUTION"))
    val m = LakeSql.sql(spark,
      "MERGE WITH SCHEMA EVOLUTION INTO t_evo t USING evo_feed s " +
        "ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *").head()
    assert(m.getAs[Long]("rows_updated") == 100L)
    assert(m.getAs[Long]("rows_inserted") == 0L)
    // matched rows carry the new column; untouched rows serve typed NULL
    assert(LakeSql.sql(spark,
      "SELECT count(*) AS n FROM t_evo WHERE tag = 'fresh'")
      .head().getLong(0) == 100L)
    assert(LakeSql.sql(spark,
      "SELECT count(*) AS n FROM t_evo WHERE tag IS NULL")
      .head().getLong(0) == 9900L)
    // pinned pre-merge read keeps the old 3-column schema
    assert(spark.sql(s"SELECT * FROM t_evo VERSION AS OF $v1")
      .columns.toSet == Set("id", "x", "y"))
  }

  test("MERGE BY SOURCE without a scoping condition is rejected") {
    freshLake("t_bs_unscoped")
    data.limit(5).createOrReplaceTempView("bs_unscoped_feed")
    val e = intercept[IllegalArgumentException] {
      LakeSql.sql(spark,
        """MERGE INTO t_bs_unscoped t USING bs_unscoped_feed s
          |ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET y = 0
          |""".stripMargin)
    }
    assert(e.getMessage.contains("scoping"))
  }

  // ---------------------------------------------------- CHECK constraints

  test("ADD CONSTRAINT validates existing rows; writes then enforce it") {
    val (dir, _) = freshLake("t_ck")
    // existing rows all satisfy x >= 0
    LakeSql.sql(spark,
      "ALTER TABLE t_ck ADD CONSTRAINT x_nonneg CHECK (x >= 0)")
    assert(Snapshots.checkConstraints(spark, s"$dir/m",
      Snapshots.latestVersion(spark, s"$dir/m")).contains("x_nonneg"))
    // a violating INSERT aborts before anything becomes visible
    val vBefore = Snapshots.latestVersion(spark, s"$dir/m")
    val before = dataFiles(s"$dir/z")
    data.limit(100).withColumn("x", lit(-1L))
      .createOrReplaceTempView("ck_bad")
    val e = intercept[Snapshots.ConstraintViolationException] {
      LakeSql.sql(spark, "INSERT INTO t_ck SELECT * FROM ck_bad")
    }
    assert(e.getMessage.contains("x_nonneg"))
    assert(Snapshots.latestVersion(spark, s"$dir/m") == vBefore)
    assert(dataFiles(s"$dir/z") == before, "staged files leaked into the table")
    // a clean INSERT still lands
    data.limit(100).withColumn("id", col("id") + 100000)
      .createOrReplaceTempView("ck_good")
    LakeSql.sql(spark, "INSERT INTO t_ck SELECT * FROM ck_good")
    assert(LakeSql.sql(spark, "SELECT count(*) AS n FROM t_ck")
      .head().getLong(0) == 10100L)
  }

  test("ADD CONSTRAINT already violated by existing rows is refused") {
    val (dir, v1) = freshLake("t_ck_pre")
    intercept[Snapshots.ConstraintViolationException] {
      LakeSql.sql(spark,
        "ALTER TABLE t_ck_pre ADD CONSTRAINT x_big CHECK (x >= 500)")
    }
    assert(Snapshots.latestVersion(spark, s"$dir/m") == v1)
    assert(Snapshots.checkConstraints(spark, s"$dir/m", v1).isEmpty)
  }

  test("constraints gate UPDATE and MERGE staging; DROP CONSTRAINT lifts") {
    val (dir, _) = freshLake("t_ck_dml")
    LakeSql.sql(spark,
      "ALTER TABLE t_ck_dml ADD CONSTRAINT y_cap CHECK (y < 100000)")
    // UPDATE pushing y over the cap must abort with nothing committed
    val vBefore = Snapshots.latestVersion(spark, s"$dir/m")
    intercept[Snapshots.ConstraintViolationException] {
      LakeSql.sql(spark,
        "UPDATE t_ck_dml SET y = y + 200000 WHERE x >= 100 AND x <= 150")
    }
    assert(Snapshots.latestVersion(spark, s"$dir/m") == vBefore)
    // MERGE inserting violating rows must abort too
    data.limit(50).select((col("id") + 500000).as("id"), col("x"),
      (col("y") + 200000).as("y")).createOrReplaceTempView("ck_dml_src")
    intercept[Snapshots.ConstraintViolationException] {
      LakeSql.sql(spark,
        """MERGE INTO t_ck_dml t USING ck_dml_src s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(Snapshots.latestVersion(spark, s"$dir/m") == vBefore)
    // DROP CONSTRAINT: the same UPDATE now lands
    LakeSql.sql(spark, "ALTER TABLE t_ck_dml DROP CONSTRAINT y_cap")
    val m = LakeSql.sql(spark,
      "UPDATE t_ck_dml SET y = y + 200000 WHERE x >= 100 AND x <= 150")
      .head()
    assert(m.getAs[Long]("rows_updated") ==
      data.filter(col("x").between(100, 150)).count())
  }

  test("constraint set supersedes like the column mapping; history=metadata") {
    val (dir, _) = freshLake("t_ck_meta")
    LakeSql.sql(spark,
      "ALTER TABLE t_ck_meta ADD CONSTRAINT a CHECK (x >= 0)")
    LakeSql.sql(spark,
      "ALTER TABLE t_ck_meta ADD CONSTRAINT b CHECK (y >= 0)")
    val head = Snapshots.latestVersion(spark, s"$dir/m")
    assert(Snapshots.checkConstraints(spark, s"$dir/m", head).keySet ==
      Set("a", "b"))
    // below the first constraint commit: none in force
    assert(Snapshots.checkConstraints(spark, s"$dir/m", 1).isEmpty)
    LakeSql.sql(spark, "ALTER TABLE t_ck_meta DROP CONSTRAINT a")
    assert(Snapshots.checkConstraints(spark, s"$dir/m",
      Snapshots.latestVersion(spark, s"$dir/m")).keySet == Set("b"))
    // the constraint commits are metadata-only in the history
    val ops = Snapshots.history(spark, s"$dir/m").map(_.operation)
    assert(ops.count(_ == "metadata") >= 3)
  }

  test("vacuum re-homes governing markers: constraint + rename survive") {
    val (dir, _) = freshLake("t_ck_vac")
    LakeSql.sql(spark,
      "ALTER TABLE t_ck_vac ADD CONSTRAINT x_nonneg CHECK (x >= 0)") // v2
    LakeSql.sql(spark,
      "ALTER TABLE t_ck_vac RENAME COLUMN y TO y2") // v3
    // three marker-less commits push the markers deep into the droppable
    // prefix
    (1 to 3).foreach { i =>
      // batches speak the LOGICAL schema (y2 after the rename)
      data.limit(10).withColumn("id", col("id") + i * 1000000)
        .withColumnRenamed("y", "y2")
        .createOrReplaceTempView("vac_b")
      LakeSql.sql(spark, "INSERT INTO t_ck_vac SELECT * FROM vac_b")
    }
    Snapshots.vacuum(spark, s"$dir/z", s"$dir/m", retainLast = 2)
    // fresh-JVM view: the memo cleared, the set must come from DISK
    MetaCache.clear()
    val head = Snapshots.latestVersion(spark, s"$dir/m")
    assert(Snapshots.checkConstraints(spark, s"$dir/m", head)
      .contains("x_nonneg"),
      "vacuum dropped the constraint marker with its version dir")
    assert(Snapshots.columnMapping(spark, s"$dir/m", head)
      .exists(_.contains("y2")),
      "vacuum dropped the column-mapping marker with its version dir")
    // and the constraint still ENFORCES from disk state
    data.limit(5).withColumn("x", lit(-2L))
      .withColumnRenamed("y", "y2")
      .createOrReplaceTempView("vac_bad")
    intercept[Snapshots.ConstraintViolationException] {
      LakeSql.sql(spark, "INSERT INTO t_ck_vac SELECT * FROM vac_bad")
    }
  }

  // ---------------------------------------------------- OPTIMIZE ZORDER BY

  test("OPTIMIZE ZORDER BY re-clusters: y-box prunes strictly better") {
    val (dir, _) = freshLake("t_zo") // clustered on (id, x); y is scattered
    // y needs manifest stats to be a legal ZORDER BY target — re-register
    // with y in the stats set and rebuild the manifest accordingly
    LakeSql.register("t_zo",
      LakeTableSpec(s"$dir/z", s"$dir/m", Seq("id", "x", "y"), nFiles = 16))
    Snapshots.commit(spark,
      Layout.buildManifest(spark, s"$dir/z", Seq("id", "x", "y")), s"$dir/m")
    def filesHitForYBox(): Long = {
      val v = Snapshots.latestVersion(spark, s"$dir/m")
      Snapshots.readAt(spark, s"$dir/m", v, Seq(("y", 100.0, 149.0))).filesRead
    }
    val hitBefore = filesHitForYBox()
    val vPre = Snapshots.latestVersion(spark, s"$dir/m")
    val m = LakeSql.sql(spark, "OPTIMIZE t_zo ZORDER BY (y)").head()
    assert(m.getAs[Long]("version") == vPre + 1)
    val hitAfter = filesHitForYBox()
    assert(hitAfter < hitBefore,
      s"re-cluster on y did not tighten pruning ($hitBefore -> $hitAfter)")
    // pure re-layout: row-identical across the commit
    val feed = Snapshots.changesBetween(spark, s"$dir/m", vPre, vPre + 1)
    assert(feed.df.count() == 0, "ZORDER re-layout leaked into the change feed")
  }

  test("OPTIMIZE ZORDER BY rejects a column without manifest stats") {
    freshLake("t_zo_bad")
    val e = intercept[IllegalArgumentException] {
      LakeSql.sql(spark, "OPTIMIZE t_zo_bad ZORDER BY (y)")
    }
    assert(e.getMessage.contains("manifest stats"))
  }

  // ------------------------------------------------------- CONVERT TO LAKE

  test("CONVERT TO LAKE adopts a parquet dir in place; DML works after") {
    val dir = tmpDir("convert") + "/p"
    data.repartition(8).write.parquet(dir)
    val before = dataFiles(dir)
    val m = LakeSql.sql(spark,
      s"CONVERT TO LAKE t_conv FROM '$dir' STATS COLS (id, x)").head()
    assert(m.getAs[Long]("version") == 1L)
    assert(m.getAs[Long]("files_converted") == 8L)
    // metadata-only: not one data file written, moved, or rewritten
    assert(dataFiles(dir) == before)
    // reads serve the original rows
    assert(LakeSql.sql(spark, "SELECT count(*) AS n FROM t_conv")
      .head().getLong(0) == 10000L)
    // plain directory read still works (manifest is underscore-hidden)
    assert(spark.read.parquet(dir).count() == 10000L)
    // the converted table serves DML + time travel like any lake table
    val d = LakeSql.sql(spark,
      "DELETE FROM t_conv WHERE x >= 0 AND x <= 99").head()
    assert(d.getAs[Long]("rows_deleted") ==
      data.filter(col("x").between(0, 99)).count())
    assert(LakeSql.sql(spark,
      "SELECT count(*) AS n FROM t_conv VERSION AS OF 1")
      .head().getLong(0) == 10000L)
  }

  test("CONVERT refuses an already-converted directory") {
    val dir = tmpDir("convert2") + "/p"
    data.limit(100).write.parquet(dir)
    LakeSql.sql(spark,
      s"CONVERT TO LAKE t_conv2 FROM '$dir' STATS COLS (id)")
    val e = intercept[IllegalArgumentException] {
      LakeSql.sql(spark,
        s"CONVERT TO LAKE t_conv2b FROM '$dir' STATS COLS (id)")
    }
    assert(e.getMessage.contains("already"))
  }

  // ------------------------------------------------------- OPTIMIZE … WHERE

  test("OPTIMIZE WHERE rewrites only the scope's files, contents intact") {
    val dir = tmpDir("optw")
    // range-sorted on id: files carry disjoint [min_id, max_id] boxes
    graft.sinks.Maintenance.writeSorted(data, s"$dir/z", nFiles = 8,
      col("id"))
    Snapshots.commit(spark,
      Layout.buildManifest(spark, s"$dir/z", Seq("id", "x")), s"$dir/m")
    LakeSql.register("t_optw",
      LakeTableSpec(s"$dir/z", s"$dir/m", Seq("id", "x"), nFiles = 1))
    val beforeFiles = dataFiles(s"$dir/z")
    val manifest = Snapshots.manifestAt(spark, s"$dir/m", 1)
    val total = manifest.count() // disk may hold an EMPTY part file extra
    val expectScope = manifest
      .filter(col("min_id").cast("long") <= 2500L).count()
    assert(expectScope >= 2 && expectScope < total)
    val m = spark.sql("OPTIMIZE t_optw WHERE id <= 2500").head()
    assert(m.getAs[Long]("files_rewritten") == expectScope)
    assert(m.getAs[Long]("files_skipped") == total - expectScope)
    // out-of-scope files byte-identical (name:size survives)
    val after = dataFiles(s"$dir/z")
    assert((beforeFiles intersect after).size >= beforeFiles.size - expectScope)
    // pure re-layout: logical contents unchanged
    assert(LakeSql.sql(spark, "SELECT sum(x) AS s FROM t_optw").head()
      .getLong(0) ==
      data.agg(sum(col("x"))).head().getLong(0))
    // re-run is a commit-free no-op (single in-scope file, no DV)
    val v = Snapshots.latestVersion(spark, s"$dir/m")
    val m2 = LakeSql.sql(spark, "OPTIMIZE t_optw WHERE id <= 2500").head()
    assert(m2.getAs[Long]("files_rewritten") == 0L &&
      Snapshots.latestVersion(spark, s"$dir/m") == v)
  }

  test("OPTIMIZE WHERE with an unprunable predicate is rejected loudly") {
    val (_, _) = freshLake("t_optw2")
    val e = intercept[IllegalArgumentException] {
      LakeSql.sql(spark, "OPTIMIZE t_optw2 WHERE y = 3")
    }
    assert(e.getMessage.contains("prune"))
  }

  test("OPTIMIZE WHERE ZORDER BY re-clusters the scope on the named cols") {
    val dir = tmpDir("optw3")
    graft.sinks.Maintenance.writeSorted(data, s"$dir/z", nFiles = 8,
      col("id"))
    Snapshots.commit(spark,
      Layout.buildManifest(spark, s"$dir/z", Seq("id", "x")), s"$dir/m")
    LakeSql.register("t_optw3",
      LakeTableSpec(s"$dir/z", s"$dir/m", Seq("id", "x"), nFiles = 4))
    val namesBefore = Snapshots.manifestAt(spark, s"$dir/m", 1)
      .select("file").collect().map(_.getString(0)).toSet
    val m = spark.sql(
      "OPTIMIZE t_optw3 WHERE id <= 2500 ZORDER BY (x)").head()
    assert(m.getAs[Long]("files_rewritten") >= 2L)
    // the scope's rows now cluster on x: its 4 fresh files partition the
    // x domain much tighter than id-sorted files would
    val head = Snapshots.manifestAt(spark, s"$dir/m",
      Snapshots.latestVersion(spark, s"$dir/m"))
    val fresh = head.filter(!col("file").isInCollection(namesBefore.toSeq))
    val widths = fresh.select(
      (col("max_x").cast("long") - col("min_x").cast("long")).as("w"))
      .collect().map(_.getLong(0))
    assert(widths.length >= 2 && widths.min < 900,
      s"ZORDER BY (x) left x-ranges wide: ${widths.mkString(",")}")
    // ZORDER BY a column with no stats refuses
    val e = intercept[IllegalArgumentException] {
      LakeSql.sql(spark, "OPTIMIZE t_optw3 WHERE id <= 2500 ZORDER BY (y)")
    }
    assert(e.getMessage.contains("stats"))
  }

  // ------------------------------------- VACUUM DRY RUN / DESCRIBE DETAIL

  test("VACUUM DRY RUN lists exactly what the real vacuum deletes, " +
    "touching nothing") {
    val (dir, _) = freshLake("t_dry")
    // a rewriting DELETE strands the touched files' originals in v1
    LakeSql.sql(spark, "DELETE FROM t_dry WHERE id <= 2000")
    val before = dataFiles(s"$dir/z")
    val vsBefore = Snapshots.versions(spark, s"$dir/m")
    val dry = spark.sql("VACUUM t_dry RETAIN 1 VERSIONS DRY RUN")
    // typed listing schema through the session parser
    assert(dry.schema.fieldNames.toSeq == Seq("item", "kind"))
    val rows = dry.collect()
    val items = rows.map(r => (r.getString(0), r.getString(1)))
    assert(items.count(_._2 == "version") == 1)
    assert(items.count(_._2 == "data") >= 1)
    // NOTHING moved: files byte-identical, log intact, dry run re-runs
    assert(dataFiles(s"$dir/z") == before)
    assert(Snapshots.versions(spark, s"$dir/m") == vsBefore)
    assert(spark.sql("VACUUM t_dry RETAIN 1 VERSIONS DRY RUN")
      .collect().length == rows.length)
    // the REAL vacuum reclaims exactly the listing — shared plan, no drift
    val m = spark.sql("VACUUM t_dry RETAIN 1 VERSIONS").head()
    assert(m.getAs[Long]("files_deleted") ==
      items.count(t => t._2 == "data" || t._2 == "dv").toLong)
    assert(m.getAs[Long]("versions_dropped") == 1L)
    // every listed data file is now gone; the retained read still answers
    val names = before.map(_.split(":")(0))
    val liveNames = dataFiles(s"$dir/z").map(_.split(":")(0))
    items.filter(_._2 == "data").foreach { case (f, _) =>
      val n = f.split("/").last
      assert(names.contains(n) && !liveNames.contains(n), s"$n not reclaimed")
    }
    assert(LakeSql.sql(spark, "SELECT count(*) AS n FROM t_dry")
      .head().getLong(0) == data.filter(col("id") > 2000).count())
  }

  test("TBLPROPERTIES: merge-on-set, version-pinned, vacuum-safe") {
    val (dir, _) = freshLake("t_props")
    spark.sql("ALTER TABLE t_props SET TBLPROPERTIES('a'='1','b'='x')")
    spark.sql("ALTER TABLE t_props SET TBLPROPERTIES('b'='y','c'='3')")
    // merge semantics: a persists, b overwritten, c added
    val props = LakeSql.sql(spark, "SHOW TBLPROPERTIES t_props")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props == Map("a" -> "1", "b" -> "y", "c" -> "3"))
    // the map is VERSIONED: v2's marker still says b=x
    assert(Snapshots.tableProperties(spark, s"$dir/m", 2) ==
      Map("a" -> "1", "b" -> "x"))
    assert(Snapshots.tableProperties(spark, s"$dir/m", 1).isEmpty)
    // UNSET removes only the named key; unknown keys are a no-op
    spark.sql("ALTER TABLE t_props UNSET TBLPROPERTIES('b','zz')")
    assert(Snapshots.tableProperties(spark, s"$dir/m",
      Snapshots.latestVersion(spark, s"$dir/m")) ==
      Map("a" -> "1", "c" -> "3"))
    // vacuum past the marker commits: the map in force survives (the
    // marker rehomes to the cut, like the column mapping)
    LakeSql.sql(spark, "DELETE FROM t_props WHERE id <= 100")
    Snapshots.vacuum(spark, s"$dir/z", s"$dir/m", retainLast = 1)
    assert(Snapshots.tableProperties(spark, s"$dir/m",
      Snapshots.latestVersion(spark, s"$dir/m")) ==
      Map("a" -> "1", "c" -> "3"))
  }

  test("auto_compact property triggers follow-on bin-pack per statement") {
    val (dir, _) = freshLake("t_ac")
    spark.sql("ALTER TABLE t_ac SET TBLPROPERTIES(" +
      "'auto_compact'='true','auto_compact.small_bytes'='10000000')")
    val v0 = Snapshots.latestVersion(spark, s"$dir/m")
    data.filter(col("id") % 50 === 0).createOrReplaceTempView("ac_b1")
    spark.sql("INSERT INTO t_ac SELECT * FROM ac_b1")
    // insert + follow-on compact = exactly two commits, file set packed
    assert(Snapshots.latestVersion(spark, s"$dir/m") == v0 + 2)
    assert(Snapshots.manifestAt(spark, s"$dir/m",
      Snapshots.latestVersion(spark, s"$dir/m")).count() <= 8L)
    // contents exactly base + batch (compaction is a pure re-layout)
    assert(LakeSql.sql(spark, "SELECT count(*) AS n FROM t_ac")
      .head().getLong(0) == 10000L + data.filter(col("id") % 50 === 0).count())
  }

  test("REORG APPLY (PURGE) folds DVs; clean table no-ops commit-free") {
    val (dir, _) = freshLake("t_reorg")
    // clean table: purge is a metadata probe, NO commit
    val v0 = Snapshots.latestVersion(spark, s"$dir/m")
    val noop = spark.sql("REORG TABLE t_reorg APPLY (PURGE)").head()
    assert(noop.getAs[Long]("files_purged") == 0L)
    assert(Snapshots.latestVersion(spark, s"$dir/m") == v0)
    // MoR delete → masks in manifest → purge rewrites ONLY masked files
    graft.sinks.Dv.deleteWhereMoR(spark, s"$dir/z", s"$dir/m",
      Seq(("id", 0.0, 999.0)))
    val r = spark.sql("REORG TABLE t_reorg APPLY (PURGE)").head()
    assert(r.getAs[Long]("files_purged") > 0L &&
      r.getAs[Long]("files_purged") < r.getAs[Long]("files_total"))
    val head = Snapshots.manifestAt(spark, s"$dir/m",
      Snapshots.latestVersion(spark, s"$dir/m"))
    assert(graft.sinks.Dv.ensureDv(head).filter(col("dv").isNotNull).isEmpty,
      "masks survived the purge")
    assert(LakeSql.sql(spark, "SELECT count(*) AS n FROM t_reorg")
      .head().getLong(0) == 9000L)
  }

  test("DELETE drops fully-covered files metadata-only; nulls/residuals block") {
    // date-retention shape: ONE sort column, disjoint per-file ranges
    val dir = tmpDir("laker14")
    val df = spark.range(10000).toDF("id")
      .select(col("id"), (col("id") * 2).as("y"))
    graft.sinks.Maintenance.writeSorted(df, s"$dir/z", nFiles = 8, col("id"))
    Snapshots.commit(spark,
      Layout.buildManifest(spark, s"$dir/z", Seq("id")), s"$dir/m")
    LakeSql.register("t_wfd",
      LakeTableSpec(s"$dir/z", s"$dir/m", Seq("id"), nFiles = 8))
    val v1 = Snapshots.latestVersion(spark, s"$dir/m")
    val before = dataFiles(s"$dir/z")
    // residual conjunct forbids the cover: everything rewrites
    val r0 = spark.sql("DELETE FROM t_wfd WHERE id < 3000 AND y % 2 = 1")
      .head()
    assert(r0.getAs[Long]("files_dropped") == 0L)
    assert(r0.getAs[Long]("rows_deleted") == 0L) // y is always even
    // interior files below the cutoff are fully covered → dropped without
    // a read; at most ONE file straddles the point cutoff (disjoint
    // ranges) → rewritten; the rest untouched. Range boundaries are
    // sample-based, so gate structure, not exact file ids.
    val r = spark.sql("DELETE FROM t_wfd WHERE id < 3000").head()
    assert(r.getAs[Long]("files_dropped") >= 1L, s"drops: $r")
    assert(r.getAs[Long]("files_rewritten") <= 1L, s"rewrites: $r")
    assert(r.getAs[Long]("rows_deleted") == 3000L, s"deleted: $r")
    assert(LakeSql.sql(spark, "SELECT count(*) AS n FROM t_wfd")
      .head().getLong(0) == 7000L)
    // dropped files stay ON DISK for pinned readers (drop is manifest-only)
    assert(before.subsetOf(dataFiles(s"$dir/z")))
    assert(LakeSql.sql(spark,
      s"SELECT count(*) AS n FROM t_wfd VERSION AS OF $v1")
      .head().getLong(0) == 10000L)
    // a null in the predicate column blocks the whole-file drop: the
    // null rows survive (three-valued DELETE), so the file must rewrite
    val dir2 = tmpDir("laker14")
    val nf = spark.range(10000).toDF("id")
      .select(when(col("id") < 100, lit(null)).otherwise(col("id"))
        .cast("long").as("id"))
    graft.sinks.Maintenance.writeSorted(nf, s"$dir2/z", nFiles = 8, col("id"))
    Snapshots.commit(spark,
      Layout.buildManifest(spark, s"$dir2/z", Seq("id")), s"$dir2/m")
    LakeSql.register("t_wfdn",
      LakeTableSpec(s"$dir2/z", s"$dir2/m", Seq("id"), nFiles = 8))
    val rn = spark.sql("DELETE FROM t_wfdn WHERE id < 3000").head()
    assert(rn.getAs[Long]("rows_deleted") == 2900L, s"null delete: $rn")
    assert(rn.getAs[Long]("files_rewritten") >= 1L, s"null delete: $rn")
    val left = LakeSql.sql(spark, "SELECT id FROM t_wfdn")
    assert(left.filter(col("id").isNull).count() == 100L,
      "null-predicate rows must survive the DELETE")
    assert(left.count() == 7100L)
  }

  test("REPLACE WHERE drops the fully-covered slice metadata-only") {
    // the daily partition re-land: the replaced slice spans whole files,
    // which must leave the manifest without a rewrite — the statement
    // pays for writing the new batch, not rewriting the old slice
    val dir = tmpDir("laker14")
    val df = spark.range(10000).toDF("id")
      .select(col("id"), (col("id") * 2).as("y"))
    graft.sinks.Maintenance.writeSorted(df, s"$dir/z", nFiles = 8, col("id"))
    Snapshots.commit(spark,
      Layout.buildManifest(spark, s"$dir/z", Seq("id")), s"$dir/m")
    LakeSql.register("t_rwd",
      LakeTableSpec(s"$dir/z", s"$dir/m", Seq("id"), nFiles = 8))
    val batch = df.filter(col("id").between(2000, 2399))
      .withColumn("y", col("y") + 1)
    batch.createOrReplaceTempView("rwd_batch")
    val m = LakeSql.sql(spark,
      """INSERT INTO t_rwd
        |REPLACE WHERE id >= 1300 AND id <= 4800
        |SELECT * FROM rwd_batch""".stripMargin).head()
    assert(m.getAs[Long]("files_dropped") >= 1L, s"replace drops: $m")
    assert(m.getAs[Long]("rows_deleted") == 3501L, s"replace deleted: $m")
    val t = LakeSql.sql(spark, "SELECT id, y FROM t_rwd")
    assert(t.count() == 10000L - 3501L + 400L)
    assert(t.filter(col("id").between(2000, 2399) && col("y") =!=
      col("id") * 2 + 1).count() == 0L, "re-landed slice not the batch")
  }

  test("TRUNCATE is metadata-only; empty version readable; refill works") {
    val (dir, v1) = freshLake("t_trunc")
    val before = dataFiles(s"$dir/z")
    val r = spark.sql("TRUNCATE TABLE t_trunc").head()
    assert(r.getAs[Long]("rows_deleted") == 10000L, s"truncate: $r")
    assert(r.getAs[Long]("files_dropped") == 16L, s"truncate: $r")
    assert(dataFiles(s"$dir/z") == before, "truncate touched data files")
    // the empty version is READABLE: zero rows, prior version's schema
    val t = spark.sql("SELECT id, x, y FROM t_trunc")
    assert(t.columns.toSeq == Seq("id", "x", "y") && t.count() == 0L)
    // pinned pre-truncate read intact (drop is manifest-only)
    assert(LakeSql.sql(spark,
      s"SELECT count(*) AS n FROM t_trunc VERSION AS OF $v1")
      .head().getLong(0) == 10000L)
    // refill: schema-on-write still validates against the (borrowed)
    // schema, and a clean INSERT lands on the empty table normally
    data.limit(500).createOrReplaceTempView("trunc_refill")
    spark.sql("INSERT INTO t_trunc SELECT * FROM trunc_refill")
    assert(LakeSql.sql(spark, "SELECT count(*) AS n FROM t_trunc")
      .head().getLong(0) == 500L)
  }

  test("FSCK REPAIR drops manifest entries for missing files, dry-run first") {
    val (dir, _) = freshLake("t_fsck")
    // sabotage: delete two data files OUT FROM UNDER the manifest
    val p = new org.apache.hadoop.fs.Path(s"$dir/z")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val doomed = fs.listStatus(p).toSeq.filter(_.isFile)
      .map(_.getPath)
      .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
      .sortBy(_.getName).take(2)
    val lost = spark.read.parquet(doomed.map(_.toString): _*).count()
    doomed.foreach(f => fs.delete(f, false))
    // reads now fail at scan time — the state FSCK exists to repair.
    // (sum, not count(*): the metadata-agg fast path would serve a bare
    // count from the manifest without ever touching the dead file)
    intercept[Exception] {
      LakeSql.sql(spark, "SELECT sum(y) AS s FROM t_fsck").head()
    }
    // DRY RUN: lists exactly the missing files, commits nothing
    val listed = spark.sql("FSCK REPAIR TABLE t_fsck DRY RUN")
      .collect().map(_.getString(0)).toSet
    assert(listed == doomed.map(d => fs.makeQualified(d).toString).toSet)
    intercept[Exception] {
      LakeSql.sql(spark, "SELECT sum(y) AS s FROM t_fsck").head()
    }
    // repair: metadata-only commit dropping the dead entries
    val r = spark.sql("FSCK REPAIR TABLE t_fsck").head()
    assert(r.getAs[Long]("files_missing") == 2L, s"fsck: $r")
    assert(r.getAs[Long]("rows_lost") == lost, s"fsck: $r")
    assert(LakeSql.sql(spark, "SELECT count(*) AS n FROM t_fsck")
      .head().getLong(0) == 10000L - lost)
    // healthy table: no-op, no commit
    val v = Snapshots.latestVersion(spark, s"$dir/m")
    assert(spark.sql("FSCK REPAIR TABLE t_fsck").head()
      .getAs[Long]("files_missing") == 0L)
    assert(Snapshots.latestVersion(spark, s"$dir/m") == v)
  }

  test("SHOW CREATE TABLE reconstructs schema, location, stats, properties") {
    val (dir, _) = freshLake("t_showc")
    LakeSql.sql(spark,
      "ALTER TABLE t_showc SET TBLPROPERTIES ('team' = 'etl')")
    val stmt = spark.sql("SHOW CREATE TABLE t_showc").head().getString(0)
    assert(stmt.contains("CREATE TABLE t_showc"), stmt)
    assert(stmt.contains("id BIGINT") && stmt.contains("x BIGINT") &&
      stmt.contains("y BIGINT"), stmt)
    // round-15 form: VALID Spark DDL — the structural halves travel as
    // table properties so the statement parses back in (round-trip
    // asserted in LakeCatalogSpec)
    assert(stmt.contains("USING lake"), stmt)
    assert(stmt.contains(s"'data_dir' = '$dir/z'"), stmt)
    assert(stmt.contains(s"'manifest_dir' = '$dir/m'"), stmt)
    assert(stmt.contains("'stats_cols' = 'id,x'"), stmt)
    assert(stmt.contains("'team' = 'etl'"), stmt)
    // after a rename the statement shows the LOGICAL schema — what a
    // new consumer would re-create; physical names are an impl detail
    LakeSql.sql(spark, "ALTER TABLE t_showc RENAME COLUMN y TO score")
    val stmt2 = spark.sql("SHOW CREATE TABLE t_showc").head().getString(0)
    assert(stmt2.contains("score BIGINT") && !stmt2.contains("y BIGINT"),
      stmt2)
  }

  test("delete.mode=mor: DELETE masks instead of rewriting; drops compose") {
    val (dir, _) = freshLake("t_mor")
    LakeSql.sql(spark,
      "ALTER TABLE t_mor SET TBLPROPERTIES ('delete.mode' = 'mor')")
    val before = dataFiles(s"$dir/z")
    val expect = data.filter(col("x").between(100, 199)).count()
    val r = spark.sql("DELETE FROM t_mor WHERE x >= 100 AND x <= 199").head()
    // x is hash-random per file → nothing fully covered: all masking
    assert(r.getAs[Long]("files_masked") >= 1L, s"mor: $r")
    assert(r.getAs[Long]("files_rewritten") == 0L, s"mor: $r")
    assert(r.getAs[Long]("rows_deleted") == expect, s"mor: $r")
    assert(dataFiles(s"$dir/z") == before, "MoR delete wrote data files")
    assert(LakeSql.sql(spark, "SELECT count(*) AS n FROM t_mor")
      .head().getLong(0) == 10000L - expect)
    // drop composition: a date-retention-shaped sorted table — interior
    // files leave the manifest outright, ONLY the boundary file is masked
    val dir2 = tmpDir("laker14")
    val df = spark.range(10000).toDF("id")
      .select(col("id"), (col("id") * 2).as("y"))
    graft.sinks.Maintenance.writeSorted(df, s"$dir2/z", nFiles = 8,
      col("id"))
    Snapshots.commit(spark,
      Layout.buildManifest(spark, s"$dir2/z", Seq("id")), s"$dir2/m")
    LakeSql.register("t_mord",
      LakeTableSpec(s"$dir2/z", s"$dir2/m", Seq("id"), nFiles = 8))
    LakeSql.sql(spark,
      "ALTER TABLE t_mord SET TBLPROPERTIES ('delete.mode' = 'mor')")
    val b2 = dataFiles(s"$dir2/z")
    val r2 = spark.sql("DELETE FROM t_mord WHERE id < 3000").head()
    assert(r2.getAs[Long]("files_dropped") >= 1L, s"mor drop: $r2")
    assert(r2.getAs[Long]("files_masked") <= 1L, s"mor drop: $r2")
    assert(r2.getAs[Long]("rows_deleted") == 3000L, s"mor drop: $r2")
    assert(dataFiles(s"$dir2/z") == b2, "MoR drop-delete wrote data files")
    assert(LakeSql.sql(spark, "SELECT count(*) AS n FROM t_mord")
      .head().getLong(0) == 7000L)
    // REORG repays whatever mask debt remains; reads stay exact
    spark.sql("REORG TABLE t_mord APPLY (PURGE)")
    assert(LakeSql.sql(spark, "SELECT count(*) AS n FROM t_mord")
      .head().getLong(0) == 7000L)
    // UNSET flips the table back to copy-on-write
    LakeSql.sql(spark,
      "ALTER TABLE t_mord UNSET TBLPROPERTIES ('delete.mode')")
    val r3 = spark.sql("DELETE FROM t_mord WHERE id >= 9000").head()
    assert(r3.getAs[Long]("files_masked") == 0L, s"cow again: $r3")
    assert(r3.getAs[Long]("rows_deleted") == 1000L, s"cow again: $r3")
  }

  test("update.mode=mor: UPDATE masks + appends only the updated rows") {
    val (dir, _) = freshLake("t_moru")
    LakeSql.sql(spark,
      "ALTER TABLE t_moru SET TBLPROPERTIES ('update.mode' = 'mor')")
    val before = dataFiles(s"$dir/z")
    val expect = data.filter(col("x").between(100, 199)).count()
    val base = data.agg(sum("y")).head().getLong(0)
    val r = spark.sql(
      "UPDATE t_moru SET y = y + 10000 WHERE x >= 100 AND x <= 199").head()
    assert(r.getAs[Long]("files_rewritten") == 0L, s"moru: $r")
    assert(r.getAs[Long]("files_masked") >= 1L &&
      r.getAs[Long]("files_appended") >= 1L, s"moru: $r")
    assert(r.getAs[Long]("rows_updated") == expect, s"moru: $r")
    // existing files byte-identical — only NEW files appeared
    assert(before.subsetOf(dataFiles(s"$dir/z")),
      "MoR update rewrote an existing file")
    // no duplicates (old versions masked), values moved
    assert(LakeSql.sql(spark, "SELECT count(*) AS n FROM t_moru")
      .head().getLong(0) == 10000L)
    assert(LakeSql.sql(spark, "SELECT sum(y) AS s FROM t_moru")
      .head().getLong(0) == base + expect * 10000L)
    // a second MoR update composes: the matched set comes from the LIVE
    // rows, so rows updated once update again from their new values
    val n150 = data.filter(col("x") === 150).count()
    val r2 = spark.sql("UPDATE t_moru SET y = y + 1 WHERE x = 150").head()
    assert(r2.getAs[Long]("rows_updated") == n150, s"moru2: $r2")
    assert(LakeSql.sql(spark, "SELECT sum(y) AS s FROM t_moru")
      .head().getLong(0) == base + expect * 10000L + n150)
    // REORG repays the mask debt; nothing changes for readers
    spark.sql("REORG TABLE t_moru APPLY (PURGE)")
    assert(LakeSql.sql(spark, "SELECT count(*) AS n FROM t_moru")
      .head().getLong(0) == 10000L)
    assert(LakeSql.sql(spark, "SELECT sum(y) AS s FROM t_moru")
      .head().getLong(0) == base + expect * 10000L + n150)
  }

  test("DEEP CLONE owns physical copies; destroying the source can't break it") {
    val (dir, _) = freshLake("t_deep_src")
    // a DV on the source exercises the sidecar-copy + remap path
    graft.sinks.Dv.deleteWhereMoR(spark, s"$dir/z", s"$dir/m",
      Seq(("id", 0.0, 999.0)))
    val sumSrc = LakeSql.sql(spark, "SELECT sum(y) AS s FROM t_deep_src")
      .head().getLong(0)
    val dst = tmpDir("laker14")
    val m = spark.sql("CREATE TABLE t_deep_dst DEEP CLONE t_deep_src " +
      s"LOCATION '$dst'").head()
    assert(m.getAs[Long]("files_copied") >= 17L, s"deep: $m") // 16 + sidecar
    assert(m.getAs[Long]("bytes_copied") > 0L, s"deep: $m")
    assert(LakeSql.sql(spark, "SELECT count(*) AS n FROM t_deep_dst")
      .head().getLong(0) == 9000L)
    assert(LakeSql.sql(spark, "SELECT sum(y) AS s FROM t_deep_dst")
      .head().getLong(0) == sumSrc)
    // independence: DESTROY the whole source data dir — the clone (data
    // AND its copied deletion vector) serves unchanged
    val p = new org.apache.hadoop.fs.Path(s"$dir/z")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    assert(LakeSql.sql(spark, "SELECT sum(y) AS s FROM t_deep_dst")
      .head().getLong(0) == sumSrc)
    // and it evolves independently from v1
    val d = spark.sql("DELETE FROM t_deep_dst WHERE id >= 9000").head()
    assert(d.getAs[Long]("rows_deleted") == 1000L, s"deep dml: $d")
    assert(LakeSql.sql(spark, "SELECT count(*) AS n FROM t_deep_dst")
      .head().getLong(0) == 8000L)
  }

  test("DESCRIBE DETAIL recomputes from manifest + file status, typed") {
    val (dir, _) = freshLake("t_desc")
    LakeSql.sql(spark, "DELETE FROM t_desc WHERE id <= 1000")
    val d = spark.sql("DESCRIBE DETAIL t_desc")
    assert(d.schema("num_files").dataType.typeName == "long" &&
      d.schema("name").dataType.typeName == "string")
    val row = d.head()
    val head = Snapshots.manifestAt(spark, s"$dir/m",
      Snapshots.latestVersion(spark, s"$dir/m"))
    val files = head.select("file").collect().map(_.getString(0))
    val p = new org.apache.hadoop.fs.Path(s"$dir/z")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val wantBytes = files.map(f =>
      fs.getFileStatus(new org.apache.hadoop.fs.Path(f)).getLen).sum
    assert(row.getAs[String]("name") == "t_desc")
    assert(row.getAs[String]("location") == s"$dir/z")
    assert(row.getAs[Long]("num_files") == files.length.toLong)
    assert(row.getAs[Long]("size_bytes") == wantBytes)
    assert(row.getAs[Long]("num_versions") == 2L)
    assert(row.getAs[String]("stats_cols") == "id,x")
  }
}
