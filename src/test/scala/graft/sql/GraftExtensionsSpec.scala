package graft.sql

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sinks.{Layout, Snapshots}
import graft.sql.LakeSql.LakeTableSpec

/** Session-catalog integration: with `graft.sql.GraftSparkExtensions`
  * registered (the shared test session does), PLAIN `spark.sql` resolves
  * lake tables, time travel, and the version-log TVFs — and produces the
  * SAME plan as the `LakeSql.sql` front door, because the injected rule
  * IS the front door's substitution block. */
class GraftExtensionsSpec extends SparkSpec {

  private def data = spark.range(8000)
    .select(col("id"), pmod(xxhash64(col("id")), lit(500)).as("x"))

  private def freshLake(name: String): (String, Int) = {
    val dir = tmpDir("ext")
    Layout.zorderWrite(data, Seq("id", "x"), s"$dir/z", nFiles = 8)
    val v1 = Snapshots.commit(spark,
      Layout.buildManifest(spark, s"$dir/z", Seq("id", "x")), s"$dir/m")
    LakeSql.register(name,
      LakeTableSpec(s"$dir/z", s"$dir/m", Seq("id", "x"), nFiles = 8))
    (dir, v1)
  }

  test("plain spark.sql resolves a lake table; plan == LakeSql.sql plan") {
    freshLake("t_ext1")
    val viaSpark = spark.sql("SELECT id, x FROM t_ext1 WHERE x < 100")
    val viaDoor = LakeSql.sql(spark, "SELECT id, x FROM t_ext1 WHERE x < 100")
    assert(viaSpark.queryExecution.optimizedPlan.sameResult(
      viaDoor.queryExecution.optimizedPlan),
      "spark.sql and LakeSql.sql diverged on the same text")
    assert(viaSpark.count() == data.filter(col("x") < 100).count())
  }

  test("time travel and TVFs work through plain spark.sql") {
    val (dir, v1) = freshLake("t_ext2")
    Snapshots.deleteWhere(spark, s"$dir/z", s"$dir/m", Seq("id", "x"),
      Seq(("x", 0.0, 49.0)))
    val pinned = spark.sql(
      s"SELECT count(*) AS n FROM t_ext2 VERSION AS OF $v1")
      .head().getLong(0)
    assert(pinned == 8000L)
    val latest = spark.sql("SELECT count(*) AS n FROM t_ext2")
      .head().getLong(0)
    assert(latest < 8000L)
    val hist = spark.sql(
      "SELECT version, operation FROM table_history('t_ext2') ORDER BY version")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(hist.map(_._2).toSeq == Seq("create", "delete"))
    val feed = spark.sql(
      s"SELECT count(*) AS n FROM table_changes('t_ext2', $v1, ${v1 + 1}) " +
        "WHERE change_type = 'delete'").head().getLong(0)
    assert(feed == 8000L - latest)
  }

  test("catalog views over lake tables are LIVE: they track table DML") {
    val (dir, v1) = freshLake("t_extv")
    // a PERSISTED catalog view (not temp): stores the SQL text, re-parsed
    // and re-analyzed per read — so the injected rule re-points the lake
    // relation at READ time and the view tracks the live snapshot
    spark.sql("CREATE OR REPLACE VIEW v_extv AS " +
      "SELECT x, count(*) AS n FROM t_extv WHERE x < 200 GROUP BY x")
    val before = spark.sql("SELECT sum(n) AS s FROM v_extv").head().getLong(0)
    assert(before == data.filter(col("x") < 200).count())
    // view body plans identically to the inlined query
    assert(spark.sql("SELECT x, n FROM v_extv").queryExecution.optimizedPlan
      .sameResult(LakeSql.sql(spark,
        "SELECT x, count(*) AS n FROM t_extv WHERE x < 200 GROUP BY x")
        .queryExecution.optimizedPlan))
    // DML on the base table: the view follows, no re-creation needed
    spark.sql("DELETE FROM t_extv WHERE x >= 0 AND x < 100")
    val after = spark.sql("SELECT sum(n) AS s FROM v_extv").head().getLong(0)
    assert(after == data.filter(col("x") >= 100 && col("x") < 200).count())
    // pinned reads still serve the pre-delete state underneath the view's
    // live semantics
    assert(spark.sql(s"SELECT count(*) AS n FROM t_extv VERSION AS OF $v1")
      .head().getLong(0) == 8000L)
    spark.sql("DROP VIEW v_extv")
  }

  test("temp views keep precedence over same-named lake tables in spark.sql") {
    freshLake("t_ext3")
    try {
      data.filter(col("id") < 7).createOrReplaceTempView("t_ext3")
      assert(spark.sql("SELECT count(*) AS n FROM t_ext3")
        .head().getLong(0) == 7L)
    } finally spark.catalog.dropTempView("t_ext3")
    assert(spark.sql("SELECT count(*) AS n FROM t_ext3")
      .head().getLong(0) == 8000L)
  }

  test("lake tables join session-catalog views in one spark.sql statement") {
    freshLake("t_ext4")
    data.filter(col("id") % 100 === 0).select(col("id"))
      .createOrReplaceTempView("ext4_dim")
    assert(spark.sql(
      "SELECT count(*) AS n FROM t_ext4 t JOIN ext4_dim d ON t.id = d.id")
      .head().getLong(0) == 80L)
  }

  test("DELETE and UPDATE through plain spark.sql commit exactly once") {
    val (dir, v1) = freshLake("t_ext5")
    val expect = data.filter(col("x").between(0, 99)).count()
    val d = spark.sql(
      "DELETE FROM t_ext5 WHERE x >= 0 AND x <= 99").head()
    assert(d.getAs[Long]("rows_deleted") == expect && expect > 0)
    // pruned, not a full rewrite — the front-door contract holds here too
    assert(d.getAs[Long]("files_rewritten") < d.getAs[Long]("files_total"))
    // exactly one commit happened
    assert(Snapshots.latestVersion(spark, s"$dir/m") == v1 + 1)
    assert(spark.sql("SELECT count(*) AS n FROM t_ext5")
      .head().getLong(0) == 8000L - expect)
    val u = spark.sql(
      "UPDATE t_ext5 SET x = x + 1000 WHERE x >= 100 AND x <= 149").head()
    assert(u.getAs[Long]("rows_updated") ==
      data.filter(col("x").between(100, 149)).count())
    assert(Snapshots.latestVersion(spark, s"$dir/m") == v1 + 2)
    assert(spark.sql("SELECT count(*) AS n FROM t_ext5 WHERE x >= 1100")
      .head().getLong(0) == u.getAs[Long]("rows_updated"))
  }

  test("spark.sql DML on a temp-view-shadowed lake name fails loudly") {
    val (dir, _) = freshLake("t_ext7")
    try {
      data.filter(col("id") < 5).createOrReplaceTempView("t_ext7")
      // reads resolve the view (Spark precedence) — so DML under the
      // same name must fail, and above all must NOT commit against the
      // lake table. Spark's own view substitution claims the name before
      // the injected rule runs, so the failure is Spark's
      // delete-on-a-view rejection; LakeSql.dmlCommand's shadow guard is
      // the backstop for any path that reaches it unresolved.
      intercept[Exception](
        spark.sql("DELETE FROM t_ext7 WHERE x >= 0 AND x <= 9"))
      assert(Snapshots.latestVersion(spark, s"$dir/m") == 1)
    } finally spark.catalog.dropTempView("t_ext7")
    // view gone → the same statement commits against the lake table
    assert(spark.sql("DELETE FROM t_ext7 WHERE x >= 0 AND x <= 9")
      .head().getAs[Long]("rows_deleted") > 0L)
  }

  test("MERGE and INSERT through plain spark.sql route to the commits") {
    val (dir, v1) = freshLake("t_ext6")
    data.filter(col("id") < 100)
      .select(col("id"), (col("x") + 5000).as("x"))
      .unionByName(spark.range(8000, 8100)
        .select(col("id"), lit(7777L).as("x")))
      .createOrReplaceTempView("ext6_src")
    val m = spark.sql(
      """MERGE INTO t_ext6 t USING ext6_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin).head()
    assert(m.getAs[Long]("rows_updated") == 100L)
    assert(m.getAs[Long]("rows_inserted") == 100L)
    assert(m.getAs[Long]("rows_deleted") == 0L) // zero-filled superset slot
    assert(Snapshots.latestVersion(spark, s"$dir/m") == v1 + 1)
    val i = spark.sql(
      "INSERT INTO t_ext6 SELECT id, 9999 AS x FROM range(9000, 9050)")
      .head()
    assert(i.getAs[Long]("version") == v1 + 2)
    assert(spark.sql("SELECT count(*) AS n FROM t_ext6")
      .head().getLong(0) == 8000L + 100L + 50L)
    // spark.sql DML and the front door produce the same metric row shape
    val viaDoor = LakeSql.sql(spark,
      "DELETE FROM t_ext6 WHERE x = 7777").head()
    val viaSpark = spark.sql(
      "DELETE FROM t_ext6 WHERE x = 9999").head()
    assert(viaDoor.schema.fieldNames.toSeq ==
      viaSpark.schema.fieldNames.toSeq)
    assert(viaDoor.getAs[Long]("rows_deleted") == 100L)
    assert(viaSpark.getAs[Long]("rows_deleted") == 50L)
  }

  test("extension grammar through plain spark.sql (injected parser)") {
    val (dir, v1) = freshLake("t_ext7")
    // OPTIMIZE … ZORDER BY through spark.sql — Spark's own grammar has no
    // production for this; the injected GraftSqlParser routes it to the
    // front door's handler as a runnable command
    val o = spark.sql("OPTIMIZE t_ext7 ZORDER BY (x)").head()
    assert(o.getAs[Long]("version") == v1 + 1)
    assert(o.getAs[Long]("files_out") > 0)
    // REPLACE WHERE through spark.sql: scoped atomic overwrite
    data.filter(col("x").between(100, 199))
      .select(col("id"), (col("x") + 10000).as("x"))
      .createOrReplaceTempView("ext7_batch")
    val r = spark.sql(
      """INSERT INTO t_ext7
        |REPLACE WHERE x >= 100 AND x <= 199
        |SELECT id, x - 10000 AS x FROM ext7_batch""".stripMargin).head()
    assert(r.getAs[Long]("version") == v1 + 2)
    assert(r.getAs[Long]("rows_deleted") ==
      data.filter(col("x").between(100, 199)).count())
    // VACUUM through spark.sql
    val vac = spark.sql("VACUUM t_ext7 RETAIN 1 VERSIONS").head()
    assert(vac.getAs[Long]("versions_dropped") >= 1L)
    // RESTORE through spark.sql (latest retained version is a no-op roll
    // forward — still a commit with metrics)
    val head = Snapshots.latestVersion(spark, s"$dir/m")
    val res = spark.sql(
      s"RESTORE TABLE t_ext7 TO VERSION AS OF $head").head()
    assert(res.getAs[Long]("restored_to") == head.toLong)
    // CONVERT TO LAKE through spark.sql
    val pdir = tmpDir("ext7conv") + "/p"
    data.limit(500).write.parquet(pdir)
    val c = spark.sql(
      s"CONVERT TO LAKE t_ext7c FROM '$pdir' STATS COLS (id, x)").head()
    assert(c.getAs[Long]("version") == 1L)
    assert(spark.sql("SELECT count(*) AS n FROM t_ext7c")
      .head().getLong(0) == 500L)
    // ordinary SQL still parses through the delegate untouched
    assert(spark.sql("SELECT 1 + 1 AS two").head().getInt(0) == 2)
  }

  test("LakeSql.sql and spark.sql agree on every lake statement's result") {
    // twin tables: the same statement sequence runs on one through each
    // entry point; each result must match in schema and rows (paths,
    // names and file ids normalized — the twins live in different dirs)
    val (dirA, _) = freshLake("t_agree_a")
    val (dirB, _) = freshLake("t_agree_b")
    data.filter(col("id") < 50).select(col("id"), (col("x") + 1).as("x"))
      .unionByName(spark.range(9000, 9020).select(col("id"), lit(3L).as("x")))
      .createOrReplaceTempView("agree_src")
    val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
    def result(df: org.apache.spark.sql.DataFrame, dir: String,
               side: String) =
      (df.schema, df.collect().toSeq.map(_.toSeq.map {
        case s: String => s.replace(dir, "<dir>")
          .replace(s"_agree_$side", "_agree_<side>").replaceAll(uuid, "<id>")
        case v => String.valueOf(v)
      }.mkString("|")).sorted)
    val statements = Seq(
      "CREATE MATERIALIZED VIEW mv_agree_$side LOCATION '$dir/mv' AS " +
        "SELECT x, count(*) AS n FROM t_agree_$side GROUP BY x",
      """MERGE INTO t_agree_$side t USING agree_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET x = s.x
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin,
      // the star fast path reports the same six columns
      """MERGE INTO t_agree_$side t USING agree_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin,
      "OPTIMIZE t_agree_$side SMALLFILES 1073741824",
      "OPTIMIZE t_agree_$side",
      "DESCRIBE DETAIL t_agree_$side",
      "SHOW CREATE TABLE t_agree_$side",
      "REFRESH MATERIALIZED VIEW mv_agree_$side",
      "VACUUM t_agree_$side RETAIN 2 VERSIONS DRY RUN",
      "VACUUM t_agree_$side RETAIN 2 VERSIONS",
      "FSCK REPAIR TABLE t_agree_$side DRY RUN",
      "TRUNCATE TABLE t_agree_$side")
    try statements.foreach { st =>
      def text(side: String, dir: String) =
        st.replace("$side", side).replace("$dir", dir)
      val viaDoor = result(LakeSql.sql(spark, text("a", dirA)), dirA, "a")
      val viaSpark = result(spark.sql(text("b", dirB)), dirB, "b")
      assert(viaDoor._1 == viaSpark._1, s"schema differs for: $st")
      assert(viaDoor._2 == viaSpark._2, s"rows differ for: $st")
      assert(viaDoor._1.nonEmpty)
    } finally {
      MatViews.drop(spark, "mv_agree_a"); MatViews.drop(spark, "mv_agree_b")
      spark.catalog.dropTempView("agree_src")
    }
  }

  // ----------------------------------------- metadata-only aggregates

  private def isMetadataServed(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])

  test("count(*)/min/max over a bare lake scan are manifest-served") {
    val (dir, v1) = freshLake("t_meta1")
    val df = spark.sql(
      "SELECT count(*) AS n, min(id) AS lo, max(id) AS hi, max(x) AS hx " +
        "FROM t_meta1")
    assert(isMetadataServed(df), df.queryExecution.optimizedPlan.toString)
    val r = df.head()
    assert(r.getLong(0) == 8000L && r.getLong(1) == 0L &&
      r.getLong(2) == 7999L &&
      r.getLong(3) == data.agg(max(col("x"))).head().getLong(0))
    // pinned read after a rewriting delete: the OLD version still serves
    // from ITS manifest, the head from its own
    Snapshots.deleteWhere(spark, s"$dir/z", s"$dir/m", Seq("id", "x"),
      Seq(("id", 0.0, 999.0)))
    val pinned = spark.sql(
      s"SELECT count(*) AS n FROM t_meta1 VERSION AS OF $v1")
    assert(isMetadataServed(pinned) && pinned.head().getLong(0) == 8000L)
    val head = spark.sql("SELECT count(*) AS n FROM t_meta1")
    assert(isMetadataServed(head) && head.head().getLong(0) == 7000L)
  }

  test("metadata-agg refuses where it must and falls back to the scan") {
    val (dir, _) = freshLake("t_meta2")
    // a WHERE breaks the bare-scan shape: must scan, must be right
    val filtered = spark.sql(
      "SELECT count(*) AS n FROM t_meta2 WHERE x < 100")
    assert(!isMetadataServed(filtered))
    assert(filtered.head().getLong(0) == data.filter(col("x") < 100).count())
    // count(col) is null-sensitive: refused
    assert(!isMetadataServed(spark.sql("SELECT count(x) AS n FROM t_meta2")))
    // min over a NON-stats column: refused, still correct by scan
    val noStats = spark.sql("SELECT min(id + 1) AS m FROM t_meta2")
    assert(!isMetadataServed(noStats) && noStats.head().getLong(0) == 1L)
    // a DV-masked head version must NOT serve footer counts: MoR delete
    // leaves masks in the manifest, so the guard refuses and the scan
    // (which applies the mask) answers
    val masked = graft.sinks.Dv.deleteWhereMoR(spark, s"$dir/z", s"$dir/m",
      Seq(("id", 0.0, 499.0)))
    assert(masked.rowsDeleted == 500L)
    val df = spark.sql("SELECT count(*) AS n FROM t_meta2")
    assert(!isMetadataServed(df), "DV-masked count must not be footer-served")
    assert(df.head().getLong(0) == 7500L)
  }
}
