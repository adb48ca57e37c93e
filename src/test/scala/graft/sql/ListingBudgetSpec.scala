package graft.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.LogicalRelation

import graft.SparkSpec
import graft.sinks.{RowTracking, Snapshots}

/** Root listings per `LakeSql` statement. A statement resolves each lake
  * table's head (visible version plus the metadata in force there) from
  * ONE listing of the manifest root and hands it down; on an object store
  * every extra listing is a paged LIST of O(versions) keys, a cost wall
  * time at test scale cannot see. Counted with [[graft.CountingFs]] on a
  * 31-version log (CREATE TABLE plus 30 single-row INSERTs). */
class ListingBudgetSpec extends SparkSpec {

  private def fd(sql: String) = LakeSql.sql(spark, sql)

  /** A CREATE TABLE'd lake table with `inserts` single-row INSERTs, under
    * the counting file system; returns its manifest root. */
  private def fixture(name: String, inserts: Int): String = {
    val root = countingDir("lbspec")
    LakeSql.unregister(name)
    fd(s"""CREATE TABLE $name (id BIGINT, x BIGINT) USING lake
        LOCATION '$root' TBLPROPERTIES ('stats_cols' = 'id', 'files' = '1')""")
    (1 to inserts).foreach(i => fd(s"INSERT INTO $name VALUES ($i, $i)"))
    s"$root/m"
  }

  /** A log-structured table registered as `name`: one full commit, then
    * `deltas` single-row delta commits; returns its manifest root. */
  private def deltaLog(name: String, deltas: Int): String = {
    import spark.implicits._
    val root = countingDir("lbdelta")
    val (z, m) = (s"$root/z", s"$root/m")
    Snapshots.replaceCommit(spark, Seq((0L, 0L)).toDF("id", "x"), Seq("id"),
      z, m, nFiles = 1)
    (1 to deltas).foreach(i => Snapshots.appendCommitDelta(spark,
      Seq((i.toLong, i.toLong)).toDF("id", "x"), Seq("id"), z, m, nFiles = 1))
    LakeSql.unregister(name)
    LakeSql.register(name, LakeSql.LakeTableSpec(z, m, Seq("id"), 1))
    m
  }

  /** The `(root, version)` of every tagged lake scan, subqueries included. */
  private def scanTags(plan: LogicalPlan): Seq[(String, Int)] =
    plan.collectWithSubqueries { case lr: LogicalRelation => lr }
      .flatMap(_.getTagValue(LakeSql.LakeScanTag)).map(t => (t._1, t._2))

  test("root listings per statement on a 31-version log") {
    val m = fixture("lb_t", 30)
    assert(Snapshots.versions(spark, m).size == 31)
    def count(q: String) = listingsOf(m)(fd(q).collect())
    val got = Seq(
      "INSERT" -> count("INSERT INTO lb_t VALUES (100, 1)"),
      "first SELECT" -> count("SELECT sum(x) FROM lb_t"),
      "repeat SELECT" -> count("SELECT sum(x) FROM lb_t"),
      "SET TBLPROPERTIES" ->
        count("ALTER TABLE lb_t SET TBLPROPERTIES ('team' = 'ops')"),
      "MERGE" -> count("MERGE INTO lb_t t USING (SELECT 5L AS id, " +
        "50L AS x) s ON t.id = s.id WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *"),
      "self-join" -> count("SELECT count(*) FROM lb_t a JOIN lb_t b " +
        "ON a.id = b.id"))
    got.foreach { case (op, n) => info(s"$op: $n root listings") }
    // statement head, staging-time constraint gate, commit
    val budget = Map("INSERT" -> 3, "first SELECT" -> 1, "repeat SELECT" -> 1,
      "SET TBLPROPERTIES" -> 2, "MERGE" -> 3, "self-join" -> 1)
    got.foreach { case (op, n) =>
      assert(n <= budget(op), s"$op listed the root $n times") }
    LakeSql.unregister("lb_t")
  }

  test("a self-join and a scalar subquery read one version of the table") {
    val m = fixture("lb_one", 2)
    val q = "SELECT a.id, (SELECT max(x) FROM lb_one) AS mx FROM lb_one a " +
      "JOIN lb_one b ON a.id = b.id"
    var plan: LogicalPlan = null
    assert(listingsOf(m) { plan = fd(q).queryExecution.analyzed } == 1)
    val tags = scanTags(plan)
    assert(tags.size == 3, s"expected three tagged scans, got $tags")
    assert(tags.distinct == Seq((m, 3)))
    LakeSql.unregister("lb_one")
  }

  test("a result-cache miss keys on the versions its read resolves") {
    val m = fixture("lb_rc", 1)
    ResultCache.reset()
    ResultCache.enable(tmpDir("lbcache"))
    val q = "SELECT count(*) AS n, sum(x) AS sx FROM lb_rc"
    assert(listingsOf(m)(ResultCache.sql(spark, q).collect()) == 1)
    assert(ResultCache.stats.misses == 1)
    fd("INSERT INTO lb_rc VALUES (7, 7)")
    val after = ResultCache.sql(spark, q).collect().head
    assert(ResultCache.stats.misses == 2 && after.getLong(0) == 2L)
    assert(listingsOf(m)(ResultCache.sql(spark, q).collect()) == 1)
    assert(ResultCache.stats.hits == 1)
    ResultCache.reset()
    LakeSql.unregister("lb_rc")
  }

  test("a catalog statement lists the root once per read") {
    val wh = countingDir("lbwh")
    spark.conf.set("spark.sql.catalog.lakec", "graft.sql.LakeCatalog")
    spark.conf.set("spark.sql.catalog.lakec.warehouse", wh)
    spark.sql("CREATE NAMESPACE lakec.p")
    spark.sql("""CREATE TABLE lakec.p.t (id BIGINT, x BIGINT) USING lake
        TBLPROPERTIES ('stats_cols' = 'id', 'files' = '1')""")
    (1 to 5).foreach(i => spark.sql(s"INSERT INTO lakec.p.t VALUES ($i, $i)"))
    val m = s"$wh/p/t/m"
    def count(q: String) = listingsOf(m)(spark.sql(q).collect())
    val got = Seq(
      "first SELECT" -> count("SELECT sum(x) FROM lakec.p.t"),
      "repeat SELECT" -> count("SELECT sum(x) FROM lakec.p.t"),
      "INSERT" -> count("INSERT INTO lakec.p.t VALUES (6, 6)"))
    got.foreach { case (op, n) => info(s"catalog $op: $n root listings") }
    val budget = Map("first SELECT" -> 1, "repeat SELECT" -> 1, "INSERT" -> 3)
    got.foreach { case (op, n) =>
      assert(n <= budget(op), s"catalog $op listed the root $n times") }
    assert(spark.sql("SELECT sum(x) FROM lakec.p.t").head().getLong(0) == 21L)
    LakeSql.unregister("p.t")
  }

  test("a delta-log read lists the root once, folded or checkpointed") {
    val m = deltaLog("lb_d", 5)
    def count() = listingsOf(m)(fd("SELECT sum(x) FROM lb_d").collect())
    val first = count()
    val repeat = count()
    Snapshots.writeCheckpoint(spark, Snapshots.tableHead(spark, m))
    val checkpointed = count()
    info(s"delta-log SELECT: first $first, repeat $repeat, " +
      s"after a checkpoint $checkpointed root listings")
    assert(Seq(first, repeat, checkpointed) == Seq(1, 1, 1))
    assert(fd("SELECT sum(x) FROM lb_d").head().getLong(0) == 15L)
    assert(probesOf(m)(fd("SELECT sum(x) FROM lb_d").collect()) == 0,
      "a warm SELECT probes the root")
    LakeSql.unregister("lb_d")
  }

  test("a log-structured append and a warm stream offset list the root " +
      "a pinned number of times") {
    import spark.implicits._
    val m = deltaLog("lb_dc", 2)
    val z = m.stripSuffix("/m") + "/z"
    // staging-time constraint gate, commit, then one head for the fold
    // that decides the checkpoint and the checkpoint's own fold
    val append = listingsOf(m)(Snapshots.appendCommitDelta(spark,
      Seq((9L, 9L)).toDF("id", "x"), Seq("id"), z, m, nFiles = 1,
      checkpointEvery = 2))
    info(s"appendCommitDelta(checkpointEvery = 2): $append root listings")
    assert(Snapshots.tableHead(spark, m).checkpoints == Seq(4))
    assert(append == 3)
    val stream = new LakeRowsMicroBatchStream(m,
      fd("SELECT * FROM lb_dc").schema, Map.empty)
    stream.latestOffset()
    assert(listingsOf(m)(stream.latestOffset()) == 1)
    LakeSql.unregister("lb_dc")
  }

  test("an SCD2 bootstrap and a tracked append read one head listing") {
    import spark.implicits._
    val root = countingDir("lbrt")
    val m = s"$root/m"
    RowTracking.appendTracked(spark, Seq((1L, 1L)).toDF("k", "x"), Seq("k"),
      s"$root/z", m, nFiles = 1)
    LakeSql.unregister("lb_scd")
    fd(s"""CREATE TABLE lb_scd (k BIGINT, x BIGINT, start_at BIGINT,
        end_at BIGINT, is_current BOOLEAN) USING lake
        LOCATION '${countingDir("lbscd")}'
        TBLPROPERTIES ('stats_cols' = 'k,start_at', 'files' = '1')""")
    val bootstrap = listingsOf(m)(
      ApplyChanges.scd2(spark, m, "lb_scd", "k", Seq("x")))
    info(s"SCD2 bootstrap: $bootstrap source root listings")
    assert(fd("SELECT count(*) FROM lb_scd WHERE is_current").head()
      .getLong(0) == 1L)
    val tracked = listingsOf(m)(RowTracking.appendTracked(spark,
      Seq((2L, 2L)).toDF("k", "x"), Seq("k"), s"$root/z", m, nFiles = 1))
    info(s"appendTracked: $tracked root listings")
    // the source head, then the (empty) commit walk after the bootstrap
    assert(bootstrap == 2)
    // head, staging-time constraint gate, commit
    assert(tracked == 3)
    LakeSql.unregister("lb_scd")
  }
}
