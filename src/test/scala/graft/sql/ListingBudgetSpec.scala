package graft.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.LogicalRelation

import graft.SparkSpec
import graft.sinks.Snapshots

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
}
