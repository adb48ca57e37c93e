package graft.sql

import graft.SparkSpec
import graft.sinks.Snapshots

/** Round-17 item 4: cross-table atomic publish — readers see all staged
  * tables or none; the crash window never shows a torn pair; concurrent
  * writers are refused until the txn resolves. */
class LakeTxnSpec extends SparkSpec {

  private def fd(sql: String) = LakeSql.sql(spark, sql)

  private def fixture(tag: String): String = {
    import spark.implicits._
    val root = tmpDir(tag)
    LakeSql.unregister("tx_orders"); LakeSql.unregister("tx_cust")
    LakeSql.setWarehouse(root)
    Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
      .createOrReplaceTempView("txo_src")
    Seq((10L, "a"), (20L, "b")).toDF("c", "n")
      .createOrReplaceTempView("txc_src")
    fd("CREATE TABLE tx_orders TBLPROPERTIES('stats_cols'='k','files'='1')" +
      " AS SELECT * FROM txo_src")
    fd("CREATE TABLE tx_cust TBLPROPERTIES('stats_cols'='c','files'='1')" +
      " AS SELECT * FROM txc_src")
    root
  }

  private def counts(): (Long, Long) = (
    fd("SELECT count(*) AS n FROM tx_orders").head().getLong(0),
    fd("SELECT count(*) AS n FROM tx_cust").head().getLong(0))

  test("publishAppends lands both tables atomically; versions advance; " +
      "rows visible together") {
    import spark.implicits._
    val root = fixture("txn1")
    val r = LakeTxn.publishAppends(spark, s"$root/txnlog", Seq(
      "tx_orders" -> Seq((3L, 30.0)).toDF("k", "v"),
      "tx_cust" -> Seq((30L, "c")).toDF("c", "n")))
    assert(r.versions == Map("tx_orders" -> 2, "tx_cust" -> 2))
    assert(counts() == (3L, 3L))
    LakeSql.unregister("tx_orders"); LakeSql.unregister("tx_cust")
  }

  test("crash window: both staged, no commit file — EVERY read serves " +
      "the pre-txn snapshot (never a torn pair); the marker flips both " +
      "at one instant; a replayed publish half is refused after abort") {
    import spark.implicits._
    val root = fixture("txn2")
    val dir = s"$root/txnlog"
    val id = "crashed-txn-1"
    LakeTxn.stagePending(spark, dir, id, "tx_orders",
      Seq((3L, 30.0)).toDF("k", "v"))
    // window A: one table staged, the other not — both read OLD
    assert(counts() == (2L, 2L), "torn: first stage leaked before commit")
    LakeTxn.stagePending(spark, dir, id, "tx_cust",
      Seq((30L, "c")).toDF("c", "n"))
    // window B: both staged, still no commit file — both read OLD
    assert(counts() == (2L, 2L), "torn: stages visible without the marker")
    // a concurrent writer is refused while the txn is unresolved
    val e = intercept[Exception](
      fd("INSERT INTO tx_orders SELECT 9L AS k, 9.0 AS v"))
    assert(e.getMessage.contains("transaction"), e.getMessage)
    // the atomic instant: ONE create flips both tables together
    LakeTxn.commitMarker(spark, dir, id)
    assert(counts() == (3L, 3L), "commit marker did not flip both")
    // committed txns cannot be aborted
    assert(intercept[IllegalArgumentException](
      LakeTxn.abort(spark, dir, id)).getMessage.contains("committed"))
    LakeSql.unregister("tx_orders"); LakeSql.unregister("tx_cust")
  }

  test("abort: stages become permanently invisible, writers unblock, and " +
      "the aborted slot never resurfaces") {
    import spark.implicits._
    val root = fixture("txn3")
    val dir = s"$root/txnlog"
    val id = "doomed-txn"
    LakeTxn.stagePending(spark, dir, id, "tx_orders",
      Seq((3L, 30.0)).toDF("k", "v"))
    LakeTxn.abort(spark, dir, id)
    assert(counts()._1 == 2L, "aborted stage leaked")
    // writers unblock and land PAST the aborted slot
    fd("INSERT INTO tx_orders SELECT 9L AS k, 9.0 AS v")
    assert(counts()._1 == 3L)
    assert(fd("SELECT sum(k) AS s FROM tx_orders").head().getLong(0) == 12L,
      "aborted stage's rows resurfaced")
    // an aborted txn cannot be committed
    assert(intercept[IllegalArgumentException](
      LakeTxn.commitMarker(spark, dir, id)).getMessage.contains("aborted"))
    // snapshotAll returns a consistent pin set
    val pins = LakeTxn.snapshotAll(spark, Seq("tx_orders", "tx_cust"))
    assert(pins("tx_orders") ==
      Snapshots.latestVersion(spark,
        LakeSql.specOf("tx_orders").get.manifestRoot))
    LakeSql.unregister("tx_orders"); LakeSql.unregister("tx_cust")
  }

  test("OPTIMISTIC publish: a concurrent disjoint writer lands DURING " +
      "txn composition and the publish rebases over it; a conflicting " +
      "delete raises CommitConflictException and aborts atomically; the " +
      "publish-instant stage window still refuses plain writers") {
    import spark.implicits._
    val root = fixture("txn4")
    val dir = s"$root/txnlog_opt"
    val pins = LakeTxn.snapshotAll(spark, Seq("tx_orders", "tx_cust"))
    // interleaved writer: lands freely while the txn composes — the
    // pessimistic path would have refused this for the whole window
    fd("INSERT INTO tx_orders SELECT 7L AS k, 70.0 AS v")
    val r = LakeTxn.publishOptimistic(spark, dir, Seq(
      LakeTxn.OptimisticStage("tx_orders",
        Seq((3L, 30.0)).toDF("k", "v"), pins("tx_orders")),
      LakeTxn.OptimisticStage("tx_cust",
        Seq((30L, "c")).toDF("c", "n"), pins("tx_cust"))))
    assert(r.versions.size == 2)
    assert(counts() == (4L, 3L),
      "rebase lost the interleaved insert or the txn rows")
    assert(fd("SELECT sum(k) AS s FROM tx_orders").head().getLong(0)
      == 1L + 2L + 7L + 3L, "composed outcome wrong")
    // CONFLICT: a txn that READ the orders files publishes after a
    // delete invalidated one of them — raises, and NOTHING lands on
    // either table (cust stage aborted with it)
    val pins2 = LakeTxn.snapshotAll(spark, Seq("tx_orders", "tx_cust"))
    val ordRoot = LakeSql.specOf("tx_orders").get.manifestRoot
    val readSet = graft.sinks.Dv.entries(
      Snapshots.manifestAt(spark, ordRoot, pins2("tx_orders")))
      .map(_.file).toSet
    fd("DELETE FROM tx_orders WHERE k = 7")
    val before = counts()
    intercept[Snapshots.CommitConflictException](
      LakeTxn.publishOptimistic(spark, dir, Seq(
        LakeTxn.OptimisticStage("tx_orders",
          Seq((8L, 80.0)).toDF("k", "v"), pins2("tx_orders"), readSet),
        LakeTxn.OptimisticStage("tx_cust",
          Seq((40L, "d")).toDF("c", "n"), pins2("tx_cust")))))
    assert(counts() == before,
      "conflicted txn leaked rows onto a table")
    // the brief publish-instant window: a stage holding a tail slot
    // still refuses plain writers until resolved (then unblocks)
    val id = "opt-window"
    LakeTxn.stagePending(spark, dir, id, "tx_orders",
      Seq((9L, 90.0)).toDF("k", "v"))
    assert(intercept[Exception](
      fd("INSERT INTO tx_orders SELECT 10L AS k, 1.0 AS v"))
      .getMessage.contains("transaction"))
    LakeTxn.abort(spark, dir, id)
    fd("INSERT INTO tx_orders SELECT 10L AS k, 1.0 AS v")
    assert(counts()._1 == before._1 + 1)
    LakeSql.unregister("tx_orders"); LakeSql.unregister("tx_cust")
  }

  test("a publish that conflicts on its second table keeps the first " +
      "table's aborted stage out of timestamp travel and retention") {
    import spark.implicits._
    val root = fixture("txn5")
    val pins = LakeTxn.snapshotAll(spark, Seq("tx_orders", "tx_cust"))
    val ordRoot = LakeSql.specOf("tx_orders").get.manifestRoot
    val cust = LakeSql.specOf("tx_cust").get
    val readSet = graft.sinks.Dv.entries(
      Snapshots.manifestAt(spark, ordRoot, pins("tx_orders")))
      .map(_.file).toSet
    fd("DELETE FROM tx_orders WHERE k = 1")
    intercept[Snapshots.CommitConflictException](
      LakeTxn.publishOptimistic(spark, s"$root/txnlog_ts", Seq(
        LakeTxn.OptimisticStage("tx_cust",
          Seq((40L, "d")).toDF("c", "n"), pins("tx_cust")),
        LakeTxn.OptimisticStage("tx_orders",
          Seq((8L, 80.0)).toDF("k", "v"), pins("tx_orders"), readSet))))
    // the cust stage took the slot above its head, then was aborted
    val aborted = pins("tx_cust") + 1
    assert(Snapshots.versions(spark, cust.manifestRoot) ==
      Seq(pins("tx_cust"), aborted))
    val stamp = Snapshots.commitTimestamp(spark, cust.manifestRoot, aborted)
    assert(stamp.isDefined)
    assert(Snapshots.versionAtTimestamp(spark, cust.manifestRoot,
      stamp.get) == pins("tx_cust"), "AS OF resolved to an aborted stage")
    // retention at that instant keeps the version that was live then
    Snapshots.vacuumRetention(spark, cust.path, cust.manifestRoot, stamp.get)
    assert(Snapshots.versions(spark, cust.manifestRoot).contains(pins("tx_cust")))
    assert(fd("SELECT sum(c) AS s FROM tx_cust").head().getLong(0) == 30L,
      "retention expired the visible version or the aborted rows leaked")
    LakeSql.unregister("tx_orders"); LakeSql.unregister("tx_cust")
  }

  test("STREAMING txn visibility: an unresolved stage is never emitted, " +
      "an aborted stage's rows never stream, a committed stage streams " +
      "after its marker, and VERSION AS OF a staged version refuses") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.txv")
    spark.sql("DROP TABLE IF EXISTS lake.txv.t")
    spark.sql("CREATE TABLE lake.txv.t (k BIGINT) USING lake " +
      "TBLPROPERTIES ('stats_cols' = 'k', 'files' = '1')")
    spark.sql("INSERT INTO lake.txv.t SELECT id AS k FROM range(0, 10)")
    val ckpt = tmpDir("txv_ckpt")
    val out = tmpDir("txv_out")
    var seen = Set.empty[Long]
    def drain(): Set[Long] = { // only NEW rows since the last drain
      val q = spark.readStream.table("lake.txv.t")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      val all = spark.read.parquet(out).collect().map(_.getLong(0)).toSet
      val fresh = all -- seen
      seen = all
      fresh
    }
    assert(drain() == (0L until 10L).toSet)
    val dir = tmpDir("txv_log")
    // UNRESOLVED stage: the streamed head must stay below it
    val vStaged = LakeTxn.stagePending(spark, dir, "txv-doomed", "txv.t",
      Seq(100L).toDF("k"))
    assert(drain() == Set.empty[Long],
      "unresolved txn stage leaked into the stream before its marker")
    // explicit pinned read of the staged version refuses loudly
    val e = intercept[Exception](
      spark.sql(s"SELECT * FROM lake.txv.t VERSION AS OF $vStaged")
        .collect())
    assert(e.getMessage.contains("transaction stage"), e.getMessage)
    // ABORT: the stage is permanently invisible; a later plain commit
    // streams — diffed against the last VISIBLE version, so the aborted
    // content neither streams nor pollutes the next batch's diff
    LakeTxn.abort(spark, dir, "txv-doomed")
    spark.sql("INSERT INTO lake.txv.t SELECT id AS k FROM range(20, 23)")
    assert(drain() == Set(20L, 21L, 22L),
      "aborted stage's rows streamed, or the post-abort commit mis-diffed")
    // COMMITTED txn: the stage streams only after the atomic marker
    val id2 = "txv-lands"
    LakeTxn.stagePending(spark, dir, id2, "txv.t", Seq(200L).toDF("k"))
    assert(drain() == Set.empty[Long], "stage streamed before its marker")
    LakeTxn.commitMarker(spark, dir, id2)
    assert(drain() == Set(200L),
      "committed txn stage did not stream after its marker")
    spark.sql("DROP TABLE IF EXISTS lake.txv.t")
  }
}
