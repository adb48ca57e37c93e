package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

/** [[Pin]] on both sides of its bound: one job to pin; a small pin is a
  * driver-local `LocalRelation` that counts and collects without a job and
  * leaves no persisted copy; a large one is a checkpoint that carries its
  * measured statistics into join planning. */
class PinSpec extends SparkSpec {

  /** `n` rows of (k, v) in 4 partitions, rooted at an RDD (not a
    * `LocalRelation`), as the iteration state of `ext/` is. */
  private def frame(n: Int): DataFrame = {
    val s = spark
    import s.implicits._
    spark.sparkContext.parallelize(0L until n, 4).toDF("k")
      .withColumn("v", col("k") * 3)
  }

  private def joins(df: DataFrame): (Int, Int) = {
    val plan = df.queryExecution.sparkPlan
    (plan.collect { case j: BroadcastHashJoinExec => j }.size,
      plan.collect { case j: SortMergeJoinExec => j }.size)
  }

  test("a small pin takes one job, then stays on the driver") {
    val src = frame(400)
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    var pinned: DataFrame = null
    assert(jobsOf { pinned = Pin(src) }.size == 1)
    assert(pinned.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(Pin.rows(pinned).map(_.size).contains(400))
    assert(jobsOf {
      assert(Pin.count(pinned) == 400)
      assert(Pin.count(pinned.filter(col("v") % 2 === 0)) == 200)
      assert(pinned.collect().map(_.getLong(1)).sorted.toSeq ==
        (0L until 400).map(_ * 3))
    }.isEmpty)
    // exact statistics: a join against the pin plans as a broadcast, and
    // the broadcast takes the driver-local rows without a job — the
    // join's one job is its own result stage
    val big = frame(4000).select(col("k"))
    assert(joins(big.join(pinned, "k")) == ((1, 0)))
    assert(jobsOf(assert(big.join(pinned, "k").collect().length == 400)).size == 1)
    // one copy of the data: the pin job's checkpoint was dropped
    assert(spark.sparkContext.getPersistentRDDs.keySet == persisted)
    // an already driver-local frame is its own pin: no job
    assert(jobsOf(Pin(pinned.filter(col("k") < 10))).isEmpty)
  }

  test("a pin over the bound is a checkpoint carrying its measured stats") {
    val n = Pin.MaxLocalRows * 2
    val src = frame(n)
    var pinned: DataFrame = null
    assert(jobsOf { pinned = Pin(src) }.size == 1)
    val plan = pinned.queryExecution.optimizedPlan
    assert(plan.isInstanceOf[LogicalRDD])
    assert(plan.stats.rowCount.contains(BigInt(n)))
    assert(plan.stats.sizeInBytes < BigInt(n) * 64)
    assert(Pin.count(pinned) == n)
    assert(pinned.agg(sum(col("v"))).head().getLong(0) == 3L * n * (n - 1) / 2)
    // joined with a larger frame: the measured pin is broadcast, a plain
    // checkpoint of the same frame (origin statistics: unknown size)
    // plans a sort-merge join
    val big = spark.range(0, 50000000L).toDF("k")
    assert(joins(big.join(pinned, "k")) == ((1, 0)))
    assert(joins(big.join(src.localCheckpoint(), "k")) == ((0, 1)))
  }

  test("a broadcast threshold of -1 turns driver-local pins off") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val pinned = Pin(frame(10))
      assert(pinned.queryExecution.optimizedPlan.isInstanceOf[LogicalRDD])
      assert(pinned.queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(10)))
      assert(pinned.count() == 10)
    } finally spark.conf.set(key, old)
  }
}
