package graft

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, functions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

/** The one way graft pins a frame: materialize it once, so the plans built
  * on it stop re-deriving its lineage, and hand the optimizer its measured
  * size.
  *
  * `Pin(df)` runs ONE Spark job. The job materializes `df` as a local
  * checkpoint and returns each partition's row and byte counts, plus the
  * rows themselves while the partition stays inside its share of the
  * bound. Then:
  *  - at or under the bound (bytes ≤ `spark.sql.autoBroadcastJoinThreshold`
  *    and rows ≤ [[MaxLocalRows]]) the pin is a `LocalRelation` on the
  *    driver. Its statistics are exact, so a join against it plans as a
  *    broadcast; [[count]], [[rows]] and `collect` answer it without a job.
  *    The checkpoint is dropped, so the data has one copy, not two.
  *  - over the bound the pin is the checkpoint itself, carrying the
  *    measured row count and byte size. A plain `localCheckpoint()` keeps
  *    its origin's statistics, and a frame rooted at an RDD estimates
  *    `Long.MaxValue` bytes: every join on such a pin plans as a
  *    sort-merge join, however small the pin really is.
  *
  * The byte bound is Spark's own broadcast threshold (a threshold of -1
  * turns driver-local pins off); the row bound is a constant, because
  * Catalyst evaluates projections and filters over a `LocalRelation` on
  * the driver, one row at a time (`ConvertToLocalRelation`). No setting
  * of graft's own governs either. */
object Pin {

  /** Row bound of a driver-local pin. Above it the optimizer's driver-side
    * evaluation of every projection over the pin costs more than the job
    * it saves: pinning the ~75k-row MinHash shingle frame of the curation
    * benchmark on the driver made its dedup phase about a third slower. */
  val MaxLocalRows = 10000

  def apply(df: DataFrame): DataFrame =
    if (rows(df).isDefined) df
    else {
      val threshold = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
      GraftSqlBridge.pinMeasured(df, MaxLocalRows, threshold)
    }

  /** The rows of a driver-local frame — its optimized plan a
    * `LocalRelation` or a `Union` of them (a small pin, a cached manifest
    * serve, a footer-built manifest, a swap commit's kept ∪ added rows) —
    * in the frame's output order; None when computing it would need a
    * Spark job. */
  def rows(df: DataFrame): Option[Seq[InternalRow]] = {
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Union}
    df.queryExecution.optimizedPlan match {
      case l: LocalRelation => Some(l.data)
      case u: Union if u.children.forall(_.isInstanceOf[LocalRelation]) =>
        Some(u.children.flatMap(_.asInstanceOf[LocalRelation].data))
      case _ => None
    }
  }

  /** Row count without a Spark job when the frame is driver-local. */
  def count(df: DataFrame): Long = rows(df).fold(df.count())(_.length.toLong)

  /** Σ of a long column without a Spark job when the frame is
    * driver-local; None when any row's value is null (a manifest entry
    * without its `rows` stat), so a caller can never under-count by
    * skipping it. */
  def longSum(df: DataFrame, c: String): Option[Long] = {
    val proj = df.select(col(c))
    rows(proj) match {
      case Some(rs) =>
        if (rs.exists(_.isNullAt(0))) None
        else Some(rs.iterator.map(_.getLong(0)).sum)
      case None =>
        val r = proj.agg(sum(col(c)),
          functions.count(when(col(c).isNull, 1))).head()
        if (r.getLong(1) > 0) None
        else Some(if (r.isNullAt(0)) 0L else r.getLong(0))
    }
  }

  /** The unmeasured pin of the lake's DML planners: the frame itself when
    * it is already driver-local ([[rows]]), else its `localCheckpoint()`.
    * A manifest is pinned before the commit starts moving the table under
    * it; checkpointing rows that already sit in driver memory would pay a
    * job and a partition copy for nothing. */
  def checkpoint(df: DataFrame): DataFrame =
    if (rows(df).isDefined) df else df.localCheckpoint()
}
