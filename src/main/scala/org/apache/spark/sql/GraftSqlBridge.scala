package org.apache.spark.sql

import org.apache.spark.{SparkConf, SparkContext}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** graft's one doorway into `private[sql]` / `private[spark]` API. It lives
  * in `org.apache.spark.sql` for the access, the same integration pattern as
  * Delta Lake's `org.apache.spark.sql.delta` package; everything else stays
  * in `graft.*`. */
object GraftSqlBridge {

  /** Wrap a Catalyst expression as a [[Column]] (Spark 4 removed the public
    * `new Column(expr)` constructor when the Column API became
    * backend-agnostic): how native expressions such as
    * [[graft.functions.CosineSimilarity]] and SQL-text right-hand sides
    * re-enter the DataFrame API. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Analyze + wrap `plan` as a DataFrame on `spark`'s session state — how
    * the SQL front door hands a parsed plan, re-pointed at lake-table
    * reads, to the normal analyzer/optimizer/execution stack. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The live (not cloned) conf of the active SparkContext — both
    * `SparkContext.getActive` and `SparkContext.conf` are `private[spark]`.
    * Session extensions run after the context starts and before any
    * session state reads it, so a value set here reaches the session's
    * SQLConf. */
  def activeSparkConf: Option[SparkConf] = SparkContext.getActive.map(_.conf)

  /** [[graft.Pin]]'s one job, inside one SQL execution as
    * `Dataset.localCheckpoint` runs it: materialize `df` as a local
    * checkpoint while [[measure]] counts each partition. Within
    * `maxRows` rows and `maxBytes` bytes (each partition returns its rows
    * only while it stays inside its share of `maxBytes`) the rows become a
    * `LocalRelation` and the checkpoint is dropped; otherwise the
    * checkpoint is returned as a `LogicalRDD` carrying the measured row
    * count and size. */
  def pinMeasured(df: DataFrame, maxRows: Int, maxBytes: Long): DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Statistics}
    import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val session = ds.sparkSession
    val qe = ds.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("pin")) {
      qe.executedPlan.resetMetrics()
      val schema = qe.executedPlan.schema
      val rdd = qe.executedPlan.execute().mapPartitionsInternal { it =>
        lazy val toUnsafe = UnsafeProjection.create(schema)
        it.map {
          case u: UnsafeRow => u.copy()
          case r => toUnsafe(r).copy(): InternalRow
        }
      }
      rdd.localCheckpoint()
      val share = if (maxBytes < 0) -1L else maxBytes / math.max(rdd.getNumPartitions, 1)
      val parts = session.sparkContext.runJob(rdd,
        (it: Iterator[InternalRow]) => measure(it, maxRows, share))
      val rows = parts.map(_._1).sum
      val bytes = parts.map(_._2).sum
      if (rows <= maxRows && bytes <= maxBytes && parts.forall(_._3 != null)) {
        // `rdd.unpersist` would warn that a local checkpoint's lineage is
        // gone; nothing reads this RDD again
        session.sparkContext.unpersistRDD(rdd.id, blocking = false)
        ofRows(session, LocalRelation(qe.analyzed.output,
          parts.iterator.flatMap(_._3).toSeq))
      } else {
        val lr = LogicalRDD.fromDataset(rdd, ds, isStreaming = false)
        ofRows(session, lr.copy()(session,
          Some(Statistics(sizeInBytes = math.max(bytes, 1L), rowCount = Some(rows))),
          Some(lr.constraints)))
      }
    }
  }

  /** Plans a batch `LocalRelation` as a [[DriverLocalScanExec]], so a
    * broadcast of driver-local rows (a small [[graft.Pin]], a cached
    * manifest) takes them from driver memory instead of running a job. */
  object DriverLocalScan extends execution.SparkStrategy {
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
    def apply(plan: LogicalPlan): Seq[execution.SparkPlan] = plan match {
      case LocalRelation(output, data, false, None) =>
        new DriverLocalScanExec(output, data, None) :: Nil
      case _ => Nil
    }
  }

  /** `LocalTableScanExec` whose collect for a broadcast is its own rows.
    * Spark's scan answers `collect` and `take` from the driver but
    * collects a broadcast through a Spark job over the parallelized
    * rows. */
  class DriverLocalScanExec(
      output: Seq[catalyst.expressions.Attribute],
      rows: Seq[catalyst.InternalRow],
      stream: Option[connector.read.streaming.SparkDataStream])
      extends execution.LocalTableScanExec(output, rows, stream) {
    override def executeCollectIterator(): (Long, Iterator[catalyst.InternalRow]) = {
      val all = executeCollect()
      (all.length.toLong, all.iterator)
    }
  }

  /** One partition of the pin job: its row and byte counts, and its rows
    * while it holds at most `maxRows` rows and `maxBytes` bytes (null past
    * either). The rows are `UnsafeRow` copies. */
  private def measure(rows: Iterator[catalyst.InternalRow], maxRows: Long,
                      maxBytes: Long): (Long, Long, Array[catalyst.InternalRow]) = {
    val kept = scala.collection.mutable.ArrayBuffer.empty[catalyst.InternalRow]
    var n = 0L
    var bytes = 0L
    var keep = maxBytes >= 0
    rows.foreach { r =>
      n += 1
      bytes += r.asInstanceOf[catalyst.expressions.UnsafeRow].getSizeInBytes
      if (keep) {
        if (n <= maxRows && bytes <= maxBytes) kept += r
        else { keep = false; kept.clear() }
      }
    }
    (n, bytes, if (keep) kept.toArray else null)
  }
}
