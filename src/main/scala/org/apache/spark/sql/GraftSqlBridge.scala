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
}
