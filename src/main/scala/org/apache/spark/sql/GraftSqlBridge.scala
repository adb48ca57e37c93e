package org.apache.spark.sql

import org.apache.spark.{SparkConf, SparkContext}
import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` Column↔Expression conversion (Spark 4 removed
  * the public `new Column(expr)` constructor when the Column API became
  * backend-agnostic). Needed to expose native Catalyst expressions — e.g.
  * [[graft.functions.CosineSimilarity]] — through the Column API. */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The live (not cloned) conf of the active SparkContext — both
    * `SparkContext.getActive` and `SparkContext.conf` are `private[spark]`.
    * Session extensions run after the context starts and before any
    * session state reads it, so a value set here reaches the session's
    * SQLConf. */
  def activeSparkConf: Option[SparkConf] = SparkContext.getActive.map(_.conf)
}
