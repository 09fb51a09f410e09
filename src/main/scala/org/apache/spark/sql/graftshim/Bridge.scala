package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge to `private[spark]`/`private[sql]` members (Spark 4
  * moved the Column ⇄ catalyst-Expression converters behind the Spark
  * Connect API split). Lives under `org.apache.spark.sql` purely for
  * access; no Spark internals are modified. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Re-bind a DataFrame's logical plan to another session of the same
    * SparkContext — analysis, optimization, and execution then read
    * THAT session's SQLConf, while the shared CacheManager still serves
    * any persisted subtree. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A child session carrying the parent's CURRENT runtime conf, its
    * extensions and registered functions (unlike `newSession()`, which
    * starts from the static defaults). Shares the context, catalog data
    * and cache; later conf writes on either side stay on that side.
    *
    * The parent's observation listener is registered BEFORE the clone,
    * which copies it: an observation attached to a frame of the parent
    * then also completes when the clone runs the action. */
  def cloneSession(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.SparkSession = {
    val parent = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    parent.observationManager
    parent.cloneSession()
  }

  /** Block until every event posted so far has reached every listener —
    * the deterministic replacement for sleeping on the async bus. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
