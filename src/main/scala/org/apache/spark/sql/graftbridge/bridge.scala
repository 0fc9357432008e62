package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Column ⇄ Expression / plan ⇄ DataFrame bridge. Spark 4 made these
  * conversions `private[sql]` (Connect refactor); extension libraries
  * shipping custom Catalyst expressions and logical plans use a
  * same-package bridge to lift them into user-facing API objects.
  * Confined to this one file.
  */
object bridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a (resolved) logical plan as a DataFrame — how a library-made
    * custom operator node (e.g. graft's as-of join) enters the public
    * Dataset API.
    */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A child session that starts from the parent's runtime confs,
    * temp views and functions (`newSession` starts from defaults).
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** The analyzed plan of a DataFrame (to build new plan nodes on top). */
  def analyzed(df: DataFrame): LogicalPlan =
    df.queryExecution.analyzed

  /** A stable memo key for a frame whose content is fully determined
    * by its input FILES: `Some(canonicalized-plan string)` when every
    * leaf of the analyzed plan is a file-source relation and no
    * expression anywhere in the plan is non-deterministic; `None`
    * otherwise (in-memory relations, localCheckpoints, streaming
    * sources, rand()...). Callers must additionally key on the input
    * file listing (paths + sizes + mtimes — `df.inputFiles`) because
    * the canonicalized plan normalizes away data identity; together
    * the two determine the frame's content exactly, since the plan's
    * operators are all deterministic functions of the files.
    */
  def deterministicFileKey(df: DataFrame): Option[String] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val plan = df.queryExecution.analyzed
    val leaves = plan.collectLeaves()
    val fileBacked = leaves.nonEmpty && leaves.forall {
      case l: LogicalRelation => l.relation.isInstanceOf[HadoopFsRelation]
      case _ => false
    }
    if (!fileBacked) None
    else if (plan.find(p =>
        p.expressions.exists(e => e.exists(!_.deterministic))).isDefined) None
    else Some(plan.canonicalized.toString)
  }

  /** Posts `e` on the context's listener bus, to every listener. */
  def post(spark: SparkSession, e: SparkListenerEvent): Unit =
    spark.sparkContext.listenerBus.post(e)

  /** Blocks until every listener has handled every event posted so far. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The end of a named SQL action (collect, count, save, …) on any
    * session of the context: its name, seconds and QueryExecution —
    * what a session's execution listener hears, without its session
    * scope.
    */
  def actionEnd(e: SparkListenerEvent): Option[(String, Double, QueryExecution)] = e match {
    case end: SparkListenerSQLExecutionEnd =>
      end.executionName.map(n => (n, end.duration / 1e9, end.qe))
    case _ => None
  }
}
