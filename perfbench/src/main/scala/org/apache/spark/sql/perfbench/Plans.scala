package org.apache.spark.sql.perfbench

import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Plan access the benchmark's traced run needs: lifting a sub-plan of a
  * query into a DataFrame of its own, and reading scan row counts after
  * execution.
  */
object Plans {

  /** The input of the first aggregate in `df`'s analyzed plan, as a
    * DataFrame — the enriched rows a KPI aggregate consumes.
    */
  def aggregateInput(df: DataFrame): Option[DataFrame] =
    df.queryExecution.analyzed.collectFirst { case a: Aggregate => a.child }
      .map(p => classic.Dataset.ofRows(df.sparkSession.asInstanceOf[classic.SparkSession], p))

  private def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
    case _ if p.children.isEmpty => Seq(p)
    case _ => p.children.flatMap(leaves)
  }

  /** Rows the leaf operators (scans) emitted in the last execution. */
  def scannedRows(df: DataFrame): Long =
    leaves(df.queryExecution.executedPlan)
      .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
}
