package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridges hand-built Catalyst plans and expressions into public
  * DataFrames and Columns.
  *
  * `Dataset.ofRows` and the `ExpressionUtils` conversions are
  * private[sql], so this shim lives under the
  * org.apache.spark.sql namespace — the standard pattern for third-party
  * plan extensions (cf. retrieved public snippets of DatasetFactory
  * wrappers in SNIPPETS.md [1], [3]). Nothing else in graft touches
  * non-public Spark API.
  */
object GraftDatasetFactory {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A Catalyst expression as a public Column, and a Column's
    * expression: how [[graft.plans.GraftFunctions]] builds its native
    * expressions without a name in any session's function registry. */
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Rebuilds a checkpointed frame's `LogicalRDD` leaf WITHOUT the
    * statistics it inherited from its origin plan, so the leaf reports
    * `spark.sql.defaultSizeInBytes`. The LogicalRDD copy constructor is
    * the one private-API step [[graft.LoopState.cut]] needs; the
    * reasoning lives there. Any other plan passes through unchanged. */
  def withoutOriginStats(ds: DataFrame): DataFrame =
    ds.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        ofRows(ds.sparkSession,
          lr.copy()(ds.sparkSession.asInstanceOf[classic.SparkSession], None, None))
      case _ => ds
    }

  /** The RDD under a checkpointed frame's `LogicalRDD` leaf, if any. */
  def checkpointedRdd(ds: DataFrame): Option[AnyRef] = PartialFunction.condOpt(
    ds.queryExecution.analyzed) { case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd }

  /** Block until the async listener bus has delivered every queued
    * event — the deterministic replacement for "sleep and hope" when a
    * tool reads listener-accumulated counters right after an action
    * (r16 advisor: PlanDump's evidence counts could under-count on a
    * loaded host). `SparkContext.listenerBus` is private[spark], hence
    * this shim. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
