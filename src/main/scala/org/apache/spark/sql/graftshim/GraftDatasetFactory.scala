package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Bridges a hand-built LogicalPlan into a public DataFrame.
  *
  * `Dataset.ofRows` is private[sql], so this one-line shim lives under the
  * org.apache.spark.sql namespace — the standard pattern for third-party
  * plan extensions (cf. retrieved public snippets of DatasetFactory
  * wrappers in SNIPPETS.md [1], [3]). Nothing else in graft touches
  * non-public Spark API.
  */
object GraftDatasetFactory {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

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

  /** Block until the async listener bus has delivered every queued
    * event — the deterministic replacement for "sleep and hope" when a
    * tool reads listener-accumulated counters right after an action
    * (r16 advisor: PlanDump's evidence counts could under-count on a
    * loaded host). `SparkContext.listenerBus` is private[spark], hence
    * this shim. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
