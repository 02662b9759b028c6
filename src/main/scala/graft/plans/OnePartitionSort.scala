package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Repartition, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SortExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.internal.SQLConf

/** Plans a small global sort in ONE partition: `SortExec(global) over
  * OnePartitionExec` instead of a range exchange.
  *
  * Spark plans every global `ORDER BY` as a range exchange. Its
  * RangePartitioner first runs a sampling job that recomputes the child
  * stage, then the exchange writes a shuffle, and AQE then coalesces that
  * shuffle: when the total is at most
  * `spark.sql.adaptive.coalescePartitions.minPartitionSize` (default
  * 1 MB), the coalesced read is always a single partition. For such a
  * child the sampling job and the shuffle do no useful work, so this
  * strategy plans the sort over a one-partition coalesce of the child;
  * above the threshold it returns `Nil` and Spark plans the range sort.
  *
  * The gate is the child's `stats.sizeInBytes`, against Spark's own
  * threshold (no graft option). Strategies run again at every AQE re-plan,
  * where a finished stage is a `LogicalQueryStage` carrying its runtime
  * size: a sort whose static estimate is large (a join estimate) switches
  * to this plan once the stage below it has run. The re-plan is kept only
  * when it has no more exchanges than the current plan, so a sort that
  * starts in one partition stays there even if its runtime input turns
  * out larger than the threshold. A streaming sort is left to Spark.
  *
  * A sort over a one-partition input needs no exchange either way: where
  * [[OnePartitionScan]] already put a one-partition coalesce under the
  * sort, this strategy leaves the sort to Spark, whose `SortExec` then
  * finds `SinglePartition` below it and plans no exchange.
  *
  * The coalesce is [[OnePartitionExec]], not `CoalesceExec`: once the
  * child has one partition (its shuffle read coalesced by AQE, or a
  * one-file scan's aggregate) the node fuses into the sort's generated
  * class instead of ending the stage below it.
  */
object OnePartitionSort extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(_, true, Repartition(1, false, _), _) => Nil
    case Sort(order, true, child, _) if !child.isStreaming && fitsOnePartition(child) =>
      SortExec(order, global = true, OnePartitionExec(planLater(child))) :: Nil
    case _ => Nil
  }

  private def fitsOnePartition(child: LogicalPlan): Boolean =
    child.stats.sizeInBytes <= SQLConf.get.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
}

/** The one place graft's planner strategies and its optimizer rules
  * ([[CanonicalDistinctGroups]], [[OnePartitionScan]]) enter a session. */
object GraftStrategies {
  val all: Seq[SparkStrategy] = Seq(TopKStrategy, OnePartitionSort, OnePartitionCoalesce)

  /** In this order: the canonical distinct groups must see the Expand
    * before a one-partition coalesce goes under it. */
  private val rules: Seq[Rule[LogicalPlan]] = Seq(CanonicalDistinctGroups, OnePartitionScan)

  /** Adds every strategy the session does not plan with yet, and every
    * rule not yet in `spark.experimental.extraOptimizations`; idempotent.
    * Those rules run after the late rewrites (distinct aggregates,
    * subqueries). The strategies are a no-op for sessions configured with
    * [[GraftExtensions]]; there [[OnePartitionScan]] also runs in the
    * operator-optimization batch, and its second run here only reaches
    * what the first could not see. */
  def install(spark: SparkSession): Unit = synchronized {
    val planned = spark.sessionState.planner.strategies
    val missing = all.filterNot(planned.contains)
    if (missing.nonEmpty) {
      spark.experimental.extraStrategies = spark.experimental.extraStrategies ++ missing
    }
    val optimizations = spark.experimental.extraOptimizations
    val absent = rules.filterNot(optimizations.contains)
    if (absent.nonEmpty) spark.experimental.extraOptimizations = optimizations ++ absent
  }
}
