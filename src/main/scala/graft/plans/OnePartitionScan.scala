package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight, JoinSelectionHelper}
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}

/** Keeps the operators above a one-task file scan in that scan's task.
  *
  * A scan of one file no larger than `min(spark.sql.files.maxPartitionBytes,
  * spark.sql.files.openCostInBytes)` is one task: `FilePartition` never
  * splits a file that small. But `FileSourceScanExec` reports
  * `UnknownPartitioning`, so every aggregate, window and global sort above
  * it gets a hash or range exchange that AQE then coalesces back to one
  * partition: a shuffle, a stage and a job of driver round-trips for
  * nothing. This rule puts `Repartition(1, shuffle = false)` above the
  * scan's narrow chain (Project, Filter, Expand), so filters and column
  * pruning still reach the scan. The coalesce does nothing to a child of
  * one partition; its only effect is that the planner sees
  * `SinglePartition`, which satisfies every clustered and ordered
  * distribution, so `EnsureRequirements` plans no exchange above it.
  * The coalesce is planned as [[OnePartitionExec]] (by
  * [[OnePartitionCoalesce]]), which fuses into the codegen stage of the
  * scan and its consumer: scan, chain, coalesce and aggregate are one
  * generated class where `CoalesceExec` made two.
  *
  * It does this only where the chain feeds an Aggregate, Window,
  * WindowGroupLimit, global Sort, Deduplicate or Union, or is the stream
  * side of an equi-join Spark will broadcast (judged by
  * `JoinSelectionHelper`'s own hint, size and join-type checks; the
  * broadcast join keeps its stream side's partitioning). It leaves alone
  * streaming plans, bucketed, multi-file and larger scans, generators
  * and custom nodes between the scan and the operator, joins that are not
  * broadcast, and plans with an expression whose value depends on the
  * partition it runs in (`rand()`, `monotonically_increasing_id()`, a
  * nondeterministic UDF). Order-sensitive aggregates (`first`, `last`)
  * are kept: one task reads the file on both plans, and a hash exchange
  * keeps each group's rows in that task's order, so each group sees the
  * same row order either way. A double sum beside a distinct count can
  * differ from Spark's plan in its last bits: its per-group partials
  * merge in one hash map's order here, in shuffle-partition order there.
  *
  * The rule is idempotent: a chain under its coalesce no longer ends at
  * the operator, so a second run changes nothing. No graft option: the
  * gates are Spark's own settings.
  */
object OnePartitionScan extends Rule[LogicalPlan] with JoinSelectionHelper {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (plan.isStreaming || plan.exists(_.expressions.exists(partitionSensitive))) plan
    else plan.transform {
      case p @ (_: Aggregate | _: Window | _: WindowGroupLimit | _: Deduplicate | _: Union) =>
        p.mapChildren(onePartition)
      case s @ Sort(_, true, _, _) => s.mapChildren(onePartition)
      case j @ ExtractEquiJoinKeys(_, leftKeys, rightKeys, _, _, left, right, hint)
          if hashJoinSupported(leftKeys, rightKeys) =>
        // Spark's own order: a broadcast hint first; any other hint is
        // left to Spark, no hint falls back to the size check
        getBroadcastBuildSide(j, hintOnly = !hint.isEmpty, conf) match {
          case Some(BuildRight) if oneSmallFileChain(left) => j.copy(left = onePartition(left))
          case Some(BuildLeft) if oneSmallFileChain(right) => j.copy(right = onePartition(right))
          case _ => j
        }
    }

  private def onePartition(child: LogicalPlan): LogicalPlan =
    if (oneSmallFileChain(child)) Repartition(1, shuffle = false, child) else child

  /** A Project/Filter/Expand chain down to a scan Spark reads in one task. */
  private def oneSmallFileChain(plan: LogicalPlan): Boolean = plan match {
    case Project(_, child) => oneSmallFileChain(child)
    case Filter(_, child) => oneSmallFileChain(child)
    case e: Expand => oneSmallFileChain(e.child)
    case l: LogicalRelation => oneSmallFile(l)
    case _ => false
  }

  private def oneSmallFile(scan: LogicalRelation): Boolean = scan.relation match {
    case fs: HadoopFsRelation if !scan.isStreaming && fs.bucketSpec.isEmpty =>
      fs.location match {
        case index: PartitioningAwareFileIndex => index.allFiles() match {
          case Seq(file) =>
            file.getLen <= math.min(conf.filesMaxPartitionBytes, conf.filesOpenCostInBytes)
          case _ => false
        }
        case _ => false
      }
    case _ => false
  }

  /** A nondeterministic expression that is not an aggregate's
    * order sensitivity: its value may depend on the partition index. */
  private def partitionSensitive(e: Expression): Boolean = e match {
    case a: AggregateFunction => a.children.exists(partitionSensitive)
    case _ => (!e.deterministic && e.children.forall(_.deterministic)) ||
      e.children.exists(partitionSensitive)
  }
}
