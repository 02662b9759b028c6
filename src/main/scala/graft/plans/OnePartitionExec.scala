package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Repartition}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{CodegenSupport, CoalesceExec, ColumnarToRowExec, ExpandExec,
  FileSourceScanExec, FilterExec, ProjectExec, SparkPlan, SparkStrategy, UnaryExecNode}

/** A one-partition coalesce that can live inside a whole-stage codegen
  * stage. It replaces Spark's `CoalesceExec(1)` wherever graft plans one:
  * every `Repartition(1, shuffle = false)` ([[OnePartitionScan]]'s, and a
  * plain `Dataset.coalesce(1)`) and the coalesce under
  * [[OnePartitionSort]]'s sort.
  *
  * `CoalesceExec` does not support codegen, so it splits the pipeline
  * above a scan into two generated classes: scan → coalesce → aggregate
  * is one class below the coalesce and one above it. Each class is
  * compiled once per class loader (Spark's planning-time compile check
  * and the task's), so the split costs two entries of Spark's codegen cache.
  * This node fuses instead, in two cases:
  *  - its child already has one partition (a shuffle read AQE coalesced
  *    to one partition, or another one-partition node below): the node
  *    passes its child's rows and input RDDs through unchanged;
  *  - its child is a Project/Filter/Expand/ColumnarToRow chain of
  *    deterministic expressions over a file scan: each row's result does
  *    not depend on the partition it is read in, so the node coalesces the
  *    stage's input RDD (the scan's) instead of the chain's output.
  * Otherwise it is not a codegen node and runs as `CoalesceExec(1)` does.
  * On every path it reports `SinglePartition` and yields exactly one
  * partition, an empty one for a child of no partitions (an aggregate
  * without keys above it still emits its one row).
  */
case class OnePartitionExec(child: SparkPlan) extends UnaryExecNode with CodegenSupport {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = SinglePartition

  override lazy val supportCodegen: Boolean =
    child.outputPartitioning.numPartitions == 1 || OnePartitionExec.fileScanChain(child)

  override protected def doExecute(): RDD[InternalRow] = OnePartitionExec.one(child.execute())

  // coalescing the stage's input is only reached when `supportCodegen`
  // holds: the RDDs have one partition already, or feed a per-row chain
  override def inputRDDs(): Seq[RDD[InternalRow]] =
    child.asInstanceOf[CodegenSupport].inputRDDs().map(OnePartitionExec.one)

  override protected def doProduce(ctx: CodegenContext): String =
    child.asInstanceOf[CodegenSupport].produce(ctx, this)

  override def doConsume(ctx: CodegenContext, input: Seq[ExprCode], row: ExprCode): String =
    consume(ctx, input)

  override protected def withNewChildInternal(newChild: SparkPlan): OnePartitionExec =
    copy(child = newChild)
}

object OnePartitionExec {

  /** `rdd` as exactly one partition, as `CoalesceExec(1)` makes it. */
  private def one(rdd: RDD[InternalRow]): RDD[InternalRow] = rdd.getNumPartitions match {
    case 0 => new CoalesceExec.EmptyRDDWithPartitions(rdd.sparkContext, 1)
    case 1 => rdd
    case _ => rdd.coalesce(1)
  }

  private def fileScanChain(plan: SparkPlan): Boolean = plan match {
    case p @ (_: ProjectExec | _: FilterExec | _: ExpandExec | _: ColumnarToRowExec) =>
      p.expressions.forall(_.deterministic) && fileScanChain(p.children.head)
    case _: FileSourceScanExec => true
    case _ => false
  }
}

/** Plans every non-streaming `Repartition(1, shuffle = false)` as
  * [[OnePartitionExec]]; a streaming coalesce is left to Spark. */
object OnePartitionCoalesce extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Repartition(1, false, child) if !child.isStreaming => OnePartitionExec(planLater(child)) :: Nil
    case _ => Nil
  }
}
