package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftshim.GraftDatasetFactory

/** Whole-operator extension path (custom LogicalPlan + SparkStrategy +
  * SparkPlan, SURVEY.md §2): exact per-key top-k with bounded heaps.
  *
  * The declarative equivalent — row_number() over a partitioned window,
  * filter rk <= k — sorts every group in full. This operator keeps only k
  * rows per key in a heap: O(n log k) per partition and O(k·|keys|)
  * memory, the difference between sorting 100 TB and scanning it. The
  * planner contract (requiredChildDistribution = clustered on the key)
  * makes Spark insert exactly the one hash exchange the semantics need,
  * so AQE/EnsureRequirements stay in charge of the shuffle.
  *
  * The strategy plans a PARTIAL pass below that exchange (r16 — the
  * map-side-combine shape aggregation gets for free): each input
  * partition keeps only its own k best rows per key before shuffling,
  * so the exchange carries at most k·|keys present| rows per partition
  * instead of every candidate row. Top-k of a union of per-partition
  * top-k's is the global top-k (any globally-kept row is in its own
  * partition's kept set), so partial→final is exact — the property the
  * r05 recommendation serving leans on, where the pre-exchange row
  * count is users × catalog. Partial state is BOUNDED: past
  * [[TopK.PartialFlushKeys]] distinct keys the map streams its rows
  * and resets (still exact — flushed unions are supersets the final
  * pass re-selects from). Callers must make (orderCol, tiebreak)
  * unique per key (every registered caller does) — rows tied on BOTH
  * are interchangeable to the heap, so which one survives a partial
  * cut is otherwise unspecified.
  */
case class TopKPerKeyLogical(
    k: Int,
    key: Attribute,
    sortOrder: Seq[SortOrder],
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyLogical =
    copy(child = newChild)
}

case class TopKPerKeyExec(
    k: Int,
    key: Attribute,
    sortOrder: Seq[SortOrder],
    child: SparkPlan,
    partial: Boolean = false) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def nodeName: String =
    if (partial) "TopKPerKeyPartial" else "TopKPerKey"

  override def requiredChildDistribution: Seq[Distribution] =
    (if (partial) UnspecifiedDistribution else ClusteredDistribution(Seq(key))) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val localK = k
    val localKey = key
    val localOrder = sortOrder
    val isPartial = partial
    child.execute().mapPartitions { rows =>
      // best row first; heap head is the current worst of the kept k
      val ordering = RowOrdering.create(localOrder, childOutput)
      val keyProj = UnsafeProjection.create(Seq(localKey), childOutput)
      // PARTIAL passes see arbitrary key mixes, so the map is bounded:
      // past PartialFlushKeys distinct keys the kept rows stream
      // downstream (pull-interleaved with input consumption — the rows
      // leave this task's memory through the shuffle writer) and the
      // map resets. A key split across flushes emits the union of its
      // chunk top-k's — a SUPERSET of its partition top-k, which the
      // final pass re-selects from, so exactness is preserved; this is
      // the no-spill analogue of partial-aggregation fallback. The
      // FINAL pass runs post-exchange where its state is the
      // k·(keys/P) answer itself — it never flushes.
      val flushAt = if (isPartial) TopK.PartialFlushKeys else Int.MaxValue
      new Iterator[InternalRow] {
        private var heaps =
          mutable.HashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
        private var out: Iterator[InternalRow] = Iterator.empty
        private var done = false
        private def drain(): Unit = {
          out = heaps.valuesIterator.flatMap(_.iterator)
          heaps = mutable.HashMap.empty
        }
        private def refill(): Unit = {
          while (!out.hasNext && !done) {
            if (!rows.hasNext) {
              done = true
              drain()
            } else {
              val row = rows.next()
              val heap = heaps.getOrElseUpdate(
                keyProj(row).copy(),
                mutable.PriorityQueue.empty[InternalRow](ordering))
              if (heap.size < localK) {
                heap.enqueue(row.copy())
              } else if (ordering.lt(row, heap.head)) {
                heap.dequeue()
                heap.enqueue(row.copy())
              }
              if (heaps.size >= flushAt) drain()
            }
          }
        }
        override def hasNext: Boolean = { refill(); out.hasNext }
        override def next(): InternalRow = { refill(); out.next() }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case t: TopKPerKeyLogical =>
      // partial below the (EnsureRequirements-inserted) exchange, final
      // above it — the two-phase exact combine documented on the class
      TopKPerKeyExec(t.k, t.key, t.sortOrder,
        TopKPerKeyExec(t.k, t.key, t.sortOrder, planLater(t.child),
          partial = true)) :: Nil
    case _ => Nil
  }
}

object TopK {
  /** Distinct-key bound on the partial pass's in-memory heap map: past
    * this many keys the kept rows stream to the shuffle and the map
    * resets (see TopKPerKeyExec.doExecute — exact, since the final pass
    * re-selects). At k=3 and 64-byte rows this caps partial state
    * around tens of MB per task regardless of input cardinality. */
  val PartialFlushKeys: Int = 1 << 17

  /** Exact top-k rows per key, ordered by `orderCol` descending with
    * `tiebreak` ascending making the kept set deterministic. */
  def perKey(df: DataFrame, keyCol: String, orderCol: String,
             tiebreak: String, k: Int): DataFrame = {
    val spark = df.sparkSession
    GraftStrategies.install(spark)
    val analyzed = df.queryExecution.analyzed
    def attr(name: String): Attribute =
      analyzed.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column $name not in ${analyzed.output.map(_.name)}"))
    val order = Seq(
      SortOrder(attr(orderCol), Descending),
      SortOrder(attr(tiebreak), Ascending))
    GraftDatasetFactory.ofRows(spark, TopKPerKeyLogical(k, attr(keyCol), order, analyzed))
  }
}
