package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Attribute, EqualTo, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Puts the distinct groups of Spark's distinct-aggregate rewrite in one
  * canonical order, so each build of the same query generates the same
  * code.
  *
  * `RewriteDistinctAggregates` turns an aggregate with several distinct
  * groups (`count(DISTINCT a), count(DISTINCT b)`) into
  * `Aggregate <- Aggregate <- Expand`: the Expand writes one row per
  * input row and group, tagged with a group id `gid`, and the outer
  * aggregate filters each function on its `gid`. Spark numbers the groups
  * and orders the Expand's distinct columns in the iteration order of a
  * hash map keyed by the groups' expressions, whose hashes include the
  * attributes' expression ids. Those ids are fresh in each build, so two
  * builds of one query can number the groups apart, generate different
  * Expand and aggregate code, and miss each other's entries in the codegen
  * cache.
  *
  * This rule renumbers the groups 1, 2, … in the order the outer
  * aggregate first names them, and orders the distinct columns by the
  * order the outer aggregate first reads them. Only ids, Expand rows and
  * column positions move: each row keeps its values, so results are
  * unchanged. It must run after the rewrite (it is one of
  * `spark.experimental.extraOptimizations`), and it is idempotent: on a
  * canonical plan both orders are already the identity.
  */
object CanonicalDistinctGroups extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case outer @ Aggregate(keys, _, first @ Aggregate(_, _, expand: Expand, _), _)
        if rewritten(keys, first, expand) => canonical(outer, first, expand)
  }

  /** The rewrite's shape: the inner keys are the outer keys, the distinct
    * columns and `gid`; they lead the inner outputs and the Expand's. */
  private def rewritten(keys: Seq[Expression], first: Aggregate, expand: Expand): Boolean = {
    val firstKeys = first.groupingExpressions
    def leads(outputs: Seq[Expression]) =
      outputs.take(firstKeys.length).zip(firstKeys).forall { case (a, b) => a.semanticEquals(b) }
    firstKeys.length > keys.length + 1 && firstKeys.forall(_.isInstanceOf[Attribute]) &&
      firstKeys.zip(keys).forall { case (a, b) => a.semanticEquals(b) } &&
      leads(first.aggregateExpressions) && leads(expand.output) &&
      (firstKeys.last match {
        case g: Attribute => g.name == "gid" && g.dataType == IntegerType && !g.nullable
        case _ => false
      })
  }

  private def canonical(outer: Aggregate, first: Aggregate, expand: Expand): LogicalPlan = {
    val gid = first.groupingExpressions.last.asInstanceOf[Attribute]
    val nKeys = outer.groupingExpressions.length
    val distinct = first.groupingExpressions.slice(nKeys, first.groupingExpressions.length - 1)
    val gidAt = nKeys + distinct.length
    def idOf(row: Seq[Expression]): Option[Int] = row(gidAt) match {
      case Literal(id: Int, IntegerType) => Some(id)
      case _ => None
    }

    // group ids in the order the outer aggregate names them, then any it
    // does not name; the regular aggregates' group 0 stays 0
    val named = outer.aggregateExpressions.flatMap(_.collect {
      case EqualTo(g: Attribute, Literal(id: Int, IntegerType)) if g.semanticEquals(gid) && id != 0 => id
    })
    val ids = expand.projections.flatMap(idOf).filter(_ != 0)
    val order = (named.filter(ids.contains) ++ ids).distinct
    val renumber = order.zipWithIndex.map { case (id, i) => id -> (i + 1) }.toMap + (0 -> 0)
    // distinct columns in the order the outer aggregate reads them
    val read = outer.aggregateExpressions.flatMap(_.collect {
      case a: Attribute if distinct.exists(_.semanticEquals(a)) => distinct.indexWhere(_.semanticEquals(a))
    })
    val columns = (read ++ distinct.indices).distinct
    if (expand.projections.exists(idOf(_).isEmpty) ||
        (columns == distinct.indices && renumber.forall { case (k, v) => k == v })) return outer

    def permuted[T](row: Seq[T]): Seq[T] =
      row.take(nKeys) ++ columns.map(i => row(nKeys + i)) ++ row.drop(gidAt)
    val rows = expand.projections.map { row =>
      permuted(row.updated(gidAt, Literal(renumber(idOf(row).get))))
    }.sortBy(row => idOf(row).get)
    def retagged[T <: Expression](e: T): T = e.transform {
      case EqualTo(g: Attribute, Literal(id: Int, IntegerType)) if g.semanticEquals(gid) =>
        EqualTo(g, Literal(renumber.getOrElse(id, id)))
    }.asInstanceOf[T]
    val nLead = first.groupingExpressions.length
    val newFirst = first.copy(
      groupingExpressions = permuted(first.groupingExpressions),
      aggregateExpressions = permuted(first.aggregateExpressions.take(nLead)) ++
        first.aggregateExpressions.drop(nLead).map(retagged),
      child = expand.copy(projections = rows, output = permuted(expand.output)))
    outer.copy(aggregateExpressions = outer.aggregateExpressions.map(retagged), child = newFirst)
  }
}
