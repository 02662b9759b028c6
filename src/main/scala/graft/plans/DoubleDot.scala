package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** [[FloatDot]]'s double-vector sibling: native codegen inner product
  * over two `array<double>` columns — the ALS factor layout
  * (Recommender.alsFactors keeps user/item factors as double arrays,
  * the reference MatrixFactorizationModel's layout), where the r05
  * recommendation serving evaluates one dot per (user, candidate) and
  * an interpreted zip_with/aggregate HOF would dominate the map stage.
  * Same left-fold accumulation order as the HOF form, so swapping one
  * for the other is bit-identical (DoubleDotSpec pins it).
  *
  * Length contract (same as FloatDot): mismatched vectors fold over the
  * SHORTER length rather than raising — callers that control both sides
  * (the ALS trainer builds both tables at one dim) must enforce equal
  * lengths upstream.
  */
case class DoubleDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"double_dot expects (array<double>, array<double>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val n = math.min(xs.numElements(), ys.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) {
      dot += xs.getDouble(i) * ys.getDouble(i)
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DoubleDot =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "double_dot"
}
