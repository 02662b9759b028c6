package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen dot product over two float vectors — [[FloatCosine]]
  * without the normalization, for kernels where the raw inner product IS
  * the quantity (skip-gram logits, pre-normalized embeddings). Same
  * arithmetic contract: float multiplies, double left-fold accumulation.
  *
  * Length contract (same as FloatCosine): mismatched vectors fold over
  * the SHORTER length rather than raising — SQL-surface-safe for ragged
  * data, but it means a dimension mismatch yields a plausible partial
  * product, not an error. Callers that control both sides (the word2vec
  * trainer builds both matrices at a fixed dim) must enforce equal
  * lengths upstream; a mismatch there is always a caller bug.
  */
case class FloatDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"float_dot expects (array<float>, array<float>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  def compute(xs: ArrayData, ys: ArrayData): Double = {
    val n = math.min(xs.numElements(), ys.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) {
      dot += (xs.getFloat(i) * ys.getFloat(i)).toDouble
      i += 1
    }
    dot
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("fdot", this, classOf[FloatDot].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatDot =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "float_dot"
}
