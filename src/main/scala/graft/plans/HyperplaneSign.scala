package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Native random-hyperplane LSH bucketing: projects a float vector onto
  * `nPlanes` fixed hyperplanes (flattened row-major into `planes`) and
  * packs the signs into a long bitmask — bit p set iff dot(vec, plane_p)
  * >= 0.
  *
  * Replaces the interpreted `aggregate(zip_with(...))` per plane per
  * table in the ANN bucketer (higher-order functions never enter
  * whole-stage codegen): one tight nPlanes×dim loop per row, and the
  * bucket key becomes a long instead of a built-up string. A long bucket
  * also makes multi-probe trivial: neighboring buckets are `bits ^ (1<<p)`.
  *
  * Reference shape: BucketedRandomProjectionLSH in public Spark MLlib
  * (ml/feature/BucketedRandomProjectionLSH.scala) uses the same
  * random-projection family.
  */
case class HyperplaneSign(child: Expression, planes: IndexedSeq[Double], nPlanes: Int)
    extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _)
        if nPlanes >= 1 && nPlanes <= 63 && planes.length % nPlanes == 0 =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_sign expects (array<float|double>, planes, 1<=n<=63 dividing " +
        s"planes.length), got ${t.simpleString}, n=$nPlanes, planes=${planes.length}")
  }

  // lazy: evaluated only from compute(), after analysis has resolved the
  // child (a typed constructor builds this over an unresolved column)
  // and checkInputDataTypes has rejected nPlanes < 1 — eager division
  // would throw a raw ArithmeticException at construction for
  // hyperplane_sign(..., 0)
  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  private lazy val dim = planes.length / nPlanes
  private lazy val flat: Array[Double] = planes.toArray

  def compute(vec: ArrayData): Long = {
    val (fl, d, w) = (isFloat, dim, flat)
    val n = math.min(d, vec.numElements())
    var bits = 0L
    var p = 0
    while (p < nPlanes) {
      val off = p * d
      var dot = 0.0
      var i = 0
      while (i < n) {
        val x = if (fl) vec.getFloat(i).toDouble else vec.getDouble(i)
        dot += x * w(off + i)
        i += 1
      }
      if (dot >= 0) bits |= (1L << p)
      p += 1
    }
    bits
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hps", this, classOf[HyperplaneSign].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSign =
    copy(child = newChild)

  override def prettyName: String = "hyperplane_sign"
}
