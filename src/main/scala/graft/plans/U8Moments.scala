package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType}

/** Native codegen moments of `n` unsigned bytes starting at ONE-BASED
  * offset `off` of a binary payload: returns `array<bigint>` of
  * `[sum, max]` — the per-plane statistics pass of the video path
  * ([[PcmS16Le]]/[[Rgb24Pixels]]'s role for raw YUV planes, where the
  * consumer wants plane-level reductions, not the pixel array itself:
  * a 100 TB corpus never needs W×H ints per frame materialized to
  * compute a mean and a peak).
  *
  * Bounds contract (the family's): negative offset/count or a range
  * past the payload end returns NULL, never a partial answer. `n = 0`
  * returns `[0, -1]` (max of an empty range is -1, below any byte).
  */
case class U8Moments(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (BinaryType, LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"u8_moments expects (binary, bigint, bigint), got " +
          s"(${a.simpleString}, ${b.simpleString}, ${c.simpleString})")
    }

  override def nullable: Boolean = true

  /** `[sum, max]` of the range, or NULL when it falls outside `bytes`. */
  def compute(bytes: Array[Byte], off: Long, count: Long): ArrayData = {
    val start = off - 1L
    // count/start capped BEFORE the sum so `start + count` cannot wrap
    // negative for adversarial near-Long.MaxValue args (the expression is
    // a registered SQL function, callable with arbitrary values)
    if (start < 0 || count < 0 || count > Int.MaxValue ||
      start > bytes.length || start + count > bytes.length) {
      null
    } else {
      var sum = 0L
      var max = -1L
      var p = start.toInt
      val end = (start + count).toInt
      while (p < end) {
        val v = bytes(p) & 0xFF
        sum += v
        if (v > max) max = v
        p += 1
      }
      UnsafeArrayData.fromPrimitiveArray(Array(sum, max))
    }
  }

  override protected def nullSafeEval(bin: Any, off: Any, n: Any): Any =
    compute(bin.asInstanceOf[Array[Byte]], off.asInstanceOf[Long], n.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("u8m", this, classOf[U8Moments].getName)
    nullSafeCodeGen(ctx, ev, (bin, off, n) =>
      s"${ev.value} = $ref.compute($bin, $off, $n); ${ev.isNull} = ${ev.value} == null;")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): U8Moments =
    copy(first = newFirst, second = newSecond, third = newThird)

  override def prettyName: String = "u8_moments"
}
