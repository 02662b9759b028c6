package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, IntegerType, LongType}

/** Native codegen decode of a 24-bit BMP pixel block: reads `height`
  * bottom-up rows of `width` BGR byte triples (each row padded to a
  * 4-byte boundary, the BMP row rule) starting at ONE-BASED byte offset
  * `off`, and returns the pixels TOP-DOWN row-major as packed
  * `r<<16 | g<<8 | b` ints — [[PcmS16Le]]'s role for the image path:
  * the corpus-scale per-byte loop as one pass in `compute`, which the
  * interpreter runs and whole-stage codegen calls, instead of per-byte
  * string-conversion column math.
  *
  * Bounds contract (PcmS16Le's): non-positive dimensions, a negative
  * offset, or a block extending past the payload end return NULL, never
  * a short array — truncation is corruption and must surface in the
  * caller's validation filters.
  */
case class Rgb24Pixels(first: Expression, second: Expression,
                       third: Expression, fourth: Expression)
    extends QuaternaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType, fourth.dataType) match {
      case (BinaryType, LongType, LongType, LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c, d) => TypeCheckResult.TypeCheckFailure(
        s"rgb24_pixels expects (binary, bigint, bigint, bigint), got " +
          s"(${a.simpleString}, ${b.simpleString}, ${c.simpleString}, ${d.simpleString})")
    }

  override def nullable: Boolean = true

  /** The pixels top-down, or NULL when the block falls outside `bytes`. */
  def compute(bytes: Array[Byte], off: Long, width: Long, height: Long): ArrayData = {
    val start = off - 1L
    val rowSize = ((3L * width + 3L) / 4L) * 4L
    // dimension caps FIRST so none of the products (w*h, rowSize*h,
    // start + rowSize*h) can wrap negative for adversarial
    // near-Long.MaxValue args: with w,h <= Int.MaxValue and w*h <=
    // Int.MaxValue, rowSize*h < 2^35 and start <= bytes.length < 2^31
    if (start < 0 || width <= 0 || height <= 0 ||
      width > Int.MaxValue || height > Int.MaxValue ||
      width * height > Int.MaxValue || start > bytes.length ||
      start + rowSize * height > bytes.length) {
      null
    } else {
      val out = new Array[Int]((width * height).toInt)
      var y = 0
      while (y < height) {
        var p = (start + (height - 1 - y) * rowSize).toInt
        var i = (y * width).toInt
        val end = i + width.toInt
        while (i < end) {
          out(i) = ((bytes(p + 2) & 0xFF) << 16) |
            ((bytes(p + 1) & 0xFF) << 8) | (bytes(p) & 0xFF)
          i += 1
          p += 3
        }
        y += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    }
  }

  override protected def nullSafeEval(bin: Any, off: Any, w: Any, h: Any): Any =
    compute(bin.asInstanceOf[Array[Byte]], off.asInstanceOf[Long],
      w.asInstanceOf[Long], h.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("rgb", this, classOf[Rgb24Pixels].getName)
    nullSafeCodeGen(ctx, ev, (bin, off, w, h) =>
      s"${ev.value} = $ref.compute($bin, $off, $w, $h); ${ev.isNull} = ${ev.value} == null;")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): Rgb24Pixels =
    copy(first = newFirst, second = newSecond,
      third = newThird, fourth = newFourth)

  override def prettyName: String = "rgb24_pixels"
}
