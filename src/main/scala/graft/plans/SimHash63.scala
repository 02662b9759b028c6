package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native 63-bit SimHash of a token array: per bit j, sum ±1 votes over
  * the xxhash64 of every token (multiset — duplicates vote again); bit j
  * of the result is set iff its vote sum is positive.
  *
  * Bit-identical to TextFunctions.simhash63Agg (same xxhash64 seed 42,
  * same vote and packing rule) but computed as ONE tight loop per row:
  * the explode + 63-column partial aggregation + shuffle the aggregate
  * formulation needs collapses into a map-only projection. A per-doc
  * fingerprint is a scalar of the doc's own tokens — nothing about it
  * requires an aggregation boundary, so at 100 TB this turns the
  * fingerprint stage from a corpus-wide shuffle into embarrassingly
  * parallel scan work.
  *
  * Reference shape: the SimHash family of Charikar (STOC'02) as used by
  * near-dup detection in web-scale corpora.
  */
case class SimHash63(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"simhash63 expects array<string>, got ${t.simpleString}")
  }

  def compute(toks: ArrayData): Long = {
    val votes = new Array[Int](63)
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      val t = toks.getUTF8String(i)
      if (t != null) {
        val h = XxHash64Function.hash(t, StringType, 42L)
        var j = 0
        while (j < 63) {
          if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var bits = 0L
    var j = 0
    while (j < 63) {
      if (votes(j) > 0) bits |= (1L << j)
      j += 1
    }
    bits
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sh63", this, classOf[SimHash63].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash63 =
    copy(child = newChild)

  override def prettyName: String = "simhash63"
}
