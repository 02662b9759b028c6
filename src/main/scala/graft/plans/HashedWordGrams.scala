package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native "shingle" expression: distinct word n-grams of a string, each
  * hashed to a long (xxhash64, Spark's default seed 42 — identical to
  * `xxhash64(gram_string)` on the composed form).
  *
  * Replaces the split → sequence → element_at×n → concat_ws → distinct →
  * xxhash64 HOF chain in the near-dup pipeline: one JVM method per row,
  * and downstream shuffles carry longs instead of gram strings. Dedup is
  * by hash, which differs from string-distinct only on a 64-bit
  * collision (~n²/2⁶⁴).
  */
case class HashedWordGrams(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && n >= 1) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hashed_word_grams expects (string, n>=1), got ${child.dataType.simpleString}, n=$n")

  def compute(s: UTF8String): ArrayData = {
    val toks = s.toString.trim.split("\\s+")
    if (toks.length < n) return new GenericArrayData(Array.empty[Long])
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new ArrayBuffer[Long](toks.length)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i + n <= toks.length) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      val h = XxHash64Function.hash(
        UTF8String.fromString(sb.toString), StringType, 42L)
      if (seen.add(h)) out += h
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hwg", this, classOf[HashedWordGrams].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): HashedWordGrams =
    copy(child = newChild)

  override def prettyName: String = "hashed_word_grams"
}
