package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native MinHash signature over pre-hashed shingles: k affine hash
  * functions h_s(x) = ((2s+1)·x + b_s) mod P (P = 2^31-1), each minimized
  * over the input hash set — bit-identical to
  * graft.functions.TextFunctions.minhashFromHashes, whose nested
  * higher-order-function form never enters whole-stage codegen and was
  * the d03 hot loop (k×|grams| interpreted lambda calls per row).
  *
  * Here the whole signature is one tight k×n long-arithmetic loop per
  * row. An empty shingle set yields the sentinel signature [P, …, P],
  * matching the HOF's `when(size===0, P)` branch.
  *
  * Reference shape: MinHashLSH in Spark MLlib (public Spark source,
  * mllib/src/main/scala/org/apache/spark/ml/feature/MinHashLSH.scala)
  * uses the same affine-family construction.
  */
case class MinhashSignature(child: Expression, k: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) if k >= 1 => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_signature expects (array<bigint>, k>=1), got ${t.simpleString}, k=$k")
  }

  def compute(arr: ArrayData): ArrayData = {
    import MinhashSignature.{B0, P}
    val n = arr.numElements()
    val out = new Array[Long](k)
    if (n == 0) {
      java.util.Arrays.fill(out, P)
      return new GenericArrayData(out)
    }
    // normalize raw xxhash64 values into [0, P) once, not once per seed
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) {
      hs(i) = ((arr.getLong(i) % P) + P) % P
      i += 1
    }
    var s = 0
    while (s < k) {
      val a = 2L * s + 1
      val b = (s * B0) % P
      var min = Long.MaxValue
      i = 0
      while (i < n) {
        val v = (a * hs(i) + b) % P // a<2^7, h<2^31 → product <2^38, ANSI-safe
        if (v < min) min = v
        i += 1
      }
      out(s) = min
      s += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("mhs", this, classOf[MinhashSignature].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashSignature =
    copy(child = newChild)

  override def prettyName: String = "minhash_signature"
}

object MinhashSignature {
  /** Mersenne prime 2^31-1 (TextFunctions.P). */
  val P: Long = 2147483647L
  /** Knuth multiplier reduced mod P — same b-family as the HOF version. */
  val B0: Long = 2654435761L % P
}
