package graft.plans

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.GraftDatasetFactory.{column, expression}

/** Adds graft's native expressions to the SQL surface, with its
  * optimizer rule and planner strategies ([[GraftStrategies]]).
  *
  * Library code needs none of this: it builds the expressions with the
  * typed constructors of [[GraftFunctions]], and every registered entry
  * installs the strategies through [[graft.Q]]. Two entry points for
  * SQL text that names the functions:
  *  - config: `spark.sql.extensions=graft.plans.GraftExtensions` picks
  *    them up at session build (cluster deployments);
  *  - [[GraftFunctions.register]]: idempotent runtime registration into
  *    an existing session (notebooks, tests of the SQL surface).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.sqlSurface.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => RewriteHofCosine)
    GraftStrategies.all.foreach(strategy => ext.injectPlannerStrategy(_ => strategy))
  }
}

/** Typed constructors for graft's native expressions: each builds the
  * Catalyst expression directly, so a plan that uses one leaves no name
  * in the session and resolves on any session. Scala arguments
  * (gram size, signature length, hyperplanes) are passed as they are. */
object GraftFunctions {
  def floatCosine(a: Column, b: Column): Column =
    column(FloatCosine(expression(a), expression(b)))
  def floatDot(a: Column, b: Column): Column =
    column(FloatDot(expression(a), expression(b)))
  def doubleDot(a: Column, b: Column): Column =
    column(DoubleDot(expression(a), expression(b)))
  def hashedWordGrams(text: Column, n: Int): Column =
    column(HashedWordGrams(expression(text), n))
  def minhashSignature(hashes: Column, k: Int): Column =
    column(MinhashSignature(expression(hashes), k))
  /** `planes` holds `nPlanes` hyperplanes flattened row-major. */
  def hyperplaneSign(v: Column, planes: Seq[Double], nPlanes: Int): Column =
    column(HyperplaneSign(expression(v), planes.toIndexedSeq, nPlanes))
  def simhash63(tokens: Column): Column = column(SimHash63(expression(tokens)))
  def pcmS16le(payload: Column, off: Column, n: Column): Column =
    column(PcmS16Le(expression(payload), expression(off), expression(n)))
  def rgb24Pixels(payload: Column, off: Column, width: Column, height: Column): Column =
    column(Rgb24Pixels(expression(payload), expression(off), expression(width),
      expression(height)))
  def u8Moments(payload: Column, off: Column, n: Column): Column =
    column(U8Moments(expression(payload), expression(off), expression(n)))

  // Spark ships BloomFilterAggregate / BloomFilterMightContain as the
  // engine's own runtime row-level-filter expressions but does not put
  // them in the public registry; exposing them here gives the library's
  // Bloom semi-join pruning (operators/Sketches.scala) the engine's
  // codegen implementation instead of a UDF re-implementation.
  /** Aggregates long `hashes` into one serialized Bloom filter. */
  def bloomFilterAgg(hashes: Column, expectedItems: Long, numBits: Long): Column =
    column(new BloomFilterAggregate(expression(hashes), Literal(expectedItems),
      Literal(numBits)).toAggregateExpression())
  /** `bloom` must be foldable or a scalar subquery (Spark's runtime-filter
    * contract), e.g. `df.agg(bloomFilterAgg(...)).scalar()`. */
  def mightContain(bloom: Column, hash: Column): Column =
    column(new BloomFilterMightContain(expression(bloom), expression(hash)))

  private type Builder = Seq[Expression] => Expression
  private def int(e: Expression): Int = e.eval().asInstanceOf[Int]

  /** The SQL surface, one `(name, class, builder)` row per function; the
    * builders take the parsed arguments, literals included. */
  private val table: Seq[(String, Class[_], Builder)] = Seq(
    ("float_cosine", classOf[FloatCosine], e => FloatCosine(e(0), e(1))),
    ("float_dot", classOf[FloatDot], e => FloatDot(e(0), e(1))),
    ("double_dot", classOf[DoubleDot], e => DoubleDot(e(0), e(1))),
    ("hashed_word_grams", classOf[HashedWordGrams], e => HashedWordGrams(e(0), int(e(1)))),
    ("minhash_signature", classOf[MinhashSignature], e => MinhashSignature(e(0), int(e(1)))),
    ("hyperplane_sign", classOf[HyperplaneSign], e => HyperplaneSign(e(0),
      e(1).eval().asInstanceOf[ArrayData].toDoubleArray().toIndexedSeq, int(e(2)))),
    ("simhash63", classOf[SimHash63], e => SimHash63(e(0))),
    ("pcm_s16le", classOf[PcmS16Le], e => PcmS16Le(e(0), e(1), e(2))),
    ("rgb24_pixels", classOf[Rgb24Pixels], e => Rgb24Pixels(e(0), e(1), e(2), e(3))),
    ("u8_moments", classOf[U8Moments], e => U8Moments(e(0), e(1), e(2))),
    ("bloom_filter_agg", classOf[BloomFilterAggregate], {
      case Seq(c) => new BloomFilterAggregate(c)
      case Seq(c, n) => new BloomFilterAggregate(c, n)
      case Seq(c, n, m) => new BloomFilterAggregate(c, n, m)
      case other => throw new IllegalArgumentException(
        s"bloom_filter_agg expects 1-3 arguments, got ${other.size}")
    }),
    ("might_contain", classOf[BloomFilterMightContain], {
      case Seq(b, v) => new BloomFilterMightContain(b, v)
      case other => throw new IllegalArgumentException(
        s"might_contain expects 2 arguments, got ${other.size}")
    }))

  private[plans] val sqlSurface: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] =
    table.map { case (name, cls, build) =>
      (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)
    }

  /** Registers the SQL surface into `spark`'s function registry. */
  def register(spark: SparkSession): Unit = sqlSurface.foreach { case (id, info, build) =>
    spark.sessionState.functionRegistry.registerFunction(id, info, build)
  }
}
