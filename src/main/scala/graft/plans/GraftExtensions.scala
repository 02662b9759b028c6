package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** Registers graft's native expressions, optimizer rule and planner
  * strategies ([[GraftStrategies]]).
  *
  * Two entry points:
  *  - config: `spark.sql.extensions=graft.plans.GraftExtensions` picks the
  *    functions up at session build (cluster deployments);
  *  - [[GraftFunctions.register]] and [[GraftStrategies.install]]:
  *    idempotent runtime registration for an existing session (tests,
  *    notebooks, the Verify/Bench mains; every registered entry installs
  *    the strategies through [[graft.Q]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("float_cosine"), FloatCosine.info, FloatCosine.builder))
    ext.injectFunction((
      FunctionIdentifier("hashed_word_grams"), HashedWordGrams.info, HashedWordGrams.builder))
    ext.injectFunction((
      FunctionIdentifier("minhash_signature"), MinhashSignature.info, MinhashSignature.builder))
    ext.injectFunction((
      FunctionIdentifier("hyperplane_sign"), HyperplaneSign.info, HyperplaneSign.builder))
    ext.injectFunction((
      FunctionIdentifier("simhash63"), SimHash63.info, SimHash63.builder))
    ext.injectFunction((
      FunctionIdentifier("float_dot"), FloatDot.info, FloatDot.builder))
    ext.injectFunction((
      FunctionIdentifier("double_dot"), DoubleDot.info, DoubleDot.builder))
    ext.injectFunction((
      FunctionIdentifier("pcm_s16le"), PcmS16Le.info, PcmS16Le.builder))
    ext.injectFunction((
      FunctionIdentifier("rgb24_pixels"), Rgb24Pixels.info, Rgb24Pixels.builder))
    ext.injectFunction((
      FunctionIdentifier("u8_moments"), U8Moments.info, U8Moments.builder))
    ext.injectFunction((
      FunctionIdentifier("bloom_filter_agg"), GraftFunctions.bloomAggInfo,
      GraftFunctions.bloomAggBuilder))
    ext.injectFunction((
      FunctionIdentifier("might_contain"), GraftFunctions.mightContainInfo,
      GraftFunctions.mightContainBuilder))
    ext.injectOptimizerRule(_ => RewriteHofCosine)
    GraftStrategies.all.foreach(strategy => ext.injectPlannerStrategy(_ => strategy))
  }
}

object GraftFunctions {
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("float_cosine"), FloatCosine.info, FloatCosine.builder)
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("hashed_word_grams"), HashedWordGrams.info, HashedWordGrams.builder)
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("minhash_signature"), MinhashSignature.info, MinhashSignature.builder)
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("hyperplane_sign"), HyperplaneSign.info, HyperplaneSign.builder)
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("simhash63"), SimHash63.info, SimHash63.builder)
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("float_dot"), FloatDot.info, FloatDot.builder)
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("double_dot"), DoubleDot.info, DoubleDot.builder)
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("pcm_s16le"), PcmS16Le.info, PcmS16Le.builder)
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("rgb24_pixels"), Rgb24Pixels.info, Rgb24Pixels.builder)
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("u8_moments"), U8Moments.info, U8Moments.builder)
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("bloom_filter_agg"), bloomAggInfo, bloomAggBuilder)
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("might_contain"), mightContainInfo, mightContainBuilder)
  }

  // Spark ships BloomFilterAggregate / BloomFilterMightContain as the
  // engine's own runtime row-level-filter expressions but does not put
  // them in the public registry; exposing them here gives the library's
  // Bloom semi-join pruning (operators/Sketches.scala) the engine's
  // codegen implementation instead of a UDF re-implementation.
  val bloomAggInfo: ExpressionInfo = new ExpressionInfo(
    classOf[BloomFilterAggregate].getName, "bloom_filter_agg")
  val bloomAggBuilder: Seq[Expression] => Expression = {
    case Seq(c) => new BloomFilterAggregate(c)
    case Seq(c, n) => new BloomFilterAggregate(c, n)
    case Seq(c, n, m) => new BloomFilterAggregate(c, n, m)
    case other => throw new IllegalArgumentException(
      s"bloom_filter_agg expects 1-3 arguments, got ${other.size}")
  }
  val mightContainInfo: ExpressionInfo = new ExpressionInfo(
    classOf[BloomFilterMightContain].getName, "might_contain")
  val mightContainBuilder: Seq[Expression] => Expression = {
    case Seq(b, v) => new BloomFilterMightContain(b, v)
    case other => throw new IllegalArgumentException(
      s"might_contain expects 2 arguments, got ${other.size}")
  }
}
