package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

/** Optimizer rule: rewrites the higher-order-function cosine pattern
  * (graft.functions.TextFunctions.cosine — aggregate(zip_with(a,b,*),0.0,+)
  * over two float arrays, divided by the product of the sqrt'd self-dots)
  * into the codegen'd [[FloatCosine]] expression.
  *
  * The arithmetic of both forms is identical (float multiply, double
  * left-fold), so the rewrite is result-preserving bit-for-bit; it only
  * moves the loop from interpreted HOF evaluation into whole-stage
  * codegen. Non-matching expressions are left untouched — the rule is
  * purely opportunistic and safe to run on any plan.
  *
  * [[GraftExtensions]] injects it: build the session with
  * `spark.sql.extensions=graft.plans.GraftExtensions` or
  * `SparkSession.builder().withExtensions(new GraftExtensions)`.
  * [[GraftStrategies.install]] does not add it.
  */
object RewriteHofCosine extends Rule[LogicalPlan] {

  /** Matches aggregate(zip_with(x, y, (p,q) => p*q), 0.0, (acc,v) => acc+v)
    * — the dot-product shape — returning its two array inputs. */
  private def asDot(e: Expression): Option[(Expression, Expression)] = e match {
    case ArrayAggregate(
        ZipWith(x, y, LambdaFunction(Multiply(_, _, _), _, _)),
        Literal(zero, DoubleType),
        LambdaFunction(Add(_, _, _), _, _),
        LambdaFunction(_, _, _)) if zero == 0.0 =>
      Some((x, y))
    case _ => None
  }

  private def isFloatArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case orig @ Divide(dot, Multiply(Sqrt(na), Sqrt(nb), _), _) =>
      (asDot(dot), asDot(na), asDot(nb)) match {
        case (Some((a, b)), Some((a1, a2)), Some((b1, b2)))
            if a.semanticEquals(a1) && a.semanticEquals(a2) &&
              b.semanticEquals(b1) && b.semanticEquals(b2) &&
              isFloatArray(a) && isFloatArray(b) =>
          FloatCosine(a, b)
        case _ => orig
      }
  }
}
