package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.functions.{ArrayDotProduct, IndexWords}

/** Optimizer rule: rewrite the composable-but-interpreted dot-product
  * pattern
  *
  *   aggregate(zip_with(a, b, (x, y) -> x * y), 0.0, (acc, v) -> acc + v)
  *
  * into the codegen'd [[ArrayDotProduct]] expression (measured 84×
  * faster; see VectorFunctions). Users writing the idiomatic
  * higher-order-function form get the fast path transparently — the
  * canonical use of `SparkSessionExtensions`: extend the optimizer
  * where the built-in rules can't know the algebra.
  *
  * The match is deliberately narrow: both lambdas must be exactly the
  * multiply / add of their own variables and both inputs must be
  * `array<double>` — anything else is left untouched.
  */
object RewriteHofDotProduct extends Rule[LogicalPlan] {

  private def isDoubleArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  private object ZeroLit {
    def unapply(e: Expression): Boolean = e match {
      case Literal(0.0d, DoubleType) => true
      case Cast(Literal(0.0d, DoubleType), DoubleType, _, _) => true
      case _ => false
    }
  }

  /** lambda (x, y) -> x * y over exactly its own two variables */
  private object MulLambda {
    def unapply(e: Expression): Boolean = e match {
      case LambdaFunction(m: Multiply, Seq(x: NamedLambdaVariable, y: NamedLambdaVariable), _) =>
        Set(m.left, m.right) == Set[Expression](x, y)
      case _ => false
    }
  }

  /** lambda (acc, v) -> acc + v */
  private object AddLambda {
    def unapply(e: Expression): Boolean = e match {
      case LambdaFunction(a: Add, Seq(x: NamedLambdaVariable, y: NamedLambdaVariable), _) =>
        Set(a.left, a.right) == Set[Expression](x, y)
      case _ => false
    }
  }

  /** identity finish lambda v -> v */
  private object IdLambda {
    def unapply(e: Expression): Boolean = e match {
      case LambdaFunction(body: NamedLambdaVariable, Seq(v: NamedLambdaVariable), _) => body == v
      case _ => false
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case ArrayAggregate(ZipWith(a, b, MulLambda()), z, AddLambda(), IdLambda())
          if ZeroLit.unapply(z) && isDoubleArray(a) && isDoubleArray(b) =>
        ArrayDotProduct(a, b)
    }
}

/** Session extension entry point:
  * `SparkSession.builder().withExtensions(new GraftExtensions)` (done
  * by [[graft.GraftSession]]), or
  * `spark.sql.extensions=graft.plans.GraftExtensions` via config.
  *
  * Native expressions injected here are in every session's function
  * registry from its start, so callers invoke them by name with no
  * per-call `register(spark)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => RewriteHofDotProduct)
    e.injectOptimizerRule(_ => RewriteAggregateToSummary)
    e.injectFunction((
      FunctionIdentifier(IndexWords.Name),
      new ExpressionInfo(classOf[IndexWords].getName, IndexWords.Name),
      {
        case Seq(text) => IndexWords(text)
        case args => throw new IllegalArgumentException(
          s"${IndexWords.Name} takes 1 argument, got ${args.size}")
      }))
  }
}
