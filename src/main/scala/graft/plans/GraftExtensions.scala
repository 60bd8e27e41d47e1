package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.functions.{ArrayDotProduct, DHash56, DeflateLength, IndexWords, NearestCell,
  NearestCellHier, PostingDecode, PostingEncode, ShingleHashes, SimHash64, SpectralFeatures,
  TokenCount}

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
  * per-call registration.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => RewriteHofDotProduct)
    e.injectOptimizerRule(_ => RewriteAggregateToSummary)
    function(e, IndexWords.Name, classOf[IndexWords], 1)(a => IndexWords(a(0)))
    function(e, TokenCount.Name, classOf[TokenCount], 1)(a => TokenCount(a(0)))
    function(e, ShingleHashes.Name, classOf[ShingleHashes], 2)(a => ShingleHashes(a(0), a(1)))
    function(e, SimHash64.Name, classOf[SimHash64], 1)(a => SimHash64(a(0)))
    function(e, "array_dot", classOf[ArrayDotProduct], 2)(a => ArrayDotProduct(a(0), a(1)))
    function(e, "nearest_cell", classOf[NearestCell], 3)(a => NearestCell(a(0), a(1), a(2)))
    function(e, "nearest_cell_hier", classOf[NearestCellHier], 7)(NearestCellHier(_))
    function(e, "spectral_features", classOf[SpectralFeatures], 1)(a => SpectralFeatures(a(0)))
    function(e, "dhash56", classOf[DHash56], 1)(a => DHash56(a(0)))
    function(e, "deflate_len", classOf[DeflateLength], 1)(a => DeflateLength(a(0)))
    function(e, "posting_encode", classOf[PostingEncode], 1)(a => PostingEncode(a(0)))
    function(e, "posting_decode", classOf[PostingDecode], 1)(a => PostingDecode(a(0)))
  }

  private def function(e: SparkSessionExtensions, name: String, cls: Class[_], arity: Int)(
      build: Seq[Expression] => Expression): Unit =
    e.injectFunction((
      FunctionIdentifier(name),
      new ExpressionInfo(cls.getName, name),
      {
        case args if args.size == arity => build(args)
        case args => throw new IllegalArgumentException(
          s"$name takes $arity argument(s), got ${args.size}")
      }))
}
