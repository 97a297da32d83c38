package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Session-wide injection of graft's custom expressions for SQL users
  * (`spark.sql.extensions=graft.functions.GraftExtensions`). graft's own
  * code never looks an expression up by name: it builds each one as a
  * Column through `org.apache.spark.sql.GraftColumnBridge`, so nothing
  * here is needed by the library itself:
  *
  *  - SQL functions: `poly_hash`, `dot_prod` (the parameterized expressions
  *    — shingle_join / minhash_sig / band_fold — have no SQL name: their
  *    constants are call-site configuration passed to the constructor);
  *  - an optimizer rule, [[RewriteDotProduct]], that recognizes the HOF
  *    dot-product pattern `aggregate(zip_with(a, b, (x,y) -> x*y), 0.0,
  *    (acc,x) -> acc + x)` and swaps in the codegen'd [[DotProd]] — user
  *    SQL written against the documented HOF form silently gets the fast
  *    path (spec-proven bit-identical, so the rewrite is free).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("poly_hash"),
      new ExpressionInfo(classOf[PolyHash].getName, "poly_hash"),
      (exprs: Seq[Expression]) => PolyHash(exprs.head)))
    ext.injectFunction((FunctionIdentifier("dot_prod"),
      new ExpressionInfo(classOf[DotProd].getName, "dot_prod"),
      (exprs: Seq[Expression]) => DotProd(exprs(0), exprs(1))))
    ext.injectOptimizerRule(_ => RewriteDotProduct)
  }
}

/** Rewrite the interpreted HOF dot-product pattern to [[DotProd]].
  * Matches exactly: ArrayAggregate(ZipWith(a, b, x*y), 0.0, acc+x, identity)
  * over double arrays. Both sides fold left in element order, so the
  * replacement is bit-identical (TextDedupSpec proves it on the corpus).
  */
object RewriteDotProduct extends Rule[LogicalPlan] {
  private def isZeroLit(e: Expression): Boolean = e match {
    case Literal(0.0, DoubleType) => true
    case _ => false
  }

  private def isMulLambda(f: Expression): Boolean = f match {
    case LambdaFunction(Multiply(x: NamedLambdaVariable, y: NamedLambdaVariable, _),
        Seq(a: NamedLambdaVariable, b: NamedLambdaVariable), _) =>
      (x.exprId == a.exprId && y.exprId == b.exprId) ||
        (x.exprId == b.exprId && y.exprId == a.exprId)
    case _ => false
  }

  private def isAddLambda(f: Expression): Boolean = f match {
    case LambdaFunction(Add(x: NamedLambdaVariable, y: NamedLambdaVariable, _),
        Seq(acc: NamedLambdaVariable, el: NamedLambdaVariable), _) =>
      x.exprId == acc.exprId && y.exprId == el.exprId
    case _ => false
  }

  private def isIdentityLambda(f: Expression): Boolean = f match {
    case LambdaFunction(x: NamedLambdaVariable, Seq(acc: NamedLambdaVariable), _) =>
      x.exprId == acc.exprId
    case _ => false
  }

  private def isDoubleArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case ArrayAggregate(ZipWith(a, b, mul), zero, merge, finish)
          if isZeroLit(zero) && isMulLambda(mul) && isAddLambda(merge) &&
            isIdentityLambda(finish) && isDoubleArray(a) && isDoubleArray(b) =>
        DotProd(a, b)
    }
}
