package graft.ext

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

import graft.functions.DotFloatVectors

/** Catalyst extension entry point (SURVEY §2.9 escalation path c):
  * `SparkSessionExtensions`-registered SQL functions and an optimizer rule,
  * wired into every engine session by [[graft.core.GraftSession]] (or any
  * user session via `spark.sql.extensions=graft.ext.GraftExtensions`).
  *
  * Injected surface:
  *  - `dot_f32(a, b)`      — native left-fold dot product over ARRAY<FLOAT>
  *                           (the codegen'd [[DotFloatVectors]] loop).
  *  - `cosine_f32(a, b)`   — cosine similarity composed from the same
  *                           expression (dot / (‖a‖·‖b‖), left-fold tree).
  *  - [[NativeDotRewrite]] — rewrites the idiomatic HOF dot-product pattern
  *    `aggregate(zip_with(a, b, (x,y) -> double(x)*double(y)), 0d, +)` into
  *    [[DotFloatVectors]] when both inputs are ARRAY<FLOAT>. Bit-identical
  *    (same summation tree), but a tight primitive loop instead of
  *    per-element lambda dispatch — users writing the declarative form get
  *    the native speed without knowing the custom expression exists.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("dot_f32"),
      new ExpressionInfo(classOf[DotFloatVectors].getName, "dot_f32"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "dot_f32 takes exactly 2 arguments")
        DotFloatVectors(children(0), children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("cosine_f32"),
      new ExpressionInfo(classOf[DotFloatVectors].getName, "cosine_f32"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "cosine_f32 takes exactly 2 arguments")
        val (a, b) = (children(0), children(1))
        Divide(DotFloatVectors(a, b),
          Multiply(Sqrt(DotFloatVectors(a, a)), Sqrt(DotFloatVectors(b, b))))
      }))
    ext.injectFunction((
      new FunctionIdentifier("simhash16"),
      new ExpressionInfo(classOf[graft.functions.SimHash16].getName, "simhash16"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "simhash16 takes exactly 1 argument")
        graft.functions.SimHash16(children.head)
      }))
    ext.injectOptimizerRule(_ => NativeDotRewrite)
    // whole-operator escalation (SURVEY §2.9 path c): plans every
    // graft.plans.MergeJoinNode (as-of, band, interval overlap) into its
    // streaming-merge exec
    ext.injectPlannerStrategy(_ => graft.plans.MergeJoinStrategy)
  }
}

/** See [[GraftExtensions]]. Conservative by construction: only fires on the
  * exact tree `functions.aggregate(zip_with(a, b, (x,y) -> cast(x)*cast(y)),
  * 0.0, (acc,v) -> acc+v)` with an identity finish lambda and ARRAY<FLOAT>
  * inputs — anything else is left untouched.
  */
object NativeDotRewrite extends Rule[LogicalPlan] {

  private def isVar(e: Expression, v: NamedLambdaVariable): Boolean = e match {
    case nv: NamedLambdaVariable => nv.exprId == v.exprId
    case _ => false
  }

  private def isFloatArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  /** (x, y) -> cast(x as double) * cast(y as double), any argument order. */
  private def isCastProduct(fn: Expression): Boolean = fn match {
    case LambdaFunction(Multiply(Cast(l, DoubleType, _, _), Cast(r, DoubleType, _, _), _),
        Seq(x: NamedLambdaVariable, y: NamedLambdaVariable), _) =>
      (isVar(l, x) && isVar(r, y)) || (isVar(l, y) && isVar(r, x))
    case _ => false
  }

  /** (acc, v) -> acc + v (either operand order — addition is the fold op). */
  private def isSumMerge(fn: Expression): Boolean = fn match {
    case LambdaFunction(Add(l, r, _), Seq(acc: NamedLambdaVariable, v: NamedLambdaVariable), _) =>
      (isVar(l, acc) && isVar(r, v)) || (isVar(l, v) && isVar(r, acc))
    case _ => false
  }

  private def isIdentity(fn: Expression): Boolean = fn match {
    case LambdaFunction(v1: NamedLambdaVariable, Seq(v2: NamedLambdaVariable), _) =>
      v1.exprId == v2.exprId
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case ArrayAggregate(ZipWith(a, b, mul), Literal(0.0, DoubleType), merge, finish)
          if isFloatArray(a) && isFloatArray(b) &&
            isCastProduct(mul) && isSumMerge(merge) && isIdentity(finish) =>
        DotFloatVectors(a, b)
    }
}
