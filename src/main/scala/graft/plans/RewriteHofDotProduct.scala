package graft.plans

import graft.functions.DotProductQ
import org.apache.spark.sql.catalyst.expressions.EvalMode
import org.apache.spark.sql.catalyst.expressions.{Add, ArrayAggregate,
  Expression, LambdaFunction, Literal, Multiply, NamedExpression,
  NamedLambdaVariable, ZipWith}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, LongType}

/** Optimizer rule: rewrite the idiomatic-but-interpreted higher-order
  * dot product
  *
  * {{{ aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, v) -> acc + v) }}}
  *
  * over two `array<bigint>` columns into the codegen'd
  * [[graft.functions.DotProductQ]] kernel. Spark evaluates lambda HOFs
  * interpreted — a closure call and boxed lambda variable per element,
  * outside whole-stage codegen — so in a candidate-pair re-rank this
  * pattern dominates the stage; `dot_q` compiles to a primitive `long`
  * loop and keeps the projection inside WholeStageCodegen.
  *
  * The substitution is exact: `DotProductQ` reproduces the HOF's null
  * semantics (null on null input, ragged lengths — zip_with pads with
  * null — or null elements). One documented divergence: under ANSI
  * mode the HOF's `*`/`+` would raise on long overflow while `dot_q`
  * wraps; the rule targets quantized-embedding inputs (|v| ~ 1e12 x
  * dims) where overflow is unreachable.
  *
  * Registered by [[graft.GraftExtensions]] via `injectOptimizerRule`,
  * which places it in the post-operator-optimization batch — by then
  * lambda variables are bound (`NamedLambdaVariable`) and the zero
  * literal is constant-folded to `Literal(0L)`.
  */
object RewriteHofDotProduct extends Rule[LogicalPlan] {

  private def isLongArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  /** The lambda body must use exactly the lambda's own two variables,
    * one each (commutatively). */
  private def usesBothArgs(x: Expression, y: Expression,
      args: Seq[NamedExpression]): Boolean = (x, y, args) match {
    case (xv: NamedLambdaVariable, yv: NamedLambdaVariable,
        Seq(a: NamedLambdaVariable, b: NamedLambdaVariable)) =>
      Set(xv.exprId, yv.exprId) == Set(a.exprId, b.exprId) &&
        xv.exprId != yv.exprId
    case _ => false
  }

  private def isIdentity(f: Expression): Boolean = f match {
    case LambdaFunction(v: NamedLambdaVariable,
        Seq(a: NamedLambdaVariable), _) => v.exprId == a.exprId
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case ArrayAggregate(
            ZipWith(l, r,
              LambdaFunction(Multiply(mx, my, mCtx), zArgs, _)),
            Literal(0L, LongType),
            LambdaFunction(Add(ax, ay, aCtx), aArgs, _),
            finish)
          // TRY arithmetic is excluded: try_multiply/try_add promise
          // null-on-overflow, which the wraparound kernel cannot
          // honor. ANSI is rewritten with the documented caveat (the
          // kernel wraps where ANSI would raise — quantized embedding
          // dot products cannot overflow int64 by construction).
          if mCtx.evalMode != EvalMode.TRY && aCtx.evalMode != EvalMode.TRY &&
            isLongArray(l) && isLongArray(r) &&
            usesBothArgs(mx, my, zArgs) && usesBothArgs(ax, ay, aArgs) &&
            isIdentity(finish) =>
        DotProductQ(l, r)
    }
}
