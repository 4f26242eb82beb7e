package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
import graft.functions.{CosineSimF, DotProductF}

/** Optimizer rule (SURVEY §4.2 stretch): rewrites the declarative HOF
  * dot-product pattern
  *
  *   aggregate(zip_with(a, b, (x, y) -> double(x) * double(y)),
  *             0.0, (acc, v) -> acc + v)
  *
  * and its self-product (squared-L2) sibling
  *
  *   aggregate(transform(a, x -> double(x) * double(x)), 0.0, +)
  *
  * into the native codegen'd `DotProductF(a, b)` / `DotProductF(a, a)`.
  * Semantics are identical (both are a strict left fold of the products
  * in array order), so user code written against plain `functions._`
  * silently gets the tight primitive loop. Registered via
  * `graft.GraftExtensions` (`injectOptimizerRule`); Spark's own
  * `spark.sql.optimizer.excludedRules=graft.plans.DotProductRewrite`
  * turns it off for a session.
  *
  * The rule is deliberately NARROW because it is injected session-wide:
  * it fires only when (1) both array inputs resolve to
  * `array<float>` — DotProductF reads elements with getFloat, so an
  * `array<double>` input would reinterpret bits — and (2) every product
  * operand is an explicit `CAST(var AS DOUBLE)` — the uncast float form
  * `x * y` rounds each product to float first, which the double
  * accumulator does not, so rewriting it would silently change results.
  */
object DotProductRewrite extends Rule[LogicalPlan] {

  private def isFloatArray(e: Expression): Boolean =
    e.resolved && (e.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })

  /** Exactly CAST(v AS DOUBLE) of the given lambda variable — a bare
    * (uncast) variable is NOT accepted: see class doc. */
  private def isDoubleVar(e: Expression, v: NamedLambdaVariable): Boolean =
    e match {
      case Cast(x: NamedLambdaVariable, DoubleType, _, _) => x.exprId == v.exprId
      case _ => false
    }

  /** (x, y) -> double(x) * double(y) over the two zip lambda args. */
  private def isPairProduct(f: Expression): Boolean = f match {
    case LambdaFunction(Multiply(l, r, _), Seq(x: NamedLambdaVariable, y: NamedLambdaVariable), _) =>
      (isDoubleVar(l, x) && isDoubleVar(r, y)) ||
        (isDoubleVar(l, y) && isDoubleVar(r, x))
    case _ => false
  }

  /** x -> double(x) * double(x) over a single transform lambda arg. */
  private def isSelfProduct(f: Expression): Boolean = f match {
    case LambdaFunction(Multiply(l, r, _), Seq(x: NamedLambdaVariable), _) =>
      isDoubleVar(l, x) && isDoubleVar(r, x)
    case _ => false
  }

  /** (acc, v) -> acc + v; both vars are DoubleType here (accumulator
    * domain), so bare variables are the expected — and safe — shape. */
  private def isSumMerge(f: Expression): Boolean = f match {
    case LambdaFunction(Add(l, r, _), Seq(a: NamedLambdaVariable, v: NamedLambdaVariable), _) =>
      def isVar(e: Expression, w: NamedLambdaVariable): Boolean = e match {
        case x: NamedLambdaVariable => x.exprId == w.exprId
        case _ => false
      }
      (isVar(l, a) && isVar(r, v)) || (isVar(l, v) && isVar(r, a))
    case _ => false
  }

  /** acc -> acc (the default finish lambda of `aggregate`). */
  private def isIdentityFinish(f: Expression): Boolean = f match {
    case LambdaFunction(body: NamedLambdaVariable, Seq(a: NamedLambdaVariable), _) =>
      body.exprId == a.exprId
    case _ => false
  }

  /** dot(a,b) / (√dot(a,a) · √dot(b,b)) with matching operands — the
    * composed cosine. Fusing into CosineSimF is bit-exact: one loop
    * with three independent accumulators preserves each accumulation
    * sequence, and the final combine is the identical IEEE op order
    * (including the commuted norm product — double `*` commutes
    * exactly). The Divide's evalMode is carried into the fused
    * expression: an ANSI divide throws on a zero-norm denominator, a
    * legacy divide NULLs — failOnZero reproduces exactly that, so the
    * session-wide rewrite never changes observable zero-norm behavior
    * (TRY mode is left un-fused). Pinned in OperatorGoldenSpec. */
  private def fuseCosine(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case Divide(DotProductF(a, b),
          Multiply(Sqrt(DotProductF(a2, a3)), Sqrt(DotProductF(b2, b3)), _), ctx)
          if ctx.evalMode != EvalMode.TRY &&
            a.semanticEquals(a2) && a.semanticEquals(a3) &&
            b.semanticEquals(b2) && b.semanticEquals(b3) =>
        CosineSimF(a, b, failOnZero = ctx.evalMode == EvalMode.ANSI)
      case Divide(DotProductF(a, b),
          Multiply(Sqrt(DotProductF(b2, b3)), Sqrt(DotProductF(a2, a3)), _), ctx)
          if ctx.evalMode != EvalMode.TRY &&
            a.semanticEquals(a2) && a.semanticEquals(a3) &&
            b.semanticEquals(b2) && b.semanticEquals(b3) =>
        CosineSimF(a, b, failOnZero = ctx.evalMode == EvalMode.ANSI)
    }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val dots = plan.transformAllExpressions {
      case ArrayAggregate(ZipWith(a, b, pair), Literal(0.0, DoubleType), merge, finish)
          if isFloatArray(a) && isFloatArray(b) &&
            isPairProduct(pair) && isSumMerge(merge) && isIdentityFinish(finish) =>
        DotProductF(a, b)
      // the self-product duplicates `a` into both children, so it must
      // be deterministic (column refs in practice) to stay semantics-safe
      case ArrayAggregate(ArrayTransform(a, sq), Literal(0.0, DoubleType), merge, finish)
          if isFloatArray(a) && a.deterministic &&
            isSelfProduct(sq) && isSumMerge(merge) && isIdentityFinish(finish) =>
        DotProductF(a, a)
    }
    // second phase so HOFs rewritten above (top-down) can still fuse
    // into the cosine form within one rule application
    fuseCosine(dots)
  }
}
