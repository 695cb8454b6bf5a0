package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

/** Optional session extensions for the engine, registered with
  * `spark.sql.extensions=graft.plans.GraftExtensions` (or per-session
  * via `spark.experimental.extraOptimizations`).
  *
  * Every [[NativeFunctions]] entry is injected as a SQL function, and
  * one optimizer rule is installed: [[FuseCosineRule]] rewrites the
  * composable higher-order-function cosine pattern (Similarity.cosine —
  * an `aggregate(zip_with(a, b, *), 0.0, +)` dot product divided by the
  * product of two self-dot square roots) into the fused native
  * [[CosineSimilarity]] expression, so code written against the
  * portable HOF API gets the codegen'd single-pass loop for free.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // The native expressions as first-class SQL functions: a session
    // built with these extensions can call cosine_native(a, b) etc.
    // from SQL text, not just the Column API.
    NativeFunctions.inject(ext)
    ext.injectOptimizerRule(_ => FuseCosineRule)
  }
}

/** Conservative structural match: only the exact HOF cosine tree over
  * float-array inputs is rewritten (a double-native input is left
  * alone — the fused expression reads floats, and rewriting would
  * change precision). The lambda bodies are matched down to ExprIds:
  * the zip_with lambda must be exactly `x * y` over its own two lambda
  * variables and the aggregate merge exactly `acc + v` over its own
  * accumulator and element variables — a tree like `(x,y) => x*x` or
  * `(acc,v) => acc + abs(v)` has the same node TYPES but different
  * semantics and must not fuse.
  *
  * The rewrite preserves the HOF tree's edge semantics: null input →
  * null; length-mismatched arrays → null (zip_with pads with nulls,
  * which poisons the dot); zero-norm vector → null, matching Spark's
  * Divide exactly — Spark division returns NULL on a zero divisor in
  * LEGACY and TRY modes even for doubles (it never produces IEEE NaN
  * from x/0), which is also what the native expression returns, so
  * top-k orderings are unchanged (null sorts last under desc either
  * way; NaN inputs still propagate as NaN through both forms). The
  * one documented divergence: an ANSI-mode divide RAISES
  * DIVIDE_BY_ZERO on a zero-norm vector, while the fused form returns
  * null — values never differ on inputs where the unfused query would
  * have succeeded. (Out of contract: null ELEMENTS inside a float
  * array — the HOF yields null, the fused loop reads the slot as 0;
  * embedding columns don't carry element nulls.)
  */
object FuseCosineRule extends Rule[LogicalPlan] {

  /** The two lambda variables of `lf`, iff it takes exactly two. */
  private def lambdaArgIds(lf: LambdaFunction): Option[Set[ExprId]] =
    lf.arguments match {
      case Seq(x: NamedLambdaVariable, y: NamedLambdaVariable) if x.exprId != y.exprId =>
        Some(Set(x.exprId, y.exprId))
      case _ => None
    }

  /** Both children are NamedLambdaVariables covering exactly `ids`
    * (order-free: * and + are commutative). */
  private def childrenAreExactly(l: Expression, r: Expression,
                                 ids: Set[ExprId]): Boolean =
    (l, r) match {
      case (lv: NamedLambdaVariable, rv: NamedLambdaVariable) =>
        Set(lv.exprId, rv.exprId) == ids
      case _ => false
    }

  /** aggregate(zip_with(x, y, (p,q) => p*q), 0.0, (acc,v) => acc+v)
    * — the Similarity.dot tree, verified down to lambda-variable
    * ExprIds. Returns the zip_with inputs. */
  private object DotAgg {
    def unapply(e: Expression): Option[(Expression, Expression)] = e match {
      case aa: ArrayAggregate =>
        (aa.argument, aa.zero, aa.merge, aa.finish) match {
          case (zw: ZipWith, Literal(0.0, DoubleType),
                mergeFn: LambdaFunction, finishFn: LambdaFunction) =>
            val productOk = zw.function match {
              case prodFn: LambdaFunction =>
                (prodFn.function, lambdaArgIds(prodFn)) match {
                  case (m: Multiply, Some(ids)) =>
                    childrenAreExactly(m.left, m.right, ids)
                  case _ => false
                }
              case _ => false
            }
            val mergeOk = (mergeFn.function, lambdaArgIds(mergeFn)) match {
              case (ad: Add, Some(ids)) =>
                childrenAreExactly(ad.left, ad.right, ids)
              case _ => false
            }
            val finishOk = (finishFn.function, finishFn.arguments) match {
              case (v: NamedLambdaVariable, Seq(acc: NamedLambdaVariable)) =>
                v.exprId == acc.exprId
              case _ => false
            }
            if (productOk && mergeOk && finishOk) Some((zw.left, zw.right))
            else None
          case _ => None
        }
      case _ => None
    }
  }

  /** Peel the `cast(v as array<double>)` Similarity.dot inserts and
    * require the underlying column to be array<float> — the only
    * input shape where the rewrite is precision-identical. */
  private def floatInput(e: Expression): Option[Expression] = e match {
    case c: Cast => c.child.dataType match {
      case ArrayType(FloatType, _) => Some(c.child)
      case _                       => None
    }
    case _ => e.dataType match {
      case ArrayType(FloatType, _) => Some(e)
      case _                       => None
    }
  }

  private def tryFuse(d: Divide): Option[Expression] =
    for {
      (x1, y1) <- DotAgg.unapply(d.left)
      m <- d.right match { case m: Multiply => Some(m); case _ => None }
      sx <- m.left match { case s: Sqrt => Some(s); case _ => None }
      sy <- m.right match { case s: Sqrt => Some(s); case _ => None }
      (x2, x3) <- DotAgg.unapply(sx.child)
      (y2, y3) <- DotAgg.unapply(sy.child)
      if x2.semanticEquals(x3) && y2.semanticEquals(y3) &&
        x1.semanticEquals(x2) && y1.semanticEquals(y2)
      a <- floatInput(x1)
      b <- floatInput(y1)
    } yield {
      // Restore the HOF tree's edge semantics around the fused loop:
      // null/length-mismatch → null; zero-norm → null is already the
      // native expression's behavior (see scaladoc).
      val nullD = Literal.create(null, DoubleType)
      If(Or(IsNull(a), IsNull(b)), nullD,
        If(Not(EqualTo(Size(a), Size(b))), nullD,
          CosineSimilarity(a, b)))
    }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case d: Divide => tryFuse(d).getOrElse(d)
    }
}
