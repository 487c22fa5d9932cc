package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Expression, ExpressionInfo, Literal, RegExpExtract, TryEval}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.FloatType
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{DotF32, ExtractNumeric}

/** Engine extensions, installed with
  * `--conf spark.sql.extensions=graft.GraftExtensions`:
  *
  *  1. the SQL function `extract_numeric` (native codegen'd form of
  *     the reference's A6 rewrite);
  *  2. the SQL function `dot_f32` (the [[graft.functions.DotF32]]
  *     kernel);
  *  3. an optimizer rule that transparently replaces the portable
  *     `try_cast(regexp_extract(x, '(\d+\.\d+|\d+)', 1) as float)`
  *     idiom with the single-pass native expression, so existing
  *     pipelines speed up without a code change.
  *
  * The two names are the SQL surface for SQL callers and for the
  * literal-SQL reference forms (`Extras.assignExprSql`/`probeCellsSql`)
  * that specs compare the native kernels against. The operators
  * themselves need neither name nor this class: they call every kernel
  * through [[graft.functions.Kernels]], so they run unchanged on a
  * session without the extension.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("extract_numeric"),
      new ExpressionInfo(classOf[ExtractNumeric].getName, "extract_numeric"),
      unary("extract_numeric", ExtractNumeric.apply)))
    ext.injectFunction((
      FunctionIdentifier("dot_f32"),
      new ExpressionInfo(classOf[DotF32].getName, "dot_f32"),
      binary("dot_f32", DotF32.apply)))
    ext.injectOptimizerRule(_ => ExtractNumericRewrite)
  }

  // Arity-checked builders: the raw `children.head` / `children(1)`
  // forms silently DROP extra arguments (wrong results, no diagnostic)
  // or die in analysis with a bare IndexOutOfBoundsException; a wrong
  // call must fail with the expected-arity message instead.
  private def unary(name: String, f: Expression => Expression): Seq[Expression] => Expression = {
    case Seq(a) => f(a)
    case args => throw new IllegalArgumentException(
      s"$name expects exactly 1 argument, got ${args.length}")
  }

  private def binary(name: String, f: (Expression, Expression) => Expression): Seq[Expression] => Expression = {
    case Seq(a, b) => f(a, b)
    case args => throw new IllegalArgumentException(
      s"$name expects exactly 2 arguments, got ${args.length}")
  }
}

/** Rewrite rule: recognize the regexp-extract-then-cast idiom and
  * substitute the fused native expression (same null semantics: no
  * match → empty string → cast null ≡ native null).
  *
  * Equivalence is gated on the Cast's OWN evalMode, not the session
  * conf: `try_cast` lowers to Cast(evalMode=TRY) (null on error — safe)
  * and a pre-ANSI cast is Cast(evalMode=LEGACY) (empty string → null —
  * safe), but Cast(evalMode=ANSI) THROWS on the no-match empty string
  * where the native expression returns null, so an ANSI cast is left
  * untouched and user-visible error behavior never changes. TryEval
  * wrapping is matched too for plans built from older-style try_eval
  * composition.
  */
object ExtractNumericRewrite extends Rule[LogicalPlan] {
  private val NumRegex = UTF8String.fromString("(\\d+\\.\\d+|\\d+)")

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case TryEval(Cast(RegExpExtract(subject, Literal(NumRegex, _), Literal(1, _)), FloatType, _, _)) =>
        ExtractNumeric(subject)
      case Cast(RegExpExtract(subject, Literal(NumRegex, _), Literal(1, _)), FloatType, _, mode)
          if mode != EvalMode.ANSI =>
        ExtractNumeric(subject)
    }
}
