package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, FloatType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the reference's numeric extraction
  * (first match of `(\d+\.\d+|\d+)` parsed as float — ConsumerMultiThread
  * .java:121-126), with whole-stage codegen via [[doGenCode]].
  *
  * Semantically identical to
  * `regexp_extract(col, "(\\d+\\.\\d+|\\d+)", 1).try_cast("float")`
  * (the portable form used by the t2-gated queries) but in one pass:
  * no intermediate string allocation, no second regex for the cast,
  * and a pre-compiled shared pattern. The optimizer rule in
  * [[graft.GraftExtensions]] substitutes it automatically.
  */
case class ExtractNumeric(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"extract_numeric expects STRING, got ${child.dataType.sql}")

  override def dataType: DataType = FloatType
  override def nullable: Boolean = true
  override def prettyName: String = "extract_numeric"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else ExtractNumeric.extract(v.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val helper = ExtractNumeric.getClass.getName.stripSuffix("$")
    // fresh name: two extract_numeric calls in one codegen'd method must
    // not collide on the local holding the boxed result
    val r = ctx.freshName("extracted")
    ev.copy(code =
      code"""
        ${childGen.code}
        boolean ${ev.isNull} = true;
        float ${ev.value} = 0.0f;
        if (!${childGen.isNull}) {
          java.lang.Float $r = $helper.extract(${childGen.value});
          if ($r != null) {
            ${ev.isNull} = false;
            ${ev.value} = $r.floatValue();
          }
        }
      """)
  }

  override protected def withNewChildInternal(newChild: Expression): ExtractNumeric =
    copy(child = newChild)
}

object ExtractNumeric {
  private val pattern = Pattern.compile("(\\d+\\.\\d+|\\d+)")

  /** Called from both interpreted eval and generated code. */
  def extract(s: UTF8String): java.lang.Float = {
    val m = pattern.matcher(s.toString)
    if (m.find()) {
      try java.lang.Float.valueOf(m.group(1))
      catch { case _: NumberFormatException => null }
    } else null
  }
}
