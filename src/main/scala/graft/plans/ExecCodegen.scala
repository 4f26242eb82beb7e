package graft.plans

import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  CodeGenerator, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._

/** Shared codegen plumbing for the custom whole-operator execs
  * (round 12): eager column locals over a row term, in the style of
  * `SortMergeJoinExec.createLeftVars` — each output column becomes a
  * plain Java local the parent's generated consume reads directly, so
  * no JoinedRow and no per-row UnsafeProjection survive into the
  * compiled loop. */
private[plans] object ExecCodegen {

  /** Ordinal of `a` (matched by exprId) in a child's output `attrs`;
    * fails naming `what` (e.g. "band-join left bin") when the child no
    * longer carries the column. */
  def ordinal(attrs: Seq[Attribute], a: Attribute, what: String): Int = {
    val i = attrs.indexWhere(_.exprId == a.exprId)
    require(i >= 0, s"$what column ${a.name} not in child output")
    i
  }

  /** One ExprCode per attribute, reading ordinally from `rowTerm`.
    * `guard`: when set, a boolean term that must be true for the row
    * to be present at all — columns evaluate NULL when it is false
    * (the as-of miss case), regardless of their own nullability. */
  def colVars(ctx: CodegenContext, rowTerm: String,
      attrs: Seq[Attribute], guard: Option[String] = None): Seq[ExprCode] =
    attrs.zipWithIndex.map { case (a, i) =>
      val value = ctx.freshName("value")
      val isNull = ctx.freshName("isNull")
      val jt = CodeGenerator.javaType(a.dataType)
      val getter = CodeGenerator.getValue(rowTerm, a.dataType, i.toString)
      val dflt = CodeGenerator.defaultValue(a.dataType)
      guard match {
        case Some(g) =>
          val src = s"boolean $isNull = !$g || $rowTerm.isNullAt($i);\n" +
            s"$jt $value = $isNull ? $dflt : ($getter);"
          ExprCode(code"$src", JavaCode.isNullVariable(isNull),
            JavaCode.variable(value, a.dataType))
        case None if a.nullable =>
          val src = s"boolean $isNull = $rowTerm.isNullAt($i);\n" +
            s"$jt $value = $isNull ? $dflt : ($getter);"
          ExprCode(code"$src", JavaCode.isNullVariable(isNull),
            JavaCode.variable(value, a.dataType))
        case None =>
          val src = s"$jt $value = $getter;"
          ExprCode(code"$src", FalseLiteral,
            JavaCode.variable(value, a.dataType))
      }
    }
}
