package graft.spark

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._

/** The one whole-stage codegen path of the graft expressions: the DOM
  * expressions, `canonicalize_url` / `url_host`, the pipeline kernels of
  * [[PipelineExprOps]], `ivf_assign_bc` and `bloom_might_contain_bc`. The
  * generated code evaluates the children, then passes their values to this
  * expression through a reference object. A unary, binary or ternary form
  * is null when any input is, and the call is its `nullSafeEval`; any other
  * form handles nulls itself, defines `eval` as [[evalValues]] over all its
  * children's values, and the call is `evalValues`. The reference object is
  * deserialized with each task, so a `@transient lazy val` over a broadcast
  * reads `bc.value` once per task. */
trait BodyCodegen extends Expression {
  def evalValues(values: Array[Any]): Any =
    throw new UnsupportedOperationException(s"$prettyName evaluates through nullSafeEval")

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj(prettyName, this)
    val ins = children.map(_.genCode(ctx))
    val (call, anyNull) = this match {
      case _: UnaryExpression | _: BinaryExpression | _: TernaryExpression =>
        (ins.map(_.value).mkString("nullSafeEval(", ", ", ")"), ins.map(_.isNull).mkString(" || "))
      case _ =>
        (ins.map(i => s"${i.isNull} ? null : (Object) ${i.value}")
          .mkString("evalValues(new Object[] {", ", ", "})"), "false")
    }
    val out = ctx.freshName("out")
    ev.copy(code = code"""
      ${ins.map(_.code).mkString("\n")}
      boolean ${ev.isNull} = true;
      ${CodeGenerator.javaType(dataType)} ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
      if (!($anyNull)) {
        Object $out = $self.$call;
        ${ev.isNull} = $out == null;
        if (!${ev.isNull}) ${ev.value} = (${CodeGenerator.boxedType(dataType)}) $out;
      }""")
  }
}
