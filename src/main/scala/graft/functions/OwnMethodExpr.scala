package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, SimpleExprValue, SubExprBridge}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.DataType

/** Its child, generated into a private method of its own inside
  * whole-stage codegen; transparent everywhere else.
  *
  * Whole-stage codegen does not split expressions: an operator's whole
  * projection lands in one consume method. HotSpot never JIT-compiles a
  * method over 8,000 bytes of bytecode (`-XX:HugeMethodLimit`), so a
  * large projection runs interpreted for the life of the JVM. Wrapping
  * each large member in this expression bounds the methods. The
  * technique is Spark's own `HashAggregateExec.splitAggregateExpressions`:
  * the method takes as parameters the local variables its body reads
  * (the operator's input variables and the eliminated subexpressions,
  * found by `CodeGenerator.getLocalInputVariableValues`), and input
  * variables the operator evaluates lazily are evaluated before the
  * call. Where a body reads a local that is not a plain variable, or the
  * parameters would pass the JVM limit, the child is generated inline.
  *
  * Outside whole-stage codegen `Expression.genCode` already moves any
  * large expression into its own method, so the child is generated as
  * is. `name` prefixes the method name (it shows in stack traces and
  * profiles). Only reference-typed children are split: the method
  * returns null for a null result.
  */
private[graft] case class OwnMethodExpr(child: Expression, name: String) extends UnaryExpression {

  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "own_method"
  override def eval(input: InternalRow): Any = child.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    if (ctx.currentVars == null || CodeGenerator.isPrimitiveType(dataType)) {
      return child.genCode(ctx)
    }
    val subExprs = SubExprBridge.states(ctx)
    val locals = ctx.currentVars.filter(_ != null).flatMap(v => Seq(v.value, v.isNull)) ++
      subExprs.values.flatMap(s => Seq(s.eval.value, s.eval.isNull))
    // marks the lazily evaluated inputs the child reads as evaluated and
    // returns their code, which must run before the call
    val (inputs, lazyInputs) = CodeGenerator.getLocalInputVariableValues(ctx, child, subExprs)
    val evalInputs = lazyInputs.toSeq.map(_.code.toString).sorted.mkString("\n")
    val params = inputs.toSeq.sortBy(_.variableName)
    val eval = child.genCode(ctx)
    if (locals.exists(_.isInstanceOf[SimpleExprValue]) ||
        !CodeGenerator.isValidParamLength(CodeGenerator.calculateParamLengthFromExprValues(params))) {
      return eval.copy(code = code"$evalInputs" + eval.code)
    }
    val javaType = CodeGenerator.javaType(dataType)
    val fn = ctx.freshName(name)
    val paramList = params.map(v => s"${CodeGenerator.typeName(v.javaType)} ${v.variableName}")
    val call = ctx.addNewFunction(fn,
      s"""
         |private $javaType $fn(${paramList.mkString(", ")}) {
         |  ${eval.code}
         |  return ${eval.isNull} ? null : ${eval.value};
         |}
       """.stripMargin)
    ev.copy(code =
      code"""
        $evalInputs
        $javaType ${ev.value} = $call(${params.map(_.variableName).mkString(", ")});
        boolean ${ev.isNull} = ${ev.value} == null;
      """)
  }

  override protected def withNewChildInternal(newChild: Expression): OwnMethodExpr =
    copy(child = newChild)
}

private[graft] object OwnMethodExpr {
  import org.apache.spark.sql.graftbridge.ColumnBridge
  def apply(c: Column, name: String): Column =
    ColumnBridge.column(OwnMethodExpr(ColumnBridge.expression(c), name))
}
