package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StructType}

/** A struct that is null when every one of its fields is null: the
  * reference's empty-section dropping (json2udm_cloud.py:267–291) at
  * section level.
  *
  * The built-in spelling, `when(m1.isNotNull || m2.isNotNull …,
  * struct(m1, m2 …))`, copies every member into the condition, so each
  * member is generated twice per level, and 8× for the UDM app sections
  * nested three levels deep (inside app, inside network). This
  * evaluates the struct once and tests its fields.
  */
private[graft] case class StructOrNullExpr(child: Expression) extends UnaryExpression {

  private lazy val numFields: Int = child.dataType.asInstanceOf[StructType].length

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StructType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"struct_or_null expects a struct, got $other")
  }

  override def dataType: DataType = child.dataType
  override def nullable: Boolean = true
  override def prettyName: String = "struct_or_null"

  override def nullSafeEval(input: Any): Any = {
    val row = input.asInstanceOf[InternalRow]
    if ((0 until numFields).exists(i => !row.isNullAt(i))) row else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val i = ctx.freshName("i")
      s"""
         |${ev.isNull} = true;
         |for (int $i = 0; ${ev.isNull} && $i < $numFields; $i++) {
         |  ${ev.isNull} = $c.isNullAt($i);
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): StructOrNullExpr =
    copy(child = newChild)
}

private[graft] object StructOrNullExpr {
  import org.apache.spark.sql.graftbridge.ColumnBridge
  def apply(struct: Column): Column =
    ColumnBridge.column(StructOrNullExpr(ColumnBridge.expression(struct)))
}
