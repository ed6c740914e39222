package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The error event's `original_packet_data_snippet`
  * (json2udm_cloud.py:311–317): the packet's JSON text, cut to its first
  * 1000 characters plus "..." when longer. The packet is either its raw
  * JSON text or a row of the native capture decoder, whose text
  * [[graft.sources.PcapParser.jsonOf]] writes — the same text the
  * decoder's JSON writer returns for that packet. Only rows that reach
  * the error branch evaluate it, so the native path writes no JSON for
  * any other packet. */
object PacketSnippet {
  private val Ellipsis = UTF8String.fromString("...")

  def ofText(raw: UTF8String): UTF8String =
    if (raw.numChars() > 1000) UTF8String.concat(raw.substring(0, 1000), Ellipsis) else raw

  def ofRow(packet: InternalRow): UTF8String =
    ofText(UTF8String.fromString(graft.sources.PcapParser.jsonOf(packet)))
}

case class PacketSnippetExpr(child: Expression) extends UnaryExpression {

  private def isText: Boolean = child.dataType == StringType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case st: StructType if DataType.equalsStructurally(st,
      graft.udm.PacketSchemas.parsedPacketSchema, ignoreNullability = true) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"packet_snippet expects packet JSON text or a decoded packet row, got $other")
  }

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "packet_snippet"

  override def nullSafeEval(packet: Any): Any =
    if (isText) PacketSnippet.ofText(packet.asInstanceOf[UTF8String])
    else PacketSnippet.ofRow(packet.asInstanceOf[InternalRow])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.PacketSnippet.${if (isText) "ofText" else "ofRow"}($c)")

  override protected def withNewChildInternal(newChild: Expression): PacketSnippetExpr =
    copy(child = newChild)
}

object PacketSnippetExpr {
  import org.apache.spark.sql.graftbridge.ColumnBridge
  def apply(packet: Column): Column =
    ColumnBridge.column(PacketSnippetExpr(ColumnBridge.expression(packet)))
}
