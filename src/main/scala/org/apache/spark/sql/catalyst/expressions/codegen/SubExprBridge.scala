package org.apache.spark.sql.catalyst.expressions.codegen

import org.apache.spark.sql.catalyst.expressions.ExpressionEquals

/** Read-only bridge to the codegen context's subexpression-elimination
  * states, which are package-private to Catalyst. A generated method
  * must take every local variable its body reads as a parameter, and
  * the eliminated subexpressions are such locals; Spark's own splitter
  * (`HashAggregateExec.splitAggregateExpressions`) passes this map to
  * `CodeGenerator.getLocalInputVariableValues` for the same reason.
  * Same pattern as `graftbridge.ColumnBridge`; nothing is written. */
object SubExprBridge {
  def states(ctx: CodegenContext): Map[ExpressionEquals, SubExprEliminationState] =
    ctx.subExprEliminationExprs
}
