package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.JoinedRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeAndComment, CodeGenerator}
import org.apache.spark.sql.execution.{BufferedRowIterator, InputAdapter, WholeStageCodegenExec}
import org.apache.spark.sql.types.StructType

/** Bridge for running one whole-stage-codegen stage, planned and
  * generated once, over the rows of many later queries: the same steps
  * `WholeStageCodegenExec.doExecute` takes per query (generate the
  * source on the driver; in each partition compile it, a cache hit
  * after the first time per JVM, instantiate it with its references
  * and drain its buffered iterator), with the planning and the code
  * generation done once. Same pattern as [[ColumnBridge]]: it reaches
  * only the `private[sql]` frame constructor. */
object StageBridge {

  /** A generated stage: its Java source, the objects the source
    * references, and the stage's input and output schemas. */
  final case class Stage(source: CodeAndComment, references: Array[Any],
                         input: StructType, output: StructType)

  /** A frame of `schema` with no rows whose plan is an RDD scan: unlike
    * an empty local relation, the optimizer does not fold the operators
    * above it away, and the scan generates code that reads any
    * `InternalRow`. */
  def emptyFrame(spark: SparkSession, schema: StructType): DataFrame =
    frame(spark, spark.sparkContext.emptyRDD[InternalRow], schema)

  /** `rows` of `schema` as a frame. */
  def frame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)

  /** The one stage `template` plans to: its executed plan must be a
    * single `WholeStageCodegenExec` that reads its scan directly (no
    * `InputAdapter`), and its source must compile with no method over
    * `spark.sql.codegen.hugeMethodLimit` (past it, Spark would run the
    * plan without codegen). Anything else throws, naming the plan. */
  def fuse(template: DataFrame): Stage = {
    val plan = template.queryExecution.executedPlan
    val stages = plan.collect { case w: WholeStageCodegenExec => w }
    val adapters = plan.collect { case a: InputAdapter => a }
    plan match {
      case w: WholeStageCodegenExec if stages.size == 1 && adapters.isEmpty =>
        val (ctx, source) = w.doCodeGen()
        val (_, stats) = CodeGenerator.compile(source)
        val limit = template.sparkSession.conf.get("spark.sql.codegen.hugeMethodLimit").toInt
        if (stats.maxMethodCodeSize > limit)
          throw new IllegalStateException(s"a generated method of the stage has " +
            s"${stats.maxMethodCodeSize} bytes, over the $limit-byte limit:\n$plan")
        Stage(source, ctx.references.toArray, w.child.collectLeaves().head.schema,
          template.schema)
      case _ =>
        throw new IllegalStateException(
          s"the plan is not one whole-stage-codegen stage over its scan:\n$plan")
    }
  }

  /** `input`'s rows, each followed by the values of `suffix`, through
    * `stage`: the stage's input columns must be `input`'s columns then
    * `suffix`'s. Only the source and the references reach the tasks,
    * never a compiled class; each executor compiles the source once. */
  def run(stage: Stage, input: DataFrame, suffix: InternalRow): DataFrame = {
    require(input.schema.size + suffix.numFields == stage.input.size &&
      input.schema.map(_.dataType) == stage.input.take(input.schema.size).map(_.dataType),
      s"input ${input.schema.simpleString} does not match the stage's ${stage.input.simpleString}")
    val source = stage.source
    val references = stage.references
    val rows = input.queryExecution.toRdd.mapPartitionsWithIndex { (i, it) =>
      val buffer = CodeGenerator.compile(source)._1.generate(references)
        .asInstanceOf[BufferedRowIterator]
      val joined = new JoinedRow
      buffer.init(i, Array(it.map(joined(_, suffix))))
      new Iterator[InternalRow] {
        def hasNext: Boolean = buffer.hasNext
        def next(): InternalRow = buffer.next()
      }
    }
    frame(input.sparkSession, rows, stage.output)
  }
}
