package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{DateTimeUtils, LegacyDateFormats, TimestampFormatter}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.StageBridge
import org.apache.spark.sql.types.{BinaryType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The capture→UDM stage ([[StreamingPipeline.toUdm]]) planned and
  * code-generated once per session and input kind, so that a capture
  * micro-batch plans only its own scan. Structured Streaming plans every
  * trigger afresh (Armbrust et al., SIGMOD 2018), and planned per batch
  * this stage costs more than its rows: building and analyzing the
  * event projection's column tree, planning it and generating about
  * 275k characters of Java, which each sink would plan again. The
  * generated source is the same text in every batch; only the file list
  * and the fallback timestamp change, and the timestamp enters as an
  * input column.
  *
  * The template is `toUdm`'s own definition
  * ([[StreamingPipeline.udmColumns]]) over an empty frame of the kind's
  * input columns, so the prepared stage and the planned transform have
  * one definition; UdmStageSpec pins them byte for byte. A template
  * that does not plan to one fused stage (say, under
  * `spark.sql.codegen.wholeStage=false`) throws when the pipeline is
  * built, not at its first batch, where the retry budget would
  * dead-letter it. */
private[graft] object UdmStage {

  private val fallbackCol = "__fallback_iso"

  /** A stage input: `columns` of each batch's rows, then the fallback
    * timestamp as ISO text. */
  sealed abstract class Kind(columns: StructField*) {
    val input: StructType = StructType(columns :+ StructField(fallbackCol, StringType))
    /** The `(source_file, raw, fallback)` packets of the input rows. */
    private[UdmStage] def packets(in: DataFrame): DataFrame
  }

  /** Binary captures as [[graft.sources.PcapDecode.captureFiles]] reads
    * them, decoded by the native parser inside the stage. */
  case object Pcap extends Kind(StructField("path", StringType),
      StructField("content", BinaryType)) {
    private[UdmStage] def packets(in: DataFrame): DataFrame = in.select(
      col("path").as("source_file"), graft.sources.PcapDecode.decodeColumn().as("raw"),
      col(fallbackCol))
  }

  /** tshark-JSON packets, one `raw` text per row, as
    * [[graft.udm.UdmTransform.splitCaptures]] writes them. */
  case object TsharkJson extends Kind(StructField("source_file", StringType),
      StructField("raw", StringType)) {
    private[UdmStage] def packets(in: DataFrame): DataFrame = in
  }

  /** How many stages were prepared in this JVM (a spec seam). */
  private[graft] val preparations = new java.util.concurrent.atomic.AtomicLong(0)

  private final class Prepared(val conf: Map[String, String], val stage: StageBridge.Stage)

  private val prepared = new java.util.WeakHashMap[SparkSession, Map[Kind, Prepared]]()

  /** The stage of `kind` for `spark`: the one prepared before, unless
    * the session's SQL conf changed since, which may change the plan. */
  def stage(spark: SparkSession, kind: Kind): StageBridge.Stage = prepared.synchronized {
    val conf = spark.conf.getAll
    val byKind = Option(prepared.get(spark)).getOrElse(Map.empty[Kind, Prepared])
    byKind.get(kind).filter(_.conf == conf).map(_.stage).getOrElse {
      val template = StreamingPipeline.udmColumns(
        kind.packets(StageBridge.emptyFrame(spark, kind.input)), col(fallbackCol))
      val s = try StageBridge.fuse(template) catch {
        case e: IllegalStateException => throw new IllegalStateException(
          s"the UDM stage for ${kind.toString} input cannot be prepared: ${e.getMessage}", e)
      }
      preparations.incrementAndGet()
      prepared.put(spark, byKind + (kind -> new Prepared(conf, s)))
      s
    }
  }

  /** `input`'s rows (the columns of `kind`, in order) through the
    * prepared stage with `fallbackIso` as their fallback timestamp:
    * `source_file`, `udm_json`, `is_error`, `product_name`, as
    * [[StreamingPipeline.toUdm]] gives them. */
  def apply(spark: SparkSession, kind: Kind, input: DataFrame, fallbackIso: String): DataFrame =
    StageBridge.run(stage(spark, kind), input, InternalRow(UTF8String.fromString(fallbackIso)))

  /** `micros` as `isoMicros` text in the session time zone, formatted
    * the way `date_format` formats it. */
  def isoMicros(spark: SparkSession, micros: Long): String =
    TimestampFormatter("yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
      DateTimeUtils.getZoneId(spark.conf.get("spark.sql.session.timeZone")),
      LegacyDateFormats.SIMPLE_DATE_FORMAT, isParsing = false).format(micros) + "Z"

  /** The fallback timestamp of a batch that starts now: what
    * `isoMicros(current_timestamp())` would give. */
  def fallbackNow(spark: SparkSession): String =
    isoMicros(spark, DateTimeUtils.instantToMicros(java.time.Instant.now()))
}
