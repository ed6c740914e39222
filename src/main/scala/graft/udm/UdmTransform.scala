package graft.udm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

/** End-to-end pcap-JSON → UDM transform (the reference's entry point C,
  * processor/json2udm_cloud.py:319–362) as DataFrame transforms.
  *
  * The engine's ingest format is tshark `-T json` output (one JSON array
  * of packet objects per capture file), exactly what the reference's
  * processor consumes after its tshark subprocess hop
  * (processor/processor_app.py:149–155). Spark reads those files
  * distributed; the per-packet projection is narrow (no shuffle), so the
  * plan scales linearly with input — the 100 TB path is scan → codegen'd
  * projection → write, with only the per-file metric aggregation
  * shuffling (by file name, i.e. ~#files keys).
  */
object UdmTransform {

  /** The one capture-split step every capture reader shares: a
    * wholetext read of tshark-JSON captures (one `value` row per file,
    * with the file source's `_metadata`) → one `(source_file, raw)` row
    * per packet. A file that is not a JSON array yields ONE row with its
    * whole text, which the total transform turns into a Malformed event
    * — the reference's whole-file error containment
    * (json2udm_cloud.py:350–360) at row granularity, so every input file
    * is accounted for. `source_file` is `_metadata.file_path` for batch
    * and stream reads alike, so a capture keys its per-file counts the
    * same way through every pipeline. */
  private[graft] def splitCaptures(wholetext: DataFrame): DataFrame =
    wholetext
      .select(col("_metadata.file_path").as("source_file"), col("value"))
      .select(col("source_file"),
        explode(coalesce(from_json(col("value"), ArrayType(StringType)),
          array(col("value")))).as("raw"))

  /** Serialize with empty-section omission (json2udm_cloud.py:267–291):
    * nulls live inside the plan; omission is a serialization concern.
    * Native codegen'd serializer, byte-identical to
    * `to_json(..., ignoreNullFields=true)` (spec-enforced) but not
    * CodegenFallback — the sink projection stays in the fused span. */
  def toJson(event: Column): Column =
    graft.functions.StructToJsonExpr(event)

  /** A1/A2 — per-file packet + error counts (json2udm_cloud.py:325–348,
    * the `UDM_PACKETS_PROCESSED` / `UDM_PACKET_ERRORS` log lines) over
    * `source_file` and the event's `product_name`.
    * Map-side partial aggregation makes this cheap at any scale: the
    * shuffle key cardinality is the number of files. */
  def perFileCounts(udm: DataFrame): DataFrame =
    udm.groupBy(col("source_file").as("file"))
      .agg(
        count(lit(1)).as("packets_processed"),
        sum(when(col("product_name")
          .contains("PacketProcessingError"), 1L).otherwise(0L)).as("packet_errors"))

  /** P12/P14 — the one UDM entry point: a column of packets → the input
    * rows plus `event_struct` (its `event` field is the UDM event) and
    * `udm_json` (its serialization). The packet column `rawCol` is
    * either
    *  - raw packet JSON text (tshark-JSON captures, the
    *    [[graft.sources.PcapDecode.processDecoder]] and
    *    [[graft.sources.PcapDecode.stubDecoder]] decodes), parsed here
    *    by the codegen'd native [[graft.functions.UdmPacketParseExpr]]
    *    (one streaming Jackson pass, `tls.record` object-or-array
    *    normalized in the parser), or
    *  - the [[PacketSchemas.parsedPacketSchema]] row the native capture
    *    decoder writes ([[graft.sources.PcapDecode.decodePathsContained]]),
    *    taken as it is: no JSON text is written or parsed.
    * Both give byte-identical `udm_json` for the same packet.
    *
    * A total row→row transform: EVERY input row yields exactly one
    * event (the reference's core invariant, json2udm_cloud.py:94–96):
    *  - unparseable JSON, a null packet row or missing `_source.layers`
    *    → minimal NETWORK_EVENT_UNKNOWN "Malformed" event (py:104–111);
    *  - would-throw int casts → NETWORK_EVENT_ERROR with message and a
    *    ≤1000-char snippet of the packet's JSON text (py:296–317),
    *    written from a packet row only for the rows on this branch;
    *  - otherwise the full mapped event.
    * Null-section omission (py:267–291) happens at serialization — see
    * [[toJson]].
    *
    * The packet is projected into its own column, so each packet is
    * parsed once however many fields reference it. The parse, the event
    * projection and the serializer fuse into one whole-stage-codegen
    * stage, generated once per query, not per task; the event's sections
    * are generated into methods of their own so that each stays small
    * enough to JIT-compile (see [[UdmExpressions.udmEventPre]]). */
  def transform(packets: DataFrame, rawCol: String,
                fallbackTs: Column = current_timestamp()): DataFrame =
    transformIso(packets, rawCol, UdmExpressions.isoMicros(fallbackTs))

  /** [[transform]] with its fallback timestamp given as
    * [[UdmExpressions.isoMicros]] text, which may be an input column. */
  private[graft] def transformIso(packets: DataFrame, rawCol: String,
                                  fallbackIso: Column): DataFrame = {
    import UdmExpressions.{f, sectionValues}
    val parsed = packets.schema(rawCol).dataType match {
      case StringType => graft.functions.UdmPacketParseExpr(col(rawCol))
      case _ => col(rawCol)
    }
    val l = col("__parsed").getField("_source").getField("layers")
    packets
      .withColumn("__parsed", parsed)
      // hot multiply-referenced sub-expressions get their own columns so
      // each is computed once per row regardless of downstream fan-out
      .withColumn("__tls_recs", f(f(l, "tls"), "tls.record"))
      .withColumn("__qnames", sectionValues(f(f(l, "dns"), "Queries"), "dns.qry.name"))
      .withColumn("__ttls", sectionValues(f(f(l, "dns"), "Answers"), "dns.resp.ttl"))
      .withColumn("event_struct", UdmExpressions.udmEventPre(
        l, try_element_at(col("__tls_recs"), lit(1)),
        col("__qnames"), col("__ttls"), col(rawCol), fallbackIso))
      .drop("__parsed", "__tls_recs", "__qnames", "__ttls")
      .withColumn("udm_json", toJson(col("event_struct")))
  }
}
