package graft.udm

import org.apache.spark.sql.types._

/** Explicit ingest schema for tshark `-T json` packet arrays.
  *
  * The reference parses tshark JSON dynamically with `.get()` chains
  * (reference processor/json2udm_cloud.py:48–72, 113–124); at 100 TB scale
  * per-file schema inference is non-deterministic and slow, so we pin an
  * explicit permissive schema instead (SURVEY.md §1.2). Notes:
  *
  *  - every leaf tshark emits is a JSON string → StringType, cast on use
  *    (json2udm_cloud.py:140–175);
  *  - tshark field names contain dots (`"frame.number"`) → fields must be
  *    addressed with backticks: ``col("p.frame.`frame.number`")``;
  *  - DNS `Queries`/`Answers` are dynamic-key objects (display string →
  *    fields; json2udm_cloud.py:74–88) → MapType(String, Struct);
  *  - `tls.record` may be a single object OR an array
  *    (json2udm_cloud.py:229–236) → declared StringType here (Spark's
  *    Jackson parser captures the raw subtree) and normalized to an array
  *    by [[UdmExpressions.tlsRecords]].
  */
object PacketSchemas {

  val frameSchema: StructType = StructType(Seq(
    StructField("frame.number", StringType),
    StructField("frame.time_utc", StringType),
    StructField("frame.protocols", StringType)))

  val ethSchema: StructType = StructType(Seq(
    StructField("eth.src", StringType),
    StructField("eth.dst", StringType)))

  /** Linux cooked capture header (LINKTYPE_SLL): the packet type and the
    * EtherType the payload is keyed by. */
  val sllSchema: StructType = StructType(Seq(
    StructField("sll.pkttype", StringType),
    StructField("sll.etype", StringType)))

  val ipSchema: StructType = StructType(Seq(
    StructField("ip.src", StringType),
    StructField("ip.dst", StringType),
    StructField("ip.ttl", StringType)))

  val ipv6Schema: StructType = StructType(Seq(
    StructField("ipv6.src", StringType),
    StructField("ipv6.dst", StringType)))

  val tcpSchema: StructType = StructType(Seq(
    StructField("tcp.srcport", StringType),
    StructField("tcp.dstport", StringType),
    StructField("tcp.flags", StringType)))

  val udpSchema: StructType = StructType(Seq(
    StructField("udp.srcport", StringType),
    StructField("udp.dstport", StringType)))

  val icmpSchema: StructType = StructType(Seq(
    StructField("icmp.type", StringType),
    StructField("icmp.code", StringType)))

  val arpSchema: StructType = StructType(Seq(
    StructField("arp.opcode", StringType),
    StructField("arp.src.hw_mac", StringType),
    StructField("arp.src.proto_ipv4", StringType),
    StructField("arp.dst.hw_mac", StringType),
    StructField("arp.dst.proto_ipv4", StringType)))

  val dnsQuerySchema: StructType = StructType(Seq(
    StructField("dns.qry.name", StringType),
    StructField("dns.qry.type", StringType)))

  val dnsAnswerSchema: StructType = StructType(Seq(
    StructField("dns.resp.name", StringType),
    StructField("dns.resp.ttl", StringType)))

  val dnsSchema: StructType = StructType(Seq(
    StructField("Queries", MapType(StringType, dnsQuerySchema)),
    StructField("Answers", MapType(StringType, dnsAnswerSchema)),
    StructField("dns.flags_tree", StructType(Seq(
      StructField("dns.flags.response", StringType))))))

  val httpSchema: StructType = StructType(Seq(
    StructField("http.host", StringType),
    StructField("http.file_data", StringType),
    StructField("http.request.method", StringType),
    StructField("http.request.full_uri", StringType),
    StructField("http.user_agent", StringType),
    StructField("http.response.code", StringType)))

  /** `tls.record` kept as raw JSON text: tshark emits object OR array
    * (json2udm_cloud.py:229–236); normalized downstream. */
  val tlsSchema: StructType = StructType(Seq(
    StructField("tls.record", StringType)))

  val tlsRecordSchema: StructType = StructType(Seq(
    StructField("tls.record.version", StringType),
    StructField("tls.handshake", StructType(Seq(
      StructField("tls.handshake.version", StringType),
      StructField("tls.handshake.extensions_server_name", StringType))))))

  val layersSchema: StructType = StructType(Seq(
    StructField("frame", frameSchema),
    StructField("eth", ethSchema),
    StructField("sll", sllSchema),
    StructField("ip", ipSchema),
    StructField("ipv6", ipv6Schema),
    StructField("tcp", tcpSchema),
    StructField("udp", udpSchema),
    StructField("icmp", icmpSchema),
    StructField("arp", arpSchema),
    StructField("dns", dnsSchema),
    StructField("http", httpSchema),
    StructField("tls", tlsSchema)))

  /** Root schema of one tshark packet object. */
  val packetSchema: StructType = StructType(Seq(
    StructField("_source", StructType(Seq(
      StructField("layers", layersSchema))))))

  // ---- native-parse variant (graft.functions.UdmPacketParseExpr) ----
  // Same shape as [[packetSchema]] except `tls.record` is normalized
  // during the parse itself: tshark emits an object for one record and
  // an array for several (json2udm_cloud.py:229–236), and the custom
  // parser folds both into array<tlsRecordSchema> — eliminating the
  // raw-string capture + second from_json round trip.

  val parsedTlsSchema: StructType = StructType(Seq(
    StructField("tls.record", ArrayType(tlsRecordSchema))))

  val parsedLayersSchema: StructType = StructType(
    layersSchema.fields.map {
      case StructField("tls", _, n, m) => StructField("tls", parsedTlsSchema, n, m)
      case other => other
    })

  /** Root schema produced by the codegen'd native packet parser, and of
    * the rows the native capture decoder writes directly
    * ([[graft.sources.PcapParser.decodeRows]]). */
  val parsedPacketSchema: StructType = StructType(Seq(
    StructField("_source", StructType(Seq(
      StructField("layers", parsedLayersSchema))))))
}
