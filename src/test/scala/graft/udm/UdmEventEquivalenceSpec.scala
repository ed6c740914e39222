package graft.udm

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The UDM event as it was built before its sections were rewritten to
  * fuse into whole-stage codegen: higher-order functions (`transform`,
  * `filter`, `exists`) in the DNS section, `about` and the error check,
  * and a section-or-null that copies every member into its condition.
  * Kept only as the oracle of [[UdmEventEquivalenceSpec]]. */
private object HofUdmEvent {
  import UdmExpressions.{description, eventType, f, isoMicros, robustTimestamp, sectionValues}

  private def truthy(c: Column): Column = c.isNotNull && c =!= ""
  private def tryInt(c: Column): Column = c.try_cast(IntegerType)
  private def intCastError(c: Column): Column = c.isNotNull && tryInt(c).isNull
  private val nullStr = lit(null.asInstanceOf[String])

  private def structOrNull(pairs: (String, Column)*): Column =
    when(pairs.map(_._2.isNotNull).reduce(_ || _), struct(pairs.map { case (n, c) => c.as(n) }: _*))

  private def icmpActive(l: Column): Column =
    f(l, "tcp").isNull && f(l, "udp").isNull && f(l, "icmp").isNotNull
  private def arpActive(l: Column): Column =
    f(l, "tcp").isNull && f(l, "udp").isNull && f(l, "icmp").isNull && f(l, "arp").isNotNull

  private def endpoint(l: Column, src: Boolean): Column = {
    val (ipF, ip6F, ethF, portF, arpMacF, arpIpF) =
      if (src) ("ip.src", "ipv6.src", "eth.src", "srcport", "arp.src.hw_mac", "arp.src.proto_ipv4")
      else ("ip.dst", "ipv6.dst", "eth.dst", "dstport", "arp.dst.hw_mac", "arp.dst.proto_ipv4")
    val ip = f(l, "ip"); val ipv6 = f(l, "ipv6"); val eth = f(l, "eth")
    val tcp = f(l, "tcp"); val udp = f(l, "udp"); val arp = f(l, "arp")
    structOrNull(
      "ip" -> when(arpActive(l), f(arp, arpIpF)).when(ip.isNotNull, f(ip, ipF))
        .when(ipv6.isNotNull, f(ipv6, ip6F)),
      "mac" -> when(arpActive(l), f(arp, arpMacF)).when(eth.isNotNull, f(eth, ethF)),
      "port" -> when(tcp.isNotNull, tryInt(f(tcp, s"tcp.$portF")))
        .when(udp.isNotNull, tryInt(f(udp, s"udp.$portF"))))
  }

  private def httpInfo(l: Column): Column = {
    val h = f(l, "http")
    def kept(name: String) = when(truthy(f(h, name)), f(h, name))
    when(h.isNotNull, structOrNull(
      "host" -> kept("http.host"), "file_data" -> kept("http.file_data"),
      "method" -> kept("http.request.method"), "url" -> kept("http.request.full_uri"),
      "user_agent" -> kept("http.user_agent"),
      "status_code" -> when(truthy(f(h, "http.response.code")), tryInt(f(h, "http.response.code")))))
  }

  private def dnsInfo(l: Column, qNames: Column, ttls: Column): Column = {
    val d = f(l, "dns")
    val qTypes = sectionValues(f(d, "Queries"), "dns.qry.type")
    val queries = when(qNames.isNotNull,
      transform(qNames, (n, i) => struct(n.as("name"), try_element_at(qTypes, i + 1).as("type"))))
    val answerTtls = when(ttls.isNotNull, filter(transform(ttls, t => tryInt(t)), t => t.isNotNull))
    val flagResp = f(f(d, "dns.flags_tree"), "dns.flags.response")
    when(d.isNotNull, structOrNull(
      "queries" -> queries,
      "answer_ttls" -> when(answerTtls.isNotNull && size(answerTtls) > 0, answerTtls),
      "is_response" -> when(flagResp.isNotNull, flagResp === "1")))
  }

  private def tlsInfo(l: Column, rec: Column): Column = {
    val hs = f(rec, "tls.handshake")
    def kept(c: Column) = when(truthy(c), c)
    when(f(l, "tls").isNotNull, structOrNull(
      "record_version_protocol" -> kept(f(rec, "tls.record.version")),
      "handshake_protocol_version" -> kept(f(hs, "tls.handshake.version")),
      "server_name_indication" -> kept(f(hs, "tls.handshake.extensions_server_name"))))
  }

  private def network(l: Column, app: Column): Column = {
    val tcp = f(l, "tcp"); val udp = f(l, "udp"); val icmp = f(l, "icmp")
    structOrNull(
      "ip_protocol_version" ->
        when(f(l, "ip").isNotNull, 4).when(f(l, "ipv6").isNotNull, 6).cast(IntegerType),
      "transport_protocol" -> when(tcp.isNotNull, "TCP")
        .when(udp.isNotNull, "UDP").when(icmpActive(l), "ICMP"),
      "tcp_flags" -> when(tcp.isNotNull, f(tcp, "tcp.flags")),
      "icmp_type" -> when(icmpActive(l), f(icmp, "icmp.type")),
      "icmp_code" -> when(icmpActive(l), f(icmp, "icmp.code")),
      "application_protocol_data" -> app)
  }

  private def about(l: Column, rec: Column, qNames: Column, aboutType: DataType): Column = {
    val h = f(l, "http")
    val entry = (hostname: Column, url: Column) =>
      struct(hostname.cast(StringType).as("hostname"), url.cast(StringType).as("url"))
    val none = array().cast(aboutType)
    val one = (cond: Column, e: Column) => when(cond, array(e)).otherwise(none)
    val httpEntries = concat(
      one(h.isNotNull && truthy(f(h, "http.host")), entry(f(h, "http.host"), nullStr)),
      one(h.isNotNull && truthy(f(h, "http.request.full_uri")),
        entry(nullStr, f(h, "http.request.full_uri"))))
    val dnsEntries = coalesce(transform(qNames, n => entry(n, nullStr)), none)
    val sni = f(f(rec, "tls.handshake"), "tls.handshake.extensions_server_name")
    val all = filter(concat(httpEntries, dnsEntries, one(truthy(sni), entry(sni, nullStr))),
      e => truthy(e.getField("hostname")) || truthy(e.getField("url")))
    when(size(all) > 0, all)
  }

  private def processingError(l: Column, ttls: Column): Column = {
    val tcp = f(l, "tcp"); val udp = f(l, "udp"); val h = f(l, "http")
    when(tcp.isNotNull, intCastError(f(tcp, "tcp.srcport")) || intCastError(f(tcp, "tcp.dstport")))
      .otherwise(lit(false)) ||
    when(tcp.isNull && udp.isNotNull,
      intCastError(f(udp, "udp.srcport")) || intCastError(f(udp, "udp.dstport")))
      .otherwise(lit(false)) ||
    when(h.isNotNull && truthy(f(h, "http.response.code")),
      tryInt(f(h, "http.response.code")).isNull).otherwise(lit(false)) ||
    when(ttls.isNotNull, exists(ttls, t => tryInt(t).isNull)).otherwise(lit(false))
  }

  private def metadata(ts: Column, product: String, etype: Column, desc: Column): Column =
    struct(ts.as("event_timestamp"), lit(product).as("product_name"),
      lit("Wireshark").as("vendor_name"), etype.as("event_type"), desc.as("description"))

  /** The `event` struct over the transform's pre-projected columns;
    * `event` is the UDM event type, which types the null sections. */
  def apply(l: Column, rec: Column, qNames: Column, ttls: Column, raw: Column,
            fallbackTs: Column, event: StructType): Column = {
    def nul(section: String) = lit(null).cast(event(section).dataType).as(section)
    val fallbackIso = isoMicros(fallbackTs)
    val frameNo = coalesce(f(f(l, "frame"), "frame.number"), lit("N/A"))
    val malformed = struct(
      metadata(fallbackIso, "Wireshark TShark (Malformed)", lit("NETWORK_EVENT_UNKNOWN"),
        format_string("Malformed packet data. Frame: %s", frameNo)).as("metadata"),
      nul("principal"), nul("target"), nul("network"), nul("about"), nul("additional"))
    val errMsg = lit("invalid literal for int() in packet field")
    val snippet = when(length(raw) > 1000, concat(substring(raw, 1, 1000), lit("..."))).otherwise(raw)
    val errorEvent = struct(
      metadata(fallbackIso, "Wireshark TShark (PacketProcessingError)", lit("NETWORK_EVENT_ERROR"),
        format_string("Error during UDM conversion for packet. Frame No: %s. Error: %s",
          frameNo, errMsg)).as("metadata"),
      nul("principal"), nul("target"), nul("network"), nul("about"),
      struct(nullStr.as("ip_ttl"), nullStr.as("arp_operation"),
        errMsg.as("processing_error_message"),
        snippet.as("original_packet_data_snippet")).as("additional"))
    val ts = isoMicros(robustTimestamp(f(f(l, "frame"), "frame.time_utc"), fallbackTs))
    val app = structOrNull("http" -> httpInfo(l), "dns" -> dnsInfo(l, qNames, ttls),
      "tls" -> tlsInfo(l, rec))
    val normal = struct(
      metadata(ts, "Wireshark TShark", eventType(l), description(l)).as("metadata"),
      endpoint(l, src = true).as("principal"), endpoint(l, src = false).as("target"),
      network(l, app).as("network"),
      about(l, rec, qNames, event("about").dataType).as("about"),
      structOrNull(
        "ip_ttl" -> when(f(l, "ip").isNotNull, f(f(l, "ip"), "ip.ttl")),
        "arp_operation" -> when(arpActive(l), f(f(l, "arp"), "arp.opcode")),
        "processing_error_message" -> nullStr,
        "original_packet_data_snippet" -> nullStr).as("additional"))
    struct(when(l.isNull, malformed).when(processingError(l, ttls), errorEvent)
      .otherwise(normal).as("event"))
  }
}

/** The fused event (codegen'd DNS queries, answer TTLs, `about` and
  * error check, one-pass section-or-null, per-section methods) must
  * serialize every event byte for byte as [[HofUdmEvent]] does: on the
  * edge cases of each rewrite, on decoded captures and on synthesized
  * packets: interpreted (the optimizer folds a projected local
  * relation), fused (behind a shuffle) and, for the edge cases, as a
  * generated projection of its own (whole-stage codegen off). */
class UdmEventEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  private val frozenTs = to_timestamp(lit("2030-01-01 00:00:00"))

  private def pkt(layers: String*): String =
    s"""{"_source": {"layers": {"frame": {"frame.number": "1",
       |"frame.time_utc": "Sep 15, 2025 08:00:01.000000000 UTC"}, ${layers.mkString(", ")}}}}""".stripMargin
  private val udp = """"ip": {"ip.src": "10.0.0.2", "ip.dst": "8.8.8.8", "ip.ttl": "64"},
    |"udp": {"udp.srcport": "5353", "udp.dstport": "53"}""".stripMargin
  private val tcp = """"ip": {"ip.src": "10.0.0.3", "ip.dst": "1.2.3.4"},
    |"tcp": {"tcp.srcport": "44444", "tcp.dstport": "443", "tcp.flags": "0x0018"}""".stripMargin

  /** A DNS packet: `(name, type)` queries (None omits the key) and TTLs. */
  private def dns(queries: Seq[(Option[String], Option[String])], ttls: Seq[String]): String = {
    def kv(k: String, v: Option[String]) = v.map(x => s""""$k": "$x"""")
    val qs = queries.zipWithIndex.map { case ((n, t), i) =>
      s""""q$i": {${(kv("dns.qry.name", n) ++ kv("dns.qry.type", t)).mkString(", ")}}"""
    }
    val as = ttls.zipWithIndex.map { case (t, i) => s""""a$i": {"dns.resp.ttl": "$t"}""" }
    pkt(udp, s""""dns": {"Queries": {${qs.mkString(", ")}}, "Answers": {${as.mkString(", ")}},
      |"dns.flags_tree": {"dns.flags.response": "0"}}""".stripMargin)
  }

  private val edgeCases: Seq[String] = {
    val a = Some("a.example"); val b = Some("b.example"); val t1 = Some("1"); val t28 = Some("28")
    Seq(
      dns(Seq(a -> None, b -> None), Seq("300")),                 // qTypes null
      dns(Seq(a -> t1, b -> None), Seq("300")),                   // qTypes shorter
      dns(Seq(a -> t1, None -> t28, None -> t1), Seq("300")),     // qTypes longer
      dns(Seq(Some("") -> t1, a -> t28), Nil),                    // one "" name
      dns(Seq(Some("") -> t1, Some("") -> None), Nil),            // all-"" names
      dns(Nil, Nil),                                              // no queries, no answers
      pkt(udp, """"dns": {}"""),                                  // DNS members all null
      dns(Seq(a -> t1), Seq("300", "60"))) ++
    Seq("1.5", " 7", "+3", "2147483648", "-0", "").map(t => dns(Seq(a -> t1), Seq(t))) ++
    Seq(
      dns(Seq(a -> t1), Seq("300", "x", "60")),                   // valid/invalid mix
      dns(Seq(a -> t1), Seq("300", "")),
      pkt(tcp, """"http": {"http.host": "", "http.request.full_uri": "", "http.request.method": "GET"}"""),
      pkt(tcp, """"http": {"http.host": "", "http.request.full_uri": "http://x/"}"""),
      pkt(tcp, """"http": {"http.host": "", "http.request.full_uri": ""}"""), // HTTP all null
      pkt(tcp, """"http": {}"""),
      pkt(tcp, """"tls": {"tls.record": {"tls.record.version": "0x0303",
        |"tls.handshake": {"tls.handshake.extensions_server_name": ""}}}""".stripMargin),
      pkt(tcp, """"tls": {"tls.record": [{"tls.handshake": {}}]}"""),  // TLS all null
      pkt(tcp, """"tls": {}"""),
      pkt(tcp, """"http": {"http.host": "h.example"}""",
        """"dns": {"Queries": {"q": {"dns.qry.name": "d.example"}}}""",
        """"tls": {"tls.record": {"tls.handshake": {"tls.handshake.extensions_server_name": "s.example"}}}"""),
      pkt(""""eth": {}"""),                                       // endpoints, network, additional null
      pkt(""""arp": {"arp.opcode": "2"}"""),
      pkt(""""icmp": {}"""),
      pkt(""""ipv6": {"ipv6.src": "2001:db8::1"}""", """"udp": {"udp.srcport": "x"}"""),
      pkt(tcp, """"http": {"http.response.code": "2x"}"""),
      """{"_source": {"layers": {}}}""", """{"_source": 42}""", "not json")
  }

  /** (raw, udm_json) of the transform and of the oracle, each in input order. */
  private def both(raw: DataFrame): (Seq[(String, String)], Seq[(String, String)]) = {
    val fused = UdmTransform.transform(raw, "raw", frozenTs)
    val event = fused.schema("event_struct").dataType.asInstanceOf[StructType]("event")
      .dataType.asInstanceOf[StructType]
    val l = col("__parsed._source.layers")
    val oracle = raw
      .withColumn("__parsed", graft.functions.UdmPacketParseExpr(col("raw")))
      .withColumn("__rec", try_element_at(l.getField("tls").getField("tls.record"), lit(1)))
      .withColumn("__qnames", UdmExpressions.sectionValues(
        l.getField("dns").getField("Queries"), "dns.qry.name"))
      .withColumn("__ttls", UdmExpressions.sectionValues(
        l.getField("dns").getField("Answers"), "dns.resp.ttl"))
      .select(col("id"), col("raw"), UdmTransform.toJson(HofUdmEvent(l, col("__rec"),
        col("__qnames"), col("__ttls"), col("raw"), frozenTs, event)).as("udm_json"))
    def rows(df: DataFrame) = df.select("id", "raw", "udm_json").as[(Long, String, String)]
      .collect().sortBy(_._1).toSeq.map(r => (r._2, r._3))
    (rows(fused), rows(oracle))
  }

  private def assertSame(raw: DataFrame): Unit = {
    val (got, want) = both(raw)
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) =>
      assert(g == w, s"\nfused:  ${g._2}\noracle: ${w._2}")
    }
  }

  test("edge cases of each rewritten section: interpreted, generated and fused") {
    val local = edgeCases.zipWithIndex.map { case (r, i) => (i.toLong, r) }.toDF("id", "raw")
    assertSame(local)                  // a local relation: the optimizer folds it, interpreted
    assertSame(local.repartition(1))   // behind a shuffle: whole-stage codegen
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try assertSame(local.repartition(1)) // a generated projection of its own
    finally spark.conf.unset("spark.sql.codegen.wholeStage")
  }

  test("decoded captures and synthesized packets serialize the same") {
    val decoded = graft.sources.PcapParser
      .decodeFile(graft.sources.CaptureBytes.syntheticPcap(1500, seed = 7))
      .zipWithIndex.map { case (r, i) => (i.toLong, r) }.toDF("id", "raw")
    assertSame(decoded.repartition(2))
    val events = spark.range(600).select(col("id").as("event_id"),
      timestamp_seconds(col("id") * 7919 + 1757000000L).as("ts"), (col("id") % 97).as("user_id"),
      element_at(array(Seq("click", "view", "purchase", "signup", "error").map(lit): _*),
        (col("id") % 5 + 1).cast("int")).as("event_type"))
    val synth = SynthPackets.fromEvents(events).select(col("event_id").as("id"), col("raw"))
    assertSame(synth.repartition(2))
  }
}
