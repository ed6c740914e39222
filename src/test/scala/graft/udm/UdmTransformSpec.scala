package graft.udm

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Golden-behavior tests for the UDM transform, replacing the
  * reference's missing golden blobs (reference test/readme.md:7–15,
  * .MISSING_LARGE_BLOBS). Fixtures follow repo FIXTURES.md §A1 — one
  * variant per reference code path. */
class UdmTransformSpec extends SparkSpec {
  import spark.implicits._

  private val frozenTs = to_timestamp(lit("2030-01-01 00:00:00"))

  private def udm(rawJsons: String*): Array[Row] = {
    val df = UdmTransform.transform(rawJsons.toDF("raw"), "raw", frozenTs)
      .select("event_struct.event.*")
    df.collect()
  }

  private val httpPacket =
    """{"_source": {"layers": {
      |  "frame": {"frame.number": "1",
      |            "frame.time_utc": "Sep  5, 2025 12:34:56.123456000 UTC",
      |            "frame.protocols": "eth:ethertype:ip:tcp:http"},
      |  "eth":   {"eth.src": "aa:bb:cc:dd:ee:01", "eth.dst": "aa:bb:cc:dd:ee:02"},
      |  "ip":    {"ip.src": "10.0.0.1", "ip.dst": "93.184.216.34", "ip.ttl": "64"},
      |  "tcp":   {"tcp.srcport": "54321", "tcp.dstport": "80", "tcp.flags": "0x0018"},
      |  "http":  {"http.host": "example.com", "http.request.method": "GET",
      |            "http.request.full_uri": "http://example.com/",
      |            "http.user_agent": "curl/8.0", "http.response.code": "200"}
      |}}}""".stripMargin

  test("HTTP packet: classification, endpoints, app data, about, timestamp quirk") {
    val Array(r) = udm(httpPacket)
    val md = r.getStruct(r.fieldIndex("metadata"))
    // [:26] truncation clips ".123456000" to ".1234" → 123400 µs (py:31)
    assert(md.getString(md.fieldIndex("event_timestamp")) == "2025-09-05T12:34:56.123400Z")
    assert(md.getString(md.fieldIndex("event_type")) == "NETWORK_HTTP")
    assert(md.getString(md.fieldIndex("product_name")) == "Wireshark TShark")
    assert(md.getString(md.fieldIndex("description")) ==
      "Packet capture. Protocols: eth:ethertype:ip:tcp:http. Frame No: 1")
    val p = r.getStruct(r.fieldIndex("principal"))
    assert(p.getString(0) == "10.0.0.1" && p.getString(1) == "aa:bb:cc:dd:ee:01" && p.getInt(2) == 54321)
    val t = r.getStruct(r.fieldIndex("target"))
    assert(t.getString(0) == "93.184.216.34" && t.getInt(2) == 80)
    val n = r.getStruct(r.fieldIndex("network"))
    assert(n.getInt(n.fieldIndex("ip_protocol_version")) == 4)
    assert(n.getString(n.fieldIndex("transport_protocol")) == "TCP")
    assert(n.getString(n.fieldIndex("tcp_flags")) == "0x0018")
    val http = n.getStruct(n.fieldIndex("application_protocol_data")).getStruct(0)
    assert(http.getString(http.fieldIndex("host")) == "example.com")
    assert(http.getInt(http.fieldIndex("status_code")) == 200)
    val about = r.getSeq[Row](r.fieldIndex("about"))
    assert(about.map(a => (a.getString(0), a.getString(1))) ==
      Seq(("example.com", null), (null, "http://example.com/")))
    val add = r.getStruct(r.fieldIndex("additional"))
    assert(add.getString(add.fieldIndex("ip_ttl")) == "64")
  }

  test("DNS packet: dynamic-key queries, answer TTLs, flags, about") {
    val Array(r) = udm(
      """{"_source": {"layers": {
        |  "frame": {"frame.number": "2", "frame.time_utc": "Sep 15, 2025 08:00:01.000000000 UTC",
        |            "frame.protocols": "eth:ethertype:ip:udp:dns"},
        |  "ip":  {"ip.src": "10.0.0.2", "ip.dst": "8.8.8.8", "ip.ttl": "128"},
        |  "udp": {"udp.srcport": "5353", "udp.dstport": "53"},
        |  "dns": {"Queries": {"example.com: type A, class IN":
        |            {"dns.qry.name": "example.com", "dns.qry.type": "1"},
        |          "example.org: type AAAA, class IN":
        |            {"dns.qry.name": "example.org", "dns.qry.type": "28"}},
        |          "Answers": {"example.com: type A":
        |            {"dns.resp.name": "example.com", "dns.resp.ttl": "300"}},
        |          "dns.flags_tree": {"dns.flags.response": "1"}}
        |}}}""".stripMargin)
    val md = r.getStruct(r.fieldIndex("metadata"))
    assert(md.getString(md.fieldIndex("event_type")) == "NETWORK_DNS")
    val n = r.getStruct(r.fieldIndex("network"))
    assert(n.getString(n.fieldIndex("transport_protocol")) == "UDP")
    val dns = n.getStruct(n.fieldIndex("application_protocol_data")).getStruct(1)
    val queries = dns.getSeq[Row](dns.fieldIndex("queries"))
    assert(queries.map(q => (q.getString(0), q.getString(1))) ==
      Seq(("example.com", "1"), ("example.org", "28")))
    assert(dns.getSeq[Int](dns.fieldIndex("answer_ttls")) == Seq(300))
    assert(dns.getBoolean(dns.fieldIndex("is_response")))
    val about = r.getSeq[Row](r.fieldIndex("about"))
    assert(about.map(_.getString(0)) == Seq("example.com", "example.org"))
  }

  test("TLS packet: object-shaped record normalized, SNI extracted (intended semantics)") {
    val objShape =
      """{"_source": {"layers": {
        |  "frame": {"frame.number": "3", "frame.time_utc": "Sep 15, 2025 08:00:02.500000000 UTC"},
        |  "ip":  {"ip.src": "10.0.0.3", "ip.dst": "1.2.3.4", "ip.ttl": "60"},
        |  "tcp": {"tcp.srcport": "44444", "tcp.dstport": "443", "tcp.flags": "0x0018"},
        |  "tls": {"tls.record": {"tls.record.version": "0x0303",
        |            "tls.handshake": {"tls.handshake.version": "0x0304",
        |              "tls.handshake.extensions_server_name": "secure.example.com"}}}
        |}}}""".stripMargin
    val arrShape =
      """{"_source": {"layers": {
        |  "frame": {"frame.number": "3", "frame.time_utc": "Sep 15, 2025 08:00:02.500000000 UTC"},
        |  "ip":  {"ip.src": "10.0.0.3", "ip.dst": "1.2.3.4", "ip.ttl": "60"},
        |  "tcp": {"tcp.srcport": "44444", "tcp.dstport": "443", "tcp.flags": "0x0018"},
        |  "tls": {"tls.record": [{"tls.record.version": "0x0303",
        |            "tls.handshake": {"tls.handshake.version": "0x0304",
        |              "tls.handshake.extensions_server_name": "secure.example.com"}},
        |           {"tls.record.version": "0x0303"}]}
        |}}}""".stripMargin
    for (pkt <- Seq(objShape, arrShape)) {
      val Array(r) = udm(pkt)
      val md = r.getStruct(r.fieldIndex("metadata"))
      assert(md.getString(md.fieldIndex("event_type")) == "NETWORK_SSL")
      val n = r.getStruct(r.fieldIndex("network"))
      val tls = n.getStruct(n.fieldIndex("application_protocol_data")).getStruct(2)
      assert(tls.getString(0) == "0x0303")
      assert(tls.getString(1) == "0x0304")
      assert(tls.getString(2) == "secure.example.com")
      val about = r.getSeq[Row](r.fieldIndex("about"))
      assert(about.map(_.getString(0)) == Seq("secure.example.com"))
    }
  }

  test("ICMP and ARP classification and field mapping") {
    val Array(icmp, arp) = udm(
      """{"_source": {"layers": {
        |  "frame": {"frame.number": "4", "frame.time_utc": "Sep 15, 2025 08:00:03 UTC"},
        |  "ip":   {"ip.src": "10.0.0.4", "ip.dst": "10.0.0.1", "ip.ttl": "255"},
        |  "icmp": {"icmp.type": "8", "icmp.code": "0"}
        |}}}""".stripMargin,
      """{"_source": {"layers": {
        |  "frame": {"frame.number": "5", "frame.time_utc": "Sep 15, 2025 08:00:04 UTC"},
        |  "eth":  {"eth.src": "aa:bb:cc:dd:ee:05", "eth.dst": "ff:ff:ff:ff:ff:ff"},
        |  "arp":  {"arp.opcode": "1", "arp.src.hw_mac": "aa:bb:cc:dd:ee:05",
        |           "arp.src.proto_ipv4": "10.0.0.5", "arp.dst.hw_mac": "00:00:00:00:00:00",
        |           "arp.dst.proto_ipv4": "10.0.0.1"}
        |}}}""".stripMargin)
    val mdI = icmp.getStruct(icmp.fieldIndex("metadata"))
    assert(mdI.getString(mdI.fieldIndex("event_type")) == "NETWORK_ICMP")
    // no-micros " UTC"-suffixed timestamp takes the fallback parse (py:34–38)
    assert(mdI.getString(mdI.fieldIndex("event_timestamp")) == "2025-09-15T08:00:03.000000Z")
    val nI = icmp.getStruct(icmp.fieldIndex("network"))
    assert(nI.getString(nI.fieldIndex("transport_protocol")) == "ICMP")
    assert(nI.getString(nI.fieldIndex("icmp_type")) == "8")
    assert(nI.getString(nI.fieldIndex("icmp_code")) == "0")

    val mdA = arp.getStruct(arp.fieldIndex("metadata"))
    assert(mdA.getString(mdA.fieldIndex("event_type")) == "NETWORK_ARP")
    val pA = arp.getStruct(arp.fieldIndex("principal"))
    assert(pA.getString(0) == "10.0.0.5" && pA.getString(1) == "aa:bb:cc:dd:ee:05")
    assert(pA.isNullAt(2))
    val addA = arp.getStruct(arp.fieldIndex("additional"))
    assert(addA.getString(addA.fieldIndex("arp_operation")) == "1")
  }

  test("IPv6/UDP packet") {
    val Array(r) = udm(
      """{"_source": {"layers": {
        |  "frame": {"frame.number": "6", "frame.time_utc": "Sep 15, 2025 08:00:05.250000000 UTC"},
        |  "ipv6": {"ipv6.src": "2001:db8::1", "ipv6.dst": "2001:db8::2"},
        |  "udp":  {"udp.srcport": "1111", "udp.dstport": "2222"}
        |}}}""".stripMargin)
    val n = r.getStruct(r.fieldIndex("network"))
    assert(n.getInt(n.fieldIndex("ip_protocol_version")) == 6)
    val p = r.getStruct(r.fieldIndex("principal"))
    assert(p.getString(0) == "2001:db8::1" && p.getInt(2) == 1111)
    assert(r.isNullAt(r.fieldIndex("additional"))) // no ip_ttl for v6 (py:143)
  }

  test("P14 invariant: malformed, corrupt, and would-throw inputs still yield one event each") {
    val rows = udm(
      """{"no_source": true}""",
      """this is not json at all""",
      """{"_source": {"layers": {
        |  "frame": {"frame.number": "7", "frame.time_utc": "garbage"},
        |  "ip":  {"ip.src": "10.0.0.7", "ip.dst": "10.0.0.8"},
        |  "tcp": {"tcp.srcport": "not_a_port", "tcp.dstport": "80"}
        |}}}""".stripMargin)
    assert(rows.length == 3)
    val types = rows.map { r =>
      val md = r.getStruct(r.fieldIndex("metadata"))
      (md.getString(md.fieldIndex("event_type")), md.getString(md.fieldIndex("product_name")))
    }
    assert(types(0) == (("NETWORK_EVENT_UNKNOWN", "Wireshark TShark (Malformed)")))
    assert(types(1) == (("NETWORK_EVENT_UNKNOWN", "Wireshark TShark (Malformed)")))
    assert(types(2) == (("NETWORK_EVENT_ERROR", "Wireshark TShark (PacketProcessingError)")))
    val err = rows(2)
    val add = err.getStruct(err.fieldIndex("additional"))
    assert(add.getString(add.fieldIndex("original_packet_data_snippet")).contains("not_a_port"))
    // frozen fallback timestamp → deterministic
    val md = rows(0).getStruct(rows(0).fieldIndex("metadata"))
    assert(md.getString(md.fieldIndex("event_timestamp")) == "2030-01-01T00:00:00.000000Z")
  }

  test("timestamp cascade variants (P3)") {
    def tsOf(raw: String): String = {
      val Array(r) = udm(
        s"""{"_source": {"layers": {"frame": {"frame.number": "9", "frame.time_utc": "$raw"}}}}""")
      val md = r.getStruct(r.fieldIndex("metadata"))
      md.getString(md.fieldIndex("event_timestamp"))
    }
    assert(tsOf("Sep 15, 2025 08:00:05.250000000 UTC") == "2025-09-15T08:00:05.250000Z")
    assert(tsOf("Sep  5, 2025 12:34:56.123456000 UTC") == "2025-09-05T12:34:56.123400Z")
    assert(tsOf("Jul 01, 2024 23:59:59 UTC") == "2024-07-01T23:59:59.000000Z")
    assert(tsOf("Jul 01, 2024 23:59:59 Central European Summer Time") == "2024-07-01T23:59:59.000000Z")
    assert(tsOf("not a time") == "2030-01-01T00:00:00.000000Z")
    assert(tsOf("") == "2030-01-01T00:00:00.000000Z")
  }

  test("JSON serialization omits empty sections and null fields (P12)") {
    val df = UdmTransform.transform(Seq(httpPacket).toDF("raw"), "raw", frozenTs)
      .select(col("udm_json").as("j"))
    val j = df.collect()(0).getString(0)
    assert(j.contains(""""event":{"metadata":{"event_timestamp":"2025-09-05T12:34:56.123400Z""""))
    assert(!j.contains("null"))
    assert(!j.contains("file_data")) // absent field omitted
    assert(!j.contains("icmp_type"))
    // malformed event serializes to metadata-only (py:107–111)
    val dfm = UdmTransform.transform(Seq("""{"x":1}""").toDF("raw"), "raw", frozenTs)
      .select(col("udm_json").as("j"))
    val jm = dfm.collect()(0).getString(0)
    assert(!jm.contains("principal") && !jm.contains("network") && !jm.contains("additional"))
  }

  test("udm_classify_pipeline output is globally event_id-ordered with no global Sort") {
    // The query's ordering contract (CLAUDE.md invariant) is carried by
    // plan CONSTRUCTION — range-partition + sort the cheap input, keep
    // the transform narrow — with deliberately NO trailing .orderBy
    // (EliminateSorts would drop the input sort and a top-level Sort
    // would buffer/re-execute the expensive transform). Until now only
    // the driver's order-sensitive compare enforced it; this guards it
    // in-repo against an EliminateSorts-vulnerable refactor.
    val df = graft.queries.Registry.all.find(_.name == "udm_classify_pipeline").get
      .build(spark, "/root/testdata/sf0.001")
    val ids = df.select("event_id").collect().map(_.getLong(0))
    assert(ids.nonEmpty, "pipeline produced no rows")
    assert(ids.sameElements(ids.sorted), "output not globally event_id-ordered")
    // structural half: no global Sort anywhere (the input sort is
    // partition-local; a trailing orderBy would plan "Sort [...], true")
    val plan = df.queryExecution.executedPlan.toString
    assert(!"""Sort \[[^\]]*\], true""".r.findFirstIn(plan).isDefined,
      s"global Sort found in plan:\n$plan")
  }

  test("A1/A2 per-file counts") {
    import org.apache.spark.sql.functions.{col => c}
    val df = UdmTransform.transform(Seq(
      ("f1", httpPacket),
      ("f1", """{"_source": {"layers": {"frame": {"frame.number": "8", "frame.time_utc": "x"}, "tcp": {"tcp.srcport": "bad"}}}}"""),
      ("f2", httpPacket)).toDF("source_file", "raw"), "raw", frozenTs)
      .withColumn("product_name", c("event_struct.event.metadata.product_name"))
    val counts = UdmTransform.perFileCounts(df).orderBy("file").collect()
    assert(counts.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("f1", 2L, 1L), ("f2", 1L, 0L)))
  }

  test("toUdm compiles its projection once: a new current_timestamp() per run reuses it") {
    import org.apache.spark.metrics.source.CodegenMetrics
    // each action binds current_timestamp() to a new literal, as each
    // micro-batch does; the generated source must not carry it. The
    // repartition keeps the input from folding into a LocalRelation,
    // which the driver would evaluate without any codegen.
    val packets = Seq(httpPacket, "not json at all",
      """{"_source": {"layers": {"frame": {"frame.time_utc": "x"}, "tcp": {"tcp.srcport": "bad"}}}}""")
      .toDF("raw").withColumn("source_file", lit("f")).repartition(1)
    def run(): Array[Row] = graft.streaming.StreamingPipeline.toUdm(packets).collect()
    assert(run().length == 3) // the first run compiles and fills the cache
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val second = run()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == before,
      "the second run compiled a new class")
    assert(second.map(_.getAs[Boolean]("is_error")).toSeq == Seq(false, true, true))
  }

  test("toUdm fuses the event projection into whole-stage codegen, every method JIT-sized") {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    import org.apache.spark.sql.execution.{GenerateExec, InputAdapter, ProjectExec, SparkPlan,
      WholeStageCodegenExec}
    // a Project outside every WholeStageCodegen node regenerates its
    // source in every task and runs its CodegenFallback members
    // interpreted; HotSpot never JIT-compiles a method over 8,000 bytes
    // (HugeMethodLimit), so a larger generated method stays interpreted
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // packet JSON text, and the native decoder's packet rows
    val capture = java.nio.file.Files.createTempFile("graft_fused", ".pcap")
    java.nio.file.Files.write(capture, graft.sources.CaptureBytes.syntheticPcap(64))
    try Seq(
      Seq(httpPacket).toDF("raw").withColumn("source_file", lit("f")).repartition(1),
      graft.sources.PcapDecode.decodePathsContained(spark, Seq(capture.toString))
    ).foreach { packets =>
      val plan = graft.streaming.StreamingPipeline.toUdm(packets).queryExecution.executedPlan
      val fallbacks = plan.flatMap(_.expressions.flatMap(_.collect {
        case e: CodegenFallback => e.prettyName })).groupBy(identity).view.mapValues(_.size).toMap
      assert(fallbacks.isEmpty, s"CodegenFallback expressions in the plan: $fallbacks")
      // the operators a stage generates: its tree down to its inputs
      def fused(p: SparkPlan): Seq[SparkPlan] = p match {
        case _: InputAdapter => Nil
        case _ => p +: p.children.flatMap(fused)
      }
      val isEvent: SparkPlan => Boolean = {
        case p: ProjectExec => p.projectList.exists(_.name == "event_struct")
        case _ => false
      }
      val stages = plan.collect { case w: WholeStageCodegenExec => w }
      assert(stages.count(w => fused(w.child).exists(isEvent)) == 1,
        s"the event Project is not under a WholeStageCodegen node:\n$plan")
      // the native decode runs in the same stage: its rows are never copied
      plan.collect { case g: GenerateExec => g }.foreach { g =>
        assert(stages.exists(w => fused(w.child).exists(isEvent) && fused(w.child).contains(g)),
          s"the capture decode is not fused with the event Project:\n$plan")
      }
      val methodBytes = org.apache.spark.sql.execution.debug.codegenStringSeq(plan)
        .map(_._3.maxMethodCodeSize)
      assert(methodBytes.nonEmpty && methodBytes.forall(b => b > 0 && b <= 8000),
        s"largest generated method per stage (bytes): $methodBytes")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      java.nio.file.Files.delete(capture)
    }
  }
}
