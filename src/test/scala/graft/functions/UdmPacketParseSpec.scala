package graft.functions

import graft.SparkSpec
import graft.udm.{PacketSchemas, SynthPackets}
import org.apache.spark.sql.functions._

/** Semantics of the native codegen'd packet parser against the
  * behaviors the pipeline can observe from `from_json` PERMISSIVE, plus
  * the equivalence of the format_string packet synthesis with the
  * original typed-struct builder (the executable spec of the shapes). */
class UdmPacketParseSpec extends SparkSpec {
  import spark.implicits._

  private def parse1(raw: String) =
    Seq(raw).toDF("raw")
      .select(UdmPacketParseExpr(col("raw")).as("p"))
      .select(col("p._source.layers").as("l"))
      .head()

  test("good packet: leaves, dynamic-key dns map, tls object→array normalize") {
    val l = parse1(
      """{"_source":{"layers":{
        |"frame":{"frame.number":"7","frame.time_utc":"Sep  5, 2025 12:34:56.123456000 UTC","frame.protocols":"eth:ethertype:ip:udp:dns"},
        |"ip":{"ip.src":"10.0.0.1","ip.dst":"10.0.0.2","ip.ttl":"64"},
        |"udp":{"udp.srcport":"5353","udp.dstport":"53"},
        |"dns":{"Queries":{"a.example: type A, class IN":{"dns.qry.name":"a.example","dns.qry.type":"1"},
        |                  "b.example: type A, class IN":{"dns.qry.name":"b.example","dns.qry.type":"1"}},
        |       "dns.flags_tree":{"dns.flags.response":"0"}},
        |"tls":{"tls.record":{"tls.record.version":"0x0303","tls.handshake":{"tls.handshake.version":"0x0304","tls.handshake.extensions_server_name":"x.net"}}}
        |}}}""".stripMargin.replace("\n", "")).getStruct(0)
    val frame = l.getStruct(l.fieldIndex("frame"))
    assert(frame.getString(0) == "7")
    val dns = l.getStruct(l.fieldIndex("dns"))
    val queries = dns.getMap[String, org.apache.spark.sql.Row](0)
    assert(queries.size == 2)
    assert(queries("a.example: type A, class IN").getString(0) == "a.example")
    val tls = l.getStruct(l.fieldIndex("tls"))
    val recs = tls.getSeq[org.apache.spark.sql.Row](0)
    assert(recs.length == 1) // single object normalized to 1-element array
    assert(recs.head.getString(0) == "0x0303")
    assert(recs.head.getStruct(1).getString(1) == "x.net")
    assert(l.isNullAt(l.fieldIndex("tcp"))) // absent layer → null struct
  }

  test("tls.record array stays an array; elements in order") {
    val l = parse1(
      """{"_source":{"layers":{"tls":{"tls.record":[
        |{"tls.record.version":"0x0301"},{"tls.record.version":"0x0303"}]}}}}"""
        .stripMargin.replace("\n", "")).getStruct(0)
    val recs = l.getStruct(l.fieldIndex("tls")).getSeq[org.apache.spark.sql.Row](0)
    assert(recs.map(_.getString(0)) == Seq("0x0301", "0x0303"))
  }

  test("malformed / non-object inputs degrade to null like the from_json path") {
    // whole row null → layers null → Malformed branch downstream
    for (bad <- Seq("corrupt bytes", "[1,2]", "\"str\"", "", "{\"_source\": 42}",
      "{\"_source\":{\"layers\": \"nope\"}}", "{\"_source\":{\"layers\":[1]}}")) {
      val row = Seq(bad).toDF("raw")
        .select(UdmPacketParseExpr(col("raw")).as("p"))
        .select(col("p._source.layers").as("l")).head()
      assert(row.isNullAt(0), s"input <$bad> should yield null layers")
    }
    // empty layers object: NON-null struct with all-null fields
    // (layer-presence = struct non-null invariant)
    val l = parse1("""{"_source":{"layers":{}}}""").getStruct(0)
    assert((0 until l.length).forall(l.isNullAt))
  }

  test("permissive leaf handling: numbers as text, raw-capture, dup keys, unknowns") {
    val l = parse1(
      """{"_source":{"layers":{
        |"unknown_layer":{"x":[1,2,{"y":3}]},
        |"frame":{"frame.number":42,"frame.time_utc":{"weird":"obj"},"frame.protocols":"a","frame.len":"9"},
        |"ip":{"ip.ttl":"63"},"ip":{"ip.ttl":"64"}
        |}}}""".stripMargin.replace("\n", "")).getStruct(0)
    val frame = l.getStruct(l.fieldIndex("frame"))
    assert(frame.getString(0) == "42") // number → its text
    assert(frame.getString(1) == """{"weird":"obj"}""") // raw subtree capture
    val ip = l.getStruct(l.fieldIndex("ip"))
    assert(ip.getString(2) == "64") // duplicate key: last wins
  }

  test("format_string synthesis is parse-equivalent to the struct builder") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (1L, t("2024-03-05 01:02:03.123456"), 7L, "click"),
      (2L, t("2024-03-05 02:02:03.5"), 8L, "view"),
      (3L, t("2024-03-05 03:02:03.0"), 9L, "purchase"),
      (4L, t("2024-03-05 04:02:03.75"), 10L, "signup"),
      (5L, t("2024-03-05 05:02:03.0"), 11L, "error"))
      .toDF("event_id", "ts", "user_id", "event_type")
    def parsed(df: org.apache.spark.sql.DataFrame) = df
      .select(col("event_id"), UdmPacketParseExpr(col("raw")).as("p"))
      .orderBy("event_id").collect().toSeq
    val viaTemplates = parsed(SynthPackets.fromEvents(ev))
    val viaStruct = parsed(SynthPackets.fromEventsStruct(ev))
    assert(viaTemplates == viaStruct)
  }

  test("legacy from_json path (udmEventParsed) stays equivalent to the native parse") {
    import graft.udm.{PacketSchemas, UdmExpressions, UdmTransform}
    val frozen = lit("2024-01-01T00:00:00.000000Z")
    val raws = Seq(
      """{"_source":{"layers":{"frame":{"frame.number":"1","frame.time_utc":"Sep  5, 2025 12:34:56.123456000 UTC","frame.protocols":"eth:ethertype:ip:tcp"},"ip":{"ip.src":"10.0.0.1","ip.dst":"10.0.0.2","ip.ttl":"64"},"tcp":{"tcp.srcport":"1234","tcp.dstport":"80","tcp.flags":"0x0018"}}}}""",
      """{"_source":{"layers":{"frame":{"frame.number":"2"},"tls":{"tls.record":{"tls.record.version":"0x0303","tls.handshake":{"tls.handshake.version":"0x0304","tls.handshake.extensions_server_name":"x.net"}}}}}}""",
      """{"_source":{"layers":{"frame":{"frame.number":"3"},"tls":{"tls.record":[{"tls.record.version":"0x0301"},{"tls.record.version":"0x0303"}]}}}}""",
      """{"_source":{"layers":{"udp":{"udp.srcport":"5353","udp.dstport":"53"},"dns":{"Queries":{"a.example: type A, class IN":{"dns.qry.name":"a.example","dns.qry.type":"1"}},"dns.flags_tree":{"dns.flags.response":"0"}}}}}""",
      """{"_source":{"layers":{"tcp":{"tcp.srcport":"bad_port","tcp.dstport":"80"}}}}""",
      """corrupt bytes""",
      """{"_source": 42}""")
    val df = raws.toDF("raw")
    val native = UdmTransform.transform(df, "raw", frozen)
      .select(col("udm_json").as("j"))
      .collect().map(_.getString(0)).toSeq
    val legacy = df
      .withColumn("__p", from_json(col("raw"), PacketSchemas.packetSchema))
      .withColumn("__t", UdmExpressions.tlsRecords(
        col("__p").getField("_source").getField("layers")
          .getField("tls").getField("tls.record")))
      .select(UdmTransform.toJson(
        UdmExpressions.udmEventParsed(col("__p"), col("__t"), col("raw"), frozen)).as("j"))
      .collect().map(_.getString(0)).toSeq
    assert(native == legacy)
  }

  test("SQL registration: custom expressions callable by name") {
    GraftFunctions.register(spark)
    val r = Seq("""{"_source":{"layers":{"frame":{"frame.number":"9"}}}}""").toDF("raw")
      .selectExpr(
        "udm_packet_parse(raw)._source.layers.frame.`frame.number` AS fn",
        "graft_to_json(named_struct('a', 1, 'b', cast(null as string))) AS j",
        "graft_minhash('one two three four', 3, 8)[0] AS h0")
      .head()
    assert(r.getString(0) == "9")
    assert(r.getString(1) == """{"a":1}""")
    assert(r.getString(2).length == 8)
  }

  test("interpreted eval and codegen agree") {
    val raw =
      """{"_source":{"layers":{"frame":{"frame.number":"1"},"tls":{"tls.record":[{"tls.record.version":"a"}]}}}}"""
    val df = Seq(raw, "garbage", null.asInstanceOf[String]).toDF("raw")
      .select(UdmPacketParseExpr(col("raw")).as("p"))
    val viaCodegen = df.collect().toSeq
    // force the interpreted path through the expression's eval
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val expr = UdmPacketParseExpr(ColumnBridge.expression(col("raw")))
    assert(expr.dataType == PacketSchemas.parsedPacketSchema)
    val direct = UdmPacketJackson.parse(org.apache.spark.unsafe.types.UTF8String.fromString(raw))
    assert(direct != null && !direct.isNullAt(0))
    assert(UdmPacketJackson.parse(org.apache.spark.unsafe.types.UTF8String.fromString("garbage")) == null)
    assert(viaCodegen.head.getStruct(0) != null)
    assert(viaCodegen(1).isNullAt(0))
    assert(viaCodegen(2).isNullAt(0))
  }
}
