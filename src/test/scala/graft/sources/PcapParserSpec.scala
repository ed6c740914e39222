package graft.sources

import graft.SparkSpec
import graft.udm.UdmTransform
import org.apache.spark.sql.functions._
import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Paths}

/** Native libpcap decode: hand-built capture bytes → tshark-shaped
  * JSON → the UDM transform, covering every decoded protocol. The pcap
  * bytes are constructed from the public format spec (no fixtures). */
class PcapParserSpec extends SparkSpec {

  import CaptureBytes._

  // ------------------------------------------------------------- tests

  test("decodes every protocol layer from hand-built pcap bytes") {
    val jsons = PcapParser.decodeFile(pcapFile(samplePackets))
    assert(jsons.length == 8)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def layers(i: Int) = mapper.readTree(jsons(i)).path("_source").path("layers")

    val http = layers(0)
    assert(http.path("frame").path("frame.time_utc").asText()
      == "Sep  5, 2025 12:34:56.123456000 UTC")
    assert(http.path("frame").path("frame.protocols").asText()
      == "eth:ethertype:ip:tcp:http")
    assert(http.path("ip").path("ip.src").asText() == "10.0.0.1")
    assert(http.path("ip").path("ip.ttl").asText() == "64")
    assert(http.path("tcp").path("tcp.flags").asText() == "0x0018")
    assert(http.path("http").path("http.host").asText() == "www.example.com")
    assert(http.path("http").path("http.request.full_uri").asText()
      == "http://www.example.com/index.html")

    val dnsQ = layers(1).path("dns")
    val qKey = "api.example.org: type A, class IN"
    assert(dnsQ.path("Queries").path(qKey).path("dns.qry.name").asText()
      == "api.example.org")
    assert(dnsQ.path("dns.flags_tree").path("dns.flags.response").asText() == "0")

    val dnsR = layers(2).path("dns")
    assert(dnsR.path("dns.flags_tree").path("dns.flags.response").asText() == "1")
    val ans = dnsR.path("Answers").elements()
    assert(ans.hasNext)
    val a0 = ans.next()
    assert(a0.path("dns.resp.name").asText() == "api.example.org") // via pointer
    assert(a0.path("dns.resp.ttl").asText() == "300")

    val tls = layers(3).path("tls").path("tls.record")
    assert(tls.path("tls.record.version").asText() == "0x0303")
    assert(tls.path("tls.handshake").path("tls.handshake.extensions_server_name")
      .asText() == "secure.example.net")

    val arp = layers(4).path("arp")
    assert(arp.path("arp.opcode").asText() == "1")
    assert(arp.path("arp.src.proto_ipv4").asText() == "10.0.0.7")

    assert(layers(5).path("icmp").path("icmp.type").asText() == "8")

    val v6 = layers(6)
    assert(v6.path("ipv6").path("ipv6.src").asText() == "2001:db8::1")
    assert(v6.path("tcp").path("tcp.dstport").asText() == "443")

    assert(layers(7).path("tcp").path("tcp.flags").asText() == "0x0010")
    assert(!layers(7).has("http") && !layers(7).has("tls"))
  }

  test("little-endian and nanosecond pcap variants decode identically") {
    val be = PcapParser.decodeFile(pcapFile(samplePackets))
    // rewrite header+records little-endian with ns timestamps
    val o = new ByteArrayOutputStream()
    def le32(v: Long): Unit = {
      o.write((v & 0xff).toInt); o.write(((v >> 8) & 0xff).toInt)
      o.write(((v >> 16) & 0xff).toInt); o.write(((v >> 24) & 0xff).toInt)
    }
    def le16(v: Int): Unit = { o.write(v & 0xff); o.write((v >> 8) & 0xff) }
    le32(0xa1b23c4dL); le16(2); le16(4); le32(0); le32(0); le32(65535); le32(1)
    samplePackets.zipWithIndex.foreach { case (p, i) =>
      le32(1757075696L + i); le32(123456000L); le32(p.length); le32(p.length)
      o.write(p)
    }
    val le = PcapParser.decodeFile(o.toByteArray)
    assert(le == be)
  }

  test("corrupt files fail loudly; unknown payloads just omit layers") {
    intercept[IllegalArgumentException] {
      PcapParser.decodeFile("not a pcap at all".getBytes)
    }
    val truncated = pcapFile(samplePackets).dropRight(10)
    intercept[IllegalArgumentException] { PcapParser.decodeFile(truncated) }
    // binary garbage payload on a TCP port: tcp layer only, no crash
    val garbage = ethernet(0x0800, ipv4(6, srcIp, dstIp,
      tcp(1234, 5678, 0x18, Array.tabulate[Byte](64)(i => (i * 7).toByte))))
    val out = PcapParser.decodeFile(pcapFile(Seq(garbage)))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val l = mapper.readTree(out.head).path("_source").path("layers")
    assert(l.has("tcp") && !l.has("http") && !l.has("tls") && !l.has("dns"))
  }

  test("pcapng decodes identically to classic pcap (µs default and if_tsresol=9 ns)") {
    val classic = PcapParser.decodeFile(pcapFile(samplePackets))
    def build(resol: Option[Int], unitsPerSec: Long, fracUnits: Long): Array[Byte] =
      ngFile(ngShb() +: ngIdb(resol) +: samplePackets.zipWithIndex.map {
        case (p, i) => ngEpb((1757075696L + i) * unitsPerSec + fracUnits, p)
      }: _*)
    val us = PcapParser.decodeFile(build(None, 1000000L, 123456L))
    assert(us == classic) // default resolution = microseconds
    val ns = PcapParser.decodeFile(build(Some(9), 1000000000L, 123456000L))
    assert(ns == classic) // decimal if_tsresol: nanoseconds
  }

  test("pcapng power-of-two tsresol and little-endian sections decode") {
    // if_tsresol 0x87 = 2^-7 -> 128 units/s; 64 units = exactly .5 s
    val pow2 = PcapParser.decodeFile(ngFile(ngShb(), ngIdb(Some(0x87)),
      ngEpb(1757075696L * 128 + 64, samplePackets.head)))
    assert(pow2.length == 1)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def frameTime(json: String): String = mapper.readTree(json)
      .path("_source").path("layers").path("frame").path("frame.time_utc").asText()
    assert(frameTime(pow2.head) == "Sep  5, 2025 12:34:56.500000000 UTC")

    // the same capture as a little-endian section (µs resolution)
    val o = new ByteArrayOutputStream()
    def w16(v: Int): Unit = { o.write(v & 0xff); o.write((v >> 8) & 0xff) }
    def w32(v: Long): Unit = {
      o.write((v & 0xff).toInt); o.write(((v >> 8) & 0xff).toInt)
      o.write(((v >> 16) & 0xff).toInt); o.write(((v >> 24) & 0xff).toInt)
    }
    w32(0x0a0d0d0aL); w32(28); w32(0x1a2b3c4dL)
    w16(1); w16(0); w32(0xffffffffL); w32(0xffffffffL); w32(28) // SHB
    w32(1); w32(20); w16(1); w16(0); w32(65535); w32(20)        // IDB, no options
    val p = samplePackets.head
    val ts = 1757075696L * 1000000L + 500000L
    val padded = (p.length + 3) & ~3
    val total = 32 + padded
    w32(6); w32(total); w32(0); w32(ts >>> 32); w32(ts & 0xffffffffL)
    w32(p.length); w32(p.length); o.write(p)
    o.write(new Array[Byte](padded - p.length)); w32(total)     // EPB
    val le = PcapParser.decodeFile(o.toByteArray)
    assert(le == pow2) // same instant, same packet, byte-identical JSON
  }

  test("pcapng skips NRB/ISB metadata blocks, fails loudly on anything else") {
    // tshark-shaped file: SHB, IDB, NRB, one packet, trailing ISB
    val nrb = ngBlock(4L, Array[Byte](0, 0, 0, 0))
    val isb = ngBlock(5L, new Array[Byte](8))
    val ok = PcapParser.decodeFile(ngFile(ngShb(), ngIdb(), nrb,
      ngEpb(1757075696L * 1000000L + 123456L, samplePackets.head), isb))
    assert(ok.length == 1)

    // Simple Packet Block carries packet data we do not decode: throw
    val spb = ngBlock(3L, samplePackets.head)
    val e1 = intercept[IllegalArgumentException] {
      PcapParser.decodeFile(ngFile(ngShb(), ngIdb(), spb))
    }
    assert(e1.getMessage.contains("block type"))

    // EPB before any IDB: undefined interface
    val e2 = intercept[IllegalArgumentException] {
      PcapParser.decodeFile(ngFile(ngShb(),
        ngEpb(1757075696L * 1000000L, samplePackets.head)))
    }
    assert(e2.getMessage.contains("undefined interface"))

    // corrupted trailing block length
    val good = ngFile(ngShb(), ngIdb(),
      ngEpb(1757075696L * 1000000L, samplePackets.head))
    good(good.length - 1) = (good(good.length - 1) + 4).toByte
    val e3 = intercept[IllegalArgumentException] { PcapParser.decodeFile(good) }
    assert(e3.getMessage.contains("trailer"))
  }

  test("LINKTYPE_RAW and LINKTYPE_SLL captures decode; other links fail loudly") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def layers(j: String) = mapper.readTree(j).path("_source").path("layers")
    val dnsUdp = ipv4(17, srcIp, dstIp, udp(49152, 53, dnsQuery("api.example.org", 1)))

    // raw IP (101): no link header, version nibble dispatches
    val raw = PcapParser.decodeFile(pcapFile(Seq(dnsUdp), linkType = 101))
    val lr = layers(raw.head)
    assert(lr.path("frame").path("frame.protocols").asText() == "raw:ip:udp:dns")
    assert(lr.path("ip").path("ip.src").asText() == "10.0.0.1")
    assert(lr.path("dns").path("Queries").path("api.example.org: type A, class IN")
      .path("dns.qry.name").asText() == "api.example.org")
    // raw IPv6 dispatches off the version nibble too
    val v6 = ipv6Packet(6, tcp(49152, 443, 0x18, Array.empty))
    val raw6 = PcapParser.decodeFile(pcapFile(Seq(v6), linkType = 101))
    assert(layers(raw6.head).path("frame").path("frame.protocols").asText()
      == "raw:ipv6:tcp")

    // Linux cooked (113): 16-byte SLL header, EtherType dispatch
    val cooked = PcapParser.decodeFile(
      pcapFile(Seq(sll(0x0800, dnsUdp)), linkType = 113))
    val lc = layers(cooked.head)
    assert(lc.path("frame").path("frame.protocols").asText()
      == "sll:ethertype:ip:udp:dns")
    assert(lc.path("sll").path("sll.etype").asText() == "0x0800")
    assert(lc.path("ip").path("ip.dst").asText() == "10.0.0.2")

    // pcapng IDB carries the link type per interface
    val ngRaw = PcapParser.decodeFile(ngFile(ngShb(), ngIdb(linkType = 101),
      ngEpb(1757075696L * 1000000L, dnsUdp)))
    assert(layers(ngRaw.head).path("frame").path("frame.protocols").asText()
      == "raw:ip:udp:dns")

    // unsupported link types name the supported set, classic and pcapng
    val e1 = intercept[IllegalArgumentException] {
      PcapParser.decodeFile(pcapFile(Seq(dnsUdp), linkType = 228))
    }
    assert(e1.getMessage.contains("228") && e1.getMessage.contains("LINUX_SLL"))
    val e2 = intercept[IllegalArgumentException] {
      PcapParser.decodeFile(ngFile(ngShb(), ngIdb(linkType = 105)))
    }
    assert(e2.getMessage.contains("105") && e2.getMessage.contains("EN10MB"))
  }

  test("jumbo DNS messages are capped, not rejected") {
    // 70 answers (> the 64-answer walk cap): still a dns layer, 64 walked
    val many = {
      val o = new ByteArrayOutputStream()
      u16(o, 0x1234); u16(o, 0x8180); u16(o, 1); u16(o, 70); u16(o, 0); u16(o, 0)
      "big.example.org".split('.').foreach { l => u8(o, l.length); o.write(l.getBytes("ASCII")) }
      u8(o, 0); u16(o, 1); u16(o, 1)
      (0 until 70).foreach { _ =>
        u16(o, 0xc00c); u16(o, 1); u16(o, 1); u32(o, 60); u16(o, 4)
        (1 to 4).foreach(u8(o, _))
      }
      o.toByteArray
    }
    val out = PcapParser.decodeFile(pcapFile(Seq(
      ethernet(0x0800, ipv4(17, dstIp, srcIp, udp(53, 33000, many))))))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val l = mapper.readTree(out.head).path("_source").path("layers")
    assert(l.path("frame").path("frame.protocols").asText().endsWith(":dns"))
    var count = 0
    val it = l.path("dns").path("Answers").elements()
    while (it.hasNext) { it.next(); count += 1 }
    assert(count == 64, s"walk capped at 64 answers, got $count")
  }

  test("frame time, MAC and TCP flags keep their padding at the edges") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def layers(json: String) = mapper.readTree(json).path("_source").path("layers")
    val midnight = 1757030400L // 2025-09-05 00:00:00 UTC: a one-digit day
    val ns = 1000000000L
    val times = PcapParser.decodeFile(ngFile(ngShb(), ngIdb(Some(9)),
      ngEpb(midnight * ns, samplePackets.head),
      ngEpb((midnight + 86399) * ns + 999999999L, samplePackets.head),
      ngEpb((midnight + 10 * 86400) * ns + 5, samplePackets.head)))
      .map(j => layers(j).path("frame").path("frame.time_utc").asText())
    assert(times == Seq("Sep  5, 2025 00:00:00.000000000 UTC",
      "Sep  5, 2025 23:59:59.999999999 UTC", "Sep 15, 2025 00:00:00.000000005 UTC"))

    // unknown EtherType: frame + eth only
    val macFrame = Array.fill[Byte](6)(0) ++ Array.fill[Byte](6)(-1) ++
      Array(0x88.toByte, 0xb5.toByte)
    val eth = layers(PcapParser.decodeFile(pcapFile(Seq(macFrame))).head).path("eth")
    assert(eth.path("eth.dst").asText() == "00:00:00:00:00:00")
    assert(eth.path("eth.src").asText() == "ff:ff:ff:ff:ff:ff")

    def flagsOf(segment: Array[Byte]): String =
      layers(PcapParser.decodeFile(pcapFile(Seq(ethernet(0x0800,
        ipv4(6, srcIp, dstIp, segment))))).head).path("tcp").path("tcp.flags").asText()
    val allFlags = tcp(1234, 80, 0xff, Array.empty)
    allFlags(12) = 0x51.toByte // data offset 5 words + the NS bit
    assert(flagsOf(tcp(1234, 80, 0, Array.empty)) == "0x0000")
    assert(flagsOf(allFlags) == "0x01ff")
  }

  test("native-decoded pcap AND pcapng flow through decode() into the UDM classifier") {
    val dir = Files.createTempDirectory("graft_pcap_native").toString
    val paths = Seq(Files.write(Paths.get(dir, "cap.pcap"), pcapFile(samplePackets)),
      Files.write(Paths.get(dir, "cap2.pcapng"), ngFile(ngShb(), ngIdb(),
        ngEpb(1757075800L * 1000000L, samplePackets.head)))).map(_.toString)
    val packets = PcapDecode.decodePathsContained(spark, paths)
    assert(packets.count() == 9)
    val types = UdmTransform.transform(packets, "raw")
      .select(col("event_struct.event.metadata.event_type").as("t"))
      .groupBy("t").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // TLS > DNS > HTTP > ARP > ICMP precedence (P4): 1 HTTP (+1 from the
    // pcapng copy), 2 DNS, 1 SSL (ClientHello; the v6 SYN to 443 has no
    // TLS record -> conn), 1 ARP (STATUS_UPDATE), 1 ICMP, rest generic
    assert(types.getOrElse("NETWORK_HTTP", 0L) == 2L)
    assert(types.getOrElse("NETWORK_DNS", 0L) == 2L)
    assert(types.getOrElse("NETWORK_SSL", 0L) == 1L)
    assert(types.values.sum == 9L)
  }
}
