package graft.sources

import graft.SparkSpec
import graft.udm.UdmTransform
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** S5 decode-stage plumbing: binary pcap scan → per-partition decode →
  * packet rows → UDM transform, with the stub decoder standing in for
  * the tshark subprocess, through the one contained reader
  * ([[PcapDecode.decodePathsContained]]). */
class PcapDecodeSpec extends SparkSpec {

  test("binary pcap files decode to packet rows and flow into the UDM transform") {
    val dir = Files.createTempDirectory("graft_pcap").toString
    val paths = Seq(
      Files.write(Paths.get(dir, "capture_a.pcap"), Array.fill[Byte](130)(7)), // 3 chunks
      Files.write(Paths.get(dir, "capture_b.pcapng"), Array.fill[Byte](64)(9)) // 1 chunk
    ).map(_.toString)
    def decode() = PcapDecode.decodePathsContained(spark, paths, PcapDecode.stubDecoder)

    val packets = decode()
    assert(packets.count() == 4)
    assert(packets.select("source_file").distinct().count() == 2)

    val udm = UdmTransform.transform(packets, "raw")
      .select(col("event_struct.event.metadata.event_type").as("t"))
      .groupBy("t").count().collect()
    assert(udm.length == 1 && udm(0).getString(0) == "NETWORK_CONNECTION")
    assert(udm(0).getLong(1) == 4) // every decoded packet became an event

    // determinism: same bytes → same packets
    val again = decode().orderBy("source_file", "raw").collect()
    val first = decode().orderBy("source_file", "raw").collect()
    assert(again.map(_.toString).toSeq == first.map(_.toString).toSeq)
  }

  /** Write an executable shell script standing in for tshark. */
  private def fakeTshark(dir: String, name: String, body: String): String = {
    val p = Paths.get(dir, name)
    Files.writeString(p, s"#!/bin/sh\n$body\n")
    import java.nio.file.attribute.PosixFilePermission._
    Files.setPosixFilePermissions(p, java.util.EnumSet.of(
      OWNER_READ, OWNER_WRITE, OWNER_EXECUTE))
    p.toString
  }

  test("processDecoder runs the external decoder per file and splits its JSON array") {
    val dir = Files.createTempDirectory("graft_pcap_proc").toString
    val paths = Seq(Files.write(Paths.get(dir, "a.pcap"), Array[Byte](1, 2, 3)),
      Files.write(Paths.get(dir, "b.pcap"), Array[Byte](4, 5))).map(_.toString)
    // fake tshark: one packet whose frame.len is the input file's byte
    // count — proves the real pipe path (temp file written, command
    // run, path appended, stdout parsed), not a canned constant
    val script = fakeTshark(dir, "tshark_fake", """
      |n=$(wc -c < "$1")
      |echo "[{\"_source\":{\"layers\":{\"frame\":{\"frame.number\":\"1\",\"frame.len\":\"$n\"}}}}, {\"_source\":{\"layers\":{\"frame\":{\"frame.number\":\"2\",\"frame.len\":\"$n\"}}}}]"
      |""".stripMargin.trim)
    val rows = PcapDecode.decodePathsContained(spark, paths,
        PcapDecode.processDecoder(Seq(script)))
      .orderBy("source_file", "raw").collect()
    assert(rows.length == 4) // 2 files x 2 packets
    val lens = rows.map(r => (r.getString(0).replaceAll("^.*/", ""),
      "\"frame.len\":\"(\\d+)\"".r.findFirstMatchIn(r.getString(1)).get.group(1)))
    assert(lens.toSet == Set(("a.pcap", "3"), ("b.pcap", "2")))

    // a failing decoder (nonzero exit) is contained per file: one
    // marker row carrying its stderr, which the transform turns into one
    // Malformed event
    val bad = fakeTshark(dir, "tshark_bad", "echo 'boom: unreadable capture' >&2; exit 2")
    val marked = PcapDecode.decodePathsContained(spark, paths,
      PcapDecode.processDecoder(Seq(bad)))
    val markers = marked.select("raw").collect().map(_.getString(0))
    assert(markers.length == 2 && markers.forall(m => m.startsWith("GRAFT_DECODE_ERROR ") &&
      m.contains("exited 2") && m.contains("boom: unreadable capture")), markers.mkString("\n"))
    val products = UdmTransform.transform(marked, "raw")
      .select(col("event_struct.event.metadata.product_name")).collect().map(_.getString(0))
    assert(products.toSeq == Seq.fill(2)("Wireshark TShark (Malformed)"))
  }
}
