package graft.sources

import graft.SparkSpec
import graft.udm.UdmTransform
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** The native capture path (packet rows straight from the decoder) and
  * the JSON path (the decoder's tshark-JSON text, parsed again) give
  * byte-identical UDM events, error-event snippets and Malformed
  * markers included. Both run through the one contained reader: the
  * JSON path with a decoder that returns [[PcapParser.nativeDecoder]]'s
  * text, which the reader does not recognize as the native decoder. */
class NativeDecodeEquivalenceSpec extends SparkSpec {

  private val frozenTs = to_timestamp(lit("2030-01-01 00:00:00"))
  private val jsonDecoder: PcapDecode.Decoder = (p, b) => PcapParser.nativeDecoder(p, b)

  private def write(files: Seq[(String, Array[Byte])]): Seq[String] = {
    val dir = Files.createTempDirectory("graft_native_eq")
    files.map { case (name, bytes) => Files.write(dir.resolve(name), bytes).toString }
  }

  /** (source_file, udm_json, product_name), sorted, for one reader. */
  private def events(packets: DataFrame): Seq[(String, String, String)] =
    UdmTransform.transform(packets, "raw", frozenTs)
      .select(col("source_file"), col("udm_json"),
        col("event_struct.event.metadata.product_name"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq.sorted

  private def assertSameEvents(paths: Seq[String]): Seq[(String, String, String)] = {
    val native = PcapDecode.decodePathsContained(spark, paths)
    assert(native.schema("raw").dataType == graft.udm.PacketSchemas.parsedPacketSchema)
    val plan = UdmTransform.transform(native, "raw").queryExecution.executedPlan.toString
    assert(!plan.contains("udm_packet_parse"), s"the native path parses JSON:\n$plan")
    val got = events(native)
    val want = events(PcapDecode.decodePathsContained(spark, paths, jsonDecoder))
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) => assert(g == w, s"\nnative: $g\njson:   $w") }
    got
  }

  test("16k decoded synthetic packets: native rows and JSON text give the same events") {
    val paths = write((0 until 16).map(i => f"cap_$i%02d.pcap" ->
      CaptureBytes.syntheticPcap(1000, seed = 40 + i)))
    val got = assertSameEvents(paths)
    assert(got.length == 16000)
    assert(got.forall(_._3 == "Wireshark TShark"))
  }

  test("fuzzed captures: the same events, error snippets and one Malformed event per corrupt file") {
    val corpus = CaptureFuzz.corpus(160, seed = 5) ++ CaptureFuzz.corpus(160, seed = 77)
      .map { case (n, b) => ("b_" + n, b) }
    val corrupt = corpus.count { case (n, b) =>
      try { PcapParser.decodeRows(b, n); false }
      catch { case _: IllegalArgumentException => true }
    }
    val got = assertSameEvents(write(corpus))
    val products = got.groupBy(_._3).view.mapValues(_.size).toMap
    assert(corrupt > 0 && products.getOrElse("Wireshark TShark (Malformed)", 0) == corrupt,
      s"$corrupt corrupt files, events by product: $products")
    // DNS TTLs ≥ 2^31 and statuses past Int.MaxValue take the error
    // branch, whose snippet the native path writes from the packet row
    val errors = got.filter(_._3 == "Wireshark TShark (PacketProcessingError)")
    assert(errors.nonEmpty && errors.forall(_._2.contains("original_packet_data_snippet")),
      s"events by product: $products")
    assert(errors.exists(_._2.contains("...")), "no snippet was cut at 1000 characters")
  }
}
