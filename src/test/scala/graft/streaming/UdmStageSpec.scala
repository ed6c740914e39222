package graft.streaming

import graft.SparkSpec
import graft.sources.{CaptureBytes, CaptureFuzz, PcapDecode}
import graft.udm.{UdmExpressions, UdmTransform}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

/** The capture→UDM stage prepared once per session ([[UdmStage]]) is
  * the planned [[StreamingPipeline.toUdm]]: the same rows byte for
  * byte, prepared once across micro-batches and queries, prepared again
  * when the session's SQL conf changes, and refused when the pipeline
  * is built if it cannot run as one fused stage. */
class UdmStageSpec extends SparkSpec {

  private val frozenTs = to_timestamp(lit("2030-01-01 00:00:00"))
  private val frozenIso = "2030-01-01T00:00:00.000000Z"

  private def write(files: Seq[(String, Array[Byte])]): Seq[String] = {
    val dir = Files.createTempDirectory("graft_udm_stage")
    files.map { case (name, bytes) => Files.write(dir.resolve(name), bytes).toString }
  }

  private def rows(udm: DataFrame): Seq[(String, String, Boolean, String)] =
    udm.select("source_file", "udm_json", "is_error", "product_name").collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(2), r.getString(3)))
      .toSeq.sorted

  private def assertSame(prepared: DataFrame, planned: DataFrame)
      : Seq[(String, String, Boolean, String)] = {
    val (got, want) = (rows(prepared), rows(planned))
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) => assert(g == w, s"\nprepared: $g\nplanned:  $w") }
    got
  }

  test("prepared stage = planned toUdm on fuzzed pcap/pcapng, corrupt and truncated captures") {
    val good = CaptureBytes.syntheticPcap(300, seed = 3)
    val paths = write(CaptureFuzz.corpus(120, seed = 15) ++ Seq(
      "synthetic.pcap" -> good,
      "truncated.pcap" -> good.take(good.length / 2 + 7),
      "corrupt.pcap" -> good.take(20)))
    val got = assertSame(
      UdmStage(spark, UdmStage.Pcap, PcapDecode.captureFiles(spark, paths), frozenIso),
      StreamingPipeline.udmColumns(PcapDecode.decodePathsContained(spark, paths),
        UdmExpressions.isoMicros(frozenTs)))
    val products = got.map(_._4).toSet
    assert(products.contains("Wireshark TShark (Malformed)"))
    assert(got.exists(r => r._1.endsWith("corrupt.pcap") && r._2.contains(frozenIso)))
    assert(got.count(_._1.endsWith("synthetic.pcap")) == 300)
  }

  test("prepared stage = planned toUdm on tshark JSON: good, error, malformed, not an array") {
    val good = """{"_source": {"layers": {"frame": {"frame.number": "1", "frame.time_utc":
      |"Sep  5, 2025 12:34:56.123456000 UTC", "frame.protocols": "eth:ethertype:ip:tcp"},
      |"ip": {"ip.src": "10.0.0.1", "ip.dst": "10.0.0.2", "ip.ttl": "64"},
      |"tcp": {"tcp.srcport": "1234", "tcp.dstport": "80", "tcp.flags": "0x0018"}}}}"""
      .stripMargin.replace("\n", " ")
    val error = """{"_source": {"layers": {"frame": {"frame.number": "7", "frame.time_utc": "x"},
      |"ip": {"ip.src": "10.0.0.7", "ip.dst": "10.0.0.8"},
      |"tcp": {"tcp.srcport": "not_a_port", "tcp.dstport": "80"}}}}""".stripMargin.replace("\n", " ")
    val paths = write(Seq(
      "good.pcap.json" -> s"[$good, $good]",
      "error.pcap.json" -> s"[$error]",
      "malformed.pcap.json" -> """[{"no_source": true}, "not json at all"]""",
      "not_array.pcap.json" -> """{"_source": "this file is not an array"}"""
    ).map { case (n, t) => n -> t.getBytes("UTF-8") })
    val packets = UdmTransform.splitCaptures(spark.read.option("wholetext", "true").text(paths: _*))
    val got = assertSame(UdmStage(spark, UdmStage.TsharkJson, packets, frozenIso),
      StreamingPipeline.udmColumns(packets, UdmExpressions.isoMicros(frozenTs)))
    assert(got.map(r => r._1.split('/').last -> r._4).groupBy(_._1).view
      .mapValues(_.map(_._2).sorted).toMap == Map(
      "good.pcap.json" -> Seq("Wireshark TShark", "Wireshark TShark"),
      "error.pcap.json" -> Seq("Wireshark TShark (PacketProcessingError)"),
      "malformed.pcap.json" -> Seq.fill(2)("Wireshark TShark (Malformed)"),
      "not_array.pcap.json" -> Seq("Wireshark TShark (Malformed)")))
    assert(got.filter(_._3).forall(_._2.contains(frozenIso)))
  }

  /** Queue `files` one message each, with increasing mtimes. */
  private def queue(files: Seq[String]): (String, String) = {
    val q = Files.createTempDirectory("graft_stage_q")
    val data = Files.createTempDirectory("graft_stage_data")
    files.zipWithIndex.foreach { case (f, i) =>
      Files.write(data.resolve(f), CaptureBytes.syntheticPcap(20, seed = i))
      val m = Files.writeString(q.resolve(f"m$i%02d"), f)
      Files.setLastModifiedTime(m, FileTime.fromMillis(5000000L + i))
    }
    (q.toString, data.toString)
  }

  private def drain(q: String, data: String, hook: (DataFrame, Long) => Unit): Path = {
    val out = Files.createTempDirectory("graft_stage_out")
    val qq = StreamingPipeline.notifyPipeline(spark, q, data, out.toString,
      Files.createTempDirectory("graft_stage_ckpt").toString,
      trigger = Trigger.AvailableNow(), maxMessagesPerTrigger = 1, failHook = hook).start()
    assert(qq.awaitTermination(120000))
    out
  }

  test("the stage is prepared once across micro-batches and queries; compiles stay flat") {
    val marker = "spark.graft.udmStageSpec.run"
    spark.conf.set(marker, System.nanoTime().toString) // a conf no stage was prepared under
    try {
      val p0 = UdmStage.preparations.get
      def compiled(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      // per query: the compilations when each batch starts, and when it ends
      val runs = (1 to 2).map { run =>
        val atBatch = scala.collection.mutable.ArrayBuffer.empty[Long]
        val (q, data) = queue((0 until 3).map(i => s"run${run}_$i.pcap"))
        val out = drain(q, data, (_, _) => atBatch.synchronized(atBatch += compiled()))
        (atBatch.toSeq, compiled(), out)
      }
      // both kinds are prepared when the first query is built, and never again
      assert(UdmStage.preparations.get - p0 == 2)
      // Spark's compile cache is keyed by class loader, and a new
      // query's first batch compiles its notification reads again, so
      // the count is flat from the second batch of each query on
      runs.foreach { case (atBatch, end, out) =>
        assert(atBatch.length == 3)
        assert(atBatch.drop(1).forall(_ == end),
          s"compilations at each batch start $atBatch, at the end $end")
        assert(spark.read.text(out.resolve("events").toString).count() == 60)
      }
    } finally spark.conf.unset(marker)
  }

  test("a changed SQL conf prepares the stage again at the next batch") {
    val key = "spark.sql.subexpressionElimination.enabled"
    val before = spark.conf.get(key)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    try {
      val (q, data) = queue((0 until 3).map(i => s"flip_$i.pcap"))
      drain(q, data, (_, id) => seen.synchronized {
        seen += id -> UdmStage.preparations.get
        if (id == 1) spark.conf.set(key, (!before.toBoolean).toString)
      })
      val p = seen.head._2
      assert(seen.toSeq == Seq(0L -> p, 1L -> p, 2L -> (p + 1)))
      assert(UdmStage.preparations.get == p + 1)
    } finally spark.conf.set(key, before)
  }

  test("without whole-stage codegen notifyPipeline refuses to build") {
    val key = "spark.sql.codegen.wholeStage"
    val (q, data) = queue(Seq("refused.pcap"))
    spark.conf.set(key, "false")
    try {
      val e = intercept[IllegalStateException] {
        StreamingPipeline.notifyPipeline(spark, q, data,
          Files.createTempDirectory("graft_stage_out").toString,
          Files.createTempDirectory("graft_stage_ckpt").toString)
      }
      assert(e.getMessage.contains("whole-stage-codegen"), e.getMessage)
    } finally spark.conf.unset(key)
  }

  test("the driver's fallback text is isoMicros of the same instant") {
    import UdmExpressions.isoMicros
    Seq("2024-01-01T00:00:00Z", "2025-09-05T12:34:56.123456Z", "1969-12-31T23:59:59.999999Z",
      "0001-01-01T00:00:00.000001Z", "2030-06-30T23:59:59.5Z").foreach { s =>
      val instant = java.time.Instant.parse(s)
      val micros = org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(instant)
      val want = spark.range(1).select(isoMicros(lit(instant))).head().getString(0)
      assert(UdmStage.isoMicros(spark, micros) == want)
    }
    // current_timestamp() as the planned path binds it
    val r = spark.range(1).select(current_timestamp(), isoMicros(current_timestamp())).head()
    val micros = org.apache.spark.sql.catalyst.util.DateTimeUtils
      .instantToMicros(r.getTimestamp(0).toInstant)
    assert(UdmStage.isoMicros(spark, micros) == r.getString(1))
    assert(UdmStage.fallbackNow(spark).matches("""\d{4}-\d\d-\d\dT\d\d:\d\d:\d\d\.\d{6}Z"""))
  }
}
