package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/** S5 — the pcap decode stage. The reference shells out to
  * `tshark -r f -T json` once per file (reference
  * processor/processor_app.py:149–155); the Spark-native shape is a
  * binaryFile scan + per-file decode inside the scan's partitions, so a
  * 1000-executor cluster decodes 1000 pcaps concurrently with no
  * intermediate files. [[decodePathsContained]] is the one reader; the
  * notify stream runs its two halves, [[captureFiles]] per batch and
  * [[decodeColumn]] inside the UDM stage it prepares once per session.
  *
  * Three interchangeable decoders:
  *  - [[PcapParser.nativeDecoder]] (DEFAULT) — a real in-JVM libpcap
  *    parser (Ethernet/IPv4/IPv6/TCP/UDP/ICMP/ARP + DNS/HTTP/TLS-SNI);
  *    the reader takes its packets as parsed rows, no JSON text, no
  *    external processes;
  *  - [[processDecoder]] — the reference's subprocess hop for a real
  *    tshark (exotic link types, deeper dissection);
  *  - [[stubDecoder]] — deterministic synthetic packets from payload
  *    bytes, for load/pipeline tests without real captures.
  */
object PcapDecode {

  type Decoder = (String, Array[Byte]) => Iterator[String]

  /** Deterministic fake decode: one synthetic TCP packet per 64-byte
    * chunk of payload, fields derived from the chunk bytes. Stands in
    * for tshark's JSON output so downstream UDM plumbing is exercised
    * end-to-end. */
  val stubDecoder: Decoder = (path, bytes) => {
    val name = path.replaceAll("^.*/", "")
    bytes.grouped(64).zipWithIndex.map { case (chunk, i) =>
      val b0 = chunk.headOption.getOrElse(0: Byte) & 0xff
      val b1 = (if (chunk.length > 1) chunk(1) else 0: Byte) & 0xff
      s"""{"_source":{"layers":{
         |"frame":{"frame.number":"${i + 1}","frame.time_utc":"Jan 01, 2024 00:00:${"%02d".format(i % 60)} UTC","frame.protocols":"eth:ethertype:ip:tcp"},
         |"ip":{"ip.src":"10.0.$b0.$b1","ip.dst":"10.0.0.1","ip.ttl":"64"},
         |"tcp":{"tcp.srcport":"${1024 + b0}","tcp.dstport":"443","tcp.flags":"0x0002"}
         |}}}""".stripMargin.replace("\n", "")
    }
  }

  /** Real subprocess decode — the reference's `tshark -r f -T json`
    * hop (processor_app.py:149–155) run INSIDE the scan partition:
    * bytes land in a task-local temp file (tshark can't stream all
    * capture formats from stdin), `cmd tmpfile` runs, and the JSON
    * array on stdout splits into one raw packet string per element.
    * Executors each decode their own files — per-file parallelism, no
    * driver hop. Output is buffered per file (as the reference does);
    * files are notification-sized (~10 MB rotations), not unbounded.
    * A nonzero exit fails the task loudly with the decoder's stderr —
    * upstream retry/DLQ policy decides what happens next.
    *
    * Usage: `decodePathsContained(spark, paths, processDecoder(Seq(
    * "tshark", "-T", "json", "-r")))` — the file path is appended as the
    * last argument. */
  def processDecoder(cmd: Seq[String]): Decoder = (path, bytes) => {
    import java.nio.file.Files
    val tmp = Files.createTempFile("graft_pcap_", ".pcap")
    val errTmp = Files.createTempFile("graft_pcap_err_", ".txt")
    try {
      Files.write(tmp, bytes)
      val pb = new ProcessBuilder((cmd :+ tmp.toString): _*)
      pb.redirectError(ProcessBuilder.Redirect.to(errTmp.toFile))
      val proc = pb.start()
      proc.getOutputStream.close()
      val out = new String(proc.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      val rc = proc.waitFor()
      if (rc != 0) {
        val err = new String(Files.readAllBytes(errTmp),
          java.nio.charset.StandardCharsets.UTF_8).take(2048)
        throw new RuntimeException(
          s"decoder '${cmd.mkString(" ")}' exited $rc for $path: $err")
      }
      splitJsonArray(out).iterator
    } finally {
      Files.deleteIfExists(tmp)
      Files.deleteIfExists(errTmp)
    }
  }

  /** Split a JSON array into compact per-element strings (tshark emits
    * one array per file; downstream wants one packet per row). */
  private def splitJsonArray(s: String): Seq[String] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(s)
    require(node != null && node.isArray,
      s"decoder output is not a JSON array: ${s.take(80)}")
    (0 until node.size).map(i => mapper.writeValueAsString(node.get(i)))
  }

  /** Decode over an explicit file list — the notification-driven
    * shape, where a micro-batch's payloads name the exact objects to
    * fetch (download → decode → transform, processor_app.py:144–163) —
    * to rows (`source_file`, `raw`), one per packet, with per-FILE
    * error containment. `raw` is the packet's
    * [[graft.udm.PacketSchemas.parsedPacketSchema]] row for the native
    * decoder and its tshark-JSON text for any other; the UDM transform
    * takes either. The decode runs inside the scan's partitions as a
    * generator over the binaryFile rows, so no typed Dataset encoder
    * sits between the scan and the transform.
    *
    * A capture whose decode throws yields ONE marker row instead of
    * failing the whole scan: `raw` null for the native decoder, a
    * non-JSON `GRAFT_DECODE_ERROR …` string for the others. Either way
    * the total UDM transform (P14) turns it into a Malformed error
    * event that the pipeline's `is_error` routing dead-letters, so one
    * corrupt capture DLQs one message while every co-batched message
    * still processes (the reference handles each notification in its
    * own request — this is that granularity inside one micro-batch).
    * Only the decoders' documented bad-input signals are contained:
    * IllegalArgumentException (the native parser's fail-loud contract,
    * fuzz-asserted to be its only bad-input throw), IOException
    * (unparseable subprocess output), and a BARE RuntimeException (the
    * subprocess nonzero-exit signal). Genuine decoder bugs — NPE,
    * index errors, OOM — still fail the task loudly instead of being
    * masked as bad input. */
  def decodePathsContained(spark: SparkSession, paths: Seq[String],
                           decoder: Decoder = PcapParser.nativeDecoder): DataFrame =
    captureFiles(spark, paths)
      .select(col("path").as("source_file"), decodeColumn(decoder).as("raw"))

  /** The binaryFile scan of `paths`: one `(path, content)` row per
    * capture, the input of [[decodeColumn]]. */
  private[graft] def captureFiles(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.format("binaryFile").load(paths: _*).select(col("path"), col("content"))

  /** The contained per-file decode of the `path` and `content` columns
    * (a generator: one `raw` value per packet, see
    * [[decodePathsContained]]). */
  private[graft] def decodeColumn(decoder: Decoder = PcapParser.nativeDecoder): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(DecodeCapture(ColumnBridge.expression(col("path")),
      ColumnBridge.expression(col("content")),
      if (decoder eq PcapParser.nativeDecoder) None else Some(decoder)))
  }

  private[sources] def contained(e: Throwable): Boolean =
    e.isInstanceOf[IllegalArgumentException] || e.isInstanceOf[java.io.IOException] ||
      e.getClass == classOf[RuntimeException]
}

/** [[PcapDecode.decodePathsContained]]'s per-file decode: one capture's
  * (path, bytes) → one row per packet, or one marker row when the
  * decode fails with a contained error. `textDecoder` None decodes to
  * packet rows with [[PcapParser.decodeRows]]; a decoder gives packet
  * JSON text. Generated code calls [[DecodeCapture.rows]], so the scan,
  * the decode and the UDM projection after it fuse into one
  * whole-stage-codegen stage: each packet row reaches the projection as
  * it is, never copied into an UnsafeRow. */
private[sources] case class DecodeCapture(path: Expression, content: Expression,
                                          textDecoder: Option[PcapDecode.Decoder])
  extends Generator {

  override def children: Seq[Expression] = Seq(path, content)

  override def elementSchema: StructType = StructType(Seq(StructField("raw",
    if (textDecoder.isEmpty) graft.udm.PacketSchemas.parsedPacketSchema else StringType)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] =
    DecodeCapture.rows(path.eval(input).asInstanceOf[UTF8String],
      content.eval(input).asInstanceOf[Array[Byte]], textDecoder)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val p = path.genCode(ctx)
    val c = content.genCode(ctx)
    val decoder = ctx.addReferenceObj("textDecoder", textDecoder, "scala.Option")
    // GenerateExec iterates `value.iterator()`
    ev.copy(code = code"""
      ${p.code}
      ${c.code}
      scala.collection.mutable.ArraySeq ${ev.value} = graft.sources.DecodeCapture$$.MODULE$$.rows(
        ${p.isNull} ? null : ${p.value}, ${c.isNull} ? null : ${c.value}, $decoder);
    """, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): DecodeCapture =
    copy(path = newChildren(0), content = newChildren(1))
}

private[sources] object DecodeCapture {
  def rows(path: UTF8String, bytes: Array[Byte],
           textDecoder: Option[PcapDecode.Decoder]): mutable.ArraySeq[InternalRow] = {
    if (path == null || bytes == null) return mutable.ArraySeq.empty
    val file = path.toString
    try textDecoder match {
      case None =>
        val packets = PcapParser.decodeRows(bytes, file)
        val out = new Array[InternalRow](packets.length)
        var i = 0
        while (i < out.length) { out(i) = new GenericInternalRow(Array[Any](packets(i))); i += 1 }
        mutable.ArraySeq.make(out)
      case Some(decoder) =>
        // decoders are lazy iterators: force inside the try so a
        // mid-file parse failure is contained too, not thrown later
        mutable.ArraySeq.make(decoder(file, bytes)
          .map(raw => InternalRow(UTF8String.fromString(raw))).toArray)
    } catch {
      case e if PcapDecode.contained(e) =>
        mutable.ArraySeq.make(Array(InternalRow(if (textDecoder.isEmpty) null
          else UTF8String.fromString(
            s"GRAFT_DECODE_ERROR ${e.getClass.getSimpleName}: ${e.getMessage}"))))
    }
  }
}
