package graft.etl

import graft.streaming.StreamingPipeline
import graft.udm.UdmTransform
import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Batch pcap-JSON → UDM pipeline: the reference's processor request
  * path (reference processor/processor_app.py:136–179) as one Spark
  * plan — download/subprocess/upload hops collapse into
  * scan → projection → sink.
  */
object BatchPipeline {

  /** F1 — filename validation (processor_app.py:131–133): empty or
    * '/'-containing names are rejected (no retry). */
  def isValidFilename(name: Column): Column =
    length(name) > 0 && !name.contains("/")

  /** P16 — output-name derivation (processor_app.py:139–141):
    * `splitext(f)[0] + ".udm.json"`. */
  def udmFilename(inputFile: Column): Column = {
    val base = regexp_replace(inputFile, "^.*/", "")
    // splitext semantics: an extension exists only when some NON-DOT
    // character precedes the last dot (CPython genericpath._splitext
    // skips the run of leading dots) — so "capture" → "capture.udm.json",
    // ".bashrc" → ".bashrc.udm.json", "a..b" → "a..udm.json", and
    // all-dot basenames ("..", "...") keep every dot
    concat(regexp_replace(base, "^(\\.*[^.].*)\\.[^.]*$", "$1"), lit(".udm.json"))
  }

  /** Read a directory of tshark-JSON capture files (F2 glob —
    * `capture_*.pcap*` analog) into one row per packet, keeping the raw
    * packet JSON for snippet fidelity; the split and the whole-file
    * containment are [[UdmTransform.splitCaptures]]'s, shared with both
    * streams. */
  def readRawPackets(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    UdmTransform.splitCaptures(spark.read
      .option("wholetext", "true")
      .option("pathGlobFilter", "*.json")
      .text(dir))

  /** Full batch run: transform and route errors with the streams' own
    * [[StreamingPipeline.toUdm]], send error events to an `_errors`
    * path (K4 DLQ analog), write good events as JSONL (K2), return
    * per-file counts (A1/A2). */
  def run(spark: org.apache.spark.sql.SparkSession, inDir: String, outDir: String): DataFrame = {
    val udm = StreamingPipeline.toUdm(readRawPackets(spark, inDir))
      .cache() // the sink columns only; consumed three times below
    try {
      udm.filter(col("is_error"))
        .select(col("source_file"), col("udm_json"))
        .write.mode(SaveMode.Overwrite).json(s"$outDir/_errors")
      udm.filter(!col("is_error"))
        .select(col("udm_json"))
        .write.mode(SaveMode.Overwrite).text(s"$outDir/events")
      UdmTransform.perFileCounts(udm).localCheckpoint(eager = true)
    } finally udm.unpersist()
  }

  /** Re-emit one compact JSON value in the reference's
    * `json.dump(indent=4)` layout (json2udm_cloud.py:395): 4-space
    * indent, `": "` key separator, `,` item separator, every line of
    * the value shifted by `baseIndent` levels. Numeric literals are
    * copied as raw text (never reparsed), so digits survive verbatim.
    * ASCII content matches Python byte-for-byte; non-ASCII is emitted
    * raw where `ensure_ascii=True` would \u-escape (engine output is
    * ASCII). */
  private[etl] def pythonPretty(json: String, baseIndent: Int): String = {
    import com.fasterxml.jackson.core.{JsonFactory, JsonToken}
    import com.fasterxml.jackson.core.util.{DefaultIndenter, DefaultPrettyPrinter, Separators}
    val f = new JsonFactory()
    val p = f.createParser(json)
    val sw = new java.io.StringWriter()
    val g = f.createGenerator(sw)
    val indenter = new DefaultIndenter("    ", "\n")
    g.setPrettyPrinter(new DefaultPrettyPrinter()
      .withObjectIndenter(indenter)
      .withArrayIndenter(indenter)
      .withSeparators(Separators.createDefaultInstance()
        .withObjectFieldValueSpacing(Separators.Spacing.AFTER)
        .withObjectEmptySeparator("")
        .withArrayEmptySeparator("")))
    var tok = p.nextToken()
    while (tok != null) {
      tok match {
        case JsonToken.VALUE_NUMBER_INT | JsonToken.VALUE_NUMBER_FLOAT =>
          g.writeRawValue(p.getText)
        case _ => g.copyCurrentEvent(p)
      }
      tok = p.nextToken()
    }
    g.close(); p.close()
    val pad = "    " * baseIndent
    sw.toString.split("\n", -1).map(pad + _).mkString("\n")
  }

  /** K1, byte-identical form: the whole array written as ONE file with
    * exactly the bytes `json.dump(list, f, indent=4)` produces — no
    * trailing newline, `[]` for empty input. Runs in a single executor
    * task streaming straight to the target file (no driver collect, no
    * per-line sink framing); create(overwrite) keeps task retries
    * idempotent. */
  def writeGoldenJsonArray(df: DataFrame, jsonCol: String, path: String): Unit = {
    val ds = df.select(col(jsonCol)).coalesce(1)
    // session Hadoop conf (fs credentials, defaultFS) shipped to the
    // write task — a bare Configuration would drop spark.hadoop.*
    val conf = new org.apache.spark.util.SerializableConfiguration(
      df.sparkSession.sessionState.newHadoopConf())
    import ds.sparkSession.implicits._
    ds.as[String].mapPartitions { it =>
      import org.apache.hadoop.fs.Path
      val target = new Path(path)
      val fs = target.getFileSystem(conf.value)
      val out = fs.create(target, true)
      val w = new java.io.BufferedWriter(
        new java.io.OutputStreamWriter(out, java.nio.charset.StandardCharsets.UTF_8))
      var first = true
      while (it.hasNext) {
        w.write(if (first) "[\n" else ",\n"); first = false
        w.write(pythonPretty(it.next(), 1))
      }
      w.write(if (first) "[]" else "\n]")
      w.close()
      Iterator.single(path)
    }.collect() match { // 1 row: the path — forces the single write task
      case arr if arr.isEmpty =>
        // zero-partition input (empty LocalRelation): no task ran; emit
        // the `[]` Python writes for an empty list (O(1), driver-side)
        val target = new org.apache.hadoop.fs.Path(path)
        val fs = target.getFileSystem(df.sparkSession.sessionState.newHadoopConf())
        val out = fs.create(target, true)
        out.write("[]".getBytes(java.nio.charset.StandardCharsets.UTF_8))
        out.close()
      case _ => ()
    }
  }
}
