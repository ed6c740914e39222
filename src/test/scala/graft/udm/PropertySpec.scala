package graft.udm

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalacheck.rng.Seed

/** Property tests promised in SURVEY.md §5: the transform is TOTAL —
  * any input string yields exactly one valid event with a valid
  * timestamp, never an exception. Samples are generated with ScalaCheck
  * and evaluated in one Spark job (per-sample jobs would be painfully
  * slow). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    Iterator.from(0)
      .flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))
      .take(n).toSeq

  test("P3: robustTimestamp never throws and always yields a timestamp") {
    val tsGen = Gen.oneOf(
      Gen.asciiPrintableStr,
      Gen.const(""),
      for {
        mon <- Gen.oneOf("Jan", "Feb", "Sep", "Dec", "XXX")
        day <- Gen.chooseNum(-5, 40); hour <- Gen.chooseNum(0, 30)
        frac <- Gen.oneOf("", ".1", ".123456", ".123456789")
        suffix <- Gen.oneOf("", " UTC", " Central European Summer Time", " weird")
      } yield s"$mon $day, 2025 $hour:12:13$frac$suffix")
    val inputs = samples(tsGen, 400)
    val out = inputs.toDF("s")
      .select(UdmExpressions.robustTimestamp(col("s"),
        to_timestamp(lit("2030-01-01 00:00:00"))).as("ts"))
      .collect()
    assert(out.length == 400)
    assert(out.forall(!_.isNullAt(0))) // total: always a timestamp
  }

  test("P14: any input string yields exactly one structurally valid event") {
    val rawGen = Gen.oneOf(
      Gen.asciiPrintableStr,
      Gen.const("""{"_source": {"layers": {}}}"""),
      Gen.const("""{"_source": 42}"""),
      Gen.const("[1,2,3]"),
      Gen.asciiPrintableStr.map(s => s"""{"_source":{"layers":{"tcp":{"tcp.srcport":${'"'}$s${'"'}}}}}"""))
    val inputs = samples(rawGen, 300)
    val frozen = to_timestamp(lit("2030-01-01 00:00:00"))
    val out = UdmTransform.transform(inputs.toDF("raw"), "raw", frozen)
      .select(col("udm_json").as("j"))
      .collect()
    assert(out.length == inputs.length) // one event per input, no throws
    // every serialized event has the mandatory metadata core
    assert(out.forall { r =>
      val j = r.getString(0)
      j.startsWith("""{"event":{"metadata":{"event_timestamp":""") &&
        j.contains(""""vendor_name":"Wireshark"""") && j.contains(""""event_type":""")
    })
    // and no null-valued fields survive serialization (P12)
    assert(out.forall(!_.getString(0).contains(":null")))
  }

  test("batched multimodal decode parses real headers for arbitrary text payloads") {
    import graft.analytics.Multimodal
    val docs = samples(Gen.asciiPrintableStr.suchThat(_.nonEmpty), 100)
      .zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val batched = Multimodal.decodeBatched(docs)
      .orderBy("doc_id").collect()
    // real dimensions out of the synthesized PNG/JPEG binaries, for
    // EVERY generated text (arbitrary trailing bytes never confuse the
    // header walk), and content_hash matches the engine's md5
    val md5OfPayload = Multimodal.withPayload(docs)
      .select(col("doc_id"), md5(col("payload"))).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    batched.foreach { r =>
      val id = r.getLong(0)
      assert(r.getString(1) == md5OfPayload(id)) // JVM md5 == engine md5
      assert(r.getString(2) == (if (id % 2 == 0) "png" else "jpeg"))
      assert(r.getInt(3) == Multimodal.synthWidth(id))
      assert(r.getInt(4) == Multimodal.synthHeight(id))
      assert(r.getLong(5) == 0L) // decoded stills have no duration
      val header = if (id % 2 == 0) Multimodal.pngHeaderBytes else Multimodal.jpegHeaderBytes
      assert(r.getLong(6) == header + texts(id).getBytes("UTF-8").length)
    }
    // an unknown format falls back to the deterministic stub
    val webp = "RIFF....WEBP and junk".getBytes("UTF-8")
    assert(graft.analytics.MediaDecode.decode(webp).isEmpty)
  }
}
