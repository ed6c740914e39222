package graft.functions

import graft.SparkSpec
import graft.udm.UdmExpressions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** [[FrameTime]] against the Catalyst cascade it replaced, kept here as
  * the oracle (the way UdmEventEquivalenceSpec keeps `HofUdmEvent`):
  * `rlike` guards on the first 26 characters and on the suffix-stripped
  * text, `regexp_replace` of whitespace runs, `try_to_timestamp` with
  * `MMM d, yyyy H:m:s.SSSSSS` / `MMM d, yyyy H:m:s`, and `date_format`
  * for the ISO text. */
class FrameTimeSpec extends SparkSpec {
  import spark.implicits._

  /** The replaced cascade: the frame time's timestamp, or null. */
  private def cascade(ts: Column): Column = {
    val s26 = substring(ts, 1, 26)
    val primaryPat = "^[A-Za-z]{3}\\s+\\d{1,2}, \\d{4} \\d{1,2}:\\d{1,2}:\\d{1,2}\\.\\d+$"
    val primary = when(s26.rlike(primaryPat),
      try_to_timestamp(regexp_replace(s26, "\\s+", " "), lit("MMM d, yyyy H:m:s.SSSSSS")))
    val cleaned = trim(substring_index(substring_index(ts, " UTC", 1),
      " Central European Summer Time", 1))
    val noFracPat = "^[A-Za-z]{3}\\s+\\d{1,2}, \\d{4} \\d{1,2}:\\d{1,2}:\\d{1,2}$"
    val secondary = when(cleaned.rlike(noFracPat),
      try_to_timestamp(regexp_replace(cleaned, "\\s+", " "), lit("MMM d, yyyy H:m:s")))
    coalesce(primary, secondary)
  }

  /** Frame-time strings: both formats, both suffixes, one- and two-digit
    * days and hours, 0–9 fraction digits, 4- and 5-digit and negative
    * years, impossible dates and times, every whitespace and letter-case
    * variant the patterns admit, line ends, and garbage. */
  private def frameTimes(n: Int, seed: Long): Seq[String] = {
    val r = new java.util.Random(seed)
    def pick[A](xs: A*): A = xs(r.nextInt(xs.length))
    def num(max: Int, width: Int): String = {
      val v = r.nextInt(max + 1).toString
      if (width > v.length && r.nextBoolean()) "0" * (width - v.length) + v else v
    }
    Seq.fill(n) {
      // half the samples draw only parts that can parse, so both
      // formats succeed often; the rest mix in every failure mode
      val ok = r.nextBoolean()
      def part[A](good: Seq[A], bad: A*): A = if (ok) good(r.nextInt(good.length)) else pick(good ++ bad: _*)
      val month = part(Seq("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep",
        "Oct", "Nov", "Dec", "jan", "FEB", "sEp"), "Foo", "Sept", "Ja")
      val ws = part(Seq(" ", "  ", "\t", "\n", " \r ", "\u000b", "\u000c"), "", "\u0085")
      val day = part(Seq(num(28, 2), num(9, 1)), "0", "00", "29", "30", "31", "32", "123")
      val year = part(Seq(num(9999, 4), "2024", "2023", "2000", "1900", "0000"),
        "12024", "-024", "-2024", "999")
      val hour = part(Seq(num(23, 2), num(9, 1)), "24", "99", "007")
      val minute = part(Seq(num(59, 2)), "60", "5x")
      val second = part(Seq(num(59, 2)), "60", "7.")
      val frac = r.nextInt(11) match {
        case 10 => ""
        case k => "." + Seq.fill(k)(('0' + r.nextInt(10)).toChar).mkString
      }
      val suffix = part(Seq("", " UTC", " Central European Summer Time", " UTC+2", " UTC UTC"),
        " CEST", "\n", "\r\n", "\u0085", " ", "  ", "x", "é")
      val lead = part(Seq("", " ", "  "), "\t", "\n")
      r.nextInt(20) match {
        case 0 => new String(Array.fill(r.nextInt(40))((r.nextInt(0x7f) + 1).toChar))
        case 1 => Seq.fill(r.nextInt(30))(pick('J', 'a', 'n', ' ', ',', ':', '.', '1', '9', 'é')).mkString
        case _ => s"$lead$month$ws$day, $year $hour:$minute:$second$frac$suffix"
      }
    } ++ Seq("", "Sep  5, 2025 12:34:56.123456000 UTC", "Jan 01, 2024 00:00:05 UTC",
      "Feb 29, 2000 1:2:3", "Feb 29, 1900 1:2:3", "Feb 29, 0000 1:2:3.5", "Dec 31, 9999 23:59:59.999999")
  }

  private def compare(df: DataFrame): Unit = {
    val out = df.select(col("s"),
      FrameTimeExpr.timestamp(col("s")).as("native"), cascade(col("s")).as("oracle"),
      FrameTimeExpr.iso(col("s")).as("native_iso"),
      UdmExpressions.isoMicros(cascade(col("s"))).as("oracle_iso")).collect()
    val mismatches = out.filter(r => r.get(1) != r.get(2) || r.get(3) != r.get(4))
    assert(mismatches.isEmpty, mismatches.take(10).map(r =>
      s"[${r.getString(0).replace("\n", "\\n")}] native=${r.get(3)} oracle=${r.get(4)}").mkString("\n"))
    assert(out.count(_.get(1) != null) > out.length / 10, "too few inputs parse to a time")
  }

  test("native frame time equals the cascade, interpreted and generated") {
    val inputs = frameTimes(6000, 13) ++ frameTimes(2000, 9172)
    compare(inputs.toDF("s")) // a local relation: evaluated by the optimizer, interpreted
    compare(inputs.toDF("s").repartition(3)) // whole-stage codegen
  }

  test("robustTimestamp keeps its fallback; the event timestamp keeps the [:26] quirk") {
    val fallback = to_timestamp(lit("2030-01-01 00:00:00"))
    val rows = Seq("Sep  5, 2025 12:34:56.123456000 UTC", "Sep 5, 2025 1:2:3.1234567 UTC",
      "not a time").toDF("s").repartition(1)
      .select(UdmExpressions.isoMicros(UdmExpressions.robustTimestamp(col("s"), fallback)))
      .collect().map(_.getString(0)).toSeq
    assert(rows == Seq("2025-09-05T12:34:56.123400Z", "2030-01-01T00:00:00.000000Z",
      "2030-01-01T00:00:00.000000Z"))
  }
}
