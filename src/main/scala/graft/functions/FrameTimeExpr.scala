package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** P3 — the reference's `convert_timestamp_robust`
  * (json2udm_cloud.py:19–46) as one pass over the bytes of a tshark
  * frame time, with no regex and no java.time call per row:
  *  1. primary: the first 26 characters must be exactly
  *     `MMM<ws>d, yyyy H:m:s.<1–6 digits>` (the `[:26]` truncation
  *     quirk clips tshark's nine fraction digits to three or four);
  *  2. fallback: the text before the first " UTC" or " Central European
  *     Summer Time", stripped of spaces, must be exactly
  *     `MMM<ws>d, yyyy H:m:s`;
  *  3. otherwise no time (null).
  * `MMM` is an English month abbreviation in any letter case, `<ws>`
  * one or more of space, tab, LF, VT, FF and CR, day and time fields
  * one or two digits, the year four digits (0000–9999, proleptic
  * Gregorian), and the date and time must exist (no Feb 30, no hour 24,
  * no leap second). These are the answers of the Catalyst cascade this
  * replaces (`rlike` guards, `regexp_replace`, `try_to_timestamp` with
  * `MMM d, yyyy H:m:s[.SSSSSS]`, `date_format`), which
  * FrameTimeSpec keeps as the oracle. Times are UTC: exact under the
  * UTC session timezone the pipeline requires.
  */
object FrameTime {

  /** [[micros]]'s "no time" value; no parsed time reaches it. */
  final val NoTime = Long.MinValue

  private val MicrosPerDay = 86400L * 1000000L

  /** Epoch microseconds of a frame time, or [[NoTime]]. */
  def micros(s: UTF8String): Long = {
    val c = new Cursor(s.getBaseObject, s.getBaseOffset)
    val n = s.numBytes
    // primary: the first 26 characters; a valid time is ASCII, so any
    // other byte among them fails it
    var end = 0
    while (end < n && end < 26 && c.at(end) >= 0) end += 1
    val primary =
      if (end == n || end == 26) c.parse(0, end, fraction = true) else NoTime
    if (primary != NoTime) primary
    else {
      var cut = n
      val utc = c.indexOf(n, Utc)
      if (utc >= 0) cut = utc
      val cest = c.indexOf(cut, Cest)
      if (cest >= 0) cut = cest
      var from = 0
      while (from < cut && c.at(from) == ' ') from += 1
      while (cut > from && c.at(cut - 1) == ' ') cut -= 1
      c.parse(from, cut, fraction = false)
    }
  }

  /** ISO-8601 text of a frame time (microseconds, trailing `Z`), or
    * null: `date_format(…, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")` + "Z". */
  def iso(s: UTF8String): UTF8String = {
    val t = micros(s)
    if (t == NoTime) null else UTF8String.fromBytes(isoBytes(t))
  }

  private val Utc = " UTC".getBytes("US-ASCII")
  private val Cest = " Central European Summer Time".getBytes("US-ASCII")

  private val months = Array("jan", "feb", "mar", "apr", "may", "jun",
    "jul", "aug", "sep", "oct", "nov", "dec")

  /** A read position over the bytes of one string. */
  private final class Cursor(base: AnyRef, off: Long) {
    private var p = 0
    private var to = 0

    def at(i: Int): Int = Platform.getByte(base, off + i)

    def indexOf(limit: Int, pat: Array[Byte]): Int = {
      var i = 0
      while (i + pat.length <= limit) {
        var j = 0
        while (j < pat.length && at(i + j) == pat(j)) j += 1
        if (j == pat.length) return i
        i += 1
      }
      -1
    }

    private def isWs(c: Int): Boolean =
      c == ' ' || c == '\t' || c == '\n' || c == 0x0b || c == '\f' || c == '\r'

    /** A field of `min` to `max` digits at the position, or -1. */
    private def digits(min: Int, max: Int): Int = {
      var v = 0; var k = 0
      while (k < max && p < to && at(p) >= '0' && at(p) <= '9') {
        v = v * 10 + (at(p) - '0'); p += 1; k += 1
      }
      if (k < min) -1 else v
    }

    private def lit(c: Char): Boolean =
      if (p < to && at(p) == c) { p += 1; true } else false

    /** Bytes `[from, until)` read as exactly `MMM<ws>d, yyyy H:m:s`,
      * plus `.<1–6 digits>` when `fraction`; [[NoTime]] on any
      * mismatch. */
    def parse(from: Int, until: Int, fraction: Boolean): Long = {
      p = from; to = until
      if (to - from < 3) return NoTime
      var month = 0
      var m = 0
      while (m < 12 && month == 0) {
        val name = months(m)
        var j = 0
        while (j < 3 && (at(from + j) | 0x20) == name.charAt(j)) j += 1
        if (j == 3) month = m + 1
        m += 1
      }
      if (month == 0) return NoTime
      p = from + 3
      while (p < to && isWs(at(p))) p += 1
      if (p == from + 3) return NoTime
      val day = digits(1, 2)
      if (day < 0 || !lit(',') || !lit(' ')) return NoTime
      val year = digits(4, 4)
      if (year < 0 || !lit(' ')) return NoTime
      val hour = digits(1, 2)
      if (hour < 0 || !lit(':')) return NoTime
      val minute = digits(1, 2)
      if (minute < 0 || !lit(':')) return NoTime
      val second = digits(1, 2)
      if (second < 0) return NoTime
      var micros = 0L
      if (fraction) {
        if (!lit('.')) return NoTime
        val f0 = p
        val frac = digits(1, 6)
        if (frac < 0) return NoTime
        micros = frac
        var k = p - f0
        while (k < 6) { micros *= 10; k += 1 }
      }
      if (p != to || hour > 23 || minute > 59 || second > 59 ||
        day < 1 || day > monthLength(year, month)) return NoTime
      daysFromCivil(year, month, day) * MicrosPerDay +
        ((hour * 60L + minute) * 60L + second) * 1000000L + micros
    }
  }

  private def isLeap(y: Long): Boolean = (y % 4 == 0) && (y % 100 != 0 || y % 400 == 0)

  private def monthLength(y: Int, m: Int): Int = m match {
    case 2 => if (isLeap(y)) 29 else 28
    case 4 | 6 | 9 | 11 => 30
    case _ => 31
  }

  /** Days since 1970-01-01 of a proleptic Gregorian date (H. Hinnant's
    * `days_from_civil`). */
  private[graft] def daysFromCivil(y0: Long, m: Int, d: Int): Long = {
    val y = if (m <= 2) y0 - 1 else y0
    val era = Math.floorDiv(y, 400L)
    val yoe = y - era * 400
    val mp = (m + 9) % 12
    val doy = (153 * mp + 2) / 5 + d - 1
    val doe = yoe * 365 + yoe / 4 - yoe / 100 + doy
    era * 146097 + doe - 719468
  }

  /** (year, month, day) of a day count since 1970-01-01 (Hinnant's
    * `civil_from_days`), packed as `year << 9 | month << 5 | day`. */
  private[graft] def civilFromDays(days: Long): Long = {
    val z = days + 719468
    val era = Math.floorDiv(z, 146097L)
    val doe = z - era * 146097
    val yoe = (doe - doe / 1460 + doe / 36524 - doe / 146096) / 365
    val doy = doe - (365 * yoe + yoe / 4 - yoe / 100)
    val mp = (5 * doy + 2) / 153
    val d = doy - (153 * mp + 2) / 5 + 1
    val m = if (mp < 10) mp + 3 else mp - 9
    val y = yoe + era * 400 + (if (m <= 2) 1 else 0)
    (y << 9) | (m << 5) | d
  }

  /** `yyyy-MM-ddTHH:mm:ss.SSSSSSZ` of epoch micros in years 0000–9999. */
  private def isoBytes(t: Long): Array[Byte] = {
    val days = Math.floorDiv(t, MicrosPerDay)
    val inDay = t - days * MicrosPerDay
    val ymd = civilFromDays(days)
    val out = new Array[Byte](27)
    def put(at: Int, v: Long, width: Int): Unit = {
      var x = v; var i = at + width - 1
      while (i >= at) { out(i) = ('0' + x % 10).toByte; x /= 10; i -= 1 }
    }
    put(0, ymd >> 9, 4); out(4) = '-'
    put(5, (ymd >> 5) & 0xf, 2); out(7) = '-'
    put(8, ymd & 0x1f, 2); out(10) = 'T'
    val sec = inDay / 1000000
    put(11, sec / 3600, 2); out(13) = ':'
    put(14, sec / 60 % 60, 2); out(16) = ':'
    put(17, sec % 60, 2); out(19) = '.'
    put(20, inDay % 1000000, 6); out(26) = 'Z'
    out
  }
}

/** [[FrameTime]] as a codegen'd expression: a frame-time string →
  * its ISO-8601 text (`iso`, the UDM event timestamp) or its timestamp
  * (`!iso`, what [[graft.udm.UdmExpressions.robustTimestamp]] returns),
  * null where neither tshark format parses. */
case class FrameTimeExpr(child: Expression, iso: Boolean) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"frame_time expects a STRING frame time, got $other")
  }

  override def dataType: DataType = if (iso) StringType else TimestampType
  override def nullable: Boolean = true
  override def prettyName: String = if (iso) "frame_time_iso" else "frame_time"

  override def nullSafeEval(s: Any): Any = {
    val str = s.asInstanceOf[UTF8String]
    if (iso) FrameTime.iso(str)
    else {
      val t = FrameTime.micros(str)
      if (t == FrameTime.NoTime) null else t
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      if (iso)
        s"""${ev.value} = graft.functions.FrameTime.iso($c);
           |${ev.isNull} = ${ev.value} == null;""".stripMargin
      else
        s"""${ev.value} = graft.functions.FrameTime.micros($c);
           |${ev.isNull} = ${ev.value} == ${FrameTime.NoTime}L;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): FrameTimeExpr =
    copy(child = newChild)
}

object FrameTimeExpr {
  import org.apache.spark.sql.graftbridge.ColumnBridge
  /** The ISO-8601 text of a frame time, or null. */
  def iso(ts: Column): Column =
    ColumnBridge.column(FrameTimeExpr(ColumnBridge.expression(ts), iso = true))
  /** The timestamp of a frame time, or null. */
  def timestamp(ts: Column): Column =
    ColumnBridge.column(FrameTimeExpr(ColumnBridge.expression(ts), iso = false))
}
