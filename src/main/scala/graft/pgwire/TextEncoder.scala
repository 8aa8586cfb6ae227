package graft.pgwire

import java.sql.{Date, Timestamp}
import java.time.{Duration, Instant, LocalDate, LocalDateTime, Period, ZoneOffset}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.CalendarInterval

/** Spark Row values → PostgreSQL text-format wire bytes, following
  * pg's own output conventions (the reference delegates this to
  * pgwire's ToSqlText; behavior matrix at
  * arrow-pg/src/encoder.rs:536-738 and list_encoder.rs/struct_encoder.rs).
  *
  * [[writer]] resolves a column's text form once (field metadata, type,
  * the output-format GUCs); the result path ([[RowWriter]]) then appends
  * each value straight into the connection's [[WireBuf]]. The per-value
  * functions ([[encodeField]], [[encode]], [[formatFloat]], …) are
  * adapters over the same writers; null is None there.
  */
object TextEncoder {

  /** Output-format GUCs (pg FormatOptions; reference delegates to
    * pgwire's ToSqlText + FormatOptions, encoder.rs:259-534):
    * TimeZone, DateStyle (style + field order), bytea_output,
    * extra_float_digits.
    *
    * extra_float_digits ≥ 1 → shortest-round-trip (pg 12+ default);
    * ≤ 0 → `%.*g` with 15+n (float8) / 6+n (float4) significant digits.
    */
  final case class Fmt(
      zone: java.time.ZoneId = ZoneOffset.UTC,
      dateStyle: String = "iso",   // iso | sql | postgres | german
      dateOrder: String = "mdy",   // mdy | dmy | ymd
      byteaEscape: Boolean = false,
      extraFloatDigits: Int = 1)

  object Fmt {
    val default: Fmt = Fmt()

    /** Parse from GUC values as pg does: DateStyle is a comma list where
      * each item is either a style or an order, last mention wins. */
    def fromGucs(zone: java.time.ZoneId, dateStyle: Option[String],
        byteaOutput: Option[String], extraFloatDigits: Option[String]): Fmt = {
      var style = "iso"; var order = "mdy"
      dateStyle.foreach(_.split(',').map(_.trim.toLowerCase).foreach {
        case s @ ("iso" | "sql" | "postgres") => style = s
        case "german" => style = "german"; order = "dmy"
        case o @ ("mdy" | "dmy" | "ymd") => order = o
        case ("us") => order = "mdy"
        case ("european" | "euro") => order = "dmy"
        case _ =>
      })
      Fmt(zone, style, order,
        byteaEscape = byteaOutput.exists(_.equalsIgnoreCase("escape")),
        extraFloatDigits = extraFloatDigits.flatMap(_.toIntOption).getOrElse(1))
    }
  }

  // ---- per-value adapters -------------------------------------------------

  /** Field-aware encode: honors pg.type=time/geometry metadata and the
    * session timezone for timestamptz (pg renders TIMESTAMPTZ at the
    * TimeZone GUC with its UTC offset; reference: set_show.rs TimeZone
    * handling).
    */
  def encodeField(v: Any, f: StructField, zone: java.time.ZoneId): Option[String] =
    encodeField(v, f, Fmt(zone = zone))

  def encodeField(v: Any, f: StructField,
      fmt: Fmt = Fmt.default): Option[String] =
    if (v == null || f.dataType == NullType) None
    else Some(text(writer(f, fmt), v))

  /** Encode one value of the given Spark type to pg text format. */
  def encode(v: Any, dt: DataType, fmt: Fmt = Fmt.default): Option[String] =
    if (v == null || dt == NullType) None
    else Some(text(writer(dt, fmt), v))

  /** pg array text: {a,b,NULL}. */
  def encodeArray(els: scala.collection.Seq[Any], elType: DataType,
      fmt: Fmt = Fmt.default): String =
    text(writer(ArrayType(elType), fmt), els)

  /** pg TIME text from nanos-since-midnight (the SURVEY §1 TIME
    * encoding: LongType + pg.type=time metadata). */
  def encodeTime(nanos: Long): String = text(TimeText, nanos)

  /** pg float text as a String; see [[writeFloat]]. */
  def formatFloat(d: Double, isFloat4: Boolean, extraFloatDigits: Int = 1): String = {
    val b = WireBuf.scratch()
    writeFloat(d, isFloat4, extraFloatDigits, b)
    b.toString
  }

  /** One non-null value's text through a column writer. */
  def text(w: ColWriter, v: Any): String = {
    val b = WireBuf.scratch()
    w.write(v, b)
    b.toString
  }

  // ---- column writers -----------------------------------------------------

  /** The text writer of a result column: pg.type metadata first (TIME,
    * geometry), then the Spark type. */
  def writer(f: StructField, fmt: Fmt): ColWriter =
    if (PgType.isTimeField(f)) TimeText
    // geometry (EWKB bytes): text form is uppercase hex EWKB, exactly
    // PostGIS's geometry output function (reference geo surface,
    // arrow-pg/src/geo_encoder.rs — its WKB arrays render the same way)
    else if (PgType.isGeometryField(f)) GeometryText
    else writer(f.dataType, fmt)

  /** The text writer of a Spark type; array elements, record fields and
    * map entries use the same output-format settings. */
  def writer(dt: DataType, fmt: Fmt): ColWriter = dt match {
    case BooleanType => BoolText
    case ByteType | ShortType | IntegerType | LongType => IntText
    case FloatType =>
      (v, b) => writeFloat(v.asInstanceOf[Float].toDouble, isFloat4 = true, fmt.extraFloatDigits, b)
    case DoubleType =>
      (v, b) => writeFloat(v.asInstanceOf[Double], isFloat4 = false, fmt.extraFloatDigits, b)
    case _: DecimalType => DecimalText
    case StringType | _: CharType | _: VarcharType => StringText
    case BinaryType => if (fmt.byteaEscape) ByteaEscapeText else ByteaHexText
    case DateType => dateText(new DateTimeFmt(fmt))
    case TimestampNTZType => timestampText(new DateTimeFmt(fmt))
    case TimestampType => new TimestampTzText(new DateTimeFmt(fmt), fmt.zone)
    case dt: DayTimeIntervalType => dayTimeText(dt)
    case _: YearMonthIntervalType => YearMonthText
    case CalendarIntervalType => CalendarIntervalText
    case ArrayType(el, _) => new ArrayText(el, writer(el, fmt))
    case st: StructType => new RecordText(st.fields.map(f => f.dataType == NullType),
      st.fields.map(f => writer(f.dataType, fmt)))
    case MapType(kt, vt, _) => new MapText(writer(kt, fmt), writer(vt, fmt))
    case other => (_, _) => throw new IllegalArgumentException(s"Unsupported type $other")
  }

  private val BoolText: ColWriter = (v, b) => b.byte(if (v.asInstanceOf[Boolean]) 't' else 'f')
  private val IntText: ColWriter = (v, b) => b.digits(v.asInstanceOf[Number].longValue)
  private val DecimalText: ColWriter =
    (v, b) => b.ascii(v.asInstanceOf[java.math.BigDecimal].toPlainString)
  private val StringText: ColWriter = (v, b) => b.utf8(v.toString)

  /** bytea_output = hex: `\x` and two lowercase hex digits a byte. */
  private val ByteaHexText: ColWriter = (v, b) => {
    b.byte('\\'); b.byte('x')
    hex(v.asInstanceOf[Array[Byte]], "0123456789abcdef", b)
  }

  private def hex(bs: Array[Byte], digits: String, b: WireBuf): Unit = {
    var i = 0
    while (i < bs.length) {
      b.byte(digits.charAt((bs(i) >> 4) & 0xf)); b.byte(digits.charAt(bs(i) & 0xf))
      i += 1
    }
  }

  /** bytea_output = escape: printables verbatim, backslash doubled,
    * the rest octal-escaped. */
  private val ByteaEscapeText: ColWriter = (v, b) => {
    val bs = v.asInstanceOf[Array[Byte]]
    var i = 0
    while (i < bs.length) {
      val c = bs(i) & 0xff
      if (c == '\\') { b.byte('\\'); b.byte('\\') }
      else if (c >= 32 && c <= 126) b.byte(c)
      else { b.byte('\\'); b.byte('0' + (c >> 6)); b.byte('0' + ((c >> 3) & 7)); b.byte('0' + (c & 7)) }
      i += 1
    }
  }

  private val GeometryText: ColWriter = (v, b) => hex(v.asInstanceOf[Array[Byte]], "0123456789ABCDEF", b)

  /** TIME from nanos since midnight: HH:MM:SS[.ffffff]. */
  private val TimeText: ColWriter = (v, b) => {
    val us = v.asInstanceOf[Long] / 1000
    b.padded(us / 3600000000L, 2); b.byte(':')
    b.padded((us % 3600000000L) / 60000000L, 2); b.byte(':')
    b.padded((us % 60000000L) / 1000000L, 2)
    writeFraction(us % 1000000L, b)
  }

  /** `.ffffff` with trailing zeros dropped; nothing for zero. */
  private def writeFraction(us: Long, b: WireBuf): Unit =
    if (us != 0) {
      var x = us
      var width = 6
      while (x % 10 == 0) { x /= 10; width -= 1 }
      b.byte('.')
      b.padded(x, width)
    }

  // ---- dates and timestamps ----------------------------------------------

  /** DateStyle resolved once per column. */
  private final class DateTimeFmt(fmt: Fmt) {
    private val style = fmt.dateStyle match {
      case "iso" => 0
      case "german" => 1
      case "sql" => 2
      case "postgres" => 3
    }
    private val dmy = fmt.dateOrder == "dmy"

    def date(epochDay: Long, b: WireBuf): Unit = {
      val ymd = civil(epochDay)
      val y = (ymd >> 16).toInt
      val m = ((ymd >> 8) & 0xff).toInt
      val d = (ymd & 0xff).toInt
      style match {
        case 0 =>
          // DateTimeFormatter's `yyyy`: year of era, '+' past 9999
          val yoe = if (y >= 1) y else 1 - y
          if (yoe > 9999) b.byte('+')
          b.padded(yoe, 4); b.byte('-'); b.padded(m, 2); b.byte('-'); b.padded(d, 2)
        case 1 => b.padded(d, 2); b.byte('.'); b.padded(m, 2); b.byte('.'); b.padded(y, 4)
        case _ =>
          val sep = if (style == 2) '/' else '-'
          b.padded(if (dmy) d else m, 2); b.byte(sep)
          b.padded(if (dmy) m else d, 2); b.byte(sep); b.padded(y, 4)
      }
    }

    /** Wall-clock timestamp from its local epoch second and nanos. */
    def timestamp(localSecond: Long, nanos: Int, b: WireBuf): Unit = {
      val epochDay = Math.floorDiv(localSecond, 86400L)
      val sod = Math.floorMod(localSecond, 86400L)
      if (style == 3) {
        // "Wed Mar 01 14:30:00 2024" (day-of-week style; deviation:
        // tz-aware values keep the ISO ±HH offset suffix rather than
        // a zone abbreviation)
        val ymd = civil(epochDay)
        b.ascii(dayNames(Math.floorMod(epochDay + 3, 7L).toInt)); b.byte(' ')
        b.ascii(monthNames(((ymd >> 8) & 0xff).toInt - 1)); b.byte(' ')
        b.padded(ymd & 0xff, 2); b.byte(' ')
        time(sod, nanos, b); b.byte(' ')
        b.digits(ymd >> 16)
      } else {
        date(epochDay, b); b.byte(' ')
        time(sod, nanos, b)
      }
    }

    private def time(sod: Long, nanos: Int, b: WireBuf): Unit = {
      b.padded(sod / 3600, 2); b.byte(':')
      b.padded(sod / 60 % 60, 2); b.byte(':')
      b.padded(sod % 60, 2)
      writeFraction(nanos / 1000, b)
    }
  }

  private val dayNames = Array("Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun")
  private val monthNames =
    Array("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")

  /** Proleptic Gregorian (year, month, day) of an epoch day, packed as
    * `year << 16 | month << 8 | day` (LocalDate.ofEpochDay's algorithm). */
  private def civil(epochDay: Long): Long = {
    var zeroDay = epochDay + 719528 - 60 // from 0000-03-01: leap day ends the cycle
    var adjust = 0L
    if (zeroDay < 0) {
      val cycles = (zeroDay + 1) / 146097 - 1
      adjust = cycles * 400
      zeroDay += -cycles * 146097
    }
    var year = (400 * zeroDay + 591) / 146097
    var doy = zeroDay - (365 * year + year / 4 - year / 100 + year / 400)
    if (doy < 0) {
      year -= 1
      doy = zeroDay - (365 * year + year / 4 - year / 100 + year / 400)
    }
    year += adjust
    val marchMonth0 = (doy.toInt * 5 + 2) / 153
    val month = (marchMonth0 + 2) % 12 + 1
    val day = doy.toInt - (marchMonth0 * 306 + 5) / 10 + 1
    year += marchMonth0 / 10
    (year << 16) | (month << 8) | day
  }

  private def dateText(dtf: DateTimeFmt): ColWriter = (v, b) => dtf.date(v match {
    case d: Date => d.toLocalDate.toEpochDay
    case d: LocalDate => d.toEpochDay
  }, b)

  private def timestampText(dtf: DateTimeFmt): ColWriter = (v, b) => {
    val t = v match {
      case t: LocalDateTime => t
      case t: Timestamp => t.toLocalDateTime
    }
    dtf.timestamp(t.toLocalDate.toEpochDay * 86400L + t.toLocalTime.toSecondOfDay, t.getNano, b)
  }

  /** timestamptz at the session TimeZone, with its UTC offset:
    * "yyyy-MM-dd HH:mm:ss[.ffffff]±HH[:MM]". */
  private final class TimestampTzText(dtf: DateTimeFmt, zone: java.time.ZoneId) extends ColWriter {
    private val rules = zone.getRules
    private val fixed =
      if (rules.isFixedOffset) rules.getOffset(Instant.EPOCH).getTotalSeconds else Int.MinValue

    def write(v: Any, b: WireBuf): Unit = {
      var sec = 0L
      var nanos = 0
      v match {
        case t: Timestamp => sec = Math.floorDiv(t.getTime, 1000L); nanos = t.getNanos
        case t: Instant => sec = t.getEpochSecond; nanos = t.getNano
      }
      val off =
        if (fixed != Int.MinValue) fixed
        else rules.getOffset(Instant.ofEpochSecond(sec, nanos)).getTotalSeconds
      dtf.timestamp(sec + off, nanos, b)
      val abs = math.abs(off)
      b.byte(if (off < 0) '-' else '+')
      b.padded(abs / 3600, 2)
      if (abs % 3600 / 60 != 0) { b.byte(':'); b.padded(abs % 3600 / 60, 2) }
    }
  }

  // ---- intervals ------------------------------------------------------------

  private def dayTimeText(dt: DayTimeIntervalType): ColWriter = (v, b) => {
    // a day-leading type renders its whole days as pg days
    // ('35 days', not '840:00:00') — see dayTimeParts
    val us = v.asInstanceOf[Duration].toNanos / 1000
    val (dd, rest) = graft.functions.PgFormatExpressions.dayTimeParts(us, dt)
    b.ascii(formatInterval(0, dd, rest))
  }

  private val YearMonthText: ColWriter = (v, b) => {
    val p = v.asInstanceOf[Period]
    b.ascii(formatInterval(p.getYears * 12 + p.getMonths, 0, 0))
  }

  private val CalendarIntervalText: ColWriter = (v, b) => {
    val ci = v.asInstanceOf[CalendarInterval]
    b.ascii(formatInterval(ci.months, ci.days, ci.microseconds))
  }

  /** pg interval text, verbose-ish style: "1 year 2 mons 3 days 04:05:06".
    * pg pluralizes every value except exactly 1 ('-1 days', live-pg
    * pinned), and prefixes the time part with an explicit '+' when an
    * earlier field is negative ('-1 days +05:00:00').
    */
  def formatInterval(months: Int, days: Int, micros: Long): String = {
    val sb = new StringBuilder
    val years = months / 12
    val mons = months % 12
    if (years != 0) sb.append(s"$years year${if (years != 1) "s" else ""} ")
    if (mons != 0) sb.append(s"$mons mon${if (mons != 1) "s" else ""} ")
    if (days != 0) sb.append(s"$days day${if (days != 1) "s" else ""} ")
    if (micros != 0 || sb.isEmpty) {
      val neg = micros < 0
      val am = math.abs(micros)
      val h = am / 3600000000L
      val m = (am % 3600000000L) / 60000000L
      val s = (am % 60000000L) / 1000000L
      val us = am % 1000000L
      sb.append(if (neg) "-" else if (days < 0 || months < 0) "+" else "")
      sb.append("%02d:%02d:%02d".format(h, m, s))
      if (us != 0) sb.append("." + "%06d".format(us).reverse.dropWhile(_ == '0').reverse)
    }
    sb.toString.trim
  }

  // ---- floats ---------------------------------------------------------------

  /** pg float text (Ryu-style): shortest round-trip digits, plain
    * decimal within the pg exponent window, `d.ddde±XX` outside it.
    * pg prints `0.0001` (not `1.0E-4`) and `1e-05`; the decimal window
    * is exponent ∈ [-4, 15] for float8 and [-4, 5] for float4
    * (matching pg's float8out/float4out Ryu output).
    *
    * One pass over the JDK's digit string finds the significant digits
    * and the decimal exponent; they are then laid out in place.
    */
  def writeFloat(d: Double, isFloat4: Boolean, extraFloatDigits: Int, b: WireBuf): Unit =
    if (d.isNaN) b.ascii("NaN")
    else if (d.isPosInfinity) b.ascii("Infinity")
    else if (d.isNegInfinity) b.ascii("-Infinity")
    else if (d == 0.0) b.ascii(if (1 / d < 0) "-0" else "0")
    else {
      // extra_float_digits ≥ 1 → shortest round-trip (Java's toString);
      // ≤ 0 → pg's pre-Ryu `%.*g` with DIG+n significant digits
      val ndig =
        if (extraFloatDigits >= 1) 0
        else math.max(1, (if (isFloat4) 6 else 15) + extraFloatDigits)
      val s =
        if (ndig > 0)
          new java.math.BigDecimal(math.abs(d))
            .round(new java.math.MathContext(ndig)).toString
        else if (isFloat4) java.lang.Float.toString(math.abs(d).toFloat)
        else java.lang.Double.toString(math.abs(d))
      // mantissa digits are numbered without the '.'; `dot` of them
      // precede it, the significant ones run from `first` to `last`
      var dot = -1
      var nd = 0
      var first = -1
      var last = -1
      var exp = 0
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '.') dot = nd
        else if (c == 'E') {
          val neg = s.charAt(i + 1) == '-'
          var j = if (neg || s.charAt(i + 1) == '+') i + 2 else i + 1
          while (j < s.length) { exp = exp * 10 + (s.charAt(j) - '0'); j += 1 }
          if (neg) exp = -exp
          i = s.length
        } else {
          if (c != '0') { if (first < 0) first = nd; last = nd }
          nd += 1
        }
        i += 1
      }
      val intLen = if (dot < 0) nd else dot
      def digit(k: Int): Unit = b.byte(s.charAt(if (dot >= 0 && k >= dot) k + 1 else k))
      def digits(from: Int, until: Int): Unit = { var k = from; while (k < until) { digit(k); k += 1 } }
      val e10 = intLen + exp - first - 1 // exponent of the first significant digit
      val sigLen = last - first + 1
      // %g switches to scientific at the precision; Ryu at the pg window
      val maxDecimalExp =
        if (ndig > 0) ndig - 1 else if (isFloat4) 5 else 15
      if (d < 0) b.byte('-')
      if (e10 > maxDecimalExp || e10 < -4) {
        digit(first)
        if (sigLen > 1) { b.byte('.'); digits(first + 1, last + 1) }
        b.byte('e'); b.byte(if (e10 < 0) '-' else '+'); b.padded(math.abs(e10), 2)
      } else if (e10 >= sigLen - 1) {
        digits(first, last + 1)
        var z = e10 - sigLen + 1
        while (z > 0) { b.byte('0'); z -= 1 }
      } else if (e10 >= 0) {
        digits(first, first + e10 + 1); b.byte('.'); digits(first + e10 + 1, last + 1)
      } else {
        b.byte('0'); b.byte('.')
        var z = -e10 - 1
        while (z > 0) { b.byte('0'); z -= 1 }
        digits(first, last + 1)
      }
    }

  // ---- composites -----------------------------------------------------------

  /** Write one element with `w`, then wrap it in double quotes (escaping
    * `"` and `\`) when [[needsQuote]] says so. */
  private def quoted(w: ColWriter, v: Any, b: WireBuf, record: Boolean): Unit = {
    val start = b.size
    w.write(v, b)
    val end = b.size
    if (needsQuote(b, start, end, record)) {
      val raw = b.copy(start, end)
      b.truncate(start)
      b.byte('"')
      var i = 0
      while (i < raw.length) {
        if (raw(i) == '"' || raw(i) == '\\') b.byte('\\')
        b.byte(raw(i))
        i += 1
      }
      b.byte('"')
    }
  }

  /** Array elements quote when empty, `NULL` in any case, or holding
    * `,{}"\` or whitespace; record fields when empty or holding
    * `,()"\` or whitespace. */
  private def needsQuote(b: WireBuf, start: Int, end: Int, record: Boolean): Boolean =
    if (start == end) true
    else if (!record && end - start == 4 && b.string(start, end).equalsIgnoreCase("null")) true
    else {
      var i = start
      var q = false
      var wide = false
      while (i < end && !q) {
        val c = b.at(i)
        if (c < 0) wide = true
        else q = c == ',' || c == '"' || c == '\\' || c == ' ' ||
          (c >= 9 && c <= 13) || (c >= 28 && c <= 31) ||
          (if (record) c == '(' || c == ')' else c == '{' || c == '}')
        i += 1
      }
      // non-ASCII whitespace (U+2003, U+3000, …) counts too
      q || (wide && b.string(start, end).exists(Character.isWhitespace))
    }

  /** pg array text: {a,b,NULL}; elements quoted when they contain
    * specials (reference regression: `{NULL}` array — encoder.rs tests);
    * nested sub-arrays render bare: pg multidim text is {{1,2},{3,4}}.
    */
  private final class ArrayText(el: DataType, w: ColWriter) extends ColWriter {
    private val nullEl = el == NullType
    private val bare = el.isInstanceOf[ArrayType]

    def write(v: Any, b: WireBuf): Unit = {
      b.byte('{')
      var sep = false
      v.asInstanceOf[scala.collection.Seq[Any]].foreach { e =>
        if (sep) b.byte(',')
        sep = true
        if (e == null || nullEl) b.ascii("NULL")
        else if (bare) w.write(e, b)
        else quoted(w, e, b, record = false)
      }
      b.byte('}')
    }
  }

  /** pg composite text: (a,b); NULL fields empty; quoting like arrays
    * (reference: arrow-pg/src/struct_encoder.rs:74-160).
    */
  private final class RecordText(nullField: Array[Boolean], ws: Array[ColWriter]) extends ColWriter {
    def write(v: Any, b: WireBuf): Unit = {
      val row = v.asInstanceOf[Row]
      b.byte('(')
      var i = 0
      while (i < ws.length) {
        if (i > 0) b.byte(',')
        if (!row.isNullAt(i) && !nullField(i)) quoted(ws(i), row.get(i), b, record = true)
        i += 1
      }
      b.byte(')')
    }
  }

  /** Maps have no pg type; hstore-style "k"=>"v" text. */
  private final class MapText(kw: ColWriter, vw: ColWriter) extends ColWriter {
    def write(v: Any, b: WireBuf): Unit = {
      var sep = false
      v.asInstanceOf[scala.collection.Map[Any, Any]].foreach { case (k, x) =>
        if (sep) { b.byte(','); b.byte(' ') }
        sep = true
        b.byte('"')
        if (k == null) b.ascii("NULL") else kw.write(k, b)
        b.ascii("\"=>")
        if (x == null) b.ascii("NULL")
        else { b.byte('"'); vw.write(x, b); b.byte('"') }
      }
    }
  }
}
