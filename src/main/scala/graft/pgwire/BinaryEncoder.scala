package graft.pgwire

import java.nio.ByteBuffer
import java.sql.{Date, Timestamp}
import java.time.{Duration, Instant, LocalDate, LocalDateTime, Period, ZoneOffset}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.CalendarInterval

/** Spark Row values → PostgreSQL binary-format wire bytes
  * (format code 1 in Bind/RowDescription). Matches pg's canonical
  * binary encodings: big-endian integers, 2000-01-01 epoch for
  * date/timestamp, base-10000 digit groups for numeric, dimensioned
  * element lists for arrays, (oid,len,bytes) tuples for records.
  * The reference gets these from pgwire's ToSqlBinary; same contract.
  *
  * [[writer]] resolves a column's binary form once; the per-value
  * [[encode]] and [[encodeNumeric]] are adapters over the same writers.
  */
object BinaryEncoder {

  val PG_EPOCH_DAYS: Long = LocalDate.of(2000, 1, 1).toEpochDay
  val PG_EPOCH_MICROS: Long = PG_EPOCH_DAYS * 86400L * 1000000L

  def be2(v: Int): Array[Byte] = ByteBuffer.allocate(2).putShort(v.toShort).array()
  def be4(v: Int): Array[Byte] = ByteBuffer.allocate(4).putInt(v).array()

  /** Encode one value to pg binary; None = NULL. */
  def encode(v: Any, dt: DataType): Option[Array[Byte]] =
    if (v == null || dt == NullType) None
    else Some(bytes(writer(dt), v))

  /** Field-aware encode: TIME by its pg.type metadata, the rest by type. */
  def encodeField(v: Any, f: StructField): Option[Array[Byte]] =
    if (v == null || f.dataType == NullType) None
    else Some(bytes(writer(f), v))

  /** pg numeric binary: ndigits, weight, sign, dscale, base-10000 digits. */
  def encodeNumeric(bd: java.math.BigDecimal): Array[Byte] = bytes(NumericBinary, bd)

  /** interval: micros int64, days int32, months int32. */
  def intervalBytes(months: Int, days: Int, micros: Long): Array[Byte] = {
    val b = WireBuf.scratch()
    writeInterval(months, days, micros, b)
    b.toArray
  }

  private def bytes(w: ColWriter, v: Any): Array[Byte] = {
    val b = WireBuf.scratch()
    w.write(v, b)
    b.toArray
  }

  // ---- column writers -----------------------------------------------------

  /** The binary writer of a result column: TIME (LongType nanos +
    * pg.type=time) is micros-since-midnight int8, the rest by type. */
  def writer(f: StructField): ColWriter =
    if (PgType.isTimeField(f)) TimeBinary else writer(f.dataType)

  def writer(dt: DataType): ColWriter = dt match {
    case BooleanType => BoolBinary
    case ByteType | ShortType => Int2Binary
    case IntegerType => Int4Binary
    case LongType => Int8Binary
    case FloatType => Float4Binary
    case DoubleType => Float8Binary
    case _: DecimalType => NumericBinary
    case StringType | _: CharType | _: VarcharType => StringBinary
    case BinaryType => BytesBinary
    case DateType => DateBinary
    case TimestampNTZType => TimestampBinary
    case TimestampType => TimestampTzBinary
    case _: DayTimeIntervalType => DayTimeBinary
    case _: YearMonthIntervalType => YearMonthBinary
    case CalendarIntervalType => CalendarIntervalBinary
    case ArrayType(el, _) => new ArrayBinary(el, writer(el))
    case st: StructType => new RecordBinary(st.fields.map(f => PgType.oidOf(f.dataType)),
      st.fields.map(f => f.dataType == NullType), st.fields.map(f => writer(f.dataType)))
    // no binary form (e.g. maps): text bytes
    case other => TextEncoder.writer(other, TextEncoder.Fmt.default)
  }

  private val TimeBinary: ColWriter = (v, b) => b.int8(v.asInstanceOf[Long] / 1000)
  private val BoolBinary: ColWriter = (v, b) => b.byte(if (v.asInstanceOf[Boolean]) 1 else 0)
  private val Int2Binary: ColWriter = (v, b) => b.int2(v.asInstanceOf[Number].intValue)
  private val Int4Binary: ColWriter = (v, b) => b.int4(v.asInstanceOf[Int])
  private val Int8Binary: ColWriter = (v, b) => b.int8(v.asInstanceOf[Long])
  private val Float4Binary: ColWriter =
    (v, b) => b.int4(java.lang.Float.floatToIntBits(v.asInstanceOf[Float]))
  private val Float8Binary: ColWriter =
    (v, b) => b.int8(java.lang.Double.doubleToLongBits(v.asInstanceOf[Double]))
  private val StringBinary: ColWriter = (v, b) => b.utf8(v.toString)
  private val BytesBinary: ColWriter = (v, b) => b.bytes(v.asInstanceOf[Array[Byte]])

  private val DateBinary: ColWriter = (v, b) => {
    val days = v match {
      case d: Date => d.toLocalDate.toEpochDay
      case d: LocalDate => d.toEpochDay
    }
    b.int4((days - PG_EPOCH_DAYS).toInt)
  }

  private val TimestampBinary: ColWriter = (v, b) => {
    val micros = v match {
      case t: LocalDateTime =>
        t.toEpochSecond(ZoneOffset.UTC) * 1000000L + t.getNano / 1000
      case t: Timestamp => t.getTime * 1000 + (t.getNanos % 1000000) / 1000
    }
    b.int8(micros - PG_EPOCH_MICROS)
  }

  private val TimestampTzBinary: ColWriter = (v, b) => {
    val micros = v match {
      case t: Timestamp => t.getTime * 1000 + (t.getNanos % 1000000) / 1000
      case t: Instant => t.getEpochSecond * 1000000L + t.getNano / 1000
    }
    b.int8(micros - PG_EPOCH_MICROS)
  }

  private def writeInterval(months: Int, days: Int, micros: Long, b: WireBuf): Unit = {
    b.int8(micros); b.int4(days); b.int4(months)
  }

  private val DayTimeBinary: ColWriter =
    (v, b) => writeInterval(0, 0, v.asInstanceOf[Duration].toNanos / 1000, b)

  private val YearMonthBinary: ColWriter = (v, b) => {
    val p = v.asInstanceOf[Period]
    writeInterval(p.getYears * 12 + p.getMonths, 0, 0, b)
  }

  private val CalendarIntervalBinary: ColWriter = (v, b) => {
    val ci = v.asInstanceOf[CalendarInterval]
    writeInterval(ci.months, ci.days, ci.microseconds, b)
  }

  private val tenK = java.math.BigInteger.valueOf(10000)

  private val NumericBinary: ColWriter = (v, b) => {
    val bd = v.asInstanceOf[java.math.BigDecimal]
    val dscale = math.max(bd.scale, 0)
    val neg = bd.signum < 0
    val abs = bd.abs.stripTrailingZeros
    if (abs.unscaledValue.signum == 0) {
      b.int2(0); b.int2(0); b.int2(0); b.int2(dscale)
    } else {
      // shift into an integer count of base-10000 groups
      val scale4 = ((abs.scale + 3) / 4) * 4
      var rem = abs.movePointRight(scale4).toBigIntegerExact
      var digits = List.empty[Int]
      while (rem.signum > 0) {
        val Array(q, r) = rem.divideAndRemainder(tenK)
        digits = r.intValue :: digits
        rem = q
      }
      val weight = digits.length - 1 - scale4 / 4
      // drop trailing zero groups
      val trimmed = digits.reverse.dropWhile(_ == 0).reverse
      b.int2(trimmed.length); b.int2(weight); b.int2(if (neg) 0x4000 else 0); b.int2(dscale)
      trimmed.foreach(d => b.int2(d))
    }
  }

  /** Write the element with `w`, int32 length first (-1 = NULL). */
  private def lengthPrefixed(w: ColWriter, v: Any, isNull: Boolean, b: WireBuf): Unit =
    if (v == null || isNull) b.int4(-1)
    else {
      val at = b.reserve4()
      w.write(v, b)
      b.lengthFrom(at)
    }

  /** pg array binary: ndim, hasnull, eloid, dims, elements. */
  private final class ArrayBinary(el: DataType, w: ColWriter) extends ColWriter {
    private val oid = PgType.oidOf(el)
    private val nullEl = el == NullType

    def write(v: Any, b: WireBuf): Unit = {
      val els = v.asInstanceOf[scala.collection.Seq[Any]]
      b.int4(1)
      b.int4(if (els.exists(_ == null)) 1 else 0)
      b.int4(oid)
      b.int4(els.length)
      b.int4(1) // lower bound
      els.foreach(lengthPrefixed(w, _, nullEl, b))
    }
  }

  /** pg record binary: nfields, then (oid, len, bytes) per field. */
  private final class RecordBinary(oids: Array[Int], nullField: Array[Boolean],
      ws: Array[ColWriter]) extends ColWriter {
    def write(v: Any, b: WireBuf): Unit = {
      val row = v.asInstanceOf[Row]
      b.int4(ws.length)
      var i = 0
      while (i < ws.length) {
        b.int4(oids(i))
        lengthPrefixed(ws(i), if (row.isNullAt(i)) null else row.get(i), nullField(i), b)
        i += 1
      }
    }
  }
}
