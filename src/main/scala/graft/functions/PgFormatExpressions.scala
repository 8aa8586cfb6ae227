package graft.functions

import java.math.{BigDecimal => JBigDecimal}
import java.time.{LocalDate, ZoneId, ZoneOffset}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, TypeCheckResult}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.{CalendarInterval, UTF8String}

/** Catalyst wrappers for the [[PgFormat]] template engines plus the
  * pg interval functions (`age`, `justify_*`) whose natural return
  * type is Spark's `CalendarIntervalType` (months/days/micros — the
  * same three-field model as pg's interval).
  *
  * These REPLACE Spark's builtin `to_char`/`to_timestamp`/`to_date`
  * in the session registry: on a pg wire server the pg template
  * language ('YYYY-MM-DD', '9G999D99') is the contract, not Spark's
  * Java patterns. Registration happens per-session via [[install]]
  * (called from PgFunctions.registerAll), so plain Spark sessions
  * that never touch the pg surface are unaffected.
  *
  * All are CodegenFallback: per-row cost is a memoized template
  * lookup + string assembly, never the hot inner loop of a scan.
  */
object PgFormatExpressions {

  private val dtInputs: Set[DataType] = Set(DateType, TimestampType, TimestampNTZType)

  private def isNumeric(dt: DataType): Boolean = dt match {
    case _: NumericType => true
    case _ => false
  }

  private def isInterval(dt: DataType): Boolean = dt match {
    case CalendarIntervalType | _: DayTimeIntervalType | _: YearMonthIntervalType => true
    case _ => false
  }

  /** Split a DayTimeInterval's micros into pg's (days, micros) pair.
    * Spark stores INTERVAL '35 days' as one micros value, but the
    * TYPE's start field says whether the pg literal had a day field —
    * pg keeps '35 days' and '840:00:00' distinct (justify_days moves
    * only days; the text forms differ), so a day-leading type splits
    * at whole days and an hour-or-finer type keeps pure time. */
  def dayTimeParts(micros: Long, dt: DayTimeIntervalType): (Int, Long) =
    if (dt.startField == DayTimeIntervalType.DAY) {
      val usPerDay = 86400000000L
      val d = micros / usPerDay
      (d.toInt, micros - d * usPerDay)
    } else (0, micros)

  /** Direct-call codegen body: emits `self.nullSafeEval(...)` so the
    * surrounding projection stays inside whole-stage codegen.
    * CodegenFallback would instead evaluate the ENTIRE subtree
    * interpreted per row — for chains like to_date(to_char(...)) that
    * doubles the work and breaks the codegen span (measured 2.3 s on
    * q100 when PgToChar made this same move in round 7). */
  private def genDirect(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode,
      self: Expression, canBeNull: Boolean, args: Seq[String]): String = {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val ref = ctx.addReferenceObj("pgExpr", self, self.getClass.getName)
    val call = s"$ref.nullSafeEval(${args.mkString(", ")})"
    val boxed = CodeGenerator.boxedType(self.dataType)
    val unbox = self.dataType match {
      case LongType | TimestampType | TimestampNTZType => ".longValue()"
      case IntegerType | DateType => ".intValue()"
      case DoubleType => ".doubleValue()"
      case FloatType => ".floatValue()"
      case BooleanType => ".booleanValue()"
      case _ => ""
    }
    if (canBeNull) {
      val tmp = ctx.freshName("pgRes")
      s"""Object $tmp = $call;
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = (($boxed) $tmp)$unbox; }""".stripMargin
    } else s"${ev.value} = (($boxed) $call)$unbox;"
  }

  /** Shared template cache: formats are almost always literals, so a
    * tiny per-expression memo removes recompilation per row. Keys on
    * the UTF8String bytes directly — no per-row String allocation.
    * One volatile reference to an immutable (key, value) pair so
    * concurrent evaluators of a shared expression instance never
    * observe a key paired with a stale compiled value. */
  final class FmtMemo[T](compile: String => T) {
    @volatile private var entry: (UTF8String, T) = null
    def get(fmt: UTF8String): T = {
      val e = entry
      if (e != null && e._1.equals(fmt)) e._2
      else {
        val v = compile(fmt.toString)
        entry = (fmt.clone(), v)
        v
      }
    }
  }

  // ---- to_char -----------------------------------------------------------

  case class PgToChar(left: Expression, right: Expression,
      timeZoneId: Option[String] = None)
      extends BinaryExpression with TimeZoneAwareExpression {

    override def dataType: DataType = StringType
    override def withTimeZone(tz: String): TimeZoneAwareExpression = copy(timeZoneId = Some(tz))
    override def prettyName: String = "to_char"

    // codegen as a direct call on this expression object: the template
    // memo and session zone ride along via addReferenceObj, and the
    // surrounding projection stays inside whole-stage codegen (the
    // CodegenFallback wrapper costs an interpreted projection per row —
    // measured 2.3s -> see BENCH q100 before/after)
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val self = ctx.addReferenceObj("pgToChar", this, classOf[PgToChar].getName)
      nullSafeCodeGen(ctx, ev, (l, r) =>
        s"${ev.value} = (UTF8String) $self.nullSafeEval($l, $r);")
    }

    override def checkInputDataTypes(): TypeCheckResult =
      if (right.dataType != StringType)
        TypeCheckResult.TypeCheckFailure("to_char format must be a string")
      else if (dtInputs.contains(left.dataType) || isNumeric(left.dataType) ||
        isInterval(left.dataType))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"to_char does not support ${left.dataType.simpleString} input")

    @transient private lazy val dtMemo = new FmtMemo(PgFormat.compileDt)
    @transient private lazy val numMemo = new FmtMemo(PgFormat.compileNum)
    // fixed-offset zones (UTC sessions) resolve the offset once; DST
    // zones look it up per row from the instant
    @transient private lazy val fixedOffsetSec: Int = {
      val rules = zoneId.getRules
      if (rules.isFixedOffset) rules.getOffset(java.time.Instant.EPOCH).getTotalSeconds
      else Int.MinValue
    }
    private def tsFields(micros: Long): PgFormat.DtF = {
      val off =
        if (fixedOffsetSec != Int.MinValue) fixedOffsetSec
        else zoneId.getRules.getOffset(
          java.time.Instant.ofEpochSecond(Math.floorDiv(micros, 1000000L))).getTotalSeconds
      PgFormat.DtF.fromLocalMicros(micros + off * 1000000L, off, zoneId)
    }

    override def nullSafeEval(v: Any, fmt: Any): Any = {
      val f = fmt.asInstanceOf[UTF8String]
      val out = left.dataType match {
        case TimestampType =>
          PgFormat.formatDt(dtMemo.get(f), tsFields(v.asInstanceOf[Long]), hasTz = true)
        case TimestampNTZType =>
          PgFormat.formatDt(dtMemo.get(f),
            PgFormat.DtF.fromLocalMicros(v.asInstanceOf[Long], 0, ZoneOffset.UTC),
            hasTz = false)
        case DateType =>
          PgFormat.formatDt(dtMemo.get(f),
            PgFormat.DtF.fromEpochDay(v.asInstanceOf[Int].toLong), hasTz = false)
        case CalendarIntervalType =>
          val ci = v.asInstanceOf[CalendarInterval]
          PgFormat.formatInterval(dtMemo.get(f), ci.months, ci.days, ci.microseconds)
        case dt: DayTimeIntervalType =>
          val (dd, us) = PgFormatExpressions.dayTimeParts(v.asInstanceOf[Long], dt)
          PgFormat.formatInterval(dtMemo.get(f), 0, dd, us)
        case _: YearMonthIntervalType =>
          PgFormat.formatInterval(dtMemo.get(f), v.asInstanceOf[Int], 0, 0L)
        case _: DecimalType =>
          PgFormat.formatNum(numMemo.get(f), v.asInstanceOf[Decimal].toJavaBigDecimal)
        case DoubleType => PgFormat.formatNumDouble(numMemo.get(f), v.asInstanceOf[Double])
        case FloatType => PgFormat.formatNumDouble(numMemo.get(f), v.asInstanceOf[Float].toDouble)
        case LongType => PgFormat.formatNumLong(numMemo.get(f), v.asInstanceOf[Long])
        case IntegerType => PgFormat.formatNumLong(numMemo.get(f), v.asInstanceOf[Int].toLong)
        case ShortType => PgFormat.formatNumLong(numMemo.get(f), v.asInstanceOf[Short].toLong)
        case ByteType => PgFormat.formatNumLong(numMemo.get(f), v.asInstanceOf[Byte].toLong)
        case other => throw new IllegalStateException(s"to_char: $other")
      }
      UTF8String.fromString(out)
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): PgToChar =
      copy(left = l, right = r)
  }

  // ---- to_number ---------------------------------------------------------

  /** pg returns numeric; we return float8 (documented deviation — the
    * engine's numeric literals flow as DOUBLE through the pg wire). */
  case class PgToNumber(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "to_number"
    override def nullable: Boolean = true

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val self = ctx.addReferenceObj("pgToNumber", this, classOf[PgToNumber].getName)
      val rv = ctx.freshName("toNum")
      nullSafeCodeGen(ctx, ev, (l, r) => s"""
        Object $rv = $self.nullSafeEval($l, $r);
        if ($rv == null) { ${ev.isNull} = true; } else { ${ev.value} = (Double) $rv; }
      """)
    }

    override def checkInputDataTypes(): TypeCheckResult =
      if (left.dataType == StringType && right.dataType == StringType)
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure("to_number(text, text)")

    @transient private lazy val memo = new FmtMemo(PgFormat.compileNum)

    override def nullSafeEval(v: Any, fmt: Any): Any = {
      val r = PgFormat.parseNum(memo.get(fmt.asInstanceOf[UTF8String]),
        v.asInstanceOf[UTF8String].toString)
      if (r == null) null else r.doubleValue()
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): PgToNumber =
      copy(left = l, right = r)
  }

  // ---- to_timestamp / to_date -------------------------------------------

  /** 2-arg pg-template parse → timestamptz. */
  case class PgToTimestamp(left: Expression, right: Expression,
      timeZoneId: Option[String] = None)
      extends BinaryExpression with TimeZoneAwareExpression {
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, (l, r) => genDirect(ctx, ev, this, canBeNull = false, Seq(l, r)))
    override def dataType: DataType = TimestampType
    override def withTimeZone(tz: String): TimeZoneAwareExpression = copy(timeZoneId = Some(tz))
    override def prettyName: String = "to_timestamp"

    override def checkInputDataTypes(): TypeCheckResult =
      if (left.dataType == StringType && right.dataType == StringType)
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure("to_timestamp(text, text)")

    @transient private lazy val memo = new FmtMemo(PgFormat.compileDtParse)

    override def nullSafeEval(v: Any, fmt: Any): Any =
      PgFormat.parseDt(memo.get(fmt.asInstanceOf[UTF8String]),
        v.asInstanceOf[UTF8String].toString, zoneId)

    override protected def withNewChildrenInternal(l: Expression, r: Expression): PgToTimestamp =
      copy(left = l, right = r)
  }

  /** 1-arg to_timestamp: numeric = Unix epoch seconds (pg's
    * to_timestamp(double precision)); string = ISO parse. */
  case class PgEpochToTimestamp(child: Expression, timeZoneId: Option[String] = None)
      extends UnaryExpression with TimeZoneAwareExpression {
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, c => genDirect(ctx, ev, this, canBeNull = true, Seq(c)))
    override def dataType: DataType = TimestampType
    override def withTimeZone(tz: String): TimeZoneAwareExpression = copy(timeZoneId = Some(tz))
    override def prettyName: String = "to_timestamp"
    // the string branch yields null on unparseable input even when the
    // child is non-nullable
    override def nullable: Boolean = true

    override def checkInputDataTypes(): TypeCheckResult =
      if (isNumeric(child.dataType) || child.dataType == StringType)
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure("to_timestamp(double precision | text)")

    override def nullSafeEval(v: Any): Any = child.dataType match {
      case StringType =>
        DateTimeUtils.stringToTimestamp(v.asInstanceOf[UTF8String], zoneId).orNull
      case _: DecimalType =>
        math.round(v.asInstanceOf[Decimal].toDouble * 1e6)
      case DoubleType => math.round(v.asInstanceOf[Double] * 1e6)
      case FloatType => math.round(v.asInstanceOf[Float].toDouble * 1e6)
      case LongType => v.asInstanceOf[Long] * 1000000L
      case IntegerType => v.asInstanceOf[Int] * 1000000L
      case ShortType => v.asInstanceOf[Short] * 1000000L
      case ByteType => v.asInstanceOf[Byte] * 1000000L
      case other => throw new IllegalStateException(s"to_timestamp: $other")
    }

    override protected def withNewChildInternal(c: Expression): PgEpochToTimestamp =
      copy(child = c)
  }

  /** 2-arg pg-template parse → date. */
  case class PgToDate(left: Expression, right: Expression,
      timeZoneId: Option[String] = None)
      extends BinaryExpression with TimeZoneAwareExpression {
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, (l, r) => genDirect(ctx, ev, this, canBeNull = false, Seq(l, r)))
    override def dataType: DataType = DateType
    override def withTimeZone(tz: String): TimeZoneAwareExpression = copy(timeZoneId = Some(tz))
    override def prettyName: String = "to_date"

    override def checkInputDataTypes(): TypeCheckResult =
      if (left.dataType == StringType && right.dataType == StringType)
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure("to_date(text, text)")

    @transient private lazy val memo = new FmtMemo(PgFormat.compileDtParse)

    override def nullSafeEval(v: Any, fmt: Any): Any = {
      val micros = PgFormat.parseDt(memo.get(fmt.asInstanceOf[UTF8String]),
        v.asInstanceOf[UTF8String].toString, ZoneOffset.UTC)
      (Math.floorDiv(micros, 86400L * 1000000L)).toInt
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): PgToDate =
      copy(left = l, right = r)
  }

  // ---- age / justify -----------------------------------------------------

  private val dayTab = Array(31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31)
  private def daysInMonth(year: Int, mon1to12: Int): Int =
    if (mon1to12 == 2 && java.time.Year.isLeap(year.toLong)) 29 else dayTab(mon1to12 - 1)

  /** pg `age(timestamp, timestamp)`: symbolic calendar difference.
    * Mirrors the public algorithm of pg's timestamp_age (fieldwise
    * diff, negate when dt1<dt2, borrow chains, negate back — incl.
    * the quirk that the day borrow reuses the same month length on
    * every iteration). */
  def ageFields(micros1: Long, micros2: Long, zone: ZoneId): CalendarInterval = {
    val rules = zone.getRules
    val fixed =
      if (rules.isFixedOffset) rules.getOffset(java.time.Instant.EPOCH).getTotalSeconds
      else Int.MinValue
    def fields(m: Long): PgFormat.DtF = {
      val off =
        if (fixed != Int.MinValue) fixed
        else rules.getOffset(
          java.time.Instant.ofEpochSecond(Math.floorDiv(m, 1000000L))).getTotalSeconds
      PgFormat.DtF.fromLocalMicros(m + off * 1000000L, off, zone)
    }
    val z1 = fields(micros1)
    val z2 = fields(micros2)
    val swap = micros1 < micros2
    var year = z1.year - z2.year
    var mon = z1.month - z2.month
    var day = z1.day - z2.day
    var hour = z1.hour - z2.hour
    var min = z1.minute - z2.minute
    var sec = z1.second - z2.second
    var usec = z1.micro - z2.micro
    if (swap) { year = -year; mon = -mon; day = -day; hour = -hour; min = -min; sec = -sec; usec = -usec }
    while (usec < 0) { usec += 1000000; sec -= 1 }
    while (sec < 0) { sec += 60; min -= 1 }
    while (min < 0) { min += 60; hour -= 1 }
    while (hour < 0) { hour += 24; day -= 1 }
    while (day < 0) {
      if (swap) { day += daysInMonth(z1.year, z1.month); mon -= 1 }
      else { day += daysInMonth(z2.year, z2.month); mon -= 1 }
    }
    while (mon < 0) { mon += 12; year -= 1 }
    var months = year * 12 + mon
    var micros = ((hour * 60L + min) * 60L + sec) * 1000000L + usec
    var days = day
    if (swap) { months = -months; days = -days; micros = -micros }
    new CalendarInterval(months, days, micros)
  }

  case class PgAge(left: Expression, right: Expression,
      timeZoneId: Option[String] = None)
      extends BinaryExpression with TimeZoneAwareExpression {
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, (l, r) => genDirect(ctx, ev, this, canBeNull = false, Seq(l, r)))
    override def dataType: DataType = CalendarIntervalType
    override def withTimeZone(tz: String): TimeZoneAwareExpression = copy(timeZoneId = Some(tz))
    override def prettyName: String = "age"

    override def checkInputDataTypes(): TypeCheckResult =
      if (left.dataType == TimestampType && right.dataType == TimestampType)
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure("age(timestamp, timestamp)")

    override def nullSafeEval(a: Any, b: Any): Any =
      ageFields(a.asInstanceOf[Long], b.asInstanceOf[Long], zoneId)

    override protected def withNewChildrenInternal(l: Expression, r: Expression): PgAge =
      copy(left = l, right = r)
  }

  /** justify_hours / justify_days / justify_interval over any interval
    * type, returning the canonical CalendarInterval. Mode: 'h' = hours
    * → days, 'd' = days → months, 'i' = both + sign borrow. */
  case class PgJustify(child: Expression, mode: Char)
      extends UnaryExpression {
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, c => genDirect(ctx, ev, this, canBeNull = false, Seq(c)))
    override def dataType: DataType = CalendarIntervalType
    override def prettyName: String = mode match {
      case 'h' => "justify_hours"; case 'd' => "justify_days"; case _ => "justify_interval"
    }

    override def checkInputDataTypes(): TypeCheckResult =
      if (isInterval(child.dataType)) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(s"$prettyName(interval)")

    override def nullSafeEval(v: Any): Any = {
      val (m0, d0, us0) = child.dataType match {
        case CalendarIntervalType =>
          val ci = v.asInstanceOf[CalendarInterval]; (ci.months, ci.days, ci.microseconds)
        case dt: DayTimeIntervalType =>
          val (dd, us) = PgFormatExpressions.dayTimeParts(v.asInstanceOf[Long], dt)
          (0, dd, us)
        case _ => (v.asInstanceOf[Int], 0, 0L)
      }
      var months = m0.toLong; var days = d0.toLong; var micros = us0
      val usPerDay = 86400L * 1000000L
      if (mode == 'h' || mode == 'i') { days += micros / usPerDay; micros %= usPerDay }
      if (mode == 'd' || mode == 'i') { months += days / 30; days %= 30 }
      if (mode == 'i') {
        // sign borrow so all fields share the dominant sign (pg
        // interval_justify_interval)
        if (months > 0 && (days < 0 || (days == 0 && micros < 0))) { months -= 1; days += 30 }
        else if (months < 0 && (days > 0 || (days == 0 && micros > 0))) { months += 1; days -= 30 }
        if (days > 0 && micros < 0) { days -= 1; micros += usPerDay }
        else if (days < 0 && micros > 0) { days += 1; micros -= usPerDay }
      }
      new CalendarInterval(months.toInt, days.toInt, micros)
    }

    override protected def withNewChildInternal(c: Expression): PgJustify = copy(child = c)
  }

  /** Render any interval as pg's text form ("1 year 2 mons 03:00:00")
    * — the typed bridge the q-entries and oracles compare on. */
  case class PgIntervalText(child: Expression)
      extends UnaryExpression {
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, c => genDirect(ctx, ev, this, canBeNull = false, Seq(c)))
    override def dataType: DataType = StringType
    override def prettyName: String = "pg_interval_text"

    override def checkInputDataTypes(): TypeCheckResult =
      if (isInterval(child.dataType)) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure("pg_interval_text(interval)")

    override def nullSafeEval(v: Any): Any = {
      val s = child.dataType match {
        case CalendarIntervalType =>
          val ci = v.asInstanceOf[CalendarInterval]
          graft.pgwire.TextEncoder.formatInterval(ci.months, ci.days, ci.microseconds)
        case dt: DayTimeIntervalType =>
          val (dd, us) = PgFormatExpressions.dayTimeParts(v.asInstanceOf[Long], dt)
          graft.pgwire.TextEncoder.formatInterval(0, dd, us)
        case _ =>
          graft.pgwire.TextEncoder.formatInterval(v.asInstanceOf[Int], 0, 0L)
      }
      UTF8String.fromString(s)
    }

    override protected def withNewChildInternal(c: Expression): PgIntervalText =
      copy(child = c)
  }

  /** pg `timezone(zone, timestamptz)` → timestamp: the wall-clock in
    * that zone (the AT TIME ZONE function form). Replaces the earlier
    * Scala UDF: a native expression skips the per-row Instant /
    * LocalDateTime external conversions and stays in codegen. */
  case class PgTimezone(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = TimestampNTZType
    override def prettyName: String = "timezone"

    override def checkInputDataTypes(): TypeCheckResult =
      if (left.dataType == StringType && right.dataType == TimestampType)
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure("timezone(text, timestamptz)")

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, (l, r) => genDirect(ctx, ev, this, canBeNull = false, Seq(l, r)))

    // per-expression (zoneName -> resolved zone + fixed offset) cache:
    // the zone argument is a literal in every real query
    @transient @volatile private var cached: (UTF8String, ZoneId, Int) = null

    override def nullSafeEval(z: Any, ts: Any): Any = {
      val zs = z.asInstanceOf[UTF8String]
      var c = cached
      if (c == null || !c._1.equals(zs)) {
        val zid = ZoneId.of(zs.toString)
        val fixed =
          if (zid.getRules.isFixedOffset)
            zid.getRules.getOffset(java.time.Instant.EPOCH).getTotalSeconds
          else Int.MinValue
        c = (zs.clone(), zid, fixed)
        cached = c
      }
      val micros = ts.asInstanceOf[Long]
      val off =
        if (c._3 != Int.MinValue) c._3
        else c._2.getRules.getOffset(
          java.time.Instant.ofEpochSecond(Math.floorDiv(micros, 1000000L))).getTotalSeconds
      micros + off * 1000000L
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): PgTimezone =
      copy(left = l, right = r)
  }

  /** The other direction of pg §9.9.4 `timezone(zone, ts)` /
    * `ts AT TIME ZONE zone`: a naive timestamp (without time zone) is
    * INTERPRETED in `zone` and becomes timestamptz. Dispatched by
    * operand type at resolution (PgSemantics rewrites the registered
    * tz-direction call when the input is TIMESTAMP_NTZ, mirroring
    * pg's static-type overload resolution). Gap/overlap local times
    * resolve by `ZoneRules.getOffset(LocalDateTime)` — the standard
    * "earlier offset" convention, matching pg. */
  case class PgTimezoneToTz(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = TimestampType
    override def prettyName: String = "timezone"

    override def checkInputDataTypes(): TypeCheckResult =
      if (left.dataType == StringType && right.dataType == TimestampNTZType)
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure("timezone(text, timestamp)")

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, (l, r) => genDirect(ctx, ev, this, canBeNull = false, Seq(l, r)))

    @transient @volatile private var cached: (UTF8String, ZoneId, Int) = null

    override def nullSafeEval(z: Any, ts: Any): Any = {
      val zs = z.asInstanceOf[UTF8String]
      var c = cached
      if (c == null || !c._1.equals(zs)) {
        val zid = ZoneId.of(zs.toString)
        val fixed =
          if (zid.getRules.isFixedOffset)
            zid.getRules.getOffset(java.time.Instant.EPOCH).getTotalSeconds
          else Int.MinValue
        c = (zs.clone(), zid, fixed)
        cached = c
      }
      val micros = ts.asInstanceOf[Long]
      val off =
        if (c._3 != Int.MinValue) c._3
        else {
          val ldt = java.time.LocalDateTime.ofEpochSecond(
            Math.floorDiv(micros, 1000000L),
            (Math.floorMod(micros, 1000000L) * 1000L).toInt,
            java.time.ZoneOffset.UTC)
          c._2.getRules.getOffset(ldt).getTotalSeconds
        }
      micros - off * 1000000L
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): PgTimezoneToTz =
      copy(left = l, right = r)
  }

  /** pg interval input parser as an expression: `pg_interval('1 mon
    * -1 hour')` → CalendarInterval. Compat reroutes bare INTERVAL
    * 'text' literals here when Spark's own literal syntax can't carry
    * them (mixed year-month + day-time fields, pg-only unit
    * spellings, 'ago'). */
  case class PgIntervalLiteral(child: Expression)
      extends UnaryExpression with PgUnaryDirectGen {
    override def dataType: DataType = CalendarIntervalType
    override def prettyName: String = "pg_interval"
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure("pg_interval(text)")
    override def foldable: Boolean = child.foldable
    override def nullSafeEval(v: Any): Any = {
      val s = v.asInstanceOf[UTF8String].toString
      PgFormat.parseIntervalText(s) match {
        case Some((m, d, us)) => new CalendarInterval(m, d, us)
        case None => throw new IllegalArgumentException(
          s"""invalid input syntax for type interval: "$s"""")
      }
    }
    override protected def withNewChildInternal(c: Expression): PgIntervalLiteral =
      copy(child = c)
  }

  /** EXTRACT(field FROM interval) with pg's field semantics — all
    * pinned against live pg 15, which does NOT normalize across
    * fields the way Spark's interval extract does: `hours` of
    * '100 hours' is 100 (not 100 % 24), `days` of '100 hours' is 0
    * (not 4), `epoch` uses 365.25-day years and 30-day leftover
    * months with trunc-toward-zero division. seconds/milliseconds/
    * epoch return numeric (6/3/6 decimals) like pg; other fields
    * bigint. */
  case class PgIntervalPart(fieldExpr: Expression, child: Expression)
      extends BinaryExpression with PgBinaryDirectGen {
    override def left: Expression = fieldExpr
    override def right: Expression = child
    private lazy val field: String =
      PgIntervalPart.unit(fieldExpr.eval(null).asInstanceOf[UTF8String].toString)
    override def prettyName: String = "pg_interval_part"
    override def dataType: DataType = field match {
      case "second" | "epoch" => DecimalType(38, 6)
      case "millisecond" => DecimalType(38, 3)
      case _ => LongType
    }
    override def checkInputDataTypes(): TypeCheckResult = {
      if (!fieldExpr.foldable || fieldExpr.dataType != StringType)
        return TypeCheckResult.TypeCheckFailure("field must be a string literal")
      child.dataType match {
        case CalendarIntervalType | _: DayTimeIntervalType | _: YearMonthIntervalType =>
          if (Set("year", "month", "quarter", "day", "hour", "minute", "second",
            "microsecond", "millisecond", "epoch", "decade", "century",
            "millennium").contains(field)) TypeCheckResult.TypeCheckSuccess
          else TypeCheckResult.TypeCheckFailure(
            s"""interval units "$field" not supported""")
        case _ => TypeCheckResult.TypeCheckFailure("pg_interval_part(text, interval)")
      }
    }
    override def nullSafeEval(f: Any, v: Any): Any = {
      val (months, days, us) = child.dataType match {
        case CalendarIntervalType =>
          val ci = v.asInstanceOf[CalendarInterval]
          (ci.months, ci.days, ci.microseconds)
        case dt: DayTimeIntervalType =>
          // flat duration: recover pg's day/time split from the
          // literal's start field — '2 days' (DAY) has day=2, but
          // '100 hours' (HOUR) keeps hour=100 with day=0 (pg
          // normalizes minutes/seconds upward, never hours into days)
          val total = v.asInstanceOf[Long]
          if (dt.startField == DayTimeIntervalType.DAY) {
            val d = total / 86400000000L
            (0, d.toInt, total - d * 86400000000L)
          } else (0, 0, total)
        case _ => (v.asInstanceOf[Int], 0, 0L)
      }
      def dec(bd: java.math.BigDecimal, scale: Int) =
        org.apache.spark.sql.types.Decimal(bd.setScale(scale), 38, scale)
      field match {
        case "year" => (months / 12).toLong
        case "month" => (months % 12).toLong
        case "quarter" => ((months % 12) / 3 + 1).toLong
        case "day" => days.toLong
        case "hour" => us / 3600000000L
        case "minute" => (us / 60000000L) % 60
        case "second" => dec(new java.math.BigDecimal(us % 60000000L).movePointLeft(6), 6)
        case "microsecond" => us % 60000000L
        case "millisecond" => dec(new java.math.BigDecimal(us % 60000000L).movePointLeft(3), 3)
        case "decade" => (months / 120).toLong
        case "century" => (months / 1200).toLong
        case "millennium" => (months / 12000).toLong
        case "epoch" =>
          val secs = (months / 12).toLong * 31557600L +
            (months % 12).toLong * 2592000L + days.toLong * 86400L
          dec(new java.math.BigDecimal(us).movePointLeft(6)
            .add(new java.math.BigDecimal(secs)), 6)
      }
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): PgIntervalPart =
      copy(fieldExpr = l, child = r)
  }

  object PgIntervalPart {
    /** A field name as pg spells its unit: singular, abbreviations
      * spelled out (`hours` and `hr` are `hour`). */
    def unit(field: String): String = field.toLowerCase.stripSuffix("s") match {
      case "centurie" => "century" case "millenniums" | "millennia" => "millennium"
      case "mon" | "month" => "month" case "yr" | "year" => "year"
      case "hr" | "hour" => "hour" case "min" | "minute" => "minute"
      case "sec" | "second" => "second" case f => f
    }
  }

  /** pg date_trunc('field', interval): zero every field finer than
    * the named one, keeping coarser fields untouched ('3 days 2:47:33'
    * truncated at hour → '3 days 02:00:00', live-pg pinned). */
  case class PgIntervalTrunc(fieldExpr: Expression, child: Expression)
      extends BinaryExpression with PgBinaryDirectGen {
    override def left: Expression = fieldExpr
    override def right: Expression = child
    override def dataType: DataType = CalendarIntervalType
    override def prettyName: String = "pg_interval_trunc"
    override def checkInputDataTypes(): TypeCheckResult = {
      if (!fieldExpr.foldable || fieldExpr.dataType != StringType)
        return TypeCheckResult.TypeCheckFailure("field must be a string literal")
      child.dataType match {
        case CalendarIntervalType | _: DayTimeIntervalType | _: YearMonthIntervalType =>
          TypeCheckResult.TypeCheckSuccess
        case _ => TypeCheckResult.TypeCheckFailure("pg_interval_trunc(text, interval)")
      }
    }
    override def nullSafeEval(f: Any, v: Any): Any = {
      val (months, days, us) = child.dataType match {
        case CalendarIntervalType =>
          val ci = v.asInstanceOf[CalendarInterval]
          (ci.months, ci.days, ci.microseconds)
        case dt: DayTimeIntervalType =>
          val total = v.asInstanceOf[Long]
          if (dt.startField == DayTimeIntervalType.DAY) {
            val d = total / 86400000000L
            (0, d.toInt, total - d * 86400000000L)
          } else (0, 0, total)
        case _ => (v.asInstanceOf[Int], 0, 0L)
      }
      val field = f.asInstanceOf[UTF8String].toString.toLowerCase.stripSuffix("s")
      val (m2, d2, us2) = field match {
        case "millennium" => ((months / 12000) * 12000, 0, 0L)
        case "century" => ((months / 1200) * 1200, 0, 0L)
        case "decade" => ((months / 120) * 120, 0, 0L)
        case "year" => ((months / 12) * 12, 0, 0L)
        case "quarter" => ((months / 3) * 3, 0, 0L)
        case "month" | "mon" => (months, 0, 0L)
        case "day" => (months, days, 0L)
        case "hour" => (months, days, (us / 3600000000L) * 3600000000L)
        case "minute" | "min" => (months, days, (us / 60000000L) * 60000000L)
        case "second" | "sec" => (months, days, (us / 1000000L) * 1000000L)
        case "millisecond" => (months, days, (us / 1000L) * 1000L)
        case "microsecond" => (months, days, us)
        case other => throw new IllegalArgumentException(
          s"""unit "$other" not supported for type interval""")
      }
      new CalendarInterval(m2, d2, us2)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): PgIntervalTrunc =
      copy(fieldExpr = l, child = r)
  }

  /** pg date_bin(stride, source, origin): align `source` into the
    * stride-wide bucket grid anchored at `origin`. Month-bearing
    * strides error like pg ("stride must be a multiple of ...";
    * feature not defined for variable-length months). */
  case class PgDateBin(first: Expression, second: Expression, third: Expression)
      extends TernaryExpression with PgTernaryDirectGen {
    // pg returns the SOURCE's type: timestamp in → timestamp out
    override def dataType: DataType = second.dataType
    override def prettyName: String = "date_bin"

    override def checkInputDataTypes(): TypeCheckResult = {
      val strideOk = first.dataType match {
        case CalendarIntervalType | _: DayTimeIntervalType => true
        case StringType => true // pg interval input text, parsed per row
        case _ => false
      }
      val tsOk = Seq(second, third).forall(_.dataType match {
        case TimestampType | TimestampNTZType => true
        case _ => false
      })
      if (strideOk && tsOk)
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        "date_bin(interval, timestamp, timestamp)")
    }

    override def nullSafeEval(stride: Any, ts: Any, origin: Any): Any = {
      val strideUs = first.dataType match {
        case CalendarIntervalType =>
          val ci = stride.asInstanceOf[CalendarInterval]
          if (ci.months != 0) throw new IllegalArgumentException(
            "date_bin: stride must not include month or year units")
          ci.days * 86400000000L + ci.microseconds
        case StringType =>
          val txt = stride.asInstanceOf[UTF8String].toString
          PgFormat.parseIntervalText(txt) match {
            case Some((m, d, us)) =>
              if (m != 0) throw new IllegalArgumentException(
                "date_bin: stride must not include month or year units")
              d * 86400000000L + us
            case None => throw new IllegalArgumentException(
              s"""invalid input syntax for type interval: "$txt"""")
          }
        case _ => stride.asInstanceOf[Long]
      }
      if (strideUs <= 0) throw new IllegalArgumentException(
        "date_bin: stride must be greater than zero")
      val t = ts.asInstanceOf[Long]
      val o = origin.asInstanceOf[Long]
      o + Math.floorDiv(t - o, strideUs) * strideUs
    }

    override protected def withNewChildrenInternal(
        f: Expression, s: Expression, t: Expression): PgDateBin =
      copy(first = f, second = s, third = t)
  }

  // ---- registration ------------------------------------------------------

  private def info(name: String): ExpressionInfo =
    new ExpressionInfo(PgFormatExpressions.getClass.getName, name)

  // unconditional: builder args may be unresolved (dataType would
  // throw); SimplifyCasts removes the identity cast later
  private def castTs(e: Expression): Expression = Cast(e, TimestampType)

  val descriptions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("to_char"), info("to_char"), { args =>
      require(args.length == 2, "to_char requires 2 arguments")
      PgToChar(args(0), args(1))
    }),
    (FunctionIdentifier("to_number"), info("to_number"), { args =>
      require(args.length == 2, "to_number requires 2 arguments")
      PgToNumber(args(0), args(1))
    }),
    (FunctionIdentifier("to_timestamp"), info("to_timestamp"), { args =>
      args.length match {
        case 1 => PgEpochToTimestamp(args(0))
        case 2 => PgToTimestamp(args(0), args(1))
        case n => throw new IllegalArgumentException(s"to_timestamp: $n args")
      }
    }),
    (FunctionIdentifier("to_date"), info("to_date"), { args =>
      args.length match {
        case 1 => Cast(args(0), DateType)
        case 2 => PgToDate(args(0), args(1))
        case n => throw new IllegalArgumentException(s"to_date: $n args")
      }
    }),
    (FunctionIdentifier("age"), info("age"), { args =>
      args.length match {
        case 1 => PgAge(Cast(CurrentDate(), TimestampType), castTs(args(0)))
        case 2 => PgAge(castTs(args(0)), castTs(args(1)))
        case n => throw new IllegalArgumentException(s"age: $n args")
      }
    }),
    (FunctionIdentifier("justify_hours"), info("justify_hours"), { args =>
      require(args.length == 1, "justify_hours requires 1 argument")
      PgJustify(args(0), 'h')
    }),
    (FunctionIdentifier("justify_days"), info("justify_days"), { args =>
      require(args.length == 1, "justify_days requires 1 argument")
      PgJustify(args(0), 'd')
    }),
    (FunctionIdentifier("justify_interval"), info("justify_interval"), { args =>
      require(args.length == 1, "justify_interval requires 1 argument")
      PgJustify(args(0), 'i')
    }),
    (FunctionIdentifier("pg_interval_text"), info("pg_interval_text"), { args =>
      require(args.length == 1, "pg_interval_text requires 1 argument")
      PgIntervalText(args(0))
    }),
    (FunctionIdentifier("timezone"), info("timezone"), { args =>
      require(args.length == 2, "timezone requires 2 arguments")
      PgTimezone(args(0), Cast(args(1), TimestampType))
    }),
    (FunctionIdentifier("pg_interval"), info("pg_interval"), { args =>
      require(args.length == 1, "pg_interval requires 1 argument")
      PgIntervalLiteral(args(0))
    }),
    (FunctionIdentifier("date_bin"), info("date_bin"), { args =>
      require(args.length == 3, "date_bin requires 3 arguments")
      // keep NTZ sources NTZ (pg: result type = source type; sweep #12)
      def asTs(e: Expression): Expression =
        if (e.resolved && (e.dataType == TimestampNTZType || e.dataType == TimestampType)) e
        else Cast(e, TimestampType)
      PgDateBin(args(0), asTs(args(1)), asTs(args(2)))
    }),
    // pg make_timestamptz = Spark's MakeTimestamp (TimestampType is
    // the session-zoned instant, i.e. pg's timestamptz), with the
    // 7th argument as the construction zone
    (FunctionIdentifier("make_timestamptz"), info("make_timestamptz"), { args =>
      args.length match {
        case 6 => MakeTimestamp(args(0), args(1), args(2), args(3), args(4), args(5))
        case 7 => MakeTimestamp(args(0), args(1), args(2), args(3), args(4), args(5),
          Some(args(6)))
        case n => throw new IllegalArgumentException(s"make_timestamptz: $n args")
      }
    }))

  /** Replace-if-present registration: unlike the vec_ / lev_banded
    * packs these intentionally SHADOW Spark builtins of the same name
    * (pg template semantics win on the pg surface). Idempotent. */
  def install(spark: SparkSession): Unit = {
    val reg: FunctionRegistry = spark.sessionState.functionRegistry
    descriptions.foreach { case (ident, i, builder) =>
      reg.registerFunction(ident, i, builder)
    }
  }
}
