package graft.functions

import org.apache.spark.sql.SparkSession

import graft.pgwire.PgException

/** PostgreSQL range types (`int4range`/`int8range`/`numrange`/
  * `daterange`/`tsrange`/`tstzrange`) over pg's canonical TEXT
  * representation — the same out-of-scope-closure pattern as the geo
  * surface (SURVEY §2a#9): the reference ships no range support
  * either (datafusion-pg-functions has no range module; pg ranges are
  * a catalog-level type family), so this is parity-PLUS surface built
  * from the public pg docs (§8.17, §9.19) with every behavior below
  * pinned against the live PostgreSQL 15 in the container before
  * implementation (PgParitySpec sweep-13).
  *
  * Model: a range VALUE is its canonical pg text form (`[1,5)`,
  * `(,3)`, `empty`, `["2026-01-01 00:00:00","2026-01-02 00:00:00")`).
  * Constructors/casts know their subtype (discreteness + element
  * normalization) and emit canonical text; every OPERATOR then works
  * subtype-agnostically on canonical text with a typed element
  * comparison (numeric if both bounds parse as numbers, chronological
  * if they parse as date/timestamp, else bytewise) — sound because
  * canonicalization happens exactly once, at construction, like pg's
  * range_canonical.
  *
  * Scalar UDFs, not codegen expressions, for the same reason as
  * GeoFunctions: pure per-value computation with no Spark builtin to
  * compose from, map-side at any scale, and not a 100 TB hot path.
  */
object PgRanges {

  /** Subtype descriptor: element kind + discreteness (discrete ranges
    * canonicalize to `[lo,hi)` by stepping bounds, pg §8.17.7).
    */
  sealed abstract class Sub(val name: String, val discrete: Boolean) {
    /** Normalize one bound's text to its canonical element rendering;
      * throws 22P02 on malformed input.
      */
    def norm(s: String): String
    /** Successor of a canonical element (discrete subtypes only). */
    def inc(s: String): String = throw new UnsupportedOperationException(name)
  }

  private def malformed(s: String): Nothing =
    throw PgException("22P02", s"""malformed range literal: "$s"""")

  case object Int4R extends Sub("int4range", true) {
    def norm(s: String): String =
      try s.trim.toLong.toString catch { case _: NumberFormatException => malformed(s) }
    override def inc(s: String): String = (s.toLong + 1).toString
  }
  case object Int8R extends Sub("int8range", true) {
    def norm(s: String): String = Int4R.norm(s)
    override def inc(s: String): String = Int4R.inc(s)
  }
  case object NumR extends Sub("numrange", false) {
    def norm(s: String): String =
      try { new java.math.BigDecimal(s.trim); s.trim }
      catch { case _: NumberFormatException => malformed(s) }
  }
  case object DateR extends Sub("daterange", true) {
    def norm(s: String): String =
      try java.time.LocalDate.parse(s.trim).toString
      catch { case _: java.time.format.DateTimeParseException => malformed(s) }
    override def inc(s: String): String =
      java.time.LocalDate.parse(s).plusDays(1).toString
  }
  case object TsR extends Sub("tsrange", false) {
    def norm(s: String): String = renderTs(parseTs(s), withZone = false)
  }
  case object TstzR extends Sub("tstzrange", false) {
    def norm(s: String): String = renderTs(parseTs(s), withZone = true)
  }

  val subs: Map[String, Sub] =
    Seq(Int4R, Int8R, NumR, DateR, TsR, TstzR).map(s => s.name -> s).toMap

  /** Parse a timestamp bound: `yyyy-MM-dd[ HH:mm:ss[.f…]][±HH[:MM]]`
    * (space or 'T'); offsets are applied (UTC-normalized — graft
    * sessions run UTC, matching the pinned live-pg outputs).
    */
  private def parseTs(raw: String): java.time.LocalDateTime = {
    val s = raw.trim
    val m = tsRe.matcher(s)
    if (!m.matches()) malformed(raw)
    try {
      val date = java.time.LocalDate.parse(m.group(1))
      val time =
        if (m.group(2) == null) java.time.LocalTime.MIDNIGHT
        else java.time.LocalTime.parse(m.group(2))
      val ldt = java.time.LocalDateTime.of(date, time)
      if (m.group(3) == null) ldt
      else { // normalize a ±HH[:MM] offset to UTC
        val off = java.time.ZoneOffset.of(m.group(3))
        ldt.atOffset(off).withOffsetSameInstant(java.time.ZoneOffset.UTC).toLocalDateTime
      }
    } catch { case _: java.time.format.DateTimeParseException => malformed(raw) }
  }

  private val tsRe = java.util.regex.Pattern.compile(
    """(\d{4}-\d{2}-\d{2})(?:[ T](\d{2}:\d{2}:\d{2}(?:\.\d+)?))?([+-]\d{2}(?::?\d{2})?)?""")

  /** pg timestamp rendering: `yyyy-MM-dd HH:mm:ss[.f…]` with the
    * fraction's trailing zeros trimmed; tstz bounds get the session
    * (UTC) `+00` suffix exactly as live pg renders them.
    */
  private def renderTs(t: java.time.LocalDateTime, withZone: Boolean): String = {
    val base = f"${t.getYear}%04d-${t.getMonthValue}%02d-${t.getDayOfMonth}%02d " +
      f"${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d"
    val nanos = t.getNano
    val frac =
      if (nanos == 0) ""
      else "." + f"$nanos%09d".reverse.dropWhile(_ == '0').reverse
    base + frac + (if (withZone) "+00" else "")
  }

  /** A range value: `empty`, or bounds (null = infinite) + flags. */
  final case class R(empty: Boolean, lo: String, loInc: Boolean,
      hi: String, hiInc: Boolean)

  val Empty: R = R(empty = true, null, loInc = false, null, hiInc = false)

  // ---- element + boundary comparison --------------------------------------

  private val numRe = java.util.regex.Pattern.compile("""[+-]?\d+(\.\d+)?([eE][+-]?\d+)?""")

  /** Typed element compare over canonical renderings: numeric when
    * both parse as numbers, chronological when both parse as
    * date/timestamp (handles mixed-precision fractions like
    * `00:00:00` vs `00:00:00.50`), else bytewise.
    */
  def cmpElem(a: String, b: String): Int = {
    // fast path: pure-integer elements (int4range/int8range — the
    // overwhelmingly common case) compare as longs without regex or
    // BigDecimal allocation
    if (allDigits(a) && allDigits(b))
      return java.lang.Long.compare(a.toLong, b.toLong)
    if (isIsoDate(a) && isIsoDate(b))
      return a.compareTo(b) // fixed-width ISO dates order lexically
    if (numRe.matcher(a).matches() && numRe.matcher(b).matches())
      new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b))
    else {
      val ta = tsKey(a); val tb = tsKey(b)
      if (ta != null && tb != null) ta.compareTo(tb) else a.compareTo(b)
    }
  }

  private def allDigits(s: String): Boolean = {
    val n = s.length
    if (n == 0 || n > 18) return false
    var i = if (s.charAt(0) == '-') 1 else 0
    if (i >= n) return false
    while (i < n) {
      if (!Character.isDigit(s.charAt(i))) return false
      i += 1
    }
    true
  }

  private def isIsoDate(s: String): Boolean =
    s.length == 10 && s.charAt(4) == '-' && s.charAt(7) == '-' &&
      Character.isDigit(s.charAt(0)) && Character.isDigit(s.charAt(1)) &&
      Character.isDigit(s.charAt(2)) && Character.isDigit(s.charAt(3)) &&
      Character.isDigit(s.charAt(5)) && Character.isDigit(s.charAt(6)) &&
      Character.isDigit(s.charAt(8)) && Character.isDigit(s.charAt(9))

  private def tsKey(s: String): java.time.LocalDateTime = {
    val m = tsRe.matcher(s.trim)
    if (!m.matches()) null
    else try parseTs(s) catch { case _: PgException => null }
  }

  /** Boundary position on the extended line: `inf` ∈ {-1,0,+1}
    * (−∞/finite/+∞); for finite, `eps` nudges around the value —
    * lower-inclusive 0, lower-exclusive +1, upper-inclusive 0,
    * upper-exclusive −1 (so `[`=at, `(`=just-after, `]`=at,
    * `)`=just-before, and every predicate is a boundary compare).
    */
  private final case class B(inf: Int, v: String, eps: Int)
  private def start(r: R): B =
    if (r.lo == null) B(-1, null, 0) else B(0, r.lo, if (r.loInc) 0 else 1)
  private def end(r: R): B =
    if (r.hi == null) B(1, null, 0) else B(0, r.hi, if (r.hiInc) 0 else -1)
  private def cmpB(a: B, b: B): Int =
    if (a.inf != b.inf) a.inf - b.inf
    else if (a.inf != 0) 0
    else { val c = cmpElem(a.v, b.v); if (c != 0) c else a.eps - b.eps }

  // ---- parsing + rendering -------------------------------------------------

  /** Per-thread parse memo: one row's operator chain parses the SAME
    * canonical text repeatedly (`r::int4range @> …`, `isempty(r)`,
    * `lower(r)` …) — Spark doesn't CSE ScalaUDF calls, so the memo
    * does what common-subexpression elimination would.
    */
  private val parseMemo: ThreadLocal[java.util.LinkedHashMap[String, R]] =
    ThreadLocal.withInitial(() =>
      new java.util.LinkedHashMap[String, R](64, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[String, R]): Boolean =
          size > 64
      })

  /** Parse pg range text (structural — bounds kept verbatim after
    * quote processing; `empty` case-insensitive; whitespace around
    * unquoted bounds trimmed, exactly as pinned against live pg 15).
    */
  def parse(raw: String): R = {
    val m = parseMemo.get
    val hit = m.get(raw)
    if (hit != null) return hit
    val r = parseImpl(raw)
    m.put(raw, r)
    r
  }

  private def parseImpl(raw: String): R = {
    val s = raw.trim
    if (s.equalsIgnoreCase("empty")) return Empty
    if (s.length < 3) malformed(raw)
    val loInc = s.charAt(0) match {
      case '[' => true
      case '(' => false
      case _ => malformed(raw)
    }
    val hiInc = s.charAt(s.length - 1) match {
      case ']' => true
      case ')' => false
      case _ => malformed(raw)
    }
    // scan the interior for the single top-level comma, honoring
    // double-quoted bounds with backslash escapes (pg range_in)
    val interior = s.substring(1, s.length - 1)
    val sb = new java.lang.StringBuilder
    var lo: String = null
    var quoted = false // current bound was quoted → no trim, "" is a value
    var inQ = false
    var comma = -1
    var i = 0
    val parts = new scala.collection.mutable.ArrayBuffer[(String, Boolean)]
    while (i < interior.length) {
      val c = interior.charAt(i)
      if (inQ) {
        if (c == '\\' && i + 1 < interior.length) { sb.append(interior.charAt(i + 1)); i += 1 }
        else if (c == '"') {
          // doubled quote inside a quoted bound = literal quote
          if (i + 1 < interior.length && interior.charAt(i + 1) == '"') { sb.append('"'); i += 1 }
          else inQ = false
        } else sb.append(c)
      } else c match {
        case '"' => inQ = true; quoted = true
        case '\\' if i + 1 < interior.length => sb.append(interior.charAt(i + 1)); i += 1
        case ',' =>
          if (comma >= 0) malformed(raw) // a second top-level comma
          comma = i
          parts += ((sb.toString, quoted)); sb.setLength(0); quoted = false
        case other => sb.append(other)
      }
      i += 1
    }
    if (inQ || comma < 0) malformed(raw)
    parts += ((sb.toString, quoted))
    def bound(p: (String, Boolean)): String = {
      val t = if (p._2) p._1 else p._1.trim
      if (!p._2 && t.isEmpty) null else t
    }
    lo = bound(parts(0))
    val hi = bound(parts(1))
    R(empty = false, lo, loInc = loInc && lo != null, hi = hi, hiInc = hiInc && hi != null)
  }

  private def needsQuote(v: String): Boolean =
    v.isEmpty || v.exists(c => c == '"' || c == '\\' || c == '(' || c == ')' ||
      c == '[' || c == ']' || c == ',' || Character.isWhitespace(c))

  /** Canonical pg rendering (range_out): bounds containing special
    * characters are double-quoted with backslash escapes.
    */
  def render(r: R): String =
    if (r.empty) "empty"
    else {
      val sb = new java.lang.StringBuilder
      sb.append(if (r.loInc) '[' else '(')
      def emit(v: String): Unit =
        if (v == null) ()
        else if (needsQuote(v)) {
          sb.append('"')
          v.foreach { c =>
            if (c == '"' || c == '\\') sb.append('\\')
            sb.append(c)
          }
          sb.append('"')
        } else sb.append(v)
      emit(r.lo); sb.append(','); emit(r.hi)
      sb.append(if (r.hiInc) ']' else ')')
      sb.toString
    }

  // ---- construction --------------------------------------------------------

  /** `<sub>range(lo, hi, flags)` — pg's make-and-canonicalize: NULL
    * bounds are infinite (forced exclusive), discrete subtypes step to
    * `[lo,hi)`, reversed bounds raise 22000, `lo = hi` without both
    * bounds inclusive collapses to `empty` (live-pg-pinned matrix).
    */
  def construct(sub: Sub, lo0: String, hi0: String, flags: String): String = {
    if (flags == null || flags.length != 2 ||
      (flags.charAt(0) != '[' && flags.charAt(0) != '(') ||
      (flags.charAt(1) != ']' && flags.charAt(1) != ')'))
      throw PgException("42601", "invalid range bound flags")
    val lo = if (lo0 == null) null else sub.norm(lo0)
    val hi = if (hi0 == null) null else sub.norm(hi0)
    canonical(sub, R(empty = false,
      lo, loInc = flags.charAt(0) == '[' && lo != null,
      hi, hiInc = flags.charAt(1) == ']' && hi != null))
  }

  private def canonical(sub: Sub, r0: R): String = {
    var r = r0
    if (r.lo != null && r.hi != null && cmpElem(r.lo, r.hi) > 0)
      throw PgException("22000",
        "range lower bound must be less than or equal to range upper bound")
    if (sub.discrete) {
      if (r.lo != null && !r.loInc) r = r.copy(lo = sub.inc(r.lo), loInc = true)
      if (r.hi != null && r.hiInc) r = r.copy(hi = sub.inc(r.hi), hiInc = false)
      if (r.lo != null && r.hi != null && cmpElem(r.lo, r.hi) > 0)
        throw PgException("22000",
          "range lower bound must be less than or equal to range upper bound")
    }
    if (r.lo != null && r.hi != null && cmpElem(r.lo, r.hi) == 0 &&
      !(r.loInc && r.hiInc)) render(Empty)
    else render(r)
  }

  private val castMemo: ThreadLocal[java.util.LinkedHashMap[String, String]] =
    ThreadLocal.withInitial(() =>
      new java.util.LinkedHashMap[String, String](64, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[String, String]): Boolean =
          size > 64
      })

  /** `'text'::<sub>range` — parse, normalize bounds, canonicalize. */
  def cast(sub: Sub, text: String): String = {
    val key = sub.name + "\u0000" + text
    val m = castMemo.get
    val hit = m.get(key)
    if (hit != null) return hit
    val r = parse(text)
    val out =
      if (r.empty) render(Empty)
      else canonical(sub, r.copy(
        lo = if (r.lo == null) null else sub.norm(r.lo),
        hi = if (r.hi == null) null else sub.norm(r.hi)))
    m.put(key, out)
    out
  }

  // ---- predicates (canonical-text inputs) ----------------------------------

  def contains(a: R, b: R): Boolean =
    if (b.empty) true
    else if (a.empty) false
    else cmpB(start(a), start(b)) <= 0 && cmpB(end(b), end(a)) <= 0

  def containsElem(a: R, e: String): Boolean =
    !a.empty && cmpB(start(a), B(0, e, 0)) <= 0 && cmpB(B(0, e, 0), end(a)) <= 0

  def overlaps(a: R, b: R): Boolean =
    !a.empty && !b.empty &&
      cmpB(start(a), end(b)) <= 0 && cmpB(start(b), end(a)) <= 0

  def before(a: R, b: R): Boolean = // strictly left of (<<)
    !a.empty && !b.empty && cmpB(end(a), start(b)) < 0

  def notExtRight(a: R, b: R): Boolean = // &<
    !a.empty && !b.empty && cmpB(end(a), end(b)) <= 0

  def notExtLeft(a: R, b: R): Boolean = // &>
    !a.empty && !b.empty && cmpB(start(a), start(b)) >= 0

  /** `-|-`: the ranges touch with neither gap nor overlap — the
    * shared bound value is included by exactly one side.
    */
  def adjacent(a: R, b: R): Boolean = {
    def touch(hi: R, lo: R): Boolean =
      hi.hi != null && lo.lo != null && cmpElem(hi.hi, lo.lo) == 0 &&
        (hi.hiInc != lo.loInc)
    !a.empty && !b.empty && (touch(a, b) || touch(b, a))
  }

  /** pg range ordering (range_cmp): empty first, then lower boundary,
    * then upper.
    */
  def cmp(a: R, b: R): Int =
    if (a.empty && b.empty) 0
    else if (a.empty) -1
    else if (b.empty) 1
    else { val c = cmpB(start(a), start(b)); if (c != 0) c else cmpB(end(a), end(b)) }

  // ---- set operations ------------------------------------------------------

  private def pickStart(a: R, b: R, min: Boolean): (String, Boolean) = {
    val c = cmpB(start(a), start(b))
    val r = if ((c <= 0) == min) a else b
    (r.lo, r.loInc)
  }
  private def pickEnd(a: R, b: R, max: Boolean): (String, Boolean) = {
    val c = cmpB(end(a), end(b))
    val r = if ((c >= 0) == max) a else b
    (r.hi, r.hiInc)
  }

  def union(a: R, b: R): String =
    if (a.empty) render(b)
    else if (b.empty) render(a)
    else if (!overlaps(a, b) && !adjacent(a, b))
      throw PgException("22000", "result of range union would not be contiguous")
    else {
      val (lo, loInc) = pickStart(a, b, min = true)
      val (hi, hiInc) = pickEnd(a, b, max = true)
      render(R(empty = false, lo, loInc, hi, hiInc))
    }

  def intersect(a: R, b: R): String =
    if (a.empty || b.empty || !overlaps(a, b)) render(Empty)
    else {
      val (lo, loInc) = pickStart(a, b, min = false)
      val (hi, hiInc) = pickEnd(a, b, max = false)
      if (lo != null && hi != null && cmpElem(lo, hi) == 0 && !(loInc && hiInc))
        render(Empty)
      else render(R(empty = false, lo, loInc, hi, hiInc))
    }

  def minus(a: R, b: R): String =
    if (a.empty || b.empty || !overlaps(a, b)) render(a)
    else if (contains(b, a)) render(Empty)
    else if (cmpB(start(b), start(a)) <= 0) {
      // b covers a's left side: a restarts where b ends
      val r = R(empty = false, b.hi, !b.hiInc, a.hi, a.hiInc)
      if (r.lo != null && r.hi != null && cmpElem(r.lo, r.hi) == 0 &&
        !(r.loInc && r.hiInc)) render(Empty) else render(r)
    } else if (cmpB(end(b), end(a)) >= 0) {
      // b covers a's right side: a stops where b starts
      val r = R(empty = false, a.lo, a.loInc, b.lo, !b.loInc)
      if (r.lo != null && r.hi != null && cmpElem(r.lo, r.hi) == 0 &&
        !(r.loInc && r.hiInc)) render(Empty) else render(r)
    } else
      throw PgException("22000", "result of range difference would not be contiguous")

  def merge(a: R, b: R): String =
    if (a.empty) render(b)
    else if (b.empty) render(a)
    else {
      val (lo, loInc) = pickStart(a, b, min = true)
      val (hi, hiInc) = pickEnd(a, b, max = true)
      render(R(empty = false, lo, loInc, hi, hiInc))
    }
}

/** UDF pack for the range family. pg's operator spellings (`@>`,
  * `&&`, `+`, `<`, …) reach these by operand type
  * (`graft.pgwire.PgSemantics`; Compat maps the range-only `-|-`, `&<`,
  * `&>`), and range-returning output columns report pg's range OIDs
  * through `PgSemantics.pgTypeOf`.
  */
object RangeFunctions extends Serializable {
  import PgRanges._

  private val installed =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  private def r(s: String): R = parse(s)

  def registerAll(spark: SparkSession): Unit = {
    if (installed.put(spark, java.lang.Boolean.TRUE) != null) return
    val u = spark.udf

    // integer 2-arg constructors take longs directly — the hot path
    // (no string parse/normalize; '[)' needs no discrete stepping, so
    // the canonical text is a straight format)
    def intConstruct(lo: java.lang.Long, hi: java.lang.Long): String =
      if (lo != null && hi != null) {
        val l = lo.longValue; val h = hi.longValue
        if (l > h) throw PgException("22000",
          "range lower bound must be less than or equal to range upper bound")
        if (l == h) "empty" else "[" + l + "," + h + ")"
      } else if (lo == null && hi == null) "(,)"
      else if (lo == null) "(," + hi + ")"
      else "[" + lo + ",)"
    u.register("int4range", (lo: java.lang.Long, hi: java.lang.Long) => intConstruct(lo, hi))
    u.register("int8range", (lo: java.lang.Long, hi: java.lang.Long) => intConstruct(lo, hi))

    // daterange takes DATE directly: java.sql.Date.toString IS the
    // canonical ISO bound — zero parsing on the hot path
    u.register("daterange", (lo: java.sql.Date, hi: java.sql.Date) =>
      if (lo != null && hi != null) {
        val c = lo.toLocalDate.compareTo(hi.toLocalDate)
        if (c > 0) throw PgException("22000",
          "range lower bound must be less than or equal to range upper bound")
        if (c == 0) "empty" else "[" + lo + "," + hi + ")"
      } else if (lo == null && hi == null) "(,)"
      else if (lo == null) "(," + hi + ")"
      else "[" + lo + ",)")

    // constructors: 2-arg (pg default '[)') and the Compat-renamed
    // 3-arg flag forms; `_in` is the `::<sub>range` cast parser
    for ((name, sub) <- subs) {
      if (name != "int4range" && name != "int8range" && name != "daterange")
        u.register(name, (lo: String, hi: String) => construct(sub, lo, hi, "[)"))
      u.register(s"${name}3", (lo: String, hi: String, fl: String) =>
        if (fl == null) null else construct(sub, lo, hi, fl))
      u.register(s"${name}_in", (s: String) =>
        if (s == null) null else cast(sub, s))
    }

    def bin(name: String)(f: (R, R) => Boolean): Unit =
      u.register(name, (a: String, b: String) =>
        (if (a == null || b == null) null
         else Boolean.box(f(r(a), r(b)))): java.lang.Boolean)

    // `@>`/`<@` dispatch range-vs-range or range-vs-element on the
    // non-range side's shape (constructor side is always canonical
    // range text; an element never parses as one)
    u.register("range_contains", (a: String, b: String) =>
      (if (a == null || b == null) null
       else Boolean.box(asRange(b) match {
         case Some(rb) => contains(r(a), rb)
         case None => containsElem(r(a), b.trim)
       })): java.lang.Boolean)
    u.register("range_contained", (a: String, b: String) =>
      (if (a == null || b == null) null
       else Boolean.box(asRange(a) match {
         case Some(ra) => contains(r(b), ra)
         case None => containsElem(r(b), a.trim)
       })): java.lang.Boolean)

    bin("range_overlaps")(overlaps)
    bin("range_before")(before)
    bin("range_after")((a, b) => before(b, a))
    bin("range_not_extright")(notExtRight)
    bin("range_not_extleft")(notExtLeft)
    bin("range_adjacent")(adjacent)
    bin("range_lt")((a, b) => cmp(a, b) < 0)
    bin("range_le")((a, b) => cmp(a, b) <= 0)
    bin("range_gt")((a, b) => cmp(a, b) > 0)
    bin("range_ge")((a, b) => cmp(a, b) >= 0)

    def setOp(name: String)(f: (R, R) => String): Unit =
      u.register(name, (a: String, b: String) =>
        if (a == null || b == null) null else f(r(a), r(b)))
    setOp("range_union")(union)
    setOp("range_intersect")(intersect)
    setOp("range_minus")(minus)
    setOp("range_merge")(merge)

    // accessors (pg names where no Spark builtin collides; lower/upper
    // collide with the string builtins → PgSemantics dispatches to the
    // range_-prefixed spellings when the argument is a range)
    u.register("range_lower", (s: String) =>
      if (s == null) null else { val x = r(s); if (x.empty) null else x.lo })
    u.register("range_upper", (s: String) =>
      if (s == null) null else { val x = r(s); if (x.empty) null else x.hi })
    def acc(name: String)(f: R => Boolean): Unit =
      u.register(name, (s: String) =>
        (if (s == null) null else Boolean.box(f(r(s)))): java.lang.Boolean)
    acc("isempty")(_.empty)
    acc("lower_inc")(x => !x.empty && x.loInc)
    acc("upper_inc")(x => !x.empty && x.hiInc)
    acc("lower_inf")(x => !x.empty && x.lo == null)
    acc("upper_inf")(x => !x.empty && x.hi == null)
  }

  /** Structural check: does this value parse as range text? Elements
    * of every supported subtype (numbers, dates, timestamps) never do.
    */
  private def asRange(s: String): Option[R] = {
    val t = s.trim
    if (t.equalsIgnoreCase("empty")) Some(PgRanges.Empty)
    else if (t.nonEmpty && (t.charAt(0) == '[' || t.charAt(0) == '(') &&
      (t.endsWith(")") || t.endsWith("]")))
      try Some(parse(t)) catch { case _: PgException => None }
    else None
  }
}
