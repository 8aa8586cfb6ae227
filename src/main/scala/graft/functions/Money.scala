package graft.functions

import graft.pgwire.PgException

/** PostgreSQL `money` (pg §8.2) over the canonical rendered text
  * (`$1,234.56`, lc_monetary C) — round-11 type-family pattern,
  * behavior pinned against live pg 15 (PgParitySpec sweep-21):
  * half-up cent rounding on input, money±money, money times/over a
  * number (pg's int64-cent arithmetic: an integer divisor truncates,
  * a float or numeric factor or divisor rounds half-even like rint),
  * money/money as a float8 ratio, and the ::numeric escape.
  */
object Money extends Serializable {

  def parse(raw: String): java.math.BigDecimal = {
    val cleaned = raw.trim.replace("$", "").replace(",", "")
    try new java.math.BigDecimal(cleaned)
      .setScale(2, java.math.RoundingMode.HALF_UP)
    catch {
      case _: NumberFormatException =>
        throw PgException("22P02", s"""invalid input syntax for type money: "$raw"""")
    }
  }

  def render(d0: java.math.BigDecimal): String = {
    val d = d0.setScale(2, java.math.RoundingMode.HALF_UP)
    val neg = d.signum < 0
    val abs = d.abs.toPlainString
    val dot = abs.indexOf('.')
    val intPart = abs.substring(0, dot)
    val grouped = intPart.reverse.grouped(3).mkString(",").reverse
    (if (neg) "-$" else "$") + grouped + abs.substring(dot)
  }

  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    val u = spark.udf
    u.register("money_in", (s: String) => if (s == null) null else render(parse(s)))
    u.register("money_add", (a: String, b: String) =>
      if (a == null || b == null) null else render(parse(a).add(parse(b))))
    u.register("money_sub", (a: String, b: String) =>
      if (a == null || b == null) null else render(parse(a).subtract(parse(b))))
    def cents(a: String): Long = parse(a).unscaledValue.longValue
    def fromCents(c: Long): String = render(java.math.BigDecimal.valueOf(c, 2))
    def byZero = throw PgException("22012", "division by zero")
    u.register("money_mul", (a: String, f: Double) =>
      if (a == null) null else fromCents(math.rint(cents(a) * f).toLong))
    u.register("money_div_num", (a: String, f: Double) =>
      if (a == null) null
      else if (f == 0.0) byZero
      else fromCents(math.rint(cents(a) / f).toLong))
    u.register("money_div_int", (a: String, i: Long) =>
      if (a == null) null else if (i == 0L) byZero else fromCents(cents(a) / i))
    u.register("money_div_money", (a: String, b: String) =>
      (if (a == null || b == null) null
       else if (cents(b) == 0L) byZero
       else Double.box(cents(a).toDouble / cents(b))): java.lang.Double)
    // returns the rendered numeric TEXT (a typed BigDecimal would be
    // Decimal(38,18) and render trailing zeros); the wire tags it
    // with the numeric OID
    u.register("money_to_numeric", (a: String) =>
      if (a == null) null else parse(a).toPlainString)
    def bin(name: String)(f: Int => Boolean): Unit =
      u.register(name, (a: String, b: String) =>
        (if (a == null || b == null) null
         else Boolean.box(f(parse(a).compareTo(parse(b))))): java.lang.Boolean)
    bin("money_lt")(_ < 0)
    bin("money_le")(_ <= 0)
    bin("money_gt")(_ > 0)
    bin("money_ge")(_ >= 0)
  }
}
