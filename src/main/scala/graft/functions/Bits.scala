package graft.functions

import graft.pgwire.PgException

/** PostgreSQL bit strings (`bit`/`bit varying`, pg §8.10.1/§9.6) over
  * the literal '0'/'1' pattern text — the round-11 type-family
  * pattern; every behavior pinned against live pg 15 (PgParitySpec
  * sweep-19). The canonical text IS the value, so string
  * length/substring/overlay/position/concat give pg's bit answers
  * for free; only the bitwise operators, casts, and the
  * byte-counting accessors need engine functions, which the analyzer
  * rule (`PgSemantics`) picks by operand type.
  */
object Bits extends Serializable {

  private def checkBits(s: String): String = {
    if (!s.forall(c => c == '0' || c == '1'))
      throw PgException("22P02",
        s""""${s.find(c => c != '0' && c != '1').get}" is not a valid binary digit""")
    s
  }

  private def sameLen(a: String, b: String, op: String): Unit =
    if (a.length != b.length)
      throw PgException("22026", s"cannot $op bit strings of different sizes")

  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    val u = spark.udf
    u.register("bit_in", (s: String) => if (s == null) null else checkBits(s))
    u.register("varbit_in", (s: String) => if (s == null) null else checkBits(s))
    u.register("bit_in_hex", (s: String) =>
      if (s == null) null
      else s.flatMap { c =>
        val d = Character.digit(c, 16)
        if (d < 0) throw PgException("22P02", s""""$c" is not a valid hexadecimal digit""")
        f"${d.toBinaryString.toInt}%04d".takeRight(4)
      }.mkString)
    // bit(n) cast: truncate or zero-extend on the RIGHT (pg)
    u.register("pg_bit_cast", (s: String, n: Int) =>
      if (s == null) null
      else {
        val b = checkBits(s)
        if (b.length >= n) b.substring(0, n) else b.padTo(n, '0').mkString
      })
    // varbit(n) cast: truncate on the right, never pad (pg)
    u.register("pg_varbit_cast", (s: String, n: Int) =>
      if (s == null) null else checkBits(s).take(n))
    // int → bit(n): low n bits, two's complement
    u.register("pg_int_to_bit", (v: Long, n: Int) =>
      if (n <= 0) ""
      else (n - 1 to 0 by -1).map { i =>
        val bit = if (i >= 64) (v >> 63) & 1L else (v >> i) & 1L
        if (bit == 1L) '1' else '0'
      }.mkString)
    u.register("pg_bit_to_int", (s: String) =>
      (if (s == null) null
       else Long.box(java.lang.Long.parseLong(checkBits(s), 2))): java.lang.Long)
    u.register("pg_bit_and", (a: String, b: String) =>
      if (a == null || b == null) null
      else { sameLen(a, b, "AND")
        a.zip(b).map { case (x, y) => if (x == '1' && y == '1') '1' else '0' }.mkString })
    u.register("pg_bit_or", (a: String, b: String) =>
      if (a == null || b == null) null
      else { sameLen(a, b, "OR")
        a.zip(b).map { case (x, y) => if (x == '1' || y == '1') '1' else '0' }.mkString })
    u.register("pg_bit_xor", (a: String, b: String) =>
      if (a == null || b == null) null
      else { sameLen(a, b, "XOR")
        a.zip(b).map { case (x, y) => if (x != y) '1' else '0' }.mkString })
    u.register("pg_bit_not", (s: String) =>
      if (s == null) null else checkBits(s).map(c => if (c == '1') '0' else '1'))
    // shifts keep the length, filling with zeros (pg)
    u.register("pg_bit_shl", (s: String, n: Int) =>
      if (s == null) null
      else {
        val b = checkBits(s)
        if (n >= b.length) "0" * b.length
        else if (n <= 0) b else b.substring(n) + "0" * n
      })
    u.register("pg_bit_shr", (s: String, n: Int) =>
      if (s == null) null
      else {
        val b = checkBits(s)
        if (n >= b.length) "0" * b.length
        else if (n <= 0) b else "0" * n + b.substring(0, b.length - n)
      })
    u.register("pg_bit_get", (s: String, i: Int) =>
      (if (s == null) null
       else {
         val b = checkBits(s)
         if (i < 0 || i >= b.length)
           throw PgException("2202E", s"bit index $i out of valid range (0..${b.length - 1})")
         Int.box(b.charAt(i) - '0')
       }): java.lang.Integer)
    u.register("pg_bit_set", (s: String, i: Int, v: Int) =>
      if (s == null) null
      else {
        val b = checkBits(s)
        if (i < 0 || i >= b.length)
          throw PgException("2202E", s"bit index $i out of valid range (0..${b.length - 1})")
        b.updated(i, if (v != 0) '1' else '0')
      })
    u.register("pg_bitstr_count", (s: String) =>
      (if (s == null) null
       else Long.box(checkBits(s).count(_ == '1').toLong)): java.lang.Long)
    u.register("pg_bit_octet_length", (s: String) =>
      (if (s == null) null else Int.box((checkBits(s).length + 7) / 8)): java.lang.Integer)
  }
}
