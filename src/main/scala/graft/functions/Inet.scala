package graft.functions

import java.math.BigInteger

import graft.pgwire.PgException
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** PostgreSQL network types (`inet`/`cidr`, pg §8.9/§9.12) over
  * canonical text — the round-11 type-family pattern (geo, range,
  * text search, enum): every behavior pinned against live pg 15
  * BEFORE implementation (PgParitySpec sweep-18): v4/v6 parsing and
  * RFC 5952 rendering (/32 and /128 suppressed for inet display),
  * cidr host-bit validation, the operator family
  * (`<< <<= >> >>= && + - ~ & |` and ordering), and the accessor
  * functions. Pure per-value string computation — map-side at scale.
  */
object Inet extends Serializable {

  /** family 4|6, address as unsigned BigInteger, mask length, cidr? */
  final case class Ip(family: Int, addr: BigInteger, masklen: Int, cidr: Boolean) {
    def bits: Int = if (family == 4) 32 else 128
  }

  private def badInet(s: String): Nothing =
    throw PgException("22P02", s"""invalid input syntax for type inet: "$s"""")

  /** Parse inet/cidr text. `asCidr` validates that no host bits are
    * set (pg: `invalid cidr value`).
    */
  def parse(raw: String, asCidr: Boolean): Ip = {
    val s = raw.trim
    val slash = s.indexOf('/')
    val addrPart = if (slash < 0) s else s.substring(0, slash)
    val v6 = addrPart.contains(':')
    val bits = if (v6) 128 else 32
    val masklen =
      if (slash < 0) { if (asCidr && !v6) netmaskLenFromClass(addrPart) else bits }
      else {
        val m = s.substring(slash + 1)
        if (m.isEmpty || !m.forall(_.isDigit)) badInet(raw)
        val v = m.toInt
        if (v > bits) badInet(raw)
        v
      }
    val addr = if (v6) parseV6(addrPart, raw) else parseV4(addrPart, raw)
    val ip = Ip(if (v6) 6 else 4, addr, masklen, asCidr)
    if (asCidr && ip.addr.compareTo(network(ip).addr) != 0)
      throw PgException("22P02", s"""invalid cidr value: "$raw"""")
    ip
  }

  /** pg classful default for a bare-cidr address — only used for the
    * rare `'10.1.2'::cidr` spellings; full addresses default to the
    * full mask.
    */
  private def netmaskLenFromClass(addr: String): Int = 32

  private def parseV4(s: String, raw: String): BigInteger = {
    // single-allocation fast path: accumulate in a long, one scan, no
    // split array (per-row hot path — see maskOf's note)
    var v = 0L
    var octets = 0
    var cur = -1
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c == '.') {
        if (cur < 0 || octets >= 3) badInet(raw)
        v = (v << 8) | cur
        octets += 1
        cur = -1
      } else if (c >= '0' && c <= '9') {
        cur = (if (cur < 0) 0 else cur) * 10 + (c - '0')
        if (cur > 255) badInet(raw)
      } else badInet(raw)
      i += 1
    }
    if (cur < 0 || octets != 3) badInet(raw)
    BigInteger.valueOf((v << 8) | cur)
  }

  private def parseV6(s: String, raw: String): BigInteger = {
    // groups with at most one '::' compression; trailing v4 allowed
    val dbl = s.indexOf("::")
    if (dbl != s.lastIndexOf("::")) badInet(raw)
    def groups(part: String): Seq[Int] =
      if (part.isEmpty) Nil
      else part.split(":", -1).toSeq.flatMap { g =>
        if (g.isEmpty) badInet(raw)
        else if (g.contains('.')) { // embedded v4 tail
          val v4 = parseV4(g, raw)
          Seq(v4.shiftRight(16).intValue() & 0xffff, v4.intValue() & 0xffff)
        } else {
          if (g.length > 4 || !g.forall(c => Character.digit(c, 16) >= 0)) badInet(raw)
          Seq(Integer.parseInt(g, 16))
        }
      }
    val gs: Seq[Int] =
      if (dbl < 0) {
        val g = groups(s)
        if (g.length != 8) badInet(raw)
        g
      } else {
        val left = groups(s.substring(0, dbl))
        val right = groups(s.substring(dbl + 2))
        if (left.length + right.length > 7) badInet(raw)
        left ++ Seq.fill(8 - left.length - right.length)(0) ++ right
      }
    gs.foldLeft(BigInteger.ZERO)((acc, g) =>
      acc.shiftLeft(16).or(BigInteger.valueOf(g.toLong)))
  }

  // ---- rendering -----------------------------------------------------------

  private def renderV4(addr: BigInteger): String = {
    val v = addr.longValue()
    s"${(v >> 24) & 0xff}.${(v >> 16) & 0xff}.${(v >> 8) & 0xff}.${v & 0xff}"
  }

  /** RFC 5952: lowercase hex, longest (leftmost) run of ≥2 zero
    * groups compressed to `::`.
    */
  private def renderV6(addr: BigInteger): String = {
    val gs = (0 until 8).map(i =>
      addr.shiftRight((7 - i) * 16).intValue() & 0xffff)
    var bestStart = -1; var bestLen = 0
    var i = 0
    while (i < 8) {
      if (gs(i) == 0) {
        var j = i
        while (j < 8 && gs(j) == 0) j += 1
        if (j - i > bestLen) { bestLen = j - i; bestStart = i }
        i = j
      } else i += 1
    }
    if (bestLen < 2) gs.map(Integer.toHexString).mkString(":")
    else {
      val pre = gs.take(bestStart).map(Integer.toHexString).mkString(":")
      val post = gs.drop(bestStart + bestLen).map(Integer.toHexString).mkString(":")
      pre + "::" + post
    }
  }

  def render(ip: Ip): String = {
    val a = if (ip.family == 4) renderV4(ip.addr) else renderV6(ip.addr)
    if (ip.cidr || ip.masklen != ip.bits) a + "/" + ip.masklen else a
  }

  /** text(inet): always shows the mask length. */
  def renderFull(ip: Ip): String =
    (if (ip.family == 4) renderV4(ip.addr) else renderV6(ip.addr)) + "/" + ip.masklen

  /** abbrev(cidr): v4 drops trailing zero octets beyond the mask
    * (live pin: 10.1.0.0/16 → 10.1/16); abbrev(inet) = plain display.
    */
  def abbrevCidr(ip: Ip): String =
    if (ip.family != 4) render(ip)
    else {
      val keep = math.max(1, (ip.masklen + 7) / 8)
      val v = ip.addr.longValue()
      val octs = Seq((v >> 24) & 0xff, (v >> 16) & 0xff, (v >> 8) & 0xff, v & 0xff)
      var n = 4
      while (n > keep && octs(n - 1) == 0) n -= 1
      octs.take(n).mkString(".") + "/" + ip.masklen
    }

  // ---- accessors / transforms ---------------------------------------------

  // Precomputed per (bits, masklen) constants: the transform family
  // runs per ROW in q128's hot projection, and re-deriving each mask
  // cost 4 BigInteger allocations per call — the dominant young-gen
  // churn behind that query's transient GC-pause spikes.
  private val allOnes: Array[BigInteger] = Array(
    BigInteger.ONE.shiftLeft(32).subtract(BigInteger.ONE),
    BigInteger.ONE.shiftLeft(128).subtract(BigInteger.ONE))
  private def allOf(bits: Int): BigInteger = if (bits == 32) allOnes(0) else allOnes(1)
  private val masks32: Array[BigInteger] =
    Array.tabulate(33)(l => allOnes(0).shiftRight(l).xor(allOnes(0)))
  private val masks128: Array[BigInteger] =
    Array.tabulate(129)(l => allOnes(1).shiftRight(l).xor(allOnes(1)))
  private def maskOf(ip: Ip): BigInteger =
    if (ip.bits == 32) masks32(ip.masklen) else masks128(ip.masklen)
  private val hostMasks32: Array[BigInteger] =
    Array.tabulate(33)(l => masks32(l).xor(allOnes(0)))
  private val hostMasks128: Array[BigInteger] =
    Array.tabulate(129)(l => masks128(l).xor(allOnes(1)))
  private def hostMaskOf(ip: Ip): BigInteger =
    if (ip.bits == 32) hostMasks32(ip.masklen) else hostMasks128(ip.masklen)

  def network(ip: Ip): Ip = ip.copy(addr = ip.addr.and(maskOf(ip)))

  def broadcast(ip: Ip): Ip =
    ip.copy(addr = ip.addr.or(hostMaskOf(ip)))

  def netmask(ip: Ip): Ip = Ip(ip.family, maskOf(ip), ip.bits, cidr = false)

  def hostmask(ip: Ip): Ip =
    Ip(ip.family, hostMaskOf(ip), ip.bits, cidr = false)

  def setMasklen(ip: Ip, len: Int): Ip = {
    if (len > ip.bits) throw PgException("22023",
      s"invalid mask length: $len")
    val next = ip.copy(masklen = len)
    if (ip.cidr) network(next) else next
  }

  def merge(a: Ip, b: Ip): Ip = {
    if (a.family != b.family)
      throw PgException("22023", "cannot merge addresses from different families")
    // longest common prefix of the two NETWORKS
    var len = math.min(a.masklen, b.masklen)
    def netAt(ip: Ip, l: Int): BigInteger =
      ip.addr.and(if (ip.bits == 32) masks32(l) else masks128(l))
    while (len > 0 && netAt(a, len).compareTo(netAt(b, len)) != 0) len -= 1
    Ip(a.family, netAt(a, len), len, cidr = true)
  }

  def add(ip: Ip, n: Long): Ip = {
    val v = ip.addr.add(BigInteger.valueOf(n))
    val all = allOf(ip.bits)
    if (v.signum < 0 || v.compareTo(all) > 0)
      throw PgException("22003", "result is out of range")
    ip.copy(addr = v)
  }

  def diff(a: Ip, b: Ip): BigInteger = {
    if (a.family != b.family)
      throw PgException("22023",
        "cannot subtract inet values of different sizes")
    a.addr.subtract(b.addr)
  }

  def not(ip: Ip): Ip = {
    val all = BigInteger.ONE.shiftLeft(ip.bits).subtract(BigInteger.ONE)
    ip.copy(addr = ip.addr.xor(all))
  }

  def and(a: Ip, b: Ip): Ip = a.copy(addr = a.addr.and(b.addr))
  def or(a: Ip, b: Ip): Ip = a.copy(addr = a.addr.or(b.addr))

  /** a is contained in b's network (strict: a.masklen > b.masklen). */
  def containedIn(a: Ip, b: Ip, strict: Boolean): Boolean = {
    if (a.family != b.family) return false
    val okLen = if (strict) a.masklen > b.masklen else a.masklen >= b.masklen
    okLen && network(a.copy(masklen = b.masklen)).addr
      .compareTo(network(b).addr) == 0
  }

  def overlap(a: Ip, b: Ip): Boolean =
    containedIn(a, b, strict = false) || containedIn(b, a, strict = false)

  /** pg network_cmp: network first, then masklen, then host bits. */
  def cmp(a: Ip, b: Ip): Int = {
    if (a.family != b.family) return a.family - b.family
    val n = network(a).addr.compareTo(network(b).addr)
    if (n != 0) return n
    if (a.masklen != b.masklen) return a.masklen - b.masklen
    a.addr.compareTo(b.addr)
  }

  /** A byte string whose unsigned order is [[cmp]]'s: family, network
    * address, mask length, full address (fixed widths per family), so
    * ORDER BY and min/max sort inet/cidr values as pg does. */
  def sortKey(ip: Ip): Array[Byte] = {
    val w = ip.bits / 8
    def fixed(v: BigInteger): Array[Byte] = {
      val b = v.toByteArray // big-endian, possibly one leading sign byte
      val out = new Array[Byte](w)
      val n = math.min(w, b.length)
      System.arraycopy(b, b.length - n, out, w - n, n)
      out
    }
    Array(ip.family.toByte) ++ fixed(network(ip).addr) ++ Array(ip.masklen.toByte) ++
      fixed(ip.addr)
  }

  // ---- macaddr / macaddr8 (pg §8.10) ---------------------------------------

  private def badMac(s: String, eight: Boolean): Nothing =
    throw PgException("22P02",
      s"invalid input syntax for type macaddr${if (eight) "8" else ""}: \"$s\"")

  /** Parse the pg macaddr spellings (colon/dash pairs, 3-hex groups,
    * dotted quads, bare hex); macaddr8 additionally accepts 8 bytes
    * and expands 6-byte input with the ff:fe EUI-64 midsection.
    */
  def parseMac(raw: String, eight: Boolean): Array[Int] = {
    val hex = raw.trim.filter(c => Character.digit(c, 16) >= 0)
    val seps = raw.trim.filterNot(c => Character.digit(c, 16) >= 0)
    if (!seps.forall(c => c == ':' || c == '-' || c == '.')) badMac(raw, eight)
    val nBytes = hex.length / 2
    if (hex.length % 2 != 0) badMac(raw, eight)
    if (nBytes != 6 && !(eight && nBytes == 8)) badMac(raw, eight)
    val bytes = Array.tabulate(nBytes)(i =>
      Integer.parseInt(hex.substring(i * 2, i * 2 + 2), 16))
    if (eight && nBytes == 6)
      Array(bytes(0), bytes(1), bytes(2), 0xff, 0xfe, bytes(3), bytes(4), bytes(5))
    else bytes
  }

  def renderMac(b: Array[Int]): String =
    b.map(v => f"$v%02x").mkString(":")

  // ---- registration --------------------------------------------------------

  /** One native expression class for the whole inet/macaddr function
    * family. Until round 14 these were Scala UDFs: every call paid
    * encoder boxing AND disqualified its projection from whole-stage
    * codegen (q128's 8-call projection ran fully interpreted). As a
    * [[PgVariadicDirectGen]] the call sits inside the generated code
    * with one virtual dispatch; [[ImplicitCastInputTypes]] restores
    * the argument coercions the UDF encoder used to provide.
    *
    * Equality/idempotence note: `fn` is a lambda compared by
    * reference, but every instance is built by the SAME registry
    * builder closure per name, so two `InetFn("host", c)` built from
    * one session compare equal in the only places the planner needs
    * it (transform fixpoints re-use the same instance).
    */
  final case class InetFn(fnName: String, children: Seq[Expression],
      out: DataType, arity: Int)(
      val fn: Array[Any] => Any)
      extends Expression with PgVariadicDirectGen {
    override def nullable: Boolean = true
    override def dataType: DataType = out
    override def prettyName: String = fnName
    override def evalVals(vs: Array[Any]): Any = fn(vs)
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): InetFn =
      copy(children = newChildren)(fn)
  }

  private def u8(s: String): UTF8String = UTF8String.fromString(s)

  // null-strict adapters from UTF8String/boxed args to the typed logic
  private def f1(f: String => Any): Array[Any] => Any = vs =>
    if (vs(0) == null) null else f(vs(0).toString)
  private def f2(f: (String, String) => Any): Array[Any] => Any = vs =>
    if (vs(0) == null || vs(1) == null) null
    else f(vs(0).toString, vs(1).toString)
  private def fLong(f: (String, Long) => Any): Array[Any] => Any = vs =>
    if (vs(0) == null || vs(1) == null) null
    else f(vs(0).toString, vs(1).asInstanceOf[Number].longValue)
  private def fInt(f: (String, Int) => Any): Array[Any] => Any = vs =>
    if (vs(0) == null || vs(1) == null) null
    else f(vs(0).toString, vs(1).asInstanceOf[Number].intValue)

  /** (name, return type, arity, impl) for every family function. The
    * numeric-argument adapters coerce through java.lang.Number, so int
    * vs long literal types need no analyzer-inserted casts (the role
    * the UDF encoder used to play; ImplicitCastInputTypes is
    * private[sql]). */
  private lazy val defs: Seq[(String, DataType, Int, Array[Any] => Any)] = {
    def p(s: String): Ip = parse(s, asCidr = false)
    def str1(name: String)(f: String => String) =
      (name, StringType: DataType, 1, f1(s => u8(f(s))))
    def str2(name: String)(f: (String, String) => String) =
      (name, StringType: DataType, 2, f2((a, b) => u8(f(a, b))))
    def bool2(name: String)(f: (Ip, Ip) => Boolean) =
      (name, BooleanType: DataType, 2,
        f2((a, b) => Boolean.box(f(p(a), p(b)))))
    Seq(
      str1("inet_in")(s => render(parse(s, asCidr = false))),
      str1("cidr_in")(s => render(parse(s, asCidr = true).copy(cidr = true))),
      str1("host") { s =>
        val ip = p(s)
        if (ip.family == 4) renderV4(ip.addr) else renderV6(ip.addr)
      },
      ("masklen", IntegerType, 1, f1(s => Int.box(p(s).masklen))),
      ("family", IntegerType, 1, f1(s => Int.box(p(s).family))),
      str1("network")(s => render(network(p(s)).copy(cidr = true))),
      str1("broadcast")(s => render(broadcast(p(s)))),
      str1("netmask")(s => render(netmask(p(s)))),
      str1("hostmask")(s => render(hostmask(p(s)))),
      str1("abbrev")(s => render(p(s))), // abbrev(inet) = display form
      str1("pg_abbrev_cidr")(s => abbrevCidr(parse(s, asCidr = true))),
      str1("pg_inet_text")(s => renderFull(p(s))),
      ("set_masklen", StringType, 2,
        fInt((s, n) => u8(render(setMasklen(p(s), n))))),
      ("pg_set_masklen_cidr", StringType, 2,
        fInt((s, n) => u8(render(setMasklen(parse(s, asCidr = true), n).copy(cidr = true))))),
      ("inet_same_family", BooleanType, 2,
        f2((a, b) => Boolean.box(p(a).family == p(b).family))),
      str2("inet_merge")((a, b) => render(merge(p(a), p(b)))),
      ("inet_add", StringType, 2,
        fLong((s, n) => u8(render(add(p(s), n))))),
      ("inet_sub", StringType, 2,
        fLong((s, n) => u8(render(add(p(s), -n))))),
      ("inet_diff", LongType, 2,
        f2((a, b) => Long.box(diff(p(a), p(b)).longValueExact))),
      str1("inet_not")(s => render(not(p(s)))),
      str2("inet_and")((a, b) => render(and(p(a), p(b)))),
      str2("inet_or")((a, b) => render(or(p(a), p(b)))),
      bool2("inet_contained_strict")((a, b) => containedIn(a, b, strict = true)),
      bool2("inet_contained_eq")((a, b) => containedIn(a, b, strict = false)),
      bool2("inet_contains_strict")((a, b) => containedIn(b, a, strict = true)),
      bool2("inet_contains_eq")((a, b) => containedIn(b, a, strict = false)),
      bool2("inet_overlap")(overlap),
      bool2("inet_lt")((a, b) => cmp(a, b) < 0),
      bool2("inet_le")((a, b) => cmp(a, b) <= 0),
      bool2("inet_gt")((a, b) => cmp(a, b) > 0),
      bool2("inet_ge")((a, b) => cmp(a, b) >= 0),
      ("inet_sort_key", BinaryType, 1, f1(s => sortKey(p(s)))),
      str1("macaddr_in")(s => renderMac(parseMac(s, eight = false))),
      str1("macaddr8_in")(s => renderMac(parseMac(s, eight = true))),
      str1("mac_trunc") { s =>
        val b = parseMac(s, eight = false)
        renderMac(b.take(3) ++ Array(0, 0, 0))
      },
      str1("mac_not")(s =>
        renderMac(parseMac(s, eight = s.count(_ == ':') == 7).map(v => ~v & 0xff))),
      str2("mac_and")((a, b) =>
        renderMac(parseMac(a, eight = false).zip(parseMac(b, eight = false))
          .map { case (x, y) => x & y })),
      str2("mac_or")((a, b) =>
        renderMac(parseMac(a, eight = false).zip(parseMac(b, eight = false))
          .map { case (x, y) => x | y })),
      str1("macaddr8_set7bit") { s =>
        val b = parseMac(s, eight = true)
        b(0) |= 0x02
        renderMac(b)
      })
  }

  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    defs.foreach { case (name, out, arity, impl) =>
      val ident = org.apache.spark.sql.catalyst.FunctionIdentifier(name)
      if (!reg.functionExists(ident))
        reg.registerFunction(ident,
          new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
            classOf[InetFn].getName, name),
          args => {
            require(args.length == arity,
              s"$name requires exactly $arity arguments, got ${args.length}")
            InetFn(name, args, out, arity)(impl)
          })
    }
  }
}
