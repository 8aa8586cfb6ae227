package graft

import java.nio.ByteBuffer
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._
import graft.pgwire.{BinaryEncoder, Compat, PgFunctions, TextEncoder}

/** Property-based hardening of the codec/compat invariants:
  * round-trips that must hold for EVERY input, not just the fixture
  * matrix (complements CodecSpec/CompatSpec). Deterministic seed —
  * no scalatest-scalacheck bridge in the pinned env, so samples are
  * drawn directly from Gen.
  */
class PropertySpec extends AnyFunSuite {

  private def forSamples[A](gen: Gen[A], n: Int = 300)(f: A => Unit): Unit = {
    val params = Gen.Parameters.default.withSize(40)
    var seed = Seed(42L)
    var produced = 0
    var attempts = 0
    while (produced < n && attempts < n * 10) {
      gen.apply(params, seed).foreach { a => f(a); produced += 1 }
      seed = seed.next
      attempts += 1
    }
    assert(produced > n / 2, s"generator too sparse: $produced of $n")
  }

  test("tokenize → render is the identity on arbitrary strings") {
    // the rewriter's soundness depends on lossless tokenization
    forSamples(Gen.asciiPrintableStr) { s =>
      assert(Compat.render(Compat.tokenize(s)) === s)
    }
  }

  test("tokenize → render is the identity on SQL-shaped text") {
    val sqlish = for {
      kw <- Gen.oneOf("SELECT", "FROM t WHERE", "ORDER BY", "GROUP BY")
      id <- Gen.identifier
      lit <- Gen.oneOf("'a''b'", "42", "1.5e-3", "\"Q id\"", "/* b */", "$1")
      op <- Gen.oneOf("=", "<>", "::", "~", "||", ",", "!~*")
    } yield s"$kw $id $op $lit"
    forSamples(sqlish) { s => assert(Compat.render(Compat.tokenize(s)) === s) }
  }

  private val doubleGen: Gen[Double] = Gen.frequency(
    5 -> Gen.chooseNum(-1e6, 1e6),
    2 -> Gen.chooseNum(-1.0, 1.0),
    2 -> Gen.chooseNum(Double.MinValue, Double.MaxValue),
    1 -> Gen.oneOf(0.0, -0.0, 1e-300, -1e300, 0.0001, 1e-5, 123456789.123456789))

  test("pg float8 text parses back to the exact double (shortest round-trip)") {
    forSamples(doubleGen) { d =>
      val txt = TextEncoder.formatFloat(d, isFloat4 = false)
      assert(java.lang.Double.parseDouble(txt) === d,
        s"$d printed as $txt did not round-trip")
    }
  }

  test("pg float4 text parses back to the exact float") {
    forSamples(doubleGen.map(_.toFloat).suchThat(f => !f.isNaN && !f.isInfinite)) { f =>
      val txt = TextEncoder.formatFloat(f.toDouble, isFloat4 = true)
      assert(java.lang.Float.parseFloat(txt) === f)
    }
  }

  /** The float text algorithm before the one-pass rewrite, verbatim:
    * the oracle the rewrite must match byte for byte. */
  private def formatFloatOracle(d: Double, isFloat4: Boolean, extraFloatDigits: Int = 1): String =
    if (d.isNaN) "NaN"
    else if (d.isPosInfinity) "Infinity"
    else if (d.isNegInfinity) "-Infinity"
    else if (d == 0.0) { if (1 / d < 0) "-0" else "0" }
    else {
      val neg = d < 0
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
      val (mant, exp) =
        if (s.contains("E")) { val Array(m, e) = s.split("E"); (m, e.toInt) }
        else (s, 0)
      val dot = mant.indexOf('.')
      val digits0 = mant.replace(".", "")
      val intLen = if (dot < 0) mant.length else dot
      val stripped = digits0.dropWhile(_ == '0')
      val lead = digits0.length - stripped.length
      val e10 = intLen + exp - lead - 1 // exponent of first significant digit
      val sig0 = stripped.reverse.dropWhile(_ == '0').reverse
      val sig = if (sig0.isEmpty) "0" else sig0
      // %g switches to scientific at the precision; Ryu at the pg window
      val maxDecimalExp =
        if (ndig > 0) ndig - 1 else if (isFloat4) 5 else 15
      val body =
        if (e10 > maxDecimalExp || e10 < -4) {
          val m = if (sig.length == 1) sig else sig.head + "." + sig.tail
          m + "e" + (if (e10 < 0) "-" else "+") + "%02d".format(math.abs(e10))
        } else if (e10 >= sig.length - 1) {
          sig + "0" * (e10 - sig.length + 1)
        } else if (e10 >= 0) {
          sig.substring(0, e10 + 1) + "." + sig.substring(e10 + 1)
        } else {
          "0." + "0" * (-e10 - 1) + sig
        }
      (if (neg) "-" else "") + body
    }

  test("float text matches the pre-rewrite algorithm on 1M doubles and 1M floats") {
    val efds = Seq(-15, 0, 1, 3)
    def check(d: Double, isFloat4: Boolean): Unit = efds.foreach { efd =>
      val got = TextEncoder.formatFloat(d, isFloat4, efd)
      val want = formatFloatOracle(d, isFloat4, efd)
      if (got != want)
        fail(s"${if (isFloat4) "float4" else "float8"} $d at extra_float_digits=$efd: " +
          s"got $got, want $want")
    }
    val edgeDoubles = Seq(0.0, -0.0, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      Double.MinPositiveValue, -Double.MinPositiveValue, java.lang.Double.MIN_NORMAL,
      Double.MaxValue, Double.MinValue, 1e-4, 1e-5, 9.999e-5, 1e15, 1e16, 9.99999999999999e15,
      123456789012345678.0, 0.1, 0.3, 0.1 + 0.2, 1.0 / 3, 2.0 / 3, 1.0, 10.0, 100.0, 1e22, 1e23,
      5e-324, 4.9e-324, 2.2250738585072014e-308, 1.7976931348623157e308, 0.5, 1.5, 1e5, 1e6)
    val edgeFloats = Seq(0.0f, -0.0f, Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity,
      Float.MinPositiveValue, java.lang.Float.MIN_NORMAL, Float.MaxValue, Float.MinValue,
      1e-4f, 1e-5f, 1e5f, 1e6f, 999999f, 99999.9f, 0.1f, 0.3f, 1.0f / 3, 16777216f, 3.4e38f)
    (edgeDoubles ++ edgeDoubles.map(-_)).foreach(check(_, isFloat4 = false))
    (edgeFloats ++ edgeFloats.map(-_)).foreach(f => check(f.toDouble, isFloat4 = true))
    val rng = new java.util.Random(20240101L)
    def decimalish(): Double = // short decimals: k / 10^j and k * 10^j
      (rng.nextInt(2000001) - 1000000).toDouble * math.pow(10, rng.nextInt(41) - 20)
    var i = 0
    while (i < 1000000) {
      val d = i % 4 match {
        case 0 => java.lang.Double.longBitsToDouble(rng.nextLong()) // every exponent, subnormals, NaNs
        case 1 => decimalish()
        case 2 => (rng.nextDouble() - 0.5) * math.pow(10, rng.nextInt(44) - 22)
        case _ => rng.nextLong().toDouble / (1L << rng.nextInt(63))
      }
      check(d, isFloat4 = false)
      val f = i % 3 match {
        case 0 => java.lang.Float.intBitsToFloat(rng.nextInt())
        case 1 => decimalish().toFloat
        case _ => ((rng.nextDouble() - 0.5) * math.pow(10, rng.nextInt(16) - 8)).toFloat
      }
      check(f.toDouble, isFloat4 = true)
      i += 1
    }
  }

  test("quote_ident → parse_ident round-trips any identifier") {
    val ident = Gen.nonEmptyListOf(
      Gen.frequency(8 -> Gen.alphaNumChar, 1 -> Gen.const('_'),
        1 -> Gen.oneOf(' ', '.', '"', 'ä'))).map(_.mkString)
    forSamples(ident) { s =>
      val quoted = PgFunctions.quoteIdent(s)
      val parsed = PgFunctions.parseIdent(quoted)
      assert(parsed.toSeq === Seq(if (quoted == s) s.toLowerCase else s),
        s"ident <$s> quoted <$quoted> parsed ${parsed.toSeq}")
    }
  }

  /** Decode the pg numeric binary format back into a BigDecimal. */
  private def decodeNumeric(bytes: Array[Byte]): java.math.BigDecimal = {
    val b = ByteBuffer.wrap(bytes)
    val ndigits = b.getShort
    val weight = b.getShort
    val sign = b.getShort
    val dscale = b.getShort
    var acc = java.math.BigDecimal.ZERO
    (0 until ndigits).foreach { i =>
      val digit = java.math.BigDecimal.valueOf(b.getShort.toLong)
      acc = acc.add(digit.scaleByPowerOfTen((weight - i) * 4))
    }
    val signed = if (sign == 0x4000) acc.negate else acc
    signed.setScale(dscale)
  }

  test("numeric binary encodes any BigDecimal losslessly") {
    val decGen = for {
      unscaled <- Gen.chooseNum(-1000000000000L, 1000000000000L)
      scale <- Gen.chooseNum(0, 8)
    } yield java.math.BigDecimal.valueOf(unscaled, scale)
    forSamples(decGen) { bd =>
      val dec = decodeNumeric(BinaryEncoder.encodeNumeric(bd))
      assert(dec.compareTo(bd) === 0, s"$bd -> $dec")
    }
  }

  test("array text encoding quotes every element unambiguously") {
    // any element list renders with balanced braces and the same
    // top-level element count (split on unquoted commas)
    val elsGen = Gen.listOf(Gen.frequency(
      6 -> Gen.asciiPrintableStr, 1 -> Gen.const(null: String),
      1 -> Gen.oneOf("a,b", "{x}", "say \"hi\"", "back\\slash", "", "NULL")))
    forSamples(elsGen) { els =>
      val txt = TextEncoder.encodeArray(els, StringType)
      assert(txt.startsWith("{") && txt.endsWith("}"))
      var inQ = false
      var count = if (els.isEmpty) 0 else 1
      var i = 1
      while (i < txt.length - 1) {
        val c = txt.charAt(i)
        if (inQ) {
          if (c == '\\') i += 1
          else if (c == '"') inQ = false
        } else if (c == '"') inQ = true
        else if (c == ',') count += 1
        i += 1
      }
      assert(count === els.length, s"elements $els encoded: $txt")
    }
  }
}
