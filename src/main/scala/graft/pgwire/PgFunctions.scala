package graft.pgwire

import org.apache.spark.sql.SparkSession

/** PostgreSQL system + math UDF packs registered into a SparkSession
  * (reference: datafusion-pg-catalog/src/pg_catalog.rs:1073-1572 —
  * system/compat scalars; datafusion-pg-functions/src/numeric/ — math
  * pack). Spark's FunctionRegistry keys by name only (no overloads),
  * so multi-arity reference functions are registered at their most
  * common arity and [[Compat]] pads the other call shapes.
  *
  * Scale note: these are constant/stub scalar UDFs evaluated on tiny
  * catalog relations or literal rows — never in a 100 TB hot path, so
  * the non-codegen UDF cost is irrelevant. Heavy-path functions (the
  * LLM-pipeline operators) stay builtin-expression-only.
  */
object PgFunctions {

  val ServerVersion = "17.0"
  val VersionString =
    s"PostgreSQL $ServerVersion (graft-spark), Apache Spark SQL engine"

  /** Row shape of pg_input_error_info (pg returns a record). */
  final case class ErrorInfo(message: String, detail: String, hint: String,
      sql_error_code: String)

  /** pg reserved keywords that quote_ident must quote. */
  private val reservedWords: Set[String] = Set(
    "all", "analyse", "analyze", "and", "any", "array", "as", "asc",
    "asymmetric", "both", "case", "cast", "check", "collate", "column",
    "constraint", "create", "current_catalog", "current_date",
    "current_role", "current_time", "current_timestamp", "current_user",
    "default", "deferrable", "desc", "distinct", "do", "else", "end",
    "except", "false", "fetch", "for", "foreign", "from", "grant",
    "group", "having", "in", "initially", "intersect", "into", "lateral",
    "leading", "limit", "localtime", "localtimestamp", "not", "null",
    "offset", "on", "only", "or", "order", "placing", "primary",
    "references", "returning", "select", "session_user", "some",
    "symmetric", "table", "then", "to", "trailing", "true", "union",
    "unique", "user", "using", "variadic", "when", "where", "window",
    "with")

  /** pg quote_ident: quote unless all-lowercase [a-z_][a-z0-9_$]* and
    * not reserved (reference: quote_ident_udf.rs:13-143).
    */
  def quoteIdent(s: String): String = {
    if (s == null) return null
    val safe = s.nonEmpty &&
      (s.head.isLower || s.head == '_') &&
      s.forall(c => (c.isLower || c.isDigit || c == '_' || c == '$')) &&
      !reservedWords.contains(s)
    if (safe) s else "\"" + s.replace("\"", "\"\"") + "\""
  }

  /** pg parse_ident: split a qualified identifier into parts, honoring
    * double-quoting (reference: quote_ident_udf.rs:144-425).
    */
  def parseIdent(s: String): Array[String] = {
    if (s == null) return null
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    val n = s.length
    while (i < n) {
      while (i < n && s.charAt(i).isWhitespace) i += 1
      if (i >= n) return fail(s)
      if (s.charAt(i) == '"') {
        val sb = new StringBuilder
        i += 1
        var closed = false
        while (i < n && !closed) {
          if (s.charAt(i) == '"' && i + 1 < n && s.charAt(i + 1) == '"') { sb.append('"'); i += 2 }
          else if (s.charAt(i) == '"') { i += 1; closed = true }
          else { sb.append(s.charAt(i)); i += 1 }
        }
        if (!closed || sb.isEmpty) return fail(s)
        out += sb.toString
      } else {
        val start = i
        if (!(s.charAt(i).isLetter || s.charAt(i) == '_')) return fail(s)
        while (i < n && (s.charAt(i).isLetterOrDigit || s.charAt(i) == '_' || s.charAt(i) == '$')) i += 1
        out += s.substring(start, i).toLowerCase
      }
      while (i < n && s.charAt(i).isWhitespace) i += 1
      if (i < n) {
        if (s.charAt(i) != '.') return fail(s)
        i += 1
      }
    }
    out.toArray
  }
  private def fail(s: String): Array[String] =
    throw new IllegalArgumentException(s"""string is not a valid identifier: "$s"""")

  /** format_type(oid, typemod) → display name with typemod decoding
    * (reference: pg_catalog/format_type.rs:18-274).
    */
  def formatType(oid: Integer, typemod: Integer): String = {
    if (oid == null) return null
    val tm = if (typemod == null) -1 else typemod.intValue()
    def mod(base: String): String =
      if (tm >= 4) base + "(" + (tm - 4) + ")" else base
    oid.intValue() match {
      case 16 => "boolean"
      case 17 => "bytea"
      case 18 => "\"char\""
      case 19 => "name"
      case 20 => "bigint"
      case 21 => "smallint"
      case 23 => "integer"
      case 25 => "text"
      case 26 => "oid"
      case 114 => "json"
      case 700 => "real"
      case 701 => "double precision"
      case 705 => "unknown"
      case 1042 => mod("character")
      case 1043 => mod("character varying")
      case 1082 => "date"
      case 1083 => "time without time zone"
      case 1114 => "timestamp without time zone"
      case 1184 => "timestamp with time zone"
      case 1186 => "interval"
      case 1700 =>
        if (tm >= 4) {
          val p = ((tm - 4) >> 16) & 0xFFFF
          val s = (tm - 4) & 0xFFFF
          s"numeric($p,$s)"
        } else "numeric"
      case 2249 => "record"
      case 1000 => "boolean[]"
      case 1001 => "bytea[]"
      case 1005 => "smallint[]"
      case 1007 => "integer[]"
      case 1009 => "text[]"
      case 1015 => "character varying[]"
      case 1016 => "bigint[]"
      case 1021 => "real[]"
      case 1022 => "double precision[]"
      case 1115 => "timestamp without time zone[]"
      case 1182 => "date[]"
      case 1185 => "timestamp with time zone[]"
      case 1231 => "numeric[]"
      case PgType.GEOMETRY => "geometry"
      case PgType.GEOMETRY_ARRAY => "geometry[]"
      case 2276 => "\"any\""
      case 2277 => "anyarray"
      case 2283 => "anyelement"
      case 3831 => "anyrange"
      case 142 => "xml"
      case 790 => "money"
      case 650 => "cidr"
      case 774 => "macaddr8"
      case 1560 => "bit"
      case 1562 => "bit varying"
      case 829 => "macaddr"
      case 869 => "inet"
      case 3614 => "tsvector"
      case 3615 => "tsquery"
      case 3904 => "int4range"
      case 3906 => "numrange"
      case 3908 => "tsrange"
      case 3910 => "tstzrange"
      case 3912 => "daterange"
      case 3926 => "int8range"
      case other => "???"
    }
  }

  /** pg_size_pretty(bigint). */
  def sizePretty(bytes: java.lang.Long): String = {
    if (bytes == null) return null
    var v = bytes.longValue().toDouble
    val units = Seq("bytes", "kB", "MB", "GB", "TB", "PB")
    var u = 0
    if (math.abs(v) < 10240) return s"${bytes} bytes"
    v = v / 1024; u = 1
    while (math.abs(v) >= 10240 && u < units.length - 1) { v = v / 1024; u += 1 }
    s"${math.round(v)} ${units(u)}"
  }

  // ---- degree trig with pg exactness (numeric/degree_trig.rs) -----------

  def sind(x: java.lang.Double): java.lang.Double = {
    if (x == null) return null
    val d = x.doubleValue()
    if (d.isNaN || d.isInfinite) return Double.NaN
    val m = ((d % 360) + 360) % 360
    if (m % 30 == 0) {
      // exact at multiples of 30 degrees (public pg behavior)
      val table = Map(0.0 -> 0.0, 30.0 -> 0.5, 90.0 -> 1.0, 150.0 -> 0.5,
        180.0 -> 0.0, 210.0 -> -0.5, 270.0 -> -1.0, 330.0 -> -0.5,
        60.0 -> math.sin(math.toRadians(60)), 120.0 -> math.sin(math.toRadians(120)),
        240.0 -> math.sin(math.toRadians(240)), 300.0 -> math.sin(math.toRadians(300)))
      table(m)
    } else math.sin(math.toRadians(d))
  }

  def cosd(x: java.lang.Double): java.lang.Double = {
    if (x == null) return null
    val d = x.doubleValue()
    if (d.isNaN || d.isInfinite) return Double.NaN
    sind(d + 90.0)
  }

  def tand(x: java.lang.Double): java.lang.Double = {
    if (x == null) return null
    val d = x.doubleValue()
    if (d.isNaN || d.isInfinite) return Double.NaN
    val m = ((d % 360) + 360) % 360
    if (m % 45 == 0) m match {
      case 0.0 | 180.0 => 0.0
      case 45.0 | 225.0 => 1.0
      case 135.0 | 315.0 => -1.0
      case 90.0 => Double.PositiveInfinity
      case 270.0 => Double.NegativeInfinity
    } else {
      val s: Double = sind(d)
      val c: Double = cosd(d)
      s / c
    }
  }

  def cotd(x: java.lang.Double): java.lang.Double = {
    if (x == null) return null
    val d = x.doubleValue()
    if (d.isNaN || d.isInfinite) return Double.NaN
    val m = ((d % 360) + 360) % 360
    if (m % 45 == 0) m match {
      case 0.0 | 180.0 => Double.PositiveInfinity
      case 90.0 | 270.0 => 0.0
      case 45.0 | 225.0 => 1.0
      case 135.0 | 315.0 => -1.0
    } else {
      val s: Double = sind(d)
      val c: Double = cosd(d)
      c / s
    }
  }

  def asind(x: java.lang.Double): java.lang.Double = {
    if (x == null) return null
    val d = x.doubleValue()
    if (d == 0.5) 30.0 else if (d == -0.5) -30.0
    else if (d == 1.0) 90.0 else if (d == -1.0) -90.0
    else if (d == 0.0) 0.0
    else math.toDegrees(math.asin(d))
  }

  def acosd(x: java.lang.Double): java.lang.Double = {
    if (x == null) return null
    val d = x.doubleValue()
    if (d == 0.5) 60.0 else if (d == -0.5) 120.0
    else if (d == 1.0) 0.0 else if (d == -1.0) 180.0
    else if (d == 0.0) 90.0
    else math.toDegrees(math.acos(d))
  }

  def atand(x: java.lang.Double): java.lang.Double = {
    if (x == null) return null
    val d = x.doubleValue()
    if (d == 1.0) 45.0 else if (d == -1.0) -45.0 else if (d == 0.0) 0.0
    else math.toDegrees(math.atan(d))
  }

  def atan2d(y: java.lang.Double, x: java.lang.Double): java.lang.Double = {
    if (y == null || x == null) return null
    math.toDegrees(math.atan2(y.doubleValue(), x.doubleValue()))
  }

  // ---- binary / uuid / pattern helpers (functions.md slice #2) ----------

  /** Compile a POSIX-ish pattern with pg's regexp flags (docs Table
    * 9.24): pg defaults to newline-INSENSITIVE matching ('.' matches
    * newline), so DOTALL is on unless 'n'/'m' asks for line mode. */
  private def pgRegex(pattern: String, flags: String): java.util.regex.Pattern = {
    import java.util.regex.Pattern
    var f = Pattern.DOTALL
    (if (flags == null) "" else flags).foreach {
      case 'i' => f |= Pattern.CASE_INSENSITIVE
      case 'c' => f &= ~Pattern.CASE_INSENSITIVE
      case 'n' | 'm' => f = (f & ~Pattern.DOTALL) | Pattern.MULTILINE
      case 's' => f |= Pattern.DOTALL
      case 'x' => f |= Pattern.COMMENTS
      case 'q' => f |= Pattern.LITERAL
      case 'g' => // occurrence-handled by callers
      case other => throw new IllegalArgumentException(
        s"""invalid regular expression option: "$other"""")
    }
    Pattern.compile(pattern, f)
  }

  /** Find the Nth match at-or-after 1-based char `start`. */
  private def nthMatch(s: String, p: String, start: Int, n: Int,
      flags: String): Option[java.util.regex.Matcher] = {
    if (start < 1) throw new IllegalArgumentException(
      "invalid value for parameter \"start\": " + start)
    val m = pgRegex(p, flags).matcher(s)
    var count = 0
    var from = start - 1
    while (from <= s.length && m.find(from)) {
      count += 1
      if (count == n) return Some(m)
      from = if (m.end() == m.start()) m.end() + 1 else m.end()
    }
    None
  }

  def pgRegexpLike(s: String, p: String, flags: String): Boolean =
    pgRegex(p, flags).matcher(s).find()

  def pgRegexpCount(s: String, p: String, start: Int, flags: String): Int = {
    if (start < 1) throw new IllegalArgumentException(
      "invalid value for parameter \"start\": " + start)
    val m = pgRegex(p, flags).matcher(s)
    var count = 0
    var from = start - 1
    while (from <= s.length && m.find(from)) {
      count += 1
      from = if (m.end() == m.start()) m.end() + 1 else m.end()
    }
    count
  }

  def pgRegexpInstr(s: String, p: String, start: Int, n: Int, endOpt: Int,
      flags: String, subexpr: Int): Int =
    nthMatch(s, p, start, math.max(1, n), flags) match {
      case None => 0
      case Some(m) =>
        val (st, en) =
          if (subexpr > 0) {
            if (m.start(subexpr) < 0) return 0
            (m.start(subexpr), m.end(subexpr))
          } else (m.start(), m.end())
        if (endOpt == 1) en + 1 else st + 1
    }

  def pgRegexpSubstr(s: String, p: String, start: Int, n: Int,
      flags: String, subexpr: Int): String =
    nthMatch(s, p, start, math.max(1, n), flags) match {
      case None => null
      case Some(m) => if (subexpr > 0) m.group(subexpr) else m.group()
    }

  /** pg regexp_replace: 4th positional may be flags (text) or start
    * (int, arrives as its decimal text through the UDF signature);
    * n = -1 means "not given" (first match unless 'g'), n = 0 means
    * every match, n > 0 the Nth match only. */
  def pgRegexpReplace(s: String, p: String, r: String, fourth: String,
      n: Int, flags: String): String = {
    var start = 1
    var fl = if (flags == null) "" else flags
    var occ = n
    if (fourth != null && fourth.nonEmpty) {
      if (fourth.forall(_.isDigit)) start = fourth.toInt
      else { fl = fourth + fl }
    }
    if (occ < 0) occ = if (fl.contains('g')) 0 else 1
    val javaRepl = pgReplToJava(r)
    if (occ == 0) {
      // every match from start
      val prefix = s.substring(0, math.min(start - 1, s.length))
      val rest = s.substring(math.min(start - 1, s.length))
      prefix + pgRegex(p, fl).matcher(rest).replaceAll(javaRepl)
    } else {
      nthMatch(s, p, start, occ, fl) match {
        case None => s
        case Some(m) =>
          // appendReplacement copies everything before the match from
          // the matcher's append position (still 0 — only find() ran)
          val sb = new StringBuffer(s.length)
          m.appendReplacement(sb, javaRepl)
          m.appendTail(sb)
          sb.toString
      }
    }
  }

  /** pg replacement syntax: \1..\9 group refs, \& whole match, \\ a
    * literal backslash → Java's $1..$9 / $0 / \\. */
  private def pgReplToJava(r: String): String = {
    val sb = new java.lang.StringBuilder(r.length + 8)
    var i = 0
    while (i < r.length) {
      val c = r.charAt(i)
      if (c == '\\' && i + 1 < r.length) {
        val d = r.charAt(i + 1)
        if (d.isDigit) { sb.append('$').append(d); i += 2 }
        else if (d == '&') { sb.append("$0"); i += 2 }
        else if (d == '\\') { sb.append("\\\\"); i += 2 }
        else { sb.append('\\').append(d); i += 2 }
      } else if (c == '$') { sb.append("\\$"); i += 1 }
      else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** pg text -> bytea input (docs §8.4): hex form `\x…` (whitespace
    * between pairs allowed) or escape form (`\\`, `\nnn` octal, other
    * bytes literal — non-ASCII as their UTF-8 bytes). */
  def parseByteaInput(s: String): Array[Byte] = {
    if (s.length >= 2 && s.charAt(0) == '\\' &&
      (s.charAt(1) == 'x' || s.charAt(1) == 'X')) {
      val hex = s.substring(2).filterNot(_.isWhitespace)
      if (hex.length % 2 != 0) throw new IllegalArgumentException(
        "invalid hexadecimal data: odd number of digits")
      val out = new Array[Byte](hex.length / 2)
      var i = 0
      while (i < out.length) {
        val hi = Character.digit(hex.charAt(2 * i), 16)
        val lo = Character.digit(hex.charAt(2 * i + 1), 16)
        if (hi < 0 || lo < 0) throw new IllegalArgumentException(
          s"""invalid hexadecimal digit: "${hex.charAt(2 * i + (if (hi < 0) 0 else 1))}"""")
        out(i) = ((hi << 4) | lo).toByte
        i += 1
      }
      out
    } else {
      val in = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val bb = new java.io.ByteArrayOutputStream(in.length)
      var i = 0
      def isOct(b: Byte): Boolean = b >= '0' && b <= '7'
      while (i < in.length) {
        val b = in(i)
        if (b == '\\') {
          if (i + 1 < in.length && in(i + 1) == '\\') { bb.write('\\'); i += 2 }
          else if (i + 3 < in.length && isOct(in(i + 1)) && isOct(in(i + 2)) &&
            isOct(in(i + 3))) {
            bb.write(((in(i + 1) - '0') * 64 + (in(i + 2) - '0') * 8 +
              (in(i + 3) - '0')) & 0xff)
            i += 4
          } else throw new IllegalArgumentException(
            "invalid input syntax for type bytea")
        } else { bb.write(b); i += 1 }
      }
      bb.toByteArray
    }
  }

  /** pg encode(bytea, format): hex | base64 | escape. */
  def encodeBytea(b: Array[Byte], format: String): String = format.toLowerCase match {
    case "hex" => b.map(x => f"${x & 0xff}%02x").mkString
    case "base64" => java.util.Base64.getMimeEncoder(76, Array('\n'.toByte)).encodeToString(b)
    case "escape" =>
      val sb = new StringBuilder
      b.foreach { x =>
        val v = x & 0xff
        if (v == '\\') sb.append("\\\\")
        else if (v >= 32 && v <= 126) sb.append(v.toChar)
        else sb.append(f"\\${v}%03o")
      }
      sb.toString
    case other => throw new IllegalArgumentException(s"unrecognized encoding: $other")
  }

  /** pg decode(text, format). */
  def decodeBytea(s: String, format: String): Array[Byte] = format.toLowerCase match {
    case "hex" =>
      val clean = s.filterNot(_.isWhitespace)
      require(clean.length % 2 == 0, "invalid hexadecimal data: odd number of digits")
      clean.grouped(2).map(h => Integer.parseInt(h, 16).toByte).toArray
    case "base64" => java.util.Base64.getMimeDecoder.decode(s)
    case "escape" =>
      val out = new java.io.ByteArrayOutputStream()
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '\\') {
          if (i + 1 < s.length && s.charAt(i + 1) == '\\') { out.write('\\'); i += 2 }
          else { out.write(Integer.parseInt(s.substring(i + 1, i + 4), 8)); i += 4 }
        } else { out.write(c); i += 1 }
      }
      out.toByteArray
    case other => throw new IllegalArgumentException(s"unrecognized encoding: $other")
  }

  private def charsetOf(name: String): java.nio.charset.Charset =
    name.toUpperCase.replace("-", "").replace("_", "") match {
      case "UTF8" | "UNICODE" => java.nio.charset.StandardCharsets.UTF_8
      case "LATIN1" | "ISO88591" => java.nio.charset.StandardCharsets.ISO_8859_1
      case "SQLASCII" | "ASCII" | "USASCII" => java.nio.charset.StandardCharsets.US_ASCII
      case "UTF16" => java.nio.charset.StandardCharsets.UTF_16
      case other => java.nio.charset.Charset.forName(other)
    }

  def convertFrom(b: Array[Byte], enc: String): String = new String(b, charsetOf(enc))
  def convertTo(s: String, enc: String): Array[Byte] = s.getBytes(charsetOf(enc))

  /** RFC 9562 UUIDv7: 48-bit unix millis, version, 74 random bits. */
  def uuidv7(): String = {
    val r = java.util.concurrent.ThreadLocalRandom.current()
    val ms = System.currentTimeMillis()
    val hi = (ms << 16) | 0x7000L | (r.nextLong() & 0x0fffL)
    val lo = (r.nextLong() & 0x3fffffffffffffffL) | 0x8000000000000000L
    new java.util.UUID(hi, lo).toString
  }

  def uuidVersion(s: String): Integer = {
    if (s == null) return null
    try Integer.valueOf(java.util.UUID.fromString(s).version())
    catch { case _: IllegalArgumentException => null }
  }

  /** v7 → embedded unix-millis instant; v1 → gregorian timestamp;
    * other versions carry no timestamp (pg returns NULL). */
  def uuidTimestamp(s: String): java.time.Instant = {
    if (s == null) return null
    val u = try java.util.UUID.fromString(s)
    catch { case _: IllegalArgumentException => return null }
    u.version() match {
      case 7 => java.time.Instant.ofEpochMilli(u.getMostSignificantBits >>> 16)
      case 1 =>
        // 100ns ticks since 1582-10-15; ticks * 100 would overflow Long
        // nanos for any timestamp after ~1874, so split sec/nano
        val ticks = u.timestamp()
        java.time.Instant.ofEpochSecond(-12219292800L)
          .plusSeconds(ticks / 10000000L)
          .plusNanos((ticks % 10000000L) * 100L)
      case _ => null
    }
  }

  /** pg similar_to_escape: SQL regex → POSIX regex, anchored.
    * `%`→`.*`, `_`→`.`, escape char quotes the next char, bracket
    * expressions pass through verbatim, SQL-regex metachars
    * ()|*+?{} keep their meaning, POSIX-only metachars .^$\ are
    * literal in SIMILAR TO and get escaped. */
  def similarEscape(pat: String, esc: Option[Char] = Some('\\')): String =
    "^(?:" + similarBody(pat, esc) + ")$"

  private def similarBody(pat: String, esc: Option[Char]): String = {
    val sb = new StringBuilder
    var i = 0
    val n = pat.length
    while (i < n) {
      val c = pat.charAt(i)
      if (esc.contains(c)) {
        i += 1
        if (i < n) {
          val e = pat.charAt(i)
          if ("\\^$.|?*+()[]{}".indexOf(e) >= 0) sb.append('\\')
          sb.append(e)
        }
      } else if (c == '%') sb.append(".*")
      else if (c == '_') sb.append('.')
      else if (c == '[') {
        val close = pat.indexOf(']', i + 1)
        val stop = if (close < 0) n - 1 else close
        sb.append(pat.substring(i, stop + 1))
        i = stop
      }
      else if ("()|*+?{}".indexOf(c) >= 0) sb.append(c)
      else if ("^$.\\".indexOf(c) >= 0) { sb.append('\\'); sb.append(c) }
      else sb.append(c)
      i += 1
    }
    sb.toString
  }

  /** SQL-standard `substring(str SIMILAR pat ESCAPE esc)` (pg §9.7.2):
    * the pattern's two escape-double-quote markers (`esc`+`"`) bracket
    * the section to return; without markers the whole match returns.
    * No match → NULL. Live-pg-pinned (sweep #6). */
  def substringSimilar(s: String, pat: String, esc: String): String = {
    if (s == null || pat == null || esc == null) return null
    val e = if (esc.isEmpty) None else Some(esc.charAt(0))
    // split the pattern on esc+'"' markers, keeping other escape pairs
    val parts = scala.collection.mutable.ArrayBuffer(new StringBuilder)
    var i = 0
    while (i < pat.length) {
      val c = pat.charAt(i)
      if (e.contains(c) && i + 1 < pat.length && pat.charAt(i + 1) == '"') {
        parts += new StringBuilder; i += 2
      } else if (e.contains(c) && i + 1 < pat.length) {
        parts.last.append(c).append(pat.charAt(i + 1)); i += 2
      } else { parts.last.append(c); i += 1 }
    }
    val regex = parts.length match {
      case 1 => "^(" + similarBody(parts(0).toString, e) + ")$"
      case 3 => "^(?:" + similarBody(parts(0).toString, e) + ")(" +
        similarBody(parts(1).toString, e) + ")(?:" +
        similarBody(parts(2).toString, e) + ")$"
      case _ => throw new IllegalArgumentException(
        "SQL regular expression may not contain more than two escape-double-quote separators")
    }
    val m = java.util.regex.Pattern.compile(regex).matcher(s)
    if (m.matches()) m.group(1) else null
  }

  /** pg_input_is_valid(text, typename): try-cast over the engine's
    * wire types. */
  def inputIsValid(s: String, typeName: String): Boolean = {
    if (s == null || typeName == null) return false
    val t = typeName.toLowerCase.trim
    try {
      t match {
        case "int2" | "smallint" => s.trim.toShort; true
        case "int4" | "integer" | "int" => s.trim.toInt; true
        case "int8" | "bigint" => s.trim.toLong; true
        case "float4" | "real" | "float8" | "double precision" => s.trim.toDouble; true
        case "numeric" | "decimal" => new java.math.BigDecimal(s.trim); true
        case "boolean" | "bool" =>
          Set("t", "true", "f", "false", "yes", "no", "on", "off", "1", "0")
            .contains(s.trim.toLowerCase)
        case "date" => java.time.LocalDate.parse(s.trim); true
        case "timestamp" | "timestamptz" | "timestamp with time zone" |
             "timestamp without time zone" =>
          java.time.LocalDateTime.parse(s.trim.replace(' ', 'T')); true
        case "uuid" => java.util.UUID.fromString(s.trim); true
        case "text" | "varchar" | "char" | "bpchar" | "name" => true
        case _ => true // unknown type names: pg would error; we accept
      }
    } catch { case scala.util.control.NonFatal(_) => false }
  }

  // ---- pg_proc registry --------------------------------------------------

  /** One pg_proc row: name, argument type OIDs, return OID, prokind. */
  final case class ProcDef(name: String, argOids: Seq[Int], retOid: Int,
      kind: String = "f", volatile: Boolean = false)

  /** The function pack as pg_proc content (reference ships populated
    * pg_proc feathers — pg_catalog.rs:493-1071; here the rows are
    * derived from what [[registerAll]] + the graft-native expressions
    * actually register, so `psql \df` answers truthfully for THIS
    * server). OIDs are assigned deterministically from 90000 in name
    * order — pg_proc OIDs are looked up by name by every known client,
    * never hardcoded, so stable-but-nonstandard values are safe.
    */
  val procs: Seq[ProcDef] = {
    val B = 16; val I4 = 23; val I8 = 20; val F8 = 701; val T = 25
    val N = 19; val OID = 26; val NUM = 1700; val TARR = 1009; val AARR = 2277
    val defs = Seq(
      ProcDef("pg_current_database", Nil, N),
      ProcDef("pg_current_schema", Nil, N),
      ProcDef("pg_current_schemas", Seq(B), TARR),
      ProcDef("version", Nil, T),
      ProcDef("nextval", Seq(2205), I8),
      ProcDef("currval", Seq(2205), I8),
      ProcDef("setval", Seq(2205, I8), I8),
      ProcDef("lastval", Nil, I8),
      ProcDef("pg_get_serial_sequence", Seq(T, T), T),
      ProcDef("pg_get_userbyid", Seq(OID), N),
      ProcDef("pg_table_is_visible", Seq(OID), B),
      ProcDef("pg_function_is_visible", Seq(OID), B),
      ProcDef("pg_operator_is_visible", Seq(OID), B),
      ProcDef("pg_type_is_visible", Seq(OID), B),
      ProcDef("has_table_privilege", Seq(T, T, T), B),
      ProcDef("has_schema_privilege", Seq(T, T, T), B),
      ProcDef("has_database_privilege", Seq(T, T, T), B),
      ProcDef("has_any_column_privilege", Seq(T, T, T), B),
      ProcDef("format_type", Seq(OID, I4), T),
      ProcDef("pg_get_expr", Seq(T, OID, B), T),
      ProcDef("pg_get_function_arguments", Seq(OID), T),
      ProcDef("pg_get_function_result", Seq(OID), T),
      ProcDef("pg_get_partkeydef", Seq(OID), T),
      ProcDef("pg_relation_is_publishable", Seq(OID), B),
      ProcDef("pg_get_statisticsobjdef_columns", Seq(OID), T),
      ProcDef("pg_encoding_to_char", Seq(I4), N),
      ProcDef("pg_backend_pid", Nil, I4),
      ProcDef("pg_relation_size", Seq(OID), I8),
      ProcDef("pg_total_relation_size", Seq(OID), I8),
      ProcDef("pg_database_size", Seq(T), I8),
      ProcDef("pg_stat_get_numscans", Seq(OID), I8),
      ProcDef("pg_get_constraintdef", Seq(OID, B), T),
      ProcDef("pg_get_indexdef", Seq(OID), T),
      ProcDef("pg_partition_ancestors", Seq(OID), 1007),
      ProcDef("quote_ident", Seq(T), T),
      ProcDef("parse_ident", Seq(T), TARR),
      ProcDef("like_escape", Seq(T, T), T),
      ProcDef("sha224", Seq(17), 17),
      ProcDef("sha256", Seq(17), 17),
      ProcDef("sha384", Seq(17), 17),
      ProcDef("sha512", Seq(17), 17),
      // ---- xml (pg §9.15; graft.functions.Xml) ----
      ProcDef("xmlcomment", Seq(T), 142),
      ProcDef("xmlagg", Seq(142), 142),
      ProcDef("xml_is_well_formed", Seq(T), 16),
      ProcDef("xml_is_well_formed_content", Seq(T), 16),
      ProcDef("xml_is_well_formed_document", Seq(T), 16),
      ProcDef("xpath", Seq(T, 142), 143),
      ProcDef("xpath_exists", Seq(T, 142), 16),
      // ---- network types (pg §9.12; graft.functions.Inet) ----
      ProcDef("host", Seq(869), T),
      ProcDef("masklen", Seq(869), 23),
      ProcDef("family", Seq(869), 23),
      ProcDef("network", Seq(869), 650),
      ProcDef("broadcast", Seq(869), 869),
      ProcDef("netmask", Seq(869), 869),
      ProcDef("hostmask", Seq(869), 869),
      ProcDef("abbrev", Seq(869), T),
      ProcDef("set_masklen", Seq(869, 23), 869),
      ProcDef("inet_same_family", Seq(869, 869), 16),
      ProcDef("inet_merge", Seq(869, 869), 650),
      ProcDef("trunc", Seq(829), 829),
      ProcDef("macaddr8_set7bit", Seq(774), 774),
      // ---- enum support (pg §9.10; graft.functions.PgEnums) ----
      ProcDef("enum_first", Seq(2283), 2283),
      ProcDef("enum_last", Seq(2283), 2283),
      ProcDef("enum_range", Seq(2283), 2277),
      // ---- pg_trgm (contrib; graft.functions.Trigram) ----
      ProcDef("show_trgm", Seq(T), 1009),
      ProcDef("similarity", Seq(T, T), 700),
      ProcDef("word_similarity", Seq(T, T), 700),
      ProcDef("strict_word_similarity", Seq(T, T), 700),
      ProcDef("show_limit", Nil, 700),
      // ---- text search (pg ch. 12; graft.functions.TextSearch) ----
      ProcDef("to_tsvector", Seq(T), 3614),
      ProcDef("to_tsquery", Seq(T), 3615),
      ProcDef("plainto_tsquery", Seq(T), 3615),
      ProcDef("phraseto_tsquery", Seq(T), 3615),
      ProcDef("websearch_to_tsquery", Seq(T), 3615),
      ProcDef("setweight", Seq(3614, 18), 3614),
      ProcDef("strip", Seq(3614), 3614),
      ProcDef("numnode", Seq(3615), 23),
      ProcDef("querytree", Seq(3615), T),
      ProcDef("ts_lexize", Seq(3769, T), TARR),
      ProcDef("ts_delete", Seq(3614, T), 3614),
      ProcDef("ts_filter", Seq(3614, 1002), 3614),
      ProcDef("tsvector_to_array", Seq(3614), 1009),
      ProcDef("array_to_tsvector", Seq(1009), 3614),
      ProcDef("tsquery_phrase", Seq(3615, 3615), 3615),
      ProcDef("ts_headline", Seq(T, 3615), T),
      ProcDef("ts_rank", Seq(3614, 3615), 700),
      ProcDef("ts_rank_cd", Seq(3614, 3615), 700),
      // ---- range pack (pg §8.17/§9.19; graft.functions.RangeFunctions) ----
      ProcDef("int4range", Seq(23, 23), 3904),
      ProcDef("int8range", Seq(20, 20), 3926),
      ProcDef("numrange", Seq(1700, 1700), 3906),
      ProcDef("daterange", Seq(1082, 1082), 3912),
      ProcDef("tsrange", Seq(1114, 1114), 3908),
      ProcDef("tstzrange", Seq(1184, 1184), 3910),
      ProcDef("lower", Seq(3831), 2283), // anyrange → anyelement
      ProcDef("upper", Seq(3831), 2283),
      ProcDef("isempty", Seq(3831), 16),
      ProcDef("lower_inc", Seq(3831), 16),
      ProcDef("upper_inc", Seq(3831), 16),
      ProcDef("lower_inf", Seq(3831), 16),
      ProcDef("upper_inf", Seq(3831), 16),
      ProcDef("range_merge", Seq(3831, 3831), 3831),
      // ---- geo pack (SURVEY §2a#9; graft.functions.GeoFunctions) ----
      ProcDef("st_geomfromtext", Seq(T), PgType.GEOMETRY),
      ProcDef("st_geometryfromtext", Seq(T), PgType.GEOMETRY),
      ProcDef("st_geomfromewkt", Seq(T), PgType.GEOMETRY),
      ProcDef("st_geomfromwkb", Seq(17), PgType.GEOMETRY),
      ProcDef("st_geomfromewkb", Seq(17), PgType.GEOMETRY),
      ProcDef("st_astext", Seq(PgType.GEOMETRY), T),
      ProcDef("st_asewkt", Seq(PgType.GEOMETRY), T),
      ProcDef("st_asbinary", Seq(PgType.GEOMETRY), 17),
      ProcDef("st_asewkb", Seq(PgType.GEOMETRY), 17),
      ProcDef("st_ashexewkb", Seq(PgType.GEOMETRY), T),
      ProcDef("st_makepoint", Seq(F8, F8), PgType.GEOMETRY),
      ProcDef("st_point", Seq(F8, F8), PgType.GEOMETRY),
      ProcDef("st_makeline", Seq(PgType.GEOMETRY, PgType.GEOMETRY), PgType.GEOMETRY),
      ProcDef("st_makeenvelope", Seq(F8, F8, F8, F8, I4), PgType.GEOMETRY),
      ProcDef("st_setsrid", Seq(PgType.GEOMETRY, I4), PgType.GEOMETRY),
      ProcDef("st_srid", Seq(PgType.GEOMETRY), I4),
      ProcDef("st_x", Seq(PgType.GEOMETRY), F8),
      ProcDef("st_y", Seq(PgType.GEOMETRY), F8),
      ProcDef("st_xmin", Seq(PgType.GEOMETRY), F8),
      ProcDef("st_ymin", Seq(PgType.GEOMETRY), F8),
      ProcDef("st_xmax", Seq(PgType.GEOMETRY), F8),
      ProcDef("st_ymax", Seq(PgType.GEOMETRY), F8),
      ProcDef("st_npoints", Seq(PgType.GEOMETRY), I4),
      ProcDef("st_geometrytype", Seq(PgType.GEOMETRY), T),
      ProcDef("geometrytype", Seq(PgType.GEOMETRY), T),
      ProcDef("st_isempty", Seq(PgType.GEOMETRY), B),
      ProcDef("st_length", Seq(PgType.GEOMETRY), F8),
      ProcDef("st_perimeter", Seq(PgType.GEOMETRY), F8),
      ProcDef("st_area", Seq(PgType.GEOMETRY), F8),
      ProcDef("st_distance", Seq(PgType.GEOMETRY, PgType.GEOMETRY), F8),
      ProcDef("st_dwithin", Seq(PgType.GEOMETRY, PgType.GEOMETRY, F8), B),
      ProcDef("st_intersects", Seq(PgType.GEOMETRY, PgType.GEOMETRY), B),
      ProcDef("st_contains", Seq(PgType.GEOMETRY, PgType.GEOMETRY), B),
      ProcDef("st_within", Seq(PgType.GEOMETRY, PgType.GEOMETRY), B),
      ProcDef("st_centroid", Seq(PgType.GEOMETRY), PgType.GEOMETRY),
      ProcDef("st_envelope", Seq(PgType.GEOMETRY), PgType.GEOMETRY),
      ProcDef("pg_size_pretty", Seq(I8), T),
      ProcDef("obj_description", Seq(OID, T), T),
      ProcDef("shobj_description", Seq(OID, T), T),
      ProcDef("col_description", Seq(OID, I4), T),
      ProcDef("txid_current", Nil, I8),
      ProcDef("pg_is_in_recovery", Nil, B),
      ProcDef("current_setting", Seq(T), T),
      ProcDef("pg_get_keywords", Nil, 2249, kind = "f"),
      ProcDef("array_upper", Seq(AARR, I4), I4),
      ProcDef("array_lower", Seq(AARR, I4), I4),
      ProcDef("pg_array_length", Seq(AARR, I4), I4),
      ProcDef("pg_string_to_array", Seq(T, T), TARR),
      ProcDef("div", Seq(NUM, NUM), NUM),
      ProcDef("gcd", Seq(I8, I8), I8),
      ProcDef("lcm", Seq(I8, I8), I8),
      ProcDef("starts_with", Seq(T, T), B),
      ProcDef("pg_mod", Seq(NUM, NUM), NUM),
      ProcDef("sind", Seq(F8), F8), ProcDef("cosd", Seq(F8), F8),
      ProcDef("tand", Seq(F8), F8), ProcDef("cotd", Seq(F8), F8),
      ProcDef("asind", Seq(F8), F8), ProcDef("acosd", Seq(F8), F8),
      ProcDef("atand", Seq(F8), F8), ProcDef("atan2d", Seq(F8, F8), F8),
      ProcDef("erf", Seq(F8), F8), ProcDef("erfc", Seq(F8), F8),
      ProcDef("gamma", Seq(F8), F8), ProcDef("lgamma", Seq(F8), F8),
      ProcDef("random_normal", Seq(F8, F8), F8, volatile = true),
      // graft-native Catalyst vector expressions (VectorExpressions)
      ProcDef("vec_ldot", Seq(1016, 1016), I8),
      ProcDef("vec_lnorm2", Seq(1016), I8),
      ProcDef("vec_fdot", Seq(1021, 1021), F8),
      // typed Aggregator UDAFs (PgAggregates)
      ProcDef("ordered_string_agg", Seq(T, T), T, kind = "a"),
      // formatting pack (PgFormatExpressions; functions.md §Formatting)
      ProcDef("to_char", Seq(1114, T), T),
      ProcDef("to_number", Seq(T, T), NUM),
      ProcDef("to_timestamp", Seq(T, T), 1184),
      ProcDef("to_date", Seq(T, T), 1082),
      // datetime pack (functions.md §Date/Time)
      ProcDef("age", Seq(1114, 1114), 1186),
      ProcDef("justify_hours", Seq(1186), 1186),
      ProcDef("justify_days", Seq(1186), 1186),
      ProcDef("justify_interval", Seq(1186), 1186),
      ProcDef("pg_interval_text", Seq(1186), T),
      ProcDef("make_timestamptz", Seq(I4, I4, I4, I4, I4, F8), 1184),
      ProcDef("clock_timestamp", Nil, 1184, volatile = true),
      ProcDef("statement_timestamp", Nil, 1184, volatile = true),
      ProcDef("transaction_timestamp", Nil, 1184, volatile = true),
      ProcDef("timeofday", Nil, T, volatile = true),
      ProcDef("timezone", Seq(T, 1184), 1114),
      ProcDef("isfinite", Seq(1114), B),
      ProcDef("pg_sleep", Seq(F8), T, volatile = true),
      ProcDef("pg_sleep_for", Seq(1186), T, volatile = true),
      ProcDef("pg_sleep_until", Seq(1184), T, volatile = true),
      // string pack (PgStringExpressions + wrappers; functions.md §String)
      ProcDef("format", Seq(T), T),
      ProcDef("num_nonnulls", Seq(2276), I4),
      ProcDef("num_nulls", Seq(2276), I4),
      ProcDef("string_to_array", Seq(T, T, T), TARR),
      ProcDef("regexp_split_to_array", Seq(T, T), TARR),
      ProcDef("regexp_matches", Seq(T, T), TARR),
      ProcDef("regexp_match", Seq(T, T), TARR),
      ProcDef("normalize", Seq(T, T), T),
      ProcDef("unistr", Seq(T), T),
      ProcDef("unicode_assigned", Seq(T), B),
      ProcDef("array_sample", Seq(2277, I4), 2277, volatile = true),
      ProcDef("array_shuffle", Seq(2277), 2277, volatile = true),
      ProcDef("quote_literal", Seq(T), T),
      ProcDef("quote_nullable", Seq(T), T),
      ProcDef("casefold", Seq(T), T),
      ProcDef("to_ascii", Seq(T), T),
      ProcDef("strpos", Seq(T, T), I4),
      ProcDef("to_bin", Seq(I4), T),
      ProcDef("to_oct", Seq(I4), T),
      ProcDef("to_hex", Seq(I4), T),
      ProcDef("pg_client_encoding", Nil, N),
      ProcDef("pg_width_bucket", Seq(F8, 1022), I4),
      // binary-string pack (slice #2); 17 = bytea
      ProcDef("encode", Seq(17, T), T),
      ProcDef("decode", Seq(T, T), 17),
      ProcDef("get_byte", Seq(17, I4), I4),
      ProcDef("set_byte", Seq(17, I4, I4), 17),
      ProcDef("get_bit", Seq(17, I4), I4),
      ProcDef("set_bit", Seq(17, I4, I4), 17),
      ProcDef("pg_bit_count", Seq(17), I8),
      ProcDef("crc32", Seq(17), I8),
      ProcDef("crc32c", Seq(17), I8),
      ProcDef("convert_from", Seq(17, N), T),
      ProcDef("convert_to", Seq(T, N), 17),
      ProcDef("convert", Seq(17, N, N), 17),
      // uuid pack; 2950 = uuid (we carry uuids as text)
      ProcDef("gen_random_uuid", Nil, T, volatile = true),
      ProcDef("uuidv4", Nil, T, volatile = true),
      ProcDef("uuidv7", Nil, T, volatile = true),
      ProcDef("uuid_extract_version", Seq(T), I4),
      ProcDef("uuid_extract_timestamp", Seq(T), 1184),
      // json pack (PgJsonExpressions; functions.md §JSON — reference
      // blocks ALL 67 upstream); 114 = json, 3802 = jsonb, 2276 = any
      ProcDef("json_build_object", Seq(2276), 114),
      ProcDef("jsonb_build_object", Seq(2276), 3802),
      ProcDef("json_build_array", Seq(2276), 114),
      ProcDef("jsonb_build_array", Seq(2276), 3802),
      ProcDef("row_to_json", Seq(2249), 114),
      ProcDef("json_extract_path", Seq(114, 1009), 114),
      ProcDef("jsonb_extract_path", Seq(3802, 1009), 3802),
      ProcDef("json_extract_path_text", Seq(114, 1009), T),
      ProcDef("jsonb_extract_path_text", Seq(3802, 1009), T),
      ProcDef("json_typeof", Seq(114), T),
      ProcDef("jsonb_typeof", Seq(3802), T),
      ProcDef("json_array_length", Seq(114), I4),
      ProcDef("json_array_elements", Seq(114), 114),
      ProcDef("json_array_elements_text", Seq(114), T),
      ProcDef("json_object_keys", Seq(114), T),
      ProcDef("json_strip_nulls", Seq(114), 114),
      ProcDef("jsonb_strip_nulls", Seq(3802), 3802),
      ProcDef("to_jsonb", Seq(2276), 3802),
      ProcDef("jsonb_contains", Seq(3802, 3802), B),
      ProcDef("jsonb_exists", Seq(3802, T), B),
      ProcDef("pg_contains", Seq(2276, 2276), B),
      ProcDef("pg_contained", Seq(2276, 2276), B),
      // json mutator slice (round 8): set/insert/delete/concat/pretty/
      // each/object; 1009 = text[]
      ProcDef("jsonb_set", Seq(3802, 1009, 3802, B), 3802),
      ProcDef("jsonb_insert", Seq(3802, 1009, 3802, B), 3802),
      ProcDef("jsonb_delete", Seq(3802, T), 3802),
      ProcDef("jsonb_delete_path", Seq(3802, 1009), 3802),
      ProcDef("jsonb_concat", Seq(3802, 3802), 3802),
      ProcDef("jsonb_pretty", Seq(3802), T),
      // row expansion (Compat.rewriteJsonToRecord): record-returning,
      // 2249 = record
      ProcDef("json_to_record", Seq(114), 2249),
      ProcDef("jsonb_to_record", Seq(3802), 2249),
      ProcDef("json_to_recordset", Seq(114), 2249),
      ProcDef("jsonb_to_recordset", Seq(3802), 2249),
      // table-row-type form (Compat.rewritePopulateRecord):
      // 2283 = anyelement
      ProcDef("json_populate_record", Seq(2283, 114), 2283),
      ProcDef("jsonb_populate_record", Seq(2283, 3802), 2283),
      ProcDef("json_populate_recordset", Seq(2283, 114), 2283),
      ProcDef("jsonb_populate_recordset", Seq(2283, 3802), 2283),
      ProcDef("json_each", Seq(114), 2249),
      ProcDef("json_each_text", Seq(114), 2249),
      ProcDef("jsonb_each", Seq(3802), 2249),
      ProcDef("jsonb_each_text", Seq(3802), 2249),
      ProcDef("json_object", Seq(1009), 114),
      ProcDef("jsonb_object", Seq(1009), 3802),
      // SQL/JSON path family (PgJsonPathExpressions); 4072 = jsonpath
      ProcDef("jsonb_path_exists", Seq(3802, 4072, 3802, B), B),
      ProcDef("jsonb_path_match", Seq(3802, 4072, 3802, B), B),
      ProcDef("jsonb_path_query", Seq(3802, 4072, 3802, B), 3802),
      ProcDef("jsonb_path_query_array", Seq(3802, 4072, 3802, B), 3802),
      ProcDef("jsonb_path_query_first", Seq(3802, 4072, 3802, B), 3802),
      ProcDef("jsonb_path_exists_tz", Seq(3802, 4072, 3802, B), B),
      ProcDef("jsonb_path_match_tz", Seq(3802, 4072, 3802, B), B),
      ProcDef("jsonb_path_query_tz", Seq(3802, 4072, 3802, B), 3802),
      ProcDef("jsonb_path_query_array_tz", Seq(3802, 4072, 3802, B), 3802),
      ProcDef("jsonb_path_query_first_tz", Seq(3802, 4072, 3802, B), 3802),
      ProcDef("jsonb_set_lax", Seq(3802, 1009, 3802, B, T), 3802),
      ProcDef("array_to_json", Seq(2277, B), 114),
      ProcDef("jsonb_agg", Seq(2276), 3802, kind = "a"),
      ProcDef("jsonb_object_agg", Seq(2276, 2276), 3802, kind = "a"),
      ProcDef("jsonb_array_length", Seq(3802), I4),
      ProcDef("json_agg", Seq(2276), 114, kind = "a"),
      ProcDef("json_object_agg", Seq(2276, 2276), 114, kind = "a"),
      ProcDef("ordered_json_agg", Seq(T, T), T, kind = "a"),
      ProcDef("ordered_json_object_agg", Seq(T, T), T, kind = "a"),
      // pattern / validation / introspection / array P2
      ProcDef("similar_to_escape", Seq(T), T),
      ProcDef("pg_input_is_valid", Seq(T, T), B),
      ProcDef("pg_typeof", Seq(2276), T),
      ProcDef("array_fill", Seq(2276, 1007), AARR),
      ProcDef("generate_subscripts", Seq(2277, I4), I4),
      ProcDef("trim_array", Seq(AARR, I4), AARR),
      ProcDef("every", Seq(B), B, kind = "a"),
      ProcDef("variance", Seq(NUM), NUM, kind = "a"),
      ProcDef("pg_input_error_info", Seq(T, T), 2249),
      ProcDef("min_scale", Seq(NUM), I4),
      ProcDef("scale", Seq(NUM), I4),
      ProcDef("trim_scale", Seq(NUM), NUM),
      ProcDef("pg_postmaster_start_time", Nil, 1184),
      ProcDef("pg_conf_load_time", Nil, 1184),
      ProcDef("pg_jit_available", Nil, B),
      ProcDef("inet_client_addr", Nil, T),
      ProcDef("inet_server_addr", Nil, T))
    val natives = nativePassthrough.map { case (name, args, ret, kind) =>
      ProcDef(name, args, ret, kind)
    }
    (defs ++ natives).sortBy(_.name)
  }

  /** pg-named functions the server serves directly from Spark's
    * builtin registry — listed in pg_proc so `psql \df abs` answers
    * truthfully. Signatures are the primary pg overload. */
  // def, not val: referenced by `procs` which is declared ABOVE this
  // point (object vals initialize in declaration order)
  private def nativePassthrough: Seq[(String, Seq[Int], Int, String)] = {
    val B = 16; val I4 = 23; val I8 = 20; val F8 = 701; val T = 25
    val NUM = 1700; val DATE = 1082; val TS = 1114; val TSTZ = 1184; val IV = 1186
    Seq(
      // math
      ("abs", Seq(NUM), NUM, "f"), ("ceil", Seq(NUM), NUM, "f"),
      ("ceiling", Seq(NUM), NUM, "f"), ("floor", Seq(NUM), NUM, "f"),
      ("round", Seq(NUM, I4), NUM, "f"), ("trunc", Seq(NUM, I4), NUM, "f"),
      ("sign", Seq(NUM), NUM, "f"), ("mod", Seq(NUM, NUM), NUM, "f"),
      ("power", Seq(F8, F8), F8, "f"), ("sqrt", Seq(F8), F8, "f"),
      ("cbrt", Seq(F8), F8, "f"), ("exp", Seq(F8), F8, "f"),
      ("ln", Seq(F8), F8, "f"), ("log", Seq(F8), F8, "f"),
      ("log10", Seq(F8), F8, "f"), ("log2", Seq(F8), F8, "f"),
      ("pi", Nil, F8, "f"), ("degrees", Seq(F8), F8, "f"),
      ("radians", Seq(F8), F8, "f"), ("random", Nil, F8, "f"),
      ("factorial", Seq(I8), NUM, "f"), ("gcd", Seq(I8, I8), I8, "f"),
      ("lcm", Seq(I8, I8), I8, "f"),
      ("sin", Seq(F8), F8, "f"), ("cos", Seq(F8), F8, "f"),
      ("tan", Seq(F8), F8, "f"), ("cot", Seq(F8), F8, "f"),
      ("asin", Seq(F8), F8, "f"), ("acos", Seq(F8), F8, "f"),
      ("atan", Seq(F8), F8, "f"), ("atan2", Seq(F8, F8), F8, "f"),
      ("sinh", Seq(F8), F8, "f"), ("cosh", Seq(F8), F8, "f"),
      ("tanh", Seq(F8), F8, "f"), ("asinh", Seq(F8), F8, "f"),
      ("acosh", Seq(F8), F8, "f"), ("atanh", Seq(F8), F8, "f"),
      // string
      ("length", Seq(T), I4, "f"), ("char_length", Seq(T), I4, "f"),
      ("octet_length", Seq(T), I4, "f"), ("bit_length", Seq(T), I4, "f"),
      ("lower", Seq(T), T, "f"), ("upper", Seq(T), T, "f"),
      ("substr", Seq(T, I4, I4), T, "f"), ("replace", Seq(T, T, T), T, "f"),
      ("concat", Seq(T, T), T, "f"), ("concat_ws", Seq(T, T), T, "f"),
      ("btrim", Seq(T, T), T, "f"), ("ltrim", Seq(T, T), T, "f"),
      ("rtrim", Seq(T, T), T, "f"), ("lpad", Seq(T, I4, T), T, "f"),
      ("rpad", Seq(T, I4, T), T, "f"), ("split_part", Seq(T, T, I4), T, "f"),
      ("left", Seq(T, I4), T, "f"), ("right", Seq(T, I4), T, "f"),
      ("repeat", Seq(T, I4), T, "f"), ("reverse", Seq(T), T, "f"),
      ("translate", Seq(T, T, T), T, "f"), ("ascii", Seq(T), I4, "f"),
      ("chr", Seq(I4), T, "f"), ("md5", Seq(T), T, "f"),
      ("starts_with", Seq(T, T), B, "f"), ("initcap", Seq(T), T, "f"),
      ("regexp_count", Seq(T, T), I4, "f"), ("regexp_instr", Seq(T, T), I4, "f"),
      ("regexp_like", Seq(T, T), B, "f"), ("regexp_replace", Seq(T, T, T), T, "f"),
      ("regexp_substr", Seq(T, T), T, "f"),
      // datetime
      ("now", Nil, TSTZ, "f"), ("date_trunc", Seq(T, TS), TS, "f"),
      ("date_part", Seq(T, TS), F8, "f"), ("make_date", Seq(I4, I4, I4), DATE, "f"),
      ("make_timestamp", Seq(I4, I4, I4, I4, I4, F8), TS, "f"),
      ("make_interval", Seq(I4, I4, I4, I4, I4, I4, F8), IV, "f"),
      ("localtimestamp", Nil, TS, "f"),
      // aggregates / misc
      ("sum", Seq(NUM), NUM, "a"), ("avg", Seq(NUM), NUM, "a"),
      ("min", Seq(NUM), NUM, "a"), ("max", Seq(NUM), NUM, "a"),
      ("count", Seq(2276), I8, "a"), ("string_agg", Seq(T, T), T, "a"),
      ("array_agg", Seq(2276), 2277, "a"), ("bool_and", Seq(B), B, "a"),
      ("bool_or", Seq(B), B, "a"), ("some", Seq(B), B, "a"),
      ("any_value", Seq(2276), 2276, "a"), ("mode", Nil, 2276, "a"),
      ("percentile_cont", Seq(F8), F8, "a"), ("percentile_disc", Seq(F8), F8, "a"),
      ("bit_and", Seq(I8), I8, "a"), ("bit_or", Seq(I8), I8, "a"),
      ("bit_xor", Seq(I8), I8, "a"),
      ("stddev", Seq(NUM), NUM, "a"), ("stddev_pop", Seq(NUM), NUM, "a"),
      ("stddev_samp", Seq(NUM), NUM, "a"), ("var_pop", Seq(NUM), NUM, "a"),
      ("var_samp", Seq(NUM), NUM, "a"),
      ("corr", Seq(F8, F8), F8, "a"), ("covar_pop", Seq(F8, F8), F8, "a"),
      ("covar_samp", Seq(F8, F8), F8, "a"),
      ("coalesce", Seq(2276), 2276, "f"), ("nullif", Seq(2276, 2276), 2276, "f"),
      ("greatest", Seq(2276), 2276, "f"), ("least", Seq(2276), 2276, "f"))
  }

  /** proname → pg_proc OID, 90000+, name-sorted for determinism. */
  val procOid: Map[String, Int] = procs.zipWithIndex.map {
    case (p, i) => p.name -> (90000 + i)
  }.toMap

  private val procByOid: Map[Int, ProcDef] =
    procs.map(p => procOid(p.name) -> p).toMap

  /** pg_get_function_arguments: comma-joined arg type names (our pack
    * declares no argument names, which pg renders as bare types). */
  def functionArguments(oid: Integer): String =
    if (oid == null) null
    else procByOid.get(oid.intValue())
      .map(_.argOids.map(formatType(_, -1)).mkString(", ")).orNull

  def functionResult(oid: Integer): String =
    if (oid == null) null
    else procByOid.get(oid.intValue()).map(p => formatType(p.retOid, -1)).orNull

  // ---- registration ------------------------------------------------------

  /** Sessions already carrying the pack — registration is idempotent
    * but not free (~100 registry writes), and the query constructors
    * call it defensively per query. Weak keys: don't pin sessions. */
  private val installedSessions =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Register the system/compat pack (§2b) + math pack (§2c) + the
    * functions.md roadmap slice (format/datetime/string — see
    * PgFormatExpressions / PgStringExpressions). */
  def registerAll(spark: SparkSession): Unit = {
    if (installedSessions.put(spark, java.lang.Boolean.TRUE) != null) return
    val u = spark.udf
    graft.functions.PgFormatExpressions.install(spark)
    graft.functions.PgStringExpressions.install(spark)
    graft.functions.PgJsonExpressions.install(spark)
    graft.functions.PgJsonPathExpressions.install(spark)
    graft.functions.PgAggregates.registerAll(spark)
    graft.functions.GeoFunctions.registerAll(spark)
    graft.functions.RangeFunctions.registerAll(spark)
    graft.functions.TextSearchFunctions.registerAll(spark)
    graft.functions.Trigram.registerAll(spark)
    graft.functions.PgEnums.registerUdfs(spark)
    PgSequences.registerUdfs(spark)
    PgStatStatements.registerUdfs(spark)
    PgStatStatements.refreshView(spark) // empty view until first read rebuilds
    graft.functions.Inet.registerAll(spark)
    graft.functions.Bits.registerAll(spark)
    graft.functions.Xml.registerAll(spark)
    graft.functions.Money.registerAll(spark)

    // datetime pack (functions.md §Date/Time, all P2 planned upstream;
    // pg semantics from the public docs §9.9)
    u.register("clock_timestamp", () => java.time.Instant.now()).asNondeterministic()
    u.register("statement_timestamp", () => java.time.Instant.now()).asNondeterministic()
    u.register("transaction_timestamp", () => java.time.Instant.now()).asNondeterministic()
    u.register("timeofday", () => {
      val now = java.time.ZonedDateTime.now()
      now.format(java.time.format.DateTimeFormatter.ofPattern(
        "EEE MMM dd HH:mm:ss.SSSSSS yyyy zzz", java.util.Locale.ENGLISH))
    }).asNondeterministic()
    // TIME pseudo-type input (SURVEY §1): every `::time` / `TIME '…'`
    // spelling is rewritten by Compat to this function; Handlers tags
    // its output columns with pg.type=time so the wire codec renders
    // OID 1083 text/binary instead of a raw bigint
    u.register("pg_isoyear", (d: java.sql.Date) =>
      (if (d == null) null
       else Int.box(d.toLocalDate.get(
         java.time.temporal.WeekFields.ISO.weekBasedYear()))): java.lang.Integer)
    u.register("pg_time_in", (s: String) =>
      (if (s == null) null
       else java.lang.Long.valueOf(PgType.timeInputNanos(s))): java.lang.Long)
    // make_time(h, m, s) → TIME (nanos-since-midnight; Handlers tags
    // the column pg.type=time exactly like pg_time_in outputs)
    u.register("make_time", (h: Integer, m: Integer, s: java.lang.Double) =>
      (if (h == null || m == null || s == null) null
       else if (h < 0 || h > 23 || m < 0 || m > 59 || s < 0 || s >= 60)
         throw new IllegalArgumentException(
           f"time field value out of range: $h%d:$m%d:${s.doubleValue()}%s")
       else java.lang.Long.valueOf(
         h.longValue() * 3600000000000L + m.longValue() * 60000000000L +
           math.round(s.doubleValue() * 1e9))): java.lang.Long)
    // timezone(zone, timestamptz) is a native expression now
    // (PgFormatExpressions.PgTimezone) — no UDF registration here
    // our timestamps have no 'infinity'; every stored value is finite
    u.register("isfinite", (ts: java.time.Instant) => true)
    u.register("pg_sleep", (secs: java.lang.Double) => {
      if (secs != null && secs.doubleValue() > 0)
        Thread.sleep(math.min(secs.doubleValue() * 1000.0, 60000.0).toLong)
      "" // pg returns void; empty text is the closest wire rendering
    }).asNondeterministic()
    // interval / until forms (functions.md §Date/Time P2); same 60 s
    // safety cap as pg_sleep — a SELECT must not pin an executor
    u.register("pg_sleep_for", (d: java.time.Duration) => {
      if (d != null && !d.isNegative && !d.isZero)
        Thread.sleep(math.min(d.toMillis, 60000L))
      ""
    }).asNondeterministic()
    u.register("pg_sleep_until", (ts: java.time.Instant) => {
      if (ts != null) {
        val ms = ts.toEpochMilli - System.currentTimeMillis()
        if (ms > 0) Thread.sleep(math.min(ms, 60000L))
      }
      ""
    }).asNondeterministic()

    // string pack (functions.md §String; quote_literal per pg docs §9.4,
    // casefold via ICU (pg 18), to_ascii as NFD + combining-mark strip)
    // pg sha2 family (§9.5): bytea in → bytea digest out (sweep #12;
    // Spark's sha2 returns hex TEXT, so these are direct digests —
    // text args arrive as their UTF-8 bytes via the implicit cast)
    def shaUdf(alg: String): Array[Byte] => Array[Byte] = b =>
      if (b == null) null
      else java.security.MessageDigest.getInstance(alg).digest(b)
    u.register("sha224", shaUdf("SHA-224"))
    u.register("sha256", shaUdf("SHA-256"))
    u.register("sha384", shaUdf("SHA-384"))
    u.register("sha512", shaUdf("SHA-512"))
    // pg like_escape(pattern, escape): convert a pattern with a custom
    // escape char to the default-backslash form (sweep #8, live-pg-
    // pinned: '\' always doubles, esc+c → \c, a trailing esc → '\',
    // multi-char escape raises 22019)
    u.register("like_escape", (p: String, e: String) =>
      if (p == null || e == null) null
      else {
        if (e.length > 1)
          throw PgException("22019", "invalid escape string")
        val esc = if (e.isEmpty) -1 else e.charAt(0).toInt
        val sb = new StringBuilder
        var i = 0
        while (i < p.length) {
          val c = p.charAt(i)
          if (c.toInt == esc) {
            if (i + 1 < p.length) { sb.append('\\').append(p.charAt(i + 1)); i += 2 }
            else { sb.append('\\'); i += 1 }
          } else if (c == '\\') { sb.append("\\\\"); i += 1 }
          else { sb.append(c); i += 1 }
        }
        sb.toString
      })
    u.register("quote_literal", (s: String) =>
      if (s == null) null else graft.functions.PgStringExpressions.quoteLiteral(s))
    u.register("quote_nullable", (s: String) =>
      if (s == null) "NULL" else graft.functions.PgStringExpressions.quoteLiteral(s))
    u.register("casefold", (s: String) =>
      if (s == null) null else com.ibm.icu.lang.UCharacter.foldCase(s, true))
    u.register("to_ascii", (s: String) =>
      if (s == null) null
      else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFD)
        .replaceAll("\\p{Mn}+", ""))
    u.register("strpos", (s: String, sub: String) =>
      if (s == null || sub == null) null
      else {
        // pg counts CHARACTERS; convert the UTF-16 index to a code
        // point position so supplementary-plane text agrees with pg
        val i = s.indexOf(sub)
        Integer.valueOf(if (i < 0) 0 else s.codePointCount(0, i) + 1)
      })
    u.register("to_bin", (x: java.lang.Integer) =>
      if (x == null) null else Integer.toBinaryString(x.intValue()))
    u.register("to_oct", (x: java.lang.Integer) =>
      if (x == null) null else Integer.toOctalString(x.intValue()))
    u.register("to_hex", (x: java.lang.Integer) =>
      if (x == null) null else Integer.toHexString(x.intValue()))
    u.register("pg_client_encoding", () => "UTF8")
    // sysinfo probes (dashboards poll these): start time = JVM start
    u.register("pg_postmaster_start_time", () =>
      java.time.Instant.ofEpochMilli(
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime))
    u.register("pg_conf_load_time", () =>
      java.time.Instant.ofEpochMilli(
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime))
    u.register("pg_jit_available", () => false)
    u.register("inet_client_addr", () => null: String)
    u.register("inet_server_addr", () => null: String)
    // binary-string pack (functions.md §Binary String, all P2): pg
    // encode/decode SHADOW Spark's charset builtins — on a pg surface
    // encode(bytea, 'hex'|'base64'|'escape') is the contract
    graft.functions.PgMiscExpressions.install(spark)
    // pg text -> bytea input conversion (docs §8.4): '\x...' hex form
    // or the escape form with \\ and \nnn octal. Compat routes
    // '...'::bytea casts and string-literal args of bytea functions
    // through this (Spark's STRING->BINARY cast takes the UTF-8 bytes
    // of the literal text, which is never what a pg client means).
    u.register("pg_to_bytea", (s: String) =>
      if (s == null) null else parseByteaInput(s))
    // pg generate_series: integer AND timestamp forms dispatch by
    // type in the PgSeries expression (PgMiscExpressions)
    // pg (s1,e1) OVERLAPS (s2,e2): half-open comparison after
    // normalizing each pair (pg swaps when start > end)
    u.register("pg_overlaps", (s1: java.time.Instant, e1: java.time.Instant,
        s2: java.time.Instant, e2: java.time.Instant) =>
      if (s1 == null || e1 == null || s2 == null || e2 == null) null
      else {
        val (a1, b1) = if (s1.isAfter(e1)) (e1, s1) else (s1, e1)
        val (a2, b2) = if (s2.isAfter(e2)) (e2, s2) else (s2, e2)
        java.lang.Boolean.valueOf(a1.isBefore(b2) && a2.isBefore(b1))
      })
    // pg regexp optional-arg family (start / N / endoption / flags /
    // subexpr forms Spark's builtins lack) — PgNames routes the pg
    // call shapes to these full-arity UDFs, defaults written out
    u.register("pg_regexp_like", (s: String, p: String, fl: String) =>
      if (s == null || p == null || fl == null) null
      else java.lang.Boolean.valueOf(pgRegexpLike(s, p, fl)))
    u.register("pg_regexp_count", (s: String, p: String, st: java.lang.Integer, fl: String) =>
      if (s == null || p == null || st == null || fl == null) null
      else Integer.valueOf(pgRegexpCount(s, p, st, fl)))
    u.register("pg_regexp_instr", (s: String, p: String, st: java.lang.Integer,
        n: java.lang.Integer, eo: java.lang.Integer, fl: String, sub: java.lang.Integer) =>
      if (s == null || p == null || st == null || n == null || eo == null ||
        fl == null || sub == null) null
      else Integer.valueOf(pgRegexpInstr(s, p, st, n, eo, fl, sub)))
    u.register("pg_regexp_substr", (s: String, p: String, st: java.lang.Integer,
        n: java.lang.Integer, fl: String, sub: java.lang.Integer) =>
      if (s == null || p == null || st == null || n == null || fl == null || sub == null) null
      else pgRegexpSubstr(s, p, st, n, fl, sub))
    u.register("pg_regexp_replace", (s: String, p: String, r: String,
        fourth: String, n: java.lang.Integer, fl: String) =>
      if (s == null || p == null || r == null || n == null) null
      else pgRegexpReplace(s, p, r, fourth, n, fl))
    // substring(string FROM 'pattern'): first POSIX match, or group 1
    // when the pattern captures (Compat rewrites the FROM form here)
    u.register("pg_substring_re", (s: String, p: String) =>
      if (s == null || p == null) null
      else {
        val m = pgRegex(p, "").matcher(s)
        if (!m.find()) null
        else if (m.groupCount() >= 1) m.group(1)
        else m.group()
      })
    u.register("encode", (b: Array[Byte], fmt: String) =>
      if (b == null || fmt == null) null else encodeBytea(b, fmt))
    u.register("decode", (s: String, fmt: String) =>
      if (s == null || fmt == null) null else decodeBytea(s, fmt))
    u.register("get_byte", (b: Array[Byte], n: Int) => {
      if (b == null) null
      else {
        if (n < 0 || n >= b.length)
          throw new IllegalArgumentException(s"index $n out of valid range, 0..${b.length - 1}")
        Integer.valueOf(b(n) & 0xff)
      }
    })
    u.register("set_byte", (b: Array[Byte], n: Int, v: Int) => {
      if (b == null) null
      else {
        if (n < 0 || n >= b.length)
          throw new IllegalArgumentException(s"index $n out of valid range, 0..${b.length - 1}")
        val c = b.clone(); c(n) = v.toByte; c
      }
    })
    // bytea bit order: bit 0 = least significant bit of byte 0 (pg docs §9.5)
    u.register("get_bit", (b: Array[Byte], n: Int) => {
      if (b == null) null
      else {
        if (n < 0 || n >= b.length * 8)
          throw new IllegalArgumentException(s"index $n out of valid range, 0..${b.length * 8 - 1}")
        Integer.valueOf((b(n / 8) >> (n % 8)) & 1)
      }
    })
    u.register("set_bit", (b: Array[Byte], n: Int, v: Int) => {
      if (b == null) null
      else {
        if (n < 0 || n >= b.length * 8)
          throw new IllegalArgumentException(s"index $n out of valid range, 0..${b.length * 8 - 1}")
        val c = b.clone()
        val mask = (1 << (n % 8)).toByte
        c(n / 8) = if (v == 0) (c(n / 8) & ~mask).toByte else (c(n / 8) | mask).toByte
        c
      }
    })
    u.register("pg_bit_count", (b: Array[Byte]) =>
      if (b == null) null
      else java.lang.Long.valueOf(b.map(x => Integer.bitCount(x & 0xff).toLong).sum))
    u.register("crc32", (b: Array[Byte]) =>
      if (b == null) null
      else { val c = new java.util.zip.CRC32(); c.update(b); java.lang.Long.valueOf(c.getValue) })
    u.register("crc32c", (b: Array[Byte]) =>
      if (b == null) null
      else { val c = new java.util.zip.CRC32C(); c.update(b); java.lang.Long.valueOf(c.getValue) })
    u.register("convert_from", (b: Array[Byte], enc: String) =>
      if (b == null || enc == null) null else convertFrom(b, enc))
    u.register("convert_to", (s: String, enc: String) =>
      if (s == null || enc == null) null else convertTo(s, enc))
    u.register("convert", (b: Array[Byte], from: String, to: String) =>
      if (b == null || from == null || to == null) null
      else convertTo(convertFrom(b, from), to))

    // uuid pack (functions.md §UUID; gen_random_uuid/uuidv4 are
    // registry aliases of Spark's Uuid in PgMiscExpressions)
    u.register("uuidv7", () => uuidv7()).asNondeterministic()
    u.register("uuid_extract_version", (s: String) => uuidVersion(s))
    u.register("uuid_extract_timestamp", (s: String) => uuidTimestamp(s))

    // pattern + validation
    u.register("similar_to_escape", (p: String) =>
      if (p == null) null else similarEscape(p))
    u.register("pg_substring_similar", (s: String, p: String, e: String) =>
      substringSimilar(s, p, e))
    u.register("pg_input_is_valid", (s: String, t: String) =>
      if (t == null) null else java.lang.Boolean.valueOf(inputIsValid(s, t)))
    // record-returning twin: NULL members when the input is valid
    u.register("pg_input_error_info", (s: String, t: String) =>
      if (inputIsValid(s, t)) ErrorInfo(null, null, null, null)
      else ErrorInfo(s"invalid input syntax for type $t: \"$s\"", null, null, "22P02"))
    // numeric-internal pair (functions.md §Math P3): meaningful on the
    // DECIMAL literals/columns that keep their scale through Catalyst
    u.register("min_scale", (x: java.math.BigDecimal) =>
      if (x == null) null else Integer.valueOf(math.max(0, x.stripTrailingZeros.scale)))
    u.register("scale", (x: java.math.BigDecimal) =>
      if (x == null) null else Integer.valueOf(x.scale))
    // trim_scale (pg 13, functions.md P3): drop trailing fractional
    // zeros. Spark decimals carry a FIXED column scale, so the
    // variable-scale result rides a STRING tagged pg.oid_alias=numeric
    // (Handlers tags the output; wire reports OID 1700 and renders the
    // plain text form — live-pinned: 8.4100→8.41, 30.00→30, 0.000→0)
    u.register("trim_scale", (x: java.math.BigDecimal) =>
      if (x == null) null else {
        val t = x.stripTrailingZeros
        (if (t.scale < 0) t.setScale(0) else t).toPlainString
      })

    // width_bucket(operand, thresholds[]) — pg's array form (reference
    // width_bucket.rs:32-315): count of thresholds <= operand, NULL
    // thresholds never counted, NaN operand sorts below everything.
    // Registered under pg_width_bucket because Spark's registry cannot
    // overload the 4-arg builtin; PgNames routes the 2-arg call shape.
    u.register("pg_width_bucket", (x: java.lang.Double, thresholds: Seq[java.lang.Double]) =>
      if (x == null || thresholds == null) null
      else Integer.valueOf(thresholds.count(t => t != null && t.doubleValue() <= x.doubleValue())))

    // system / catalog compat (pg_catalog.rs:1073-1572)
    u.register("pg_current_database", () => "postgres")
    u.register("pg_current_schema", () => "public")
    u.register("pg_current_schemas", (implicitToo: Boolean) =>
      if (implicitToo) Array("pg_catalog", "public") else Array("public"))
    u.register("version", () => VersionString)
    u.register("pg_get_userbyid", (oid: Int) => "postgres")
    u.register("pg_table_is_visible", (oid: Int) => true)
    u.register("pg_function_is_visible", (oid: Int) => true)
    u.register("pg_operator_is_visible", (oid: Int) => true)
    u.register("pg_type_is_visible", (oid: java.lang.Integer) => true)
    u.register("pg_get_function_arguments", (oid: Integer) => functionArguments(oid))
    u.register("pg_get_function_result", (oid: Integer) => functionResult(oid))
    u.register("has_table_privilege",
      (user: String, table: String, priv: String) => true)
    u.register("has_schema_privilege",
      (user: String, schema: String, priv: String) => true)
    u.register("has_database_privilege",
      (user: String, db: String, priv: String) => true)
    u.register("has_any_column_privilege",
      (user: String, table: String, priv: String) => true)
    u.register("format_type", (oid: Integer, typemod: Integer) => formatType(oid, typemod))
    u.register("pg_get_expr", (expr: String, relid: Integer, pretty: Boolean) => "")
    u.register("pg_get_partkeydef", (oid: Int) => "")
    u.register("pg_relation_is_publishable", (oid: Int) => true)
    u.register("pg_get_statisticsobjdef_columns", (oid: Int) => null: String)
    u.register("pg_encoding_to_char", (enc: Int) => if (enc == 6) "UTF-8" else "")
    u.register("pg_backend_pid", () => 1)
    u.register("pg_relation_size", (oid: Int) => 0L)
    u.register("pg_total_relation_size", (oid: Int) => 0L)
    u.register("pg_database_size", (name: String) => 0L)
    u.register("pg_stat_get_numscans", (oid: Int) => 0L)
    u.register("pg_get_constraintdef", (oid: Integer, pretty: Boolean) =>
      if (oid == null) null else PgCatalog.constraintDef(oid))
    u.register("pg_partition_ancestors", (oid: Int) => Array(oid))
    u.register("quote_ident", (s: String) => quoteIdent(s))
    u.register("parse_ident", (s: String) => parseIdent(s))
    u.register("pg_size_pretty", (b: java.lang.Long) => sizePretty(b))
    // live COMMENT ON reads (round 14): relation-class comments only —
    // psql \d+/\dt+ and DBeaver pass 'pg_class'; other catalogs have
    // no comment writers here, so they stay empty
    u.register("obj_description", (oid: String, catalog: String) =>
      (if (catalog == "pg_class")
        scala.util.Try(oid.trim.toInt).toOption
          .flatMap(o => PgComments.get(o, 0)).orNull
      else null): String)
    u.register("shobj_description", (oid: Integer, catalog: String) => null: String)
    u.register("col_description", (oid: Integer, colnum: Integer) =>
      (if (oid == null || colnum == null) null
      else PgComments.get(oid, colnum).orNull): String)
    u.register("txid_current", () => 0L)
    u.register("pg_is_in_recovery", () => false)
    u.register("current_setting", (name: String) =>
      PgCatalog.defaultGucs.toMap.getOrElse(name, null: String))
    // pg array bounds semantics: 1-based, NULL on null/empty/other dims
    // (reference: array_bounds_udf.rs:33-345)
    u.register("array_upper", (arr: Seq[Any], dim: Int) =>
      if (arr == null || arr.isEmpty || dim != 1) null else Integer.valueOf(arr.length))
    u.register("array_lower", (arr: Seq[Any], dim: Int) =>
      if (arr == null || arr.isEmpty || dim != 1) null else Integer.valueOf(1))
    u.register("pg_array_length", (arr: Seq[Any], dim: Int) =>
      if (arr == null || arr.isEmpty || dim != 1) null else Integer.valueOf(arr.length))
    // pg array_dims text form '[1:n][1:m]…' — lower bounds are always
    // 1 here (no pg offset-array inputs exist in this engine);
    // empty/NULL → NULL as pg
    u.register("array_dims", (arr: Seq[Any]) =>
      if (arr == null || arr.isEmpty) null
      else {
        val sb = new StringBuilder(s"[1:${arr.length}]")
        var cur: Any = arr.head
        while (cur.isInstanceOf[Seq[_]]) {
          val ss = cur.asInstanceOf[Seq[_]]
          sb.append(s"[1:${ss.length}]")
          cur = if (ss.isEmpty) null else ss.head
        }
        sb.toString
      })
    // pg string_to_array splits on a LITERAL delimiter (Spark's split
    // takes a regex, so '.'-style delimiters would explode)
    // pg 15 pinned: '' input -> empty array; NULL delimiter -> one
    // element per CHARACTER; '' delimiter -> the whole string
    u.register("pg_string_to_array", (s: String, d: String) =>
      if (s == null) null
      else if (s.isEmpty) Array.empty[String]
      else if (d == null) s.map(_.toString).toArray
      else if (d.isEmpty) Array(s)
      else s.split(java.util.regex.Pattern.quote(d), -1))
    // 3-arg form: elements equal to nullStr → NULL (pg 15 pinned:
    // string_to_array('a,b,c', ',', 'b') = {a,NULL,c})
    u.register("pg_string_to_array3", (s: String, d: String, nullStr: String) => {
      val base: Array[String] =
        if (s == null) null
        else if (s.isEmpty) Array.empty[String]
        else if (d == null) s.map(_.toString).toArray
        else if (d.isEmpty) Array(s)
        else s.split(java.util.regex.Pattern.quote(d), -1)
      if (base == null || nullStr == null) base
      else base.map(e => if (e == nullStr) null else e)
    })
    // pg 2-arg ltrim/rtrim: (src, set) — Spark's builtins reversed it
    u.register("pg_ltrim", (s: String, set: String) =>
      if (s == null || set == null) null
      else {
        var i = 0
        while (i < s.length && set.indexOf(s.charAt(i)) >= 0) i += 1
        s.substring(i)
      })
    u.register("pg_rtrim", (s: String, set: String) =>
      if (s == null || set == null) null
      else {
        var i = s.length
        while (i > 0 && set.indexOf(s.charAt(i - 1)) >= 0) i -= 1
        s.substring(0, i)
      })
    // pg substr: the [start, start+count) window INTERSECTED with the
    // string (start 0 and negatives clamp; Spark wraps them around)
    u.register("pg_substr", (s: String, start: Int, count: Int) =>
      if (s == null) null
      else {
        if (count < 0) throw new IllegalArgumentException(
          "negative substring length not allowed")
        val from = math.max(1L, start.toLong)
        val until = math.min(s.length.toLong + 1, start.toLong + count.toLong)
        if (until <= from) "" else s.substring(from.toInt - 1, until.toInt - 1)
      })
    // pg date_trunc coarse fields (Spark returns NULL for these)
    u.register("pg_date_trunc", (field: String, ts: java.time.Instant) =>
      if (field == null || ts == null) null
      else {
        val y = ts.atOffset(java.time.ZoneOffset.UTC).getYear
        val y0 = field.toLowerCase match {
          case "decade" => y - Math.floorMod(y, 10)
          case "century" => y - Math.floorMod(y - 1, 100)
          case "millennium" => y - Math.floorMod(y - 1, 1000)
          case other => throw new IllegalArgumentException(
            s"unsupported pg_date_trunc field: $other")
        }
        java.time.LocalDate.of(y0, 1, 1).atStartOfDay(java.time.ZoneOffset.UTC).toInstant
      })

    // math pack (datafusion-pg-functions/src/numeric/)
    // div is a native expression now (PgMiscExpressions.PgDiv) so the
    // quotient carries scale 0 on the wire like pg
    u.register("gcd", (y: java.lang.Long, x: java.lang.Long) =>
      if (y == null || x == null) null
      else java.lang.Long.valueOf(
        java.math.BigInteger.valueOf(y).gcd(java.math.BigInteger.valueOf(x)).longValueExact()))
    u.register("lcm", (y: java.lang.Long, x: java.lang.Long) =>
      if (y == null || x == null) null
      else if (y.longValue() == 0L || x.longValue() == 0L) java.lang.Long.valueOf(0L)
      else {
        val a = java.math.BigInteger.valueOf(y).abs()
        val b = java.math.BigInteger.valueOf(x).abs()
        java.lang.Long.valueOf(a.divide(a.gcd(b)).multiply(b).longValueExact())
      })
    // pg chr/left/right shadows: Spark's chr is byte-oriented (mod
    // 256) where pg's is a Unicode code point; Spark's left/right
    // return '' for negative n where pg drops from the other end
    u.register("chr", (n: java.lang.Integer) => {
      if (n == null) null
      else if (n.intValue() == 0)
        throw new IllegalArgumentException("null character not permitted")
      else if (n.intValue() < 0 || n.intValue() > 0x10FFFF)
        throw new IllegalArgumentException(
          s"requested character too large for encoding: $n")
      else new String(Character.toChars(n.intValue()))
    })
    u.register("left", (s: String, n: java.lang.Integer) =>
      if (s == null || n == null) null
      else if (n.intValue() >= 0) s.substring(0, math.min(n.intValue(), s.length))
      else s.substring(0, math.max(0, s.length + n.intValue())))
    u.register("right", (s: String, n: java.lang.Integer) =>
      if (s == null || n == null) null
      else if (n.intValue() >= 0) s.substring(math.max(0, s.length - n.intValue()))
      else s.substring(math.min(-n.intValue(), s.length)))
    // pg mod: sign-of-dividend, NULL on zero divisor (the reference's
    // documented deviation from pg's error — mod_op.rs:18; Spark 4 ANSI
    // mode would raise DIVIDE_BY_ZERO, so the guard is explicit)
    u.register("pg_mod", (y: java.lang.Long, x: java.lang.Long) =>
      if (y == null || x == null || x.longValue() == 0L) null
      else java.lang.Long.valueOf(y.longValue() % x.longValue()))
    u.register("sind", (x: java.lang.Double) => sind(x))
    u.register("cosd", (x: java.lang.Double) => cosd(x))
    u.register("tand", (x: java.lang.Double) => tand(x))
    u.register("cotd", (x: java.lang.Double) => cotd(x))
    u.register("asind", (x: java.lang.Double) => asind(x))
    u.register("acosd", (x: java.lang.Double) => acosd(x))
    u.register("atand", (x: java.lang.Double) => atand(x))
    u.register("atan2d", (y: java.lang.Double, x: java.lang.Double) => atan2d(y, x))
    u.register("erf", (x: java.lang.Double) =>
      if (x == null) null else java.lang.Double.valueOf(org.apache.commons.math3.special.Erf.erf(x.doubleValue())))
    u.register("erfc", (x: java.lang.Double) =>
      if (x == null) null else java.lang.Double.valueOf(org.apache.commons.math3.special.Erf.erfc(x.doubleValue())))
    u.register("gamma", (x: java.lang.Double) =>
      if (x == null) null else java.lang.Double.valueOf(org.apache.commons.math3.special.Gamma.gamma(x.doubleValue())))
    u.register("lgamma", (x: java.lang.Double) =>
      // + 0.0 normalizes commons-math's -0.0 at x=1,2 to pg's (and DuckDB's) 0.0
      if (x == null) null else java.lang.Double.valueOf(org.apache.commons.math3.special.Gamma.logGamma(x.doubleValue()) + 0.0))
    u.register("random_normal",
      (mean: java.lang.Double, stddev: java.lang.Double) => {
        val m = if (mean == null) 0.0 else mean.doubleValue()
        val s = if (stddev == null) 1.0 else stddev.doubleValue()
        java.lang.Double.valueOf(m + s * java.util.concurrent.ThreadLocalRandom.current().nextGaussian())
      }).asNondeterministic()
    // last: the pg names wrap the builders registered above
    PgNames.install(spark)
  }
}
