package graft.functions

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, TypeCheckResult}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** PostgreSQL JSON function pack — the largest remaining block of the
  * reference's hand-maintained roadmap (67 functions, ALL marked
  * "Blocked: no JSON/JSONB type in DataFusion" in
  * datafusion-pg-functions/functions.md §functions-json; src/json.rs
  * is an empty stub). Clients hit json_build_object / row_to_json /
  * jsonb_extract_path / json_array_elements constantly, so this is
  * parity-plus: semantics implemented from the public PostgreSQL docs
  * (Functions and Operators §9.16).
  *
  * Representation: JSON values travel as TEXT (Spark has no JSON
  * type either — same position as the reference's engine). Rendering
  * is COMPACT (RFC-style, `{"a":1}`): pg's `json` type preserves
  * cosmetic whitespace (`{"a" : 1}` from json_build_object) while
  * `jsonb` normalizes; we normalize everywhere — the jsonb convention
  * — as the documented deviation.
  *
  * Parsing uses the Jackson shipped inside the Spark distribution;
  * object key order is preserved (pg json/DuckDB behavior). Invalid
  * JSON input errors, matching pg's "invalid input syntax for type
  * json".
  */
object PgJsonExpressions {

  // ObjectMapper is thread-safe after configuration.
  // USE_BIG_DECIMAL_FOR_FLOATS + WRITE_BIGDECIMAL_AS_PLAIN give pg's
  // numeric treatment of json numbers: '1.50' keeps its scale and
  // '1e3' renders as 1000 (pg jsonb normalizes through numeric;
  // doubles would yield 1.5 / 1000.0).
  private val mapper = new ObjectMapper()
    .configure(com.fasterxml.jackson.databind.DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS, true)
    .configure(com.fasterxml.jackson.databind.SerializationFeature.WRITE_BIGDECIMAL_AS_PLAIN, true)

  private[functions] def parse(s: String): JsonNode =
    try mapper.readTree(s)
    catch {
      case e: Exception => throw new IllegalArgumentException(
        s"invalid input syntax for type json: ${e.getMessage}")
    }

  /** Parse straight from a UTF8String's bytes — skips the UTF-16
    * round-trip on the per-row hot path (Jackson decodes UTF-8
    * natively). */
  private[functions] def parse(s: org.apache.spark.unsafe.types.UTF8String): JsonNode =
    try mapper.readTree(s.getBytes)
    catch {
      case e: Exception => throw new IllegalArgumentException(
        s"invalid input syntax for type json: ${e.getMessage}")
    }

  // 8 (documentBytes, parsedTree) slots per thread — see parseCached
  private final class DocMemo {
    val keys = new Array[org.apache.spark.unsafe.types.UTF8String](8)
    val vals = new Array[JsonNode](8)
    var next = 0
  }
  private val docMemo = new ThreadLocal[DocMemo] {
    override def initialValue(): DocMemo = new DocMemo
  }

  /** Parse with a small per-thread memo keyed on the document BYTES:
    * a projection evaluating several JSON expressions over the same
    * column (the common client shape — 8 extracts of one `props`
    * document) parses each row's document once instead of once per
    * call. The JSON expressions evaluate behind opaque
    * [[PgVariadicDirectGen]] object calls, which Spark's
    * common-subexpression elimination does not cover — this memo is
    * the equivalent at the data layer. 8 round-robin slots absorb a
    * projection that interleaves several DIFFERENT built documents
    * per row (q114 cycles 6); byte-compare fails fast on length, so
    * misses stay cheap. The returned tree is SHARED and must NOT be mutated;
    * mutators take `parseCached(s).deepCopy()` (cheaper than
    * re-tokenizing on a hit). Keys are cloned because row UTF8Strings
    * point into reused buffers. */
  private[functions] def parseCached(s: org.apache.spark.unsafe.types.UTF8String): JsonNode = {
    val m = docMemo.get()
    var i = 0
    while (i < 8) {
      val k = m.keys(i)
      if (k != null && k.equals(s)) return m.vals(i)
      i += 1
    }
    val n = parse(s)
    m.keys(m.next) = s.clone()
    m.vals(m.next) = n
    m.next = (m.next + 1) & 7
    n
  }

  // ---- pg-style compact rendering of Catalyst values ---------------------

  private def escapeTo(sb: java.lang.StringBuilder, s: String): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\b' => sb.append("\\b")
        case '\f' => sb.append("\\f")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      i += 1
    }
    sb.append('"')
  }

  /** Render a Catalyst-internal value of `dt` as compact JSON. */
  private[functions] def render(sb: java.lang.StringBuilder, v: Any, dt: DataType): Unit = {
    if (v == null) { sb.append("null"); return }
    dt match {
      case StringType => escapeTo(sb, v.asInstanceOf[UTF8String].toString)
      case BooleanType => sb.append(if (v.asInstanceOf[Boolean]) "true" else "false")
      case ByteType | ShortType | IntegerType | LongType =>
        sb.append(v.toString)
      case FloatType | DoubleType =>
        // pg float→json uses float8out's shortest form (1.0 → 1,
        // 1e20 → 1e+20); non-finite values become STRINGS (pinned:
        // to_json('inf'::float8) → "Infinity")
        val d = v match {
          case f: java.lang.Float => f.toDouble
          case x => x.asInstanceOf[Double]
        }
        val t = graft.pgwire.TextEncoder.formatFloat(d,
          isFloat4 = dt == FloatType)
        if (d.isNaN || d.isInfinite) sb.append('"').append(t).append('"')
        else sb.append(t)
      case _: DecimalType => sb.append(v.asInstanceOf[Decimal].toJavaBigDecimal.toPlainString)
      case DateType =>
        val f = PgFormat.DtF.fromEpochDay(v.asInstanceOf[Int].toLong)
        sb.append('"').append(f"${f.year}%04d-${f.month}%02d-${f.day}%02d").append('"')
      case ArrayType(et, _) =>
        val a = v.asInstanceOf[ArrayData]
        sb.append('[')
        var i = 0
        while (i < a.numElements()) {
          if (i > 0) sb.append(',')
          render(sb, if (a.isNullAt(i)) null else a.get(i, et), et)
          i += 1
        }
        sb.append(']')
      case st: StructType =>
        val row = v.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
        sb.append('{')
        var i = 0
        while (i < st.length) {
          if (i > 0) sb.append(',')
          escapeTo(sb, st(i).name)
          sb.append(':')
          render(sb, if (row.isNullAt(i)) null else row.get(i, st(i).dataType), st(i).dataType)
          i += 1
        }
        sb.append('}')
      case MapType(kt, vt, _) =>
        val m = v.asInstanceOf[MapData]
        sb.append('{')
        val ks = m.keyArray(); val vs = m.valueArray()
        var i = 0
        while (i < m.numElements()) {
          if (i > 0) sb.append(',')
          val k = ks.get(i, kt)
          escapeTo(sb, if (k == null) "null" else k.toString)
          sb.append(':')
          render(sb, if (vs.isNullAt(i)) null else vs.get(i, vt), vt)
          i += 1
        }
        sb.append('}')
      case other => throw new IllegalArgumentException(
        s"json rendering does not support ${other.simpleString}")
    }
  }

  private def supported(dt: DataType): Boolean = dt match {
    case StringType | BooleanType | ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | DateType | NullType => true
    case _: DecimalType => true
    case ArrayType(et, _) => supported(et)
    case st: StructType => st.fields.forall(f => supported(f.dataType))
    case MapType(_, vt, _) => supported(vt)
    case _ => false
  }

  // ---- scalar expressions ------------------------------------------------

  /** In pg, json_build_* embeds a json-TYPED argument raw and quotes a
    * text one. Json travels as text here, so the type distinction is
    * recovered from the expression tree: a value child that is itself
    * a JSON-producing expression embeds raw — same rule, same
    * observable behavior (a text column still quotes, exactly as a
    * text argument does in pg without a ::json cast). */
  private def producesJson(e: Expression): Boolean = e match {
    case a: Alias => producesJson(a.child)
    case _: PgJsonBuildObject | _: PgJsonBuildArray | _: PgRowToJson | _: PgToJsonb |
         _: PgJsonStripNulls | _: PgJsonbSet | _: PgJsonbInsert | _: PgJsonbDelete |
         _: PgJsonbDeletePath | _: PgJsonbConcat | _: PgJsonObject |
         _: PgJsonbNormalize | _: PgJsonPreserve => true
    case p: PgJsonExtractPath => !p.text
    case _ => false
  }

  /** pg_json(text) — Compat's marker for a `'…'::json` (non-b) cast:
    * validates like pg's json input parser and preserves the ORIGINAL
    * text VERBATIM — pg's json type stores the source bytes (key
    * order, interior spacing, duplicate keys all survive); only jsonb
    * normalizes. Like [[PgJsonbNormalize]] it is a json-producing
    * marker, so json_build_* embeds the original text raw. */
  case class PgJsonPreserve(child: Expression)
      extends UnaryExpression with PgUnaryDirectGen {
    override def dataType: DataType = StringType
    override def prettyName: String = "pg_json"
    // NOT foldable — same marker-preservation reason as PgJsonbNormalize
    override def foldable: Boolean = false
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType | NullType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"cannot cast type ${other.simpleString} to json")
    }
    override def nullSafeEval(v: Any): Any = {
      parse(v.asInstanceOf[UTF8String]) // validate only
      v
    }
    override protected def withNewChildInternal(c: Expression): PgJsonPreserve =
      copy(child = c)
  }

  /** pg_jsonb(text) — Compat's marker for a `'…'::jsonb`
    * cast: validates like pg's json input parser and renders the
    * jsonb canonical form (space after ':' and ','). Being a json-PRODUCING node,
    * json_build_* embeds arguments under this marker raw instead of
    * re-quoting them — the observable behavior of a jsonb-typed
    * argument in pg. */
  case class PgJsonbNormalize(child: Expression)
      extends UnaryExpression with PgUnaryDirectGen {
    override def dataType: DataType = StringType
    override def prettyName: String = "pg_jsonb"
    // deliberately NOT foldable (UnaryExpression would inherit the
    // child's foldability): constant folding would collapse the marker
    // into a plain string literal and json_build_* would lose the
    // json-typedness of the argument
    override def foldable: Boolean = false
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType | NullType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"cannot cast type ${other.simpleString} to json")
    }
    override def nullSafeEval(v: Any): Any =
      jsonbOut(parse(v.asInstanceOf[UTF8String]))
    override protected def withNewChildInternal(c: Expression): PgJsonbNormalize =
      copy(child = c)
  }

  /** pg jsonb canonical text form: one space after ':' and after ','
    * (live-pg-pinned: `'{"a":1,"b":[1,2]}'::jsonb` renders
    * `{"a": 1, "b": [1, 2]}`). Scalars keep Jackson's rendering.
    */
  def jsonbText(node: JsonNode): String = {
    val sb = new java.lang.StringBuilder
    writeCanonical(sb, node)
    sb.toString
  }

  def jsonbOut(node: JsonNode): UTF8String = UTF8String.fromString(jsonbText(node))

  private def writeCanonical(sb: java.lang.StringBuilder, node: JsonNode): Unit =
    if (node.isObject) {
      // jsonb storage order: keys sorted by UTF-8 LENGTH, then bytes
      // (live-pg-pinned: {"b","a","aa"} renders a, b, aa); duplicate
      // keys already collapsed last-wins by the parser
      sb.append('{')
      val entries = new java.util.ArrayList[java.util.Map.Entry[String, JsonNode]]()
      val it = node.properties().iterator()
      while (it.hasNext) entries.add(it.next())
      entries.sort { (a, b) =>
        val ka = a.getKey.getBytes("UTF-8")
        val kb = b.getKey.getBytes("UTF-8")
        if (ka.length != kb.length) ka.length - kb.length
        else java.util.Arrays.compareUnsigned(ka, kb)
      }
      var first = true
      val eit = entries.iterator()
      while (eit.hasNext) {
        val e = eit.next()
        if (!first) sb.append(", ")
        first = false
        escapeTo(sb, e.getKey)
        sb.append(": ")
        writeCanonical(sb, e.getValue)
      }
      sb.append('}')
    } else if (node.isArray) {
      sb.append('[')
      val it = node.elements()
      var first = true
      while (it.hasNext) {
        if (!first) sb.append(", ")
        first = false
        writeCanonical(sb, it.next())
      }
      sb.append(']')
    } else sb.append(node.toString)

  /** Render one build_* value: raw for json-producing children. */
  private def renderArg(sb: java.lang.StringBuilder, child: Expression, v: Any): Unit =
    if (v != null && producesJson(child))
      sb.append(v.asInstanceOf[UTF8String].toString)
    else render(sb, v, child.dataType)

  /** json_build_object(k1, v1, ...) — alternating keys and values.
    * NULL keys error (pg: "argument N cannot be null"). */
  case class PgJsonBuildObject(children: Seq[Expression], jsonb: Boolean = false)
      extends Expression with PgVariadicDirectGen {
    override def dataType: DataType = StringType
    override def nullable: Boolean = false
    override def prettyName: String = if (jsonb) "jsonb_build_object" else "json_build_object"

    override def checkInputDataTypes(): TypeCheckResult =
      if (children.length % 2 != 0)
        TypeCheckResult.TypeCheckFailure(
          "json_build_object requires an even number of arguments")
      else if (!children.forall(c => supported(c.dataType)))
        TypeCheckResult.TypeCheckFailure("json_build_object: unsupported argument type")
      else TypeCheckResult.TypeCheckSuccess

    override def evalVals(vs: Array[Any]): Any = {
      val sb = new java.lang.StringBuilder(64)
      sb.append('{')
      var i = 0
      while (i < children.length) {
        if (i > 0) sb.append(if (jsonb) "," else ", ")
        val k = vs(i)
        if (k == null) throw new IllegalArgumentException(
          s"json_build_object: argument ${i + 1} cannot be null")
        val kStr = children(i).dataType match {
          case StringType => k.asInstanceOf[UTF8String].toString
          case _ => k.toString
        }
        escapeTo(sb, kStr)
        // pg spacing is per-function: json_build_object renders
        // `"k" : v`; the jsonb variant re-canonicalizes the whole doc
        // below (sorted keys, `"k": v`) — live-pg-pinned
        sb.append(if (jsonb) ":" else " : ")
        renderArg(sb, children(i + 1), vs(i + 1))
        i += 2
      }
      sb.append('}')
      if (jsonb) jsonbOut(parse(UTF8String.fromString(sb.toString)))
      else UTF8String.fromString(sb.toString)
    }

    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): PgJsonBuildObject = copy(children = newChildren)
  }

  /** json_build_array(v1, v2, ...). */
  case class PgJsonBuildArray(children: Seq[Expression], jsonb: Boolean = false)
      extends Expression with PgVariadicDirectGen {
    override def dataType: DataType = StringType
    override def nullable: Boolean = false
    override def prettyName: String = if (jsonb) "jsonb_build_array" else "json_build_array"

    override def checkInputDataTypes(): TypeCheckResult =
      if (!children.forall(c => supported(c.dataType)))
        TypeCheckResult.TypeCheckFailure("json_build_array: unsupported argument type")
      else TypeCheckResult.TypeCheckSuccess

    override def evalVals(vs: Array[Any]): Any = {
      val sb = new java.lang.StringBuilder(64)
      sb.append('[')
      var i = 0
      while (i < children.length) {
        // pg json_build_array renders top-level `[1, 2]` (elements
        // themselves compact); the jsonb variant canonicalizes fully
        if (i > 0) sb.append(if (jsonb) "," else ", ")
        renderArg(sb, children(i), vs(i))
        i += 1
      }
      sb.append(']')
      if (jsonb) jsonbOut(parse(UTF8String.fromString(sb.toString)))
      else UTF8String.fromString(sb.toString)
    }

    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): PgJsonBuildArray = copy(children = newChildren)
  }

  /** row_to_json(record) — render a struct with its field names. */
  case class PgRowToJson(child: Expression)
      extends UnaryExpression with PgUnaryDirectGen {
    override def dataType: DataType = StringType
    override def prettyName: String = "row_to_json"

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case st: StructType if supported(st) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure("row_to_json(record)")
    }

    override def nullSafeEval(v: Any): Any = {
      val sb = new java.lang.StringBuilder(64)
      render(sb, v, child.dataType)
      UTF8String.fromString(sb.toString)
    }

    override protected def withNewChildInternal(c: Expression): PgRowToJson = copy(child = c)
  }

  /** Walk `path` elements through a parsed tree: object fields by
    * name, array elements by integer index. Null when absent (pg). */
  private def walk(root: JsonNode, path: Seq[String]): JsonNode = {
    var node = root
    var i = 0
    while (i < path.length) {
      if (node == null) return null
      if (node.isObject) node = node.get(path(i))
      else if (node.isArray) {
        val idx =
          try path(i).trim.toInt
          catch { case _: NumberFormatException => return null }
        // negative subscripts count from the end (pg json_extract_path
        // and `->'/#>` accept them; pinned live: …('{"a":[1,2,3]}','a','-1') → 3)
        val k = if (idx < 0) node.size() + idx else idx
        node = if (k >= 0 && k < node.size()) node.get(k) else null
      } else return null
      i += 1
    }
    node
  }

  /** Source-fragment extraction over ORIGINAL json text — pg's json
    * (non-b) accessors return the exact source slice of the target
    * value (live-pinned: `('[{"x":1,  "y": [1 ,2]}]'::json) -> 0` →
    * `{"x":1,  "y": [1 ,2]}`), with surrounding whitespace trimmed,
    * duplicate object keys resolved LAST-wins, and negative array
    * indices counting from the end. Input must already be valid json.
    * Returns null when the path is absent or steps into a scalar.
    */
  private[functions] def sliceAtPath(src: String, path: Seq[String]): String = {
    def isWs(c: Char) = c == ' ' || c == '\t' || c == '\n' || c == '\r'
    def skipWs(i0: Int, end: Int): Int = {
      var i = i0; while (i < end && isWs(src.charAt(i))) i += 1; i
    }
    // index AFTER the closing quote of the string starting at i0
    def skipString(i0: Int): Int = {
      var i = i0 + 1
      while (i < src.length) {
        val c = src.charAt(i)
        if (c == '\\') i += 2
        else if (c == '"') return i + 1
        else i += 1
      }
      src.length
    }
    // index AFTER the value starting (non-ws) at i0
    def skipValue(i0: Int): Int = {
      val c = src.charAt(i0)
      if (c == '"') skipString(i0)
      else if (c == '{' || c == '[') {
        var depth = 0
        var i = i0
        while (i < src.length) {
          val ch = src.charAt(i)
          if (ch == '"') i = skipString(i)
          else {
            if (ch == '{' || ch == '[') depth += 1
            else if (ch == '}' || ch == ']') {
              depth -= 1
              if (depth == 0) return i + 1
            }
            i += 1
          }
        }
        src.length
      } else {
        var i = i0
        while (i < src.length && !isWs(src.charAt(i)) &&
          src.charAt(i) != ',' && src.charAt(i) != '}' && src.charAt(i) != ']') i += 1
        i
      }
    }
    def decodeKey(from: Int, to: Int): String =
      parse(src.substring(from, to)).textValue()

    var lo = 0
    var hi = src.length
    var step = 0
    while (step < path.length) {
      val s = skipWs(lo, hi)
      if (s >= hi) return null
      src.charAt(s) match {
        case '{' =>
          var foundLo = -1
          var foundHi = -1
          var i = skipWs(s + 1, hi)
          while (i < hi && src.charAt(i) != '}') {
            val kEnd = skipString(i)
            val key = decodeKey(i, kEnd)
            var j = skipWs(kEnd, hi) // at ':'
            j = skipWs(j + 1, hi)
            val vEnd = skipValue(j)
            if (key == path(step)) { foundLo = j; foundHi = vEnd }
            i = skipWs(vEnd, hi)
            if (i < hi && src.charAt(i) == ',') i = skipWs(i + 1, hi)
          }
          if (foundLo < 0) return null
          lo = foundLo; hi = foundHi
        case '[' =>
          val idx =
            try path(step).trim.toInt
            catch { case _: NumberFormatException => return null }
          val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
          var i = skipWs(s + 1, hi)
          while (i < hi && src.charAt(i) != ']') {
            val vEnd = skipValue(i)
            spans += ((i, vEnd))
            i = skipWs(vEnd, hi)
            if (i < hi && src.charAt(i) == ',') i = skipWs(i + 1, hi)
          }
          val k = if (idx < 0) spans.length + idx else idx
          if (k < 0 || k >= spans.length) return null
          lo = spans(k)._1; hi = spans(k)._2
        case _ => return null // scalar: no deeper path
      }
      step += 1
    }
    val s = skipWs(lo, hi)
    src.substring(s, skipValue(s))
  }

  /** json_extract_path[_text](json, VARIADIC path). `text=false`
    * returns the element as json text; `text=true` unquotes strings
    * and maps json null to SQL NULL (pg's ->>/#>> semantics).
    * `jsonb=true` (the jsonb_-named variants and `->` over
    * syntactically-jsonb operands) renders extracted containers in
    * jsonb canonical text — pg re-serializes the stored binary form,
    * so sub-documents come back `{"a": 1}`-spaced (sweep-28). */
  case class PgJsonExtractPath(children: Seq[Expression], text: Boolean,
      jsonb: Boolean = false)
      extends Expression with PgVariadicDirectGen {
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    override def prettyName: String =
      (if (jsonb) "jsonb" else "json") +
        (if (text) "_extract_path_text" else "_extract_path")

    override def checkInputDataTypes(): TypeCheckResult =
      if (children.isEmpty || !children.forall(_.dataType == StringType))
        TypeCheckResult.TypeCheckFailure(s"$prettyName(json, text...)")
      else TypeCheckResult.TypeCheckSuccess

    override def evalVals(vs: Array[Any]): Any = {
      val j = vs(0)
      if (j == null) return null
      val path = new Array[String](vs.length - 1)
      var i = 1
      while (i < vs.length) {
        val p = vs(i)
        if (p == null) return null
        path(i - 1) = p.asInstanceOf[UTF8String].toString
        i += 1
      }
      if (jsonb) {
        val node = walk(parseCached(j.asInstanceOf[UTF8String]), path.toSeq)
        if (node == null || (text && node.isNull)) null
        else if (text && node.isTextual) UTF8String.fromString(node.textValue())
        else jsonbOut(node)
      } else {
        // json (non-b): pg returns the ORIGINAL source fragment —
        // validate first (identical errors on malformed input), then
        // slice the source text at the path
        val orig = j.asInstanceOf[UTF8String]
        parseCached(orig)
        val frag = sliceAtPath(orig.toString, path.toSeq)
        if (frag == null) null
        else if (text) {
          if (frag == "null") null
          else if (frag.startsWith("\"")) UTF8String.fromString(parse(frag).textValue())
          else UTF8String.fromString(frag)
        } else UTF8String.fromString(frag)
      }
    }

    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): PgJsonExtractPath = copy(children = newChildren)
  }

  /** json_typeof(json) → object|array|string|number|boolean|null. */
  case class PgJsonTypeof(child: Expression)
      extends UnaryExpression with PgUnaryDirectGen {
    override def dataType: DataType = StringType
    override def prettyName: String = "json_typeof"

    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure("json_typeof(json)")

    override def nullSafeEval(v: Any): Any = {
      val node = parseCached(v.asInstanceOf[UTF8String])
      val t =
        if (node.isObject) "object"
        else if (node.isArray) "array"
        else if (node.isTextual) "string"
        else if (node.isNumber) "number"
        else if (node.isBoolean) "boolean"
        else "null"
      UTF8String.fromString(t)
    }

    override protected def withNewChildInternal(c: Expression): PgJsonTypeof = copy(child = c)
  }

  /** json_array_elements[_text](json) → the elements as text[]; the
    * pg original is set-returning — Compat rewrites the call to
    * explode(json_array_elements(x)). Non-arrays error like pg. */
  case class PgJsonArrayElements(child: Expression, text: Boolean,
      jsonb: Boolean = false)
      extends UnaryExpression with PgUnaryDirectGen {
    override def dataType: DataType = ArrayType(StringType, containsNull = true)
    override def prettyName: String = (if (jsonb) "jsonb" else "json") +
      (if (text) "_array_elements_text" else "_array_elements")

    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(s"$prettyName(json)")

    override def nullSafeEval(v: Any): Any = {
      val node = parseCached(v.asInstanceOf[UTF8String])
      if (!node.isArray) throw new IllegalArgumentException(
        s"cannot extract elements from a ${if (node.isObject) "object" else "scalar"}")
      val out = new Array[Any](node.size())
      var i = 0
      while (i < node.size()) {
        val e = node.get(i)
        out(i) =
          if (text && e.isNull) null
          else if (text && e.isTextual) UTF8String.fromString(e.textValue())
          else if (jsonb) jsonbOut(e)
          else UTF8String.fromString(e.toString)
        i += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(c: Expression): PgJsonArrayElements =
      copy(child = c)
  }

  /** JSON-quote a string (for aggregate key rendering). */
  def jsonQuote(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 2)
    escapeTo(sb, s)
    sb.toString
  }

  /** to_json / to_jsonb (anyelement): SQL NULL → SQL NULL (pg).
    * to_json renders compact (pg builds the text form directly);
    * to_jsonb re-serializes through the canonical jsonb form
    * (`{"a": 1}` spacing — sweep-28). A json-producing argument is
    * embedded as json, not re-quoted as a string (pg's json-argument
    * behavior; to_json returns it unchanged). */
  case class PgToJsonb(child: Expression, jsonb: Boolean = true)
      extends UnaryExpression with PgUnaryDirectGen {
    override def dataType: DataType = StringType
    override def prettyName: String = if (jsonb) "to_jsonb" else "to_json"

    override def checkInputDataTypes(): TypeCheckResult =
      if (supported(child.dataType)) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName: unsupported type ${child.dataType.simpleString}")

    @transient private lazy val childIsJson = producesJson(child)

    override def nullSafeEval(v: Any): Any =
      if (childIsJson) {
        val s = v.asInstanceOf[UTF8String]
        if (jsonb) jsonbOut(parseCached(s)) else s
      } else {
        val sb = new java.lang.StringBuilder(32)
        render(sb, v, child.dataType)
        if (jsonb) jsonbOut(parse(UTF8String.fromString(sb.toString)))
        else UTF8String.fromString(sb.toString)
      }

    override protected def withNewChildInternal(c: Expression): PgToJsonb = copy(child = c)
  }

  /** json_strip_nulls(json): remove null-valued OBJECT fields at every
    * depth; array nulls are kept (pg semantics). */
  case class PgJsonStripNulls(child: Expression, jsonb: Boolean = false)
      extends UnaryExpression with PgUnaryDirectGen {
    override def dataType: DataType = StringType
    override def prettyName: String = if (jsonb) "jsonb_strip_nulls" else "json_strip_nulls"

    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure("json_strip_nulls(json)")

    private def strip(node: JsonNode): Unit = node match {
      case o: ObjectNode =>
        val it = o.fields()
        val dead = new java.util.ArrayList[String]()
        while (it.hasNext) {
          val e = it.next()
          if (e.getValue.isNull) dead.add(e.getKey)
          else strip(e.getValue)
        }
        dead.forEach(k => { o.remove(k); () })
      case a: ArrayNode =>
        var i = 0
        while (i < a.size()) { strip(a.get(i)); i += 1 }
      case _ =>
    }

    override def nullSafeEval(v: Any): Any = {
      val node = parseCached(v.asInstanceOf[UTF8String]).deepCopy[JsonNode]()
      strip(node)
      // json variant re-serializes compact; jsonb renders canonical
      // (live-pg-pinned in CopyParity-style spacing sweeps)
      if (jsonb) jsonbOut(node) else UTF8String.fromString(node.toString)
    }

    override protected def withNewChildInternal(c: Expression): PgJsonStripNulls =
      copy(child = c)
  }

  /** pg jsonb containment (`@>`), from the documented §8.14.3 rules:
    * objects contain every RHS key with a containing value, arrays
    * contain every RHS element in some LHS element, scalars compare
    * equal — with pg's special exception that a top-level array
    * contains a top-level scalar. */
  /** jsonb equality: numbers compare numerically (pg jsonb: 1 = 1.0),
    * everything else by structural equality. */
  private def nodeEq(a: JsonNode, b: JsonNode): Boolean =
    if (a.isNumber && b.isNumber) a.decimalValue.compareTo(b.decimalValue) == 0
    else a == b

  private[functions] def jsonContains(h: JsonNode, n: JsonNode, top: Boolean): Boolean = {
    if (h.isObject && n.isObject) {
      val it = n.fields()
      var ok = true
      while (ok && it.hasNext) {
        val e = it.next()
        val hv = h.get(e.getKey)
        ok = hv != null && jsonContains(hv, e.getValue, top = false)
      }
      ok
    } else if (h.isArray && n.isArray) {
      var ok = true
      var i = 0
      while (ok && i < n.size()) {
        val e = n.get(i)
        var found = false
        var j = 0
        while (!found && j < h.size()) {
          val x = h.get(j)
          found =
            if (e.isObject || e.isArray) x.getNodeType == e.getNodeType &&
              jsonContains(x, e, top = false)
            else nodeEq(x, e)
          j += 1
        }
        ok = found
        i += 1
      }
      ok
    } else if (h.isArray && !n.isContainerNode && top) {
      // top-level special exception: array contains scalar
      var found = false
      var j = 0
      while (!found && j < h.size()) { found = nodeEq(h.get(j), n); j += 1 }
      found
    } else nodeEq(h, n)
  }

  /** pg_contains(l, r): pg's `@>` for BOTH meanings — anyarray @>
    * anyarray (every RHS element appears in LHS) and jsonb @> jsonb
    * (structural containment). The wire operator rewrite cannot see
    * types, so this expression dispatches on the analyzed input type. */
  case class PgContains(left: Expression, right: Expression)
      extends BinaryExpression with PgVariadicDirectGen {
    override def dataType: DataType = BooleanType
    override def prettyName: String = "pg_contains"

    override def evalVals(vs: Array[Any]): Any =
      if (vs(0) == null || vs(1) == null) null else nullSafeEval(vs(0), vs(1))

    override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
      case (ArrayType(a, _), ArrayType(b, _)) if a == b => TypeCheckResult.TypeCheckSuccess
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "pg_contains(anyarray, anyarray) or pg_contains(json, json)")
    }

    override def nullSafeEval(l: Any, r: Any): Any = left.dataType match {
      case ArrayType(et, _) =>
        val h = l.asInstanceOf[ArrayData]
        val n = r.asInstanceOf[ArrayData]
        var ok = true
        var i = 0
        while (ok && i < n.numElements()) {
          val e = if (n.isNullAt(i)) null else n.get(i, et)
          var found = false
          var j = 0
          while (!found && j < h.numElements()) {
            val x = if (h.isNullAt(j)) null else h.get(j, et)
            found = (x == null && e == null) || (x != null && x == e)
            j += 1
          }
          ok = found
          i += 1
        }
        ok
      case _ =>
        jsonContains(parseCached(l.asInstanceOf[UTF8String]),
          parse(r.asInstanceOf[UTF8String]), top = true)
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): PgContains =
      copy(left = l, right = r)
  }

  /** jsonb_exists(json, key) — pg's `?`: object has the key, array
    * has the string element, or a string scalar equals it. */
  case class PgJsonbExists(left: Expression, right: Expression)
      extends BinaryExpression with PgVariadicDirectGen {
    override def dataType: DataType = BooleanType
    override def prettyName: String = "jsonb_exists"

    override def evalVals(vs: Array[Any]): Any =
      if (vs(0) == null || vs(1) == null) null else nullSafeEval(vs(0), vs(1))

    override def checkInputDataTypes(): TypeCheckResult =
      if (left.dataType == StringType && right.dataType == StringType)
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure("jsonb_exists(json, text)")

    override def nullSafeEval(l: Any, r: Any): Any = {
      val node = parseCached(l.asInstanceOf[UTF8String])
      val key = r.asInstanceOf[UTF8String].toString
      if (node.isObject) node.has(key)
      else if (node.isArray) {
        var found = false
        var i = 0
        while (!found && i < node.size()) {
          found = node.get(i).isTextual && node.get(i).textValue() == key
          i += 1
        }
        found
      } else node.isTextual && node.textValue() == key
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): PgJsonbExists =
      copy(left = l, right = r)
  }

  /** jsonb_exists_any/all(json, text[]) — pg's `?|` / `?&`: ANY (resp.
    * ALL) of the key strings exists (same per-key semantics as `?`).
    * NULL elements in the key array never match (pg behavior).
    */
  case class PgJsonbExistsMulti(left: Expression, right: Expression, all: Boolean)
      extends BinaryExpression with PgVariadicDirectGen {
    override def dataType: DataType = BooleanType
    override def prettyName: String = if (all) "jsonb_exists_all" else "jsonb_exists_any"

    override def evalVals(vs: Array[Any]): Any =
      if (vs(0) == null || vs(1) == null) null else nullSafeEval(vs(0), vs(1))

    override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
      case (StringType, ArrayType(StringType, _)) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName(json, text[])")
    }

    private def hasKey(node: com.fasterxml.jackson.databind.JsonNode, key: String): Boolean =
      if (node.isObject) node.has(key)
      else if (node.isArray) {
        var found = false
        var i = 0
        while (!found && i < node.size()) {
          found = node.get(i).isTextual && node.get(i).textValue() == key
          i += 1
        }
        found
      } else node.isTextual && node.textValue() == key

    override def nullSafeEval(l: Any, r: Any): Any = {
      val node = parseCached(l.asInstanceOf[UTF8String])
      val keys = r.asInstanceOf[ArrayData]
      var i = 0
      var anyHit = false
      var allHit = true
      while (i < keys.numElements()) {
        val hit = !keys.isNullAt(i) && hasKey(node, keys.getUTF8String(i).toString)
        anyHit ||= hit
        allHit &&= hit
        i += 1
      }
      if (all) allHit else anyHit
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): PgJsonbExistsMulti =
      copy(left = l, right = r)
  }

  // ---- mutators (slice #2: set / insert / delete / concat / pretty) -----

  /** Accept a pg path argument as either text[] (ARRAY['a','0']) or a
    * pg array literal string ('{a,0}') — clients use both shapes with
    * the path-oriented functions and the `#-` operator. */
  private def pathOf(v: Any, dt: DataType): Array[String] = dt match {
    case ArrayType(StringType, _) =>
      val a = v.asInstanceOf[ArrayData]
      val out = new Array[String](a.numElements())
      var i = 0
      while (i < out.length) {
        out(i) = if (a.isNullAt(i)) null else a.getUTF8String(i).toString
        i += 1
      }
      out
    case StringType =>
      val s = v.asInstanceOf[UTF8String].toString.trim
      val body = s.stripPrefix("{").stripSuffix("}").trim
      if (body.isEmpty) Array.empty
      else body.split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
    case other => throw new IllegalArgumentException(
      s"json path must be text[] or a '{...}' literal, got ${other.simpleString}")
  }

  private def pathTypeOk(dt: DataType): Boolean = dt match {
    case ArrayType(StringType, _) | StringType => true
    case _ => false
  }

  /** Walk to the PARENT of the last path step. Returns null when an
    * intermediate step does not exist / is not a container — pg's
    * "all earlier steps in the path must exist, or the target is
    * returned unchanged". Negative array indices count from the end.
    * A NON-INTEGER step against an array is not a missing step: pg
    * raises "path element at position N is not an integer" (22P02)
    * for jsonb_set/_lax/insert/delete_path alike. */
  private def walkParent(root: JsonNode, path: Array[String]): JsonNode = {
    var node = root
    var i = 0
    while (i < path.length - 1) {
      if (node == null || path(i) == null) return null
      if (node.isObject) node = node.get(path(i))
      else if (node.isArray) {
        val idx =
          try path(i).trim.toInt
          catch {
            case _: NumberFormatException => throw new IllegalArgumentException(
              s"path element at position ${i + 1} is not an integer: " +
                "\"" + path(i) + "\"")
          }
        val k = if (idx < 0) node.size() + idx else idx
        node = if (k >= 0 && k < node.size()) node.get(k) else null
      } else return null
      i += 1
    }
    node
  }

  /** jsonb_set(target, path text[], new_value jsonb[, create bool]).
    * pg semantics: STRICT (SQL NULL in → SQL NULL out — the documented
    * jsonb_set footgun); scalar target errors; missing intermediate
    * steps return the target unchanged; with create_if_missing an
    * out-of-range positive index appends, negative prepends. */
  case class PgJsonbSet(children: Seq[Expression])
      extends Expression with PgVariadicDirectGen {
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    override def prettyName: String = "jsonb_set"

    override def checkInputDataTypes(): TypeCheckResult =
      if ((children.length == 3 || children.length == 4) &&
        children(0).dataType == StringType && pathTypeOk(children(1).dataType) &&
        children(2).dataType == StringType &&
        (children.length == 3 || children(3).dataType == BooleanType))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        "jsonb_set(jsonb, text[], jsonb[, boolean])")

    override def evalVals(vs: Array[Any]): Any = {
      if (vs.exists(_ == null)) return null
      val root = parseCached(vs(0).asInstanceOf[UTF8String]).deepCopy[JsonNode]()
      if (!root.isContainerNode) throw new IllegalArgumentException(
        "cannot set path in scalar")
      val path = pathOf(vs(1), children(1).dataType)
      if (path.isEmpty) return jsonbOut(root)
      val nv = parseCached(vs(2).asInstanceOf[UTF8String]).deepCopy[JsonNode]()
      val create = if (children.length == 4) vs(3).asInstanceOf[Boolean] else true
      val parent = walkParent(root, path)
      val last = path(path.length - 1)
      parent match {
        case o: ObjectNode if last != null =>
          if (o.has(last) || create) o.set(last, nv)
        case a: ArrayNode =>
          val idx = try last.trim.toInt catch {
            case _: NumberFormatException => throw new IllegalArgumentException(
              s"path element at position ${path.length} is not an integer: \"$last\"")
          }
          val k = if (idx < 0) a.size() + idx else idx
          if (k >= 0 && k < a.size()) a.set(k, nv)
          else if (create) { if (idx < 0) a.insert(0, nv) else a.add(nv) }
        case _ => // intermediate step missing → target unchanged
      }
      jsonbOut(root)
    }

    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): PgJsonbSet = copy(children = newChildren)
  }

  /** jsonb_set_lax: like jsonb_set but a SQL NULL new_value is handled
    * per null_value_treatment — 'use_json_null' (default) | 'delete_key'
    * | 'return_target' | 'raise_exception'. All pinned against pg 15.
    * Strict on every argument EXCEPT new_value. */
  case class PgJsonbSetLax(children: Seq[Expression])
      extends Expression with PgVariadicDirectGen {
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    override def prettyName: String = "jsonb_set_lax"

    override def checkInputDataTypes(): TypeCheckResult =
      if (children.length >= 3 && children.length <= 5 &&
        children(0).dataType == StringType && pathTypeOk(children(1).dataType) &&
        // a bare NULL new_value types as NullType — the whole point
        // of the _lax form
        (children(2).dataType == StringType || children(2).dataType == NullType) &&
        (children.length < 4 || children(3).dataType == BooleanType) &&
        (children.length < 5 || children(4).dataType == StringType))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        "jsonb_set_lax(jsonb, text[], jsonb[, boolean[, text]])")

    override def evalVals(vs: Array[Any]): Any = {
      // strict on all but new_value (index 2)
      if (vs.zipWithIndex.exists { case (v, i) => v == null && i != 2 }) return null
      val treatment =
        if (children.length == 5) vs(4).asInstanceOf[UTF8String].toString
        else "use_json_null"
      val create = if (children.length >= 4) vs(3).asInstanceOf[Boolean] else true
      val newValue: UTF8String =
        if (vs(2) != null) vs(2).asInstanceOf[UTF8String]
        else treatment match {
          case "use_json_null" => UTF8String.fromString("null")
          case "return_target" =>
            // jsonb output: the unchanged target still renders canonical
            return jsonbOut(parseCached(vs(0).asInstanceOf[UTF8String]))
          case "raise_exception" => throw new IllegalArgumentException(
            "JSON value must not be null")
          case "delete_key" =>
            // delegate to the path-delete semantics
            val root = parseCached(vs(0).asInstanceOf[UTF8String]).deepCopy[JsonNode]()
            if (!root.isContainerNode) throw new IllegalArgumentException(
              "cannot delete path in scalar")
            val path = pathOf(vs(1), children(1).dataType)
            if (path.isEmpty) return jsonbOut(root)
            val parent = walkParent(root, path)
            val last = path(path.length - 1)
            parent match {
              case o: ObjectNode => o.remove(last)
              case a: ArrayNode =>
                val idx = try last.trim.toInt catch {
                  case _: NumberFormatException => throw new IllegalArgumentException(
                    s"path element at position ${path.length} is not an integer: \"$last\"")
                }
                val k = if (idx < 0) a.size() + idx else idx
                if (k >= 0 && k < a.size()) a.remove(k)
              case _ =>
            }
            return jsonbOut(root)
          case other => throw new IllegalArgumentException(
            s"""null_value_treatment must be "delete_key", "return_target", """ +
              """"use_json_null", or "raise_exception"""")
        }
      // non-null (or use_json_null) → plain jsonb_set semantics
      val root = parseCached(vs(0).asInstanceOf[UTF8String]).deepCopy[JsonNode]()
      if (!root.isContainerNode) throw new IllegalArgumentException(
        "cannot set path in scalar")
      val path = pathOf(vs(1), children(1).dataType)
      if (path.isEmpty) return jsonbOut(root)
      val nv = parseCached(newValue).deepCopy[JsonNode]()
      val parent = walkParent(root, path)
      val last = path(path.length - 1)
      parent match {
        case o: ObjectNode if last != null =>
          if (o.has(last) || create) o.set(last, nv)
        case a: ArrayNode =>
          val idx = try last.trim.toInt catch {
            case _: NumberFormatException => throw new IllegalArgumentException(
              s"path element at position ${path.length} is not an integer: \"$last\"")
          }
          val k = if (idx < 0) a.size() + idx else idx
          if (k >= 0 && k < a.size()) a.set(k, nv)
          else if (create) { if (idx < 0) a.insert(0, nv) else a.add(nv) }
        case _ =>
      }
      jsonbOut(root)
    }

    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): PgJsonbSetLax = copy(children = newChildren)
  }

  /** array_to_json(anyarray[, pretty]) — pg renders the array as json;
    * pretty=true joins TOP-LEVEL elements with ",\n " (pinned). */
  case class PgArrayToJson(children: Seq[Expression])
      extends Expression with PgVariadicDirectGen {
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    override def prettyName: String = "array_to_json"

    override def checkInputDataTypes(): TypeCheckResult =
      if ((children.length == 1 || children.length == 2) &&
        children(0).dataType.isInstanceOf[ArrayType] &&
        supported(children(0).dataType) &&
        (children.length == 1 || children(1).dataType == BooleanType))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure("array_to_json(anyarray[, boolean])")

    override def evalVals(vs: Array[Any]): Any = {
      if (vs.exists(_ == null)) return null
      val arr = vs(0).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val et = children(0).dataType.asInstanceOf[ArrayType].elementType
      val pretty = children.length == 2 && vs(1).asInstanceOf[Boolean]
      val sb = new java.lang.StringBuilder(32)
      if (!pretty) render(sb, arr, children(0).dataType)
      else {
        sb.append('[')
        var i = 0
        while (i < arr.numElements()) {
          if (i > 0) sb.append(",\n ")
          if (arr.isNullAt(i)) sb.append("null")
          else render(sb, arr.get(i, et), et)
          i += 1
        }
        sb.append(']')
      }
      UTF8String.fromString(sb.toString)
    }

    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): PgArrayToJson = copy(children = newChildren)
  }

  /** jsonb_insert(target, path, new_value[, insert_after]) — array
    * element: insert before (after if flag); object: only a NEW key
    * ("cannot replace existing key"). STRICT like jsonb_set. */
  case class PgJsonbInsert(children: Seq[Expression])
      extends Expression with PgVariadicDirectGen {
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    override def prettyName: String = "jsonb_insert"

    override def checkInputDataTypes(): TypeCheckResult =
      if ((children.length == 3 || children.length == 4) &&
        children(0).dataType == StringType && pathTypeOk(children(1).dataType) &&
        children(2).dataType == StringType &&
        (children.length == 3 || children(3).dataType == BooleanType))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        "jsonb_insert(jsonb, text[], jsonb[, boolean])")

    override def evalVals(vs: Array[Any]): Any = {
      if (vs.exists(_ == null)) return null
      val root = parseCached(vs(0).asInstanceOf[UTF8String]).deepCopy[JsonNode]()
      if (!root.isContainerNode) throw new IllegalArgumentException(
        "cannot set path in scalar")
      val path = pathOf(vs(1), children(1).dataType)
      if (path.isEmpty) return jsonbOut(root)
      val nv = parseCached(vs(2).asInstanceOf[UTF8String]).deepCopy[JsonNode]()
      val after = if (children.length == 4) vs(3).asInstanceOf[Boolean] else false
      val parent = walkParent(root, path)
      val last = path(path.length - 1)
      parent match {
        case o: ObjectNode if last != null =>
          if (o.has(last)) throw new IllegalArgumentException(
            "cannot replace existing key")
          o.set(last, nv)
        case a: ArrayNode =>
          val idx = try last.trim.toInt catch {
            case _: NumberFormatException => throw new IllegalArgumentException(
              s"path element at position ${path.length} is not an integer: \"$last\"")
          }
          val k0 = if (idx < 0) a.size() + idx else idx
          val k = math.max(0, math.min(a.size(), if (after) k0 + 1 else k0))
          a.insert(k, nv)
        case _ => // intermediate step missing → target unchanged
      }
      jsonbOut(root)
    }

    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): PgJsonbInsert = copy(children = newChildren)
  }

  /** jsonb_delete(target, key|index) — pg's `-` operator: text deletes
    * an object key or ALL equal string array elements; integer deletes
    * the array element at that index (negative from the end,
    * out-of-range is a no-op). Deleting from a scalar errors; integer
    * delete from an object errors (pg messages). */
  case class PgJsonbDelete(left: Expression, right: Expression)
      extends BinaryExpression with PgBinaryDirectGen {
    override def dataType: DataType = StringType
    override def prettyName: String = "jsonb_delete"

    private def intRight: Boolean = right.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }

    private def arrRight: Boolean = right.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    }

    override def checkInputDataTypes(): TypeCheckResult =
      if (left.dataType == StringType &&
        (right.dataType == StringType || intRight || arrRight))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure("jsonb_delete(jsonb, text|integer|text[])")

    override def nullSafeEval(l: Any, r: Any): Any = {
      val root = parseCached(l.asInstanceOf[UTF8String]).deepCopy[JsonNode]()
      if (!root.isContainerNode) throw new IllegalArgumentException(
        "cannot delete from scalar")
      if (arrRight) {
        // jsonb - text[]: delete every listed key (objects) / element
        // (string arrays) left-to-right
        val keys = r.asInstanceOf[ArrayData]
        var ki = 0
        while (ki < keys.numElements()) {
          if (!keys.isNullAt(ki)) {
            val key = keys.getUTF8String(ki).toString
            root match {
              case o: ObjectNode => o.remove(key)
              case a: ArrayNode =>
                var i = a.size() - 1
                while (i >= 0) {
                  if (a.get(i).isTextual && a.get(i).textValue() == key) a.remove(i)
                  i -= 1
                }
              case _ =>
            }
          }
          ki += 1
        }
        return jsonbOut(root)
      }
      if (intRight) {
        if (!root.isArray) throw new IllegalArgumentException(
          "cannot delete from object using integer index")
        val a = root.asInstanceOf[ArrayNode]
        val idx = r.asInstanceOf[Number].intValue()
        val k = if (idx < 0) a.size() + idx else idx
        if (k >= 0 && k < a.size()) a.remove(k)
      } else {
        val key = r.asInstanceOf[UTF8String].toString
        root match {
          case o: ObjectNode => o.remove(key)
          case a: ArrayNode =>
            var i = a.size() - 1
            while (i >= 0) {
              if (a.get(i).isTextual && a.get(i).textValue() == key) a.remove(i)
              i -= 1
            }
          case _ =>
        }
      }
      jsonbOut(root)
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): PgJsonbDelete =
      copy(left = l, right = r)
  }

  /** jsonb_delete_path(target, path text[]) — pg's `#-`. Missing paths
    * are a no-op; scalar target errors. */
  case class PgJsonbDeletePath(left: Expression, right: Expression)
      extends BinaryExpression with PgBinaryDirectGen {
    override def dataType: DataType = StringType
    override def prettyName: String = "jsonb_delete_path"

    override def checkInputDataTypes(): TypeCheckResult =
      if (left.dataType == StringType && pathTypeOk(right.dataType))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure("jsonb_delete_path(jsonb, text[])")

    override def nullSafeEval(l: Any, r: Any): Any = {
      val root = parseCached(l.asInstanceOf[UTF8String]).deepCopy[JsonNode]()
      if (!root.isContainerNode) throw new IllegalArgumentException(
        "cannot delete path in scalar")
      val path = pathOf(r, right.dataType)
      if (path.isEmpty) return jsonbOut(root)
      val parent = walkParent(root, path)
      val last = path(path.length - 1)
      parent match {
        case o: ObjectNode if last != null => o.remove(last)
        case a: ArrayNode =>
          val idx = try last.trim.toInt catch {
            case _: NumberFormatException => throw new IllegalArgumentException(
              s"path element at position ${path.length} is not an integer: \"$last\"")
          }
          val k = if (idx < 0) a.size() + idx else idx
          if (k >= 0 && k < a.size()) a.remove(k)
        case _ =>
      }
      jsonbOut(root)
    }

    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): PgJsonbDeletePath = copy(left = l, right = r)
  }

  /** jsonb_concat(a, b) — pg's jsonb `||`: object+object merges (RHS
    * wins per key), array+array concatenates, and any non-array side
    * of a mixed pair is wrapped as a single-element array (pg §9.45). */
  case class PgJsonbConcat(left: Expression, right: Expression)
      extends BinaryExpression with PgBinaryDirectGen {
    override def dataType: DataType = StringType
    override def prettyName: String = "jsonb_concat"

    override def checkInputDataTypes(): TypeCheckResult =
      if (left.dataType == StringType && right.dataType == StringType)
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure("jsonb_concat(jsonb, jsonb)")

    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = parseCached(l.asInstanceOf[UTF8String])
      val b = parse(r.asInstanceOf[UTF8String])
      val out: JsonNode =
        if (a.isObject && b.isObject) {
          val o = a.deepCopy[ObjectNode]()
          o.setAll(b.asInstanceOf[ObjectNode])
          o
        } else {
          val arr = mapper.createArrayNode()
          if (a.isArray) arr.addAll(a.asInstanceOf[ArrayNode]) else arr.add(a)
          if (b.isArray) arr.addAll(b.asInstanceOf[ArrayNode]) else arr.add(b)
          arr
        }
      jsonbOut(out)
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): PgJsonbConcat =
      copy(left = l, right = r)
  }

  /** jsonb_pretty(jsonb) — pg's printer: 4-space indent, `"key": v`,
    * every container's closing bracket on its own line at the parent
    * indent (so an empty object prints as `{\n}` — pg behavior). */
  case class PgJsonbPretty(child: Expression)
      extends UnaryExpression with PgUnaryDirectGen {
    override def dataType: DataType = StringType
    override def prettyName: String = "jsonb_pretty"

    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure("jsonb_pretty(jsonb)")

    private def indent(sb: java.lang.StringBuilder, level: Int): Unit = {
      sb.append('\n')
      var i = 0
      while (i < level * 4) { sb.append(' '); i += 1 }
    }

    private def pp(sb: java.lang.StringBuilder, node: JsonNode, level: Int): Unit = {
      if (node.isObject) {
        sb.append('{')
        val it = node.fields()
        var first = true
        while (it.hasNext) {
          val e = it.next()
          if (!first) sb.append(',')
          first = false
          indent(sb, level + 1)
          escapeTo(sb, e.getKey)
          sb.append(": ")
          pp(sb, e.getValue, level + 1)
        }
        indent(sb, level)
        sb.append('}')
      } else if (node.isArray) {
        sb.append('[')
        var i = 0
        while (i < node.size()) {
          if (i > 0) sb.append(',')
          indent(sb, level + 1)
          pp(sb, node.get(i), level + 1)
          i += 1
        }
        indent(sb, level)
        sb.append(']')
      } else sb.append(node.toString)
    }

    override def nullSafeEval(v: Any): Any = {
      val sb = new java.lang.StringBuilder(64)
      pp(sb, parseCached(v.asInstanceOf[UTF8String]), 0)
      UTF8String.fromString(sb.toString)
    }

    override protected def withNewChildInternal(c: Expression): PgJsonbPretty = copy(child = c)
  }

  /** json_each[_text](json) → array<struct<key,value>>; the pg
    * original is set-returning with columns (key, value) — Compat
    * rewrites the call to inline(json_each(x)). Non-objects error
    * (pg: "cannot deconstruct a scalar / an array"). */
  case class PgJsonEach(child: Expression, text: Boolean,
      jsonb: Boolean = false)
      extends UnaryExpression with PgUnaryDirectGen {
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("key", StringType, nullable = false),
      StructField("value", StringType, nullable = true))), containsNull = false)
    override def prettyName: String = (if (jsonb) "jsonb" else "json") +
      (if (text) "_each_text" else "_each")

    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(s"$prettyName(json)")

    override def nullSafeEval(v: Any): Any = {
      val node = parseCached(v.asInstanceOf[UTF8String])
      if (!node.isObject) throw new IllegalArgumentException(
        if (node.isArray) "cannot deconstruct an array as an object"
        else "cannot deconstruct a scalar")
      val out = new Array[Any](node.size())
      val it = node.fields()
      var i = 0
      while (it.hasNext) {
        val e = it.next()
        val value =
          if (text && e.getValue.isNull) null
          else if (text && e.getValue.isTextual) UTF8String.fromString(e.getValue.textValue())
          else if (jsonb) jsonbOut(e.getValue)
          else UTF8String.fromString(e.getValue.toString)
        out(i) = org.apache.spark.sql.catalyst.InternalRow(
          UTF8String.fromString(e.getKey), value)
        i += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(c: Expression): PgJsonEach = copy(child = c)
  }

  /** json_object(text[]) / json_object(keys text[], values text[]) —
    * build an object of string values from a flat k,v,k,v array, an
    * array of [k,v] pairs, or two parallel arrays. Null keys error
    * (pg); null values render as JSON null. */
  case class PgJsonObject(children: Seq[Expression], jsonb: Boolean = false)
      extends Expression with PgVariadicDirectGen {
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    override def prettyName: String = if (jsonb) "jsonb_object" else "json_object"

    private def flatStringArray(dt: DataType): Boolean = dt match {
      case ArrayType(StringType, _) => true
      case _ => false
    }
    private def pairArray(dt: DataType): Boolean = dt match {
      case ArrayType(ArrayType(StringType, _), _) => true
      case _ => false
    }

    override def checkInputDataTypes(): TypeCheckResult = children.map(_.dataType) match {
      case Seq(dt) if flatStringArray(dt) || pairArray(dt) => TypeCheckResult.TypeCheckSuccess
      case Seq(StringType) => TypeCheckResult.TypeCheckSuccess // pg array literal text
      case Seq(a, b) if flatStringArray(a) && flatStringArray(b) =>
        TypeCheckResult.TypeCheckSuccess
      case Seq(StringType, StringType) => // two pg array literals
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "json_object(text[]) or json_object(text[], text[])")
    }

    /** Split a pg array-literal body on depth-0 commas (quotes and
      * nested braces respected). */
    private def splitTop(body: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer[String]()
      val cur = new java.lang.StringBuilder
      var depth = 0
      var inQ = false
      var i = 0
      while (i < body.length) {
        val c = body.charAt(i)
        if (inQ) {
          if (c == '\\' && i + 1 < body.length) { cur.append(c).append(body.charAt(i + 1)); i += 1 }
          else { if (c == '"') inQ = false; cur.append(c) }
        } else c match {
          case '"' => inQ = true; cur.append(c)
          case '{' => depth += 1; cur.append(c)
          case '}' => depth -= 1; cur.append(c)
          case ',' if depth == 0 => out += cur.toString; cur.setLength(0)
          case _ => cur.append(c)
        }
        i += 1
      }
      if (cur.length > 0 || out.nonEmpty) out += cur.toString
      out.toSeq
    }

    /** Un-quote one pg array-literal element; bare NULL is null. */
    private def unq(e0: String): String = {
      val e = e0.trim
      if (e.startsWith("\"") && e.endsWith("\"") && e.length >= 2) {
        val sb = new java.lang.StringBuilder
        var i = 1
        while (i < e.length - 1) {
          val c = e.charAt(i)
          if (c == '\\' && i + 1 < e.length - 1) { sb.append(e.charAt(i + 1)); i += 1 }
          else sb.append(c)
          i += 1
        }
        sb.toString
      } else if (e.equalsIgnoreCase("null")) null
      else e
    }

    private def strAt(a: ArrayData, i: Int): String =
      if (a.isNullAt(i)) null else a.getUTF8String(i).toString

    override def evalVals(vs: Array[Any]): Any = {
      if (vs.exists(_ == null)) return null
      val o = mapper.createObjectNode()
      def put(k: String, v: String): Unit = {
        if (k == null) throw new IllegalArgumentException(
          "null value not allowed for object key")
        if (v == null) o.putNull(k) else o.put(k, v)
      }
      def litElems(v: Any): Seq[String] = {
        val raw = v.asInstanceOf[UTF8String].toString.trim
        if (!(raw.startsWith("{") && raw.endsWith("}")))
          throw new IllegalArgumentException(
            "malformed array literal: \"" + raw + "\"")
        val body = raw.substring(1, raw.length - 1).trim
        if (body.isEmpty) Nil else splitTop(body).map(unq)
      }
      if (children.length == 2 &&
        children.forall(_.dataType == StringType)) {
        // json_object('{a,b}', '{1,2}') — both pg array literals
        val ks = litElems(vs(0)); val us = litElems(vs(1))
        if (ks.length != us.length) throw new IllegalArgumentException(
          "mismatched array dimensions")
        ks.zip(us).foreach { case (k, u) => put(k, u) }
      } else if (children.length == 2) {
        val ks = vs(0).asInstanceOf[ArrayData]
        val us = vs(1).asInstanceOf[ArrayData]
        if (ks.numElements() != us.numElements()) throw new IllegalArgumentException(
          "mismatched array dimensions")
        var i = 0
        while (i < ks.numElements()) { put(strAt(ks, i), strAt(us, i)); i += 1 }
      } else children.head.dataType match {
        case StringType =>
          // pg array literal text: '{a,1,b,2}' (flat) or
          // '{{a,1},{b,2}}' (pairs) — the json_object(text) call shape
          val raw = vs(0).asInstanceOf[UTF8String].toString.trim
          if (!(raw.startsWith("{") && raw.endsWith("}")))
            throw new IllegalArgumentException(
              "malformed array literal: \"" + raw + "\"")
          val body = raw.substring(1, raw.length - 1).trim
          if (body.isEmpty) ()
          else {
            val els = splitTop(body)
            if (els.forall(_.trim.startsWith("{"))) {
              els.foreach { e0 =>
                val e = e0.trim
                if (!e.endsWith("}")) throw new IllegalArgumentException(
                  "malformed array literal: \"" + raw + "\"")
                val pair = splitTop(e.substring(1, e.length - 1))
                if (pair.length != 2) throw new IllegalArgumentException(
                  "array must have two columns")
                put(unq(pair(0)), unq(pair(1)))
              }
            } else {
              if (els.length % 2 != 0) throw new IllegalArgumentException(
                "array must have even number of elements")
              var i = 0
              while (i < els.length) { put(unq(els(i)), unq(els(i + 1))); i += 2 }
            }
          }
        case ArrayType(StringType, _) =>
          val a = vs(0).asInstanceOf[ArrayData]
          if (a.numElements() % 2 != 0) throw new IllegalArgumentException(
            "array must have even number of elements")
          var i = 0
          while (i < a.numElements()) { put(strAt(a, i), strAt(a, i + 1)); i += 2 }
        case _ =>
          val a = vs(0).asInstanceOf[ArrayData]
          var i = 0
          while (i < a.numElements()) {
            if (a.isNullAt(i)) throw new IllegalArgumentException(
              "null value not allowed for object key")
            val pair = a.getArray(i)
            if (pair.numElements() != 2) throw new IllegalArgumentException(
              "array must have two columns")
            put(strAt(pair, 0), strAt(pair, 1))
            i += 1
          }
      }
      if (jsonb) jsonbOut(o)
      else {
        // pg json_object spacing: `{"k" : "v", ...}` (space around
        // the colon — live-pinned, sweep-28), insertion order kept
        val sb = new java.lang.StringBuilder
        sb.append('{')
        val it = o.properties().iterator()
        var first = true
        while (it.hasNext) {
          val e = it.next()
          if (!first) sb.append(", ")
          first = false
          escapeTo(sb, e.getKey)
          sb.append(" : ").append(e.getValue.toString)
        }
        sb.append('}')
        UTF8String.fromString(sb.toString)
      }
    }

    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): PgJsonObject = copy(children = newChildren)
  }

  // ---- registration ------------------------------------------------------

  private def info(name: String): ExpressionInfo =
    new ExpressionInfo(PgJsonExpressions.getClass.getName, name)

  val descriptions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("json_build_object"), info("json_build_object"),
      (args: Seq[Expression]) => PgJsonBuildObject(args)),
    (FunctionIdentifier("jsonb_build_object"), info("jsonb_build_object"),
      (args: Seq[Expression]) => PgJsonBuildObject(args, jsonb = true)),
    (FunctionIdentifier("json_build_array"), info("json_build_array"),
      (args: Seq[Expression]) => PgJsonBuildArray(args)),
    (FunctionIdentifier("jsonb_build_array"), info("jsonb_build_array"),
      (args: Seq[Expression]) => PgJsonBuildArray(args, jsonb = true)),
    (FunctionIdentifier("row_to_json"), info("row_to_json"),
      (args: Seq[Expression]) => { require(args.length == 1); PgRowToJson(args.head) }),
    (FunctionIdentifier("json_extract_path"), info("json_extract_path"),
      (args: Seq[Expression]) => PgJsonExtractPath(args, text = false)),
    (FunctionIdentifier("jsonb_extract_path"), info("jsonb_extract_path"),
      (args: Seq[Expression]) => PgJsonExtractPath(args, text = false, jsonb = true)),
    (FunctionIdentifier("json_extract_path_text"), info("json_extract_path_text"),
      (args: Seq[Expression]) => PgJsonExtractPath(args, text = true)),
    (FunctionIdentifier("jsonb_extract_path_text"), info("jsonb_extract_path_text"),
      (args: Seq[Expression]) => PgJsonExtractPath(args, text = true, jsonb = true)),
    (FunctionIdentifier("json_typeof"), info("json_typeof"),
      (args: Seq[Expression]) => { require(args.length == 1); PgJsonTypeof(args.head) }),
    (FunctionIdentifier("jsonb_typeof"), info("jsonb_typeof"),
      (args: Seq[Expression]) => { require(args.length == 1); PgJsonTypeof(args.head) }),
    (FunctionIdentifier("json_array_elements"), info("json_array_elements"),
      (args: Seq[Expression]) => { require(args.length == 1)
        PgJsonArrayElements(args.head, text = false) }),
    (FunctionIdentifier("json_array_elements_text"), info("json_array_elements_text"),
      (args: Seq[Expression]) => { require(args.length == 1)
        PgJsonArrayElements(args.head, text = true) }),
    (FunctionIdentifier("jsonb_array_elements"), info("jsonb_array_elements"),
      (args: Seq[Expression]) => { require(args.length == 1)
        PgJsonArrayElements(args.head, text = false, jsonb = true) }),
    (FunctionIdentifier("jsonb_array_elements_text"), info("jsonb_array_elements_text"),
      (args: Seq[Expression]) => { require(args.length == 1)
        PgJsonArrayElements(args.head, text = true, jsonb = true) }),
    (FunctionIdentifier("pg_contains"), info("pg_contains"),
      (args: Seq[Expression]) => { require(args.length == 2); PgContains(args(0), args(1)) }),
    (FunctionIdentifier("jsonb_contains"), info("jsonb_contains"),
      (args: Seq[Expression]) => { require(args.length == 2); PgContains(args(0), args(1)) }),
    (FunctionIdentifier("pg_contained"), info("pg_contained"),
      (args: Seq[Expression]) => { require(args.length == 2); PgContains(args(1), args(0)) }),
    (FunctionIdentifier("jsonb_exists"), info("jsonb_exists"),
      (args: Seq[Expression]) => { require(args.length == 2); PgJsonbExists(args(0), args(1)) }),
    (FunctionIdentifier("jsonb_exists_any"), info("jsonb_exists_any"),
      (args: Seq[Expression]) => { require(args.length == 2)
        PgJsonbExistsMulti(args(0), args(1), all = false) }),
    (FunctionIdentifier("jsonb_exists_all"), info("jsonb_exists_all"),
      (args: Seq[Expression]) => { require(args.length == 2)
        PgJsonbExistsMulti(args(0), args(1), all = true) }),
    (FunctionIdentifier("to_jsonb"), info("to_jsonb"),
      (args: Seq[Expression]) => { require(args.length == 1); PgToJsonb(args.head) }),
    // pg to_json: compact rendering (pg builds json text directly,
    // jsonb re-serializes canonically). Shadows Spark's struct-only
    // to_json so scalar arguments work like pg; no engine-side SQL
    // relies on the built-in.
    (FunctionIdentifier("to_json"), info("to_json"),
      (args: Seq[Expression]) => { require(args.length == 1)
        PgToJsonb(args.head, jsonb = false) }),
    (FunctionIdentifier("json_strip_nulls"), info("json_strip_nulls"),
      (args: Seq[Expression]) => { require(args.length == 1); PgJsonStripNulls(args.head) }),
    (FunctionIdentifier("jsonb_strip_nulls"), info("jsonb_strip_nulls"),
      (args: Seq[Expression]) => { require(args.length == 1); PgJsonStripNulls(args.head, jsonb = true) }),
    (FunctionIdentifier("jsonb_set"), info("jsonb_set"),
      (args: Seq[Expression]) => PgJsonbSet(args)),
    (FunctionIdentifier("jsonb_set_lax"), info("jsonb_set_lax"),
      (args: Seq[Expression]) => PgJsonbSetLax(args)),
    (FunctionIdentifier("array_to_json"), info("array_to_json"),
      (args: Seq[Expression]) => PgArrayToJson(args)),
    (FunctionIdentifier("jsonb_insert"), info("jsonb_insert"),
      (args: Seq[Expression]) => PgJsonbInsert(args)),
    (FunctionIdentifier("jsonb_delete"), info("jsonb_delete"),
      (args: Seq[Expression]) => { require(args.length == 2); PgJsonbDelete(args(0), args(1)) }),
    (FunctionIdentifier("jsonb_delete_path"), info("jsonb_delete_path"),
      (args: Seq[Expression]) => { require(args.length == 2)
        PgJsonbDeletePath(args(0), args(1)) }),
    (FunctionIdentifier("jsonb_concat"), info("jsonb_concat"),
      (args: Seq[Expression]) => { require(args.length == 2); PgJsonbConcat(args(0), args(1)) }),
    (FunctionIdentifier("jsonb_pretty"), info("jsonb_pretty"),
      (args: Seq[Expression]) => { require(args.length == 1); PgJsonbPretty(args.head) }),
    (FunctionIdentifier("json_each"), info("json_each"),
      (args: Seq[Expression]) => { require(args.length == 1)
        PgJsonEach(args.head, text = false) }),
    (FunctionIdentifier("json_each_text"), info("json_each_text"),
      (args: Seq[Expression]) => { require(args.length == 1)
        PgJsonEach(args.head, text = true) }),
    (FunctionIdentifier("jsonb_each"), info("jsonb_each"),
      (args: Seq[Expression]) => { require(args.length == 1)
        PgJsonEach(args.head, text = false, jsonb = true) }),
    (FunctionIdentifier("jsonb_each_text"), info("jsonb_each_text"),
      (args: Seq[Expression]) => { require(args.length == 1)
        PgJsonEach(args.head, text = true, jsonb = true) }),
    (FunctionIdentifier("json_object"), info("json_object"),
      (args: Seq[Expression]) => PgJsonObject(args)),
    (FunctionIdentifier("jsonb_object"), info("jsonb_object"),
      (args: Seq[Expression]) => PgJsonObject(args, jsonb = true)),
    (FunctionIdentifier("pg_jsonb"), info("pg_jsonb"),
      (args: Seq[Expression]) => { require(args.length == 1)
        PgJsonbNormalize(args.head) }),
    (FunctionIdentifier("pg_json"), info("pg_json"),
      (args: Seq[Expression]) => { require(args.length == 1)
        PgJsonPreserve(args.head) }))
  // json_array_length and json_object_keys are Spark builtins with the
  // same names and compatible semantics — not re-registered here.

  def install(spark: SparkSession): Unit = {
    val reg: FunctionRegistry = spark.sessionState.functionRegistry
    descriptions.foreach { case (ident, i, builder) =>
      reg.registerFunction(ident, i, builder)
    }
  }
}
