package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, TypeCheckResult}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{BoolAnd, VarianceSamp}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Round-7 slice #2 of the reference's functions.md roadmap: type
  * introspection (`pg_typeof`), the type-generic array P2 rows
  * (`array_fill`, `trim_array`) and the P1 aggregate aliases
  * (`every`, `variance`, `gen_random_uuid`). Native expressions where
  * a ScalaUDF can't express the semantics (any-type children, result
  * type derived from an argument, aggregate aliasing).
  */
object PgMiscExpressions {

  /** pg_typeof(any) → regtype name. The value never matters — the
    * type is a plan-time property — so this is foldable-free constant
    * work per row with zero input evaluation. On the wire the analyzer
    * rule (`PgSemantics`) fills `pgName` from the analyzed plan, where
    * family types (enum, bit, time, ranges, …) are still visible;
    * elsewhere the Spark type's pg name answers. */
  case class PgTypeOf(child: Expression, pgName: Option[String] = None)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def nullable: Boolean = false
    override def prettyName: String = "pg_typeof"
    override def checkInputDataTypes(): TypeCheckResult = TypeCheckResult.TypeCheckSuccess

    @transient private lazy val name: UTF8String = UTF8String.fromString(pgName.getOrElse(
      graft.pgwire.PgFunctions.formatType(graft.pgwire.PgType.oidOf(child.dataType), -1)))

    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = name

    override protected def withNewChildInternal(c: Expression): PgTypeOf = copy(child = c)
  }

  /** pg text output of an array/record value: `ARRAY[1,2]::text` is
    * '{1,2}' with pg element-quoting and `ROW(1,'x')::text` is
    * '(1,x)' — not Spark's '[1, 2]'/'{1, x}' cast rendering. Reuses
    * the wire TextEncoder so one rendering engine serves the cast
    * path and the DataRow path identically (bool elements t/f,
    * nested braces, NULL spelling, quote-when-needed). Installed by
    * PgSemantics on Cast(array|struct → string); sweep-27. */
  case class PgCompositeText(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def prettyName: String = "pg_composite_text"
    @transient private lazy val toScala =
      org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToScalaConverter(child.dataType)
    @transient private lazy val field = StructField("c", child.dataType)
    override protected def nullSafeEval(input: Any): Any =
      graft.pgwire.TextEncoder.encodeField(toScala(input), field)
        .map(UTF8String.fromString).orNull
    override protected def withNewChildInternal(c: Expression): PgCompositeText =
      copy(child = c)
  }

  /** pg array_fill(elem, ARRAY[n]) — 1-D form. The multidimensional
    * form raises 0A000 like the engine's other flat-array limits
    * (param codec parity: reference arrays are flat lists too). */
  case class PgArrayFill(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(left.dataType, containsNull = true)
    override def prettyName: String = "array_fill"

    override def checkInputDataTypes(): TypeCheckResult = right.dataType match {
      case ArrayType(IntegerType | LongType | ShortType | ByteType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure("array_fill(anyelement, int[])")
    }

    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val dims = right.eval(input)
      if (dims == null) return null
      val arr = dims.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      if (arr.numElements() != 1) throw new UnsupportedOperationException(
        "array_fill: only 1-dimensional arrays are supported (0A000)")
      val n = arr.getInt(0)
      if (n < 0) throw new IllegalArgumentException("array_fill: negative dimension")
      val v = left.eval(input)
      new GenericArrayData(Array.fill[Any](n)(v))
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): PgArrayFill =
      copy(left = l, right = r)
  }

  /** pg trim_array(array, n): array minus its last n elements; errors
    * when n is negative or exceeds cardinality (pg 2202E). */
  case class PgTrimArray(left: Expression, right: Expression)
      extends BinaryExpression with PgBinaryDirectGen {
    override def dataType: DataType = left.dataType
    override def prettyName: String = "trim_array"

    override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
      case (_: ArrayType, IntegerType | LongType | ShortType | ByteType) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure("trim_array(anyarray, int)")
    }

    override def nullSafeEval(a: Any, nRaw: Any): Any = {
      val arr = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val n = nRaw.asInstanceOf[Int]
      val len = arr.numElements()
      if (n < 0 || n > len) throw new IllegalArgumentException(
        s"trim_array: number of elements to trim ($n) out of range [0, $len] (2202E)")
      val et = left.dataType.asInstanceOf[ArrayType].elementType
      new GenericArrayData((0 until len - n).map(i => arr.get(i, et)).toArray)
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): PgTrimArray =
      copy(left = l, right = r)
  }

  /** generate_subscripts(arr, dim[, reverse]) → int[] of 1-based
    * subscripts for `dim` (the pg original is set-returning — Compat
    * wraps the call in explode, same as json_array_elements). dim > 1
    * descends into nested arrays, using the first element per pg's
    * rectangularity contract; NULL/absent dims yield an empty set. */
  case class PgGenerateSubscripts(children: Seq[Expression])
      extends Expression with CodegenFallback {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullable: Boolean = false
    override def prettyName: String = "generate_subscripts"

    override def checkInputDataTypes(): TypeCheckResult = {
      if (children.length < 2 || children.length > 3)
        return TypeCheckResult.TypeCheckFailure(
          "generate_subscripts(anyarray, int[, bool])")
      children.head.dataType match {
        case _: ArrayType =>
        case _ => return TypeCheckResult.TypeCheckFailure(
          "generate_subscripts: first argument must be an array")
      }
      if (children(1).dataType != IntegerType)
        TypeCheckResult.TypeCheckFailure("generate_subscripts: dim must be int")
      else if (children.length == 3 && children(2).dataType != BooleanType)
        TypeCheckResult.TypeCheckFailure("generate_subscripts: reverse must be bool")
      else TypeCheckResult.TypeCheckSuccess
    }

    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val arr0 = children.head.eval(input)
      val dim0 = children(1).eval(input)
      if (arr0 == null || dim0 == null) return new GenericArrayData(Array.empty[Any])
      val rev = children.length == 3 && {
        val r = children(2).eval(input)
        r != null && r.asInstanceOf[Boolean]
      }
      var dt = children.head.dataType
      var arr = arr0.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      var level = dim0.asInstanceOf[Int]
      while (level > 1) {
        dt match {
          case ArrayType(inner: ArrayType, _) if arr.numElements() > 0 && !arr.isNullAt(0) =>
            arr = arr.getArray(0); dt = inner
          case _ => return new GenericArrayData(Array.empty[Any])
        }
        level -= 1
      }
      val n = arr.numElements()
      val out = new Array[Any](n)
      var i = 0
      while (i < n) { out(i) = if (rev) n - i else i + 1; i += 1 }
      new GenericArrayData(out)
    }

    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): PgGenerateSubscripts =
      copy(children = newChildren)
  }

  /** pg 16 `array_sample(arr, n)` — n distinct elements in random
    * order (partial Fisher–Yates). Errors when n is outside
    * [0, length] (pg message). Volatile, like pg. */
  case class PgArraySample(left: Expression, right: Expression)
      extends BinaryExpression with Nondeterministic with CodegenFallback {
    override def dataType: DataType = left.dataType
    override def prettyName: String = "array_sample"

    @transient private var rng: java.util.Random = _
    override protected def initializeInternal(partitionIndex: Int): Unit =
      rng = new java.util.Random(
        scala.util.hashing.byteswap64(partitionIndex + 982451653L))

    override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
      case (_: ArrayType, IntegerType | LongType | ShortType | ByteType) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure("array_sample(anyarray, integer)")
    }

    override protected def evalInternal(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val l = left.eval(input)
      val r = right.eval(input)
      if (l == null || r == null) return null
      val et = left.dataType.asInstanceOf[ArrayType].elementType
      val arr = l.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val n = r.asInstanceOf[Number].intValue()
      val len = arr.numElements()
      if (n < 0 || n > len) throw new IllegalArgumentException(
        s"sample size must be between 0 and $len")
      val pool = new Array[Any](len)
      var i = 0
      while (i < len) { pool(i) = if (arr.isNullAt(i)) null else arr.get(i, et); i += 1 }
      val out = new Array[Any](n)
      i = 0
      while (i < n) {
        val j = i + rng.nextInt(len - i)
        out(i) = pool(j); pool(j) = pool(i)
        i += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): PgArraySample =
      copy(left = l, right = r)
  }

  private def info(name: String): ExpressionInfo =
    new ExpressionInfo(PgMiscExpressions.getClass.getName, name)

  /** pg div(numeric, numeric): integral quotient as a scale-0 numeric
    * ("2", not "2.000000000000000000" — a ScalaUDF's BigDecimal return
    * is pinned to DecimalType(38,18)). NULL on zero divisor, keeping
    * the engine's documented deviation from pg's division-by-zero
    * error (mod_op.rs parity). */
  case class PgDiv(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    private def toBd(v: Any, dt: DataType): java.math.BigDecimal = dt match {
      case _: DecimalType => v.asInstanceOf[Decimal].toJavaBigDecimal
      case DoubleType => java.math.BigDecimal.valueOf(v.asInstanceOf[Double])
      case FloatType => java.math.BigDecimal.valueOf(v.asInstanceOf[Float].toDouble)
      case _ => new java.math.BigDecimal(v.toString)
    }
    override def checkInputDataTypes(): TypeCheckResult =
      if (left.dataType.isInstanceOf[NumericType] &&
        right.dataType.isInstanceOf[NumericType]) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure("div(numeric, numeric)")
    override def dataType: DataType = DecimalType(38, 0)
    override def nullable: Boolean = true
    override def prettyName: String = "div"
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val l = left.eval(input)
      val r = right.eval(input)
      if (l == null || r == null) return null
      val d = toBd(r, right.dataType)
      if (d.signum() == 0) return null
      Decimal(toBd(l, left.dataType).divideToIntegralValue(d).setScale(0))
    }
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): PgDiv = copy(left = l, right = r)
  }

  /** pg trunc: `trunc(numeric[, s])` truncates toward zero to scale s
    * (result typed at that scale so the wire text matches pg — 42.43,
    * not 42.430000…); with a STRING second argument it falls through
    * to Spark's date-trunc so client SQL like trunc(d, 'MM') keeps
    * working after PgNames routes 2-arg trunc here. */
  case class PgTrunc(children: Seq[Expression])
      extends Expression with CodegenFallback {
    private def isDateForm: Boolean =
      children.length == 2 && children(1).dataType == StringType
    private lazy val dateDelegate: Expression = TruncDate(children(0), children(1))
    private lazy val scaleArg: Int = children match {
      case Seq(_) => 0
      case Seq(_, e) if e.foldable && e.dataType == IntegerType =>
        val v = e.eval(null)
        if (v == null) 0 else v.asInstanceOf[Int]
      case _ => 0
    }
    // a NON-foldable scale column can request any scale at runtime —
    // declare the max representable scale and rescale in eval so the
    // emitted Decimal always agrees with dataType
    private lazy val scaleKnown: Boolean = children.length == 1 ||
      (children(1).foldable && children(1).dataType == IntegerType)
    private lazy val declaredScale: Int =
      if (scaleKnown) math.max(0, math.min(18, scaleArg)) else 18
    override def nullable: Boolean = true
    override def dataType: DataType =
      if (isDateForm) dateDelegate.dataType
      else DecimalType(38, declaredScale)
    override def prettyName: String = "trunc"
    override def checkInputDataTypes(): TypeCheckResult =
      if (isDateForm) dateDelegate.checkInputDataTypes()
      else if ((children.length == 1 || children.length == 2) &&
        children(0).dataType.isInstanceOf[NumericType] &&
        (children.length == 1 || children(1).dataType == IntegerType))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure("trunc(numeric[, int]) or trunc(date, fmt)")
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      if (isDateForm) return dateDelegate.eval(input)
      val v = children(0).eval(input)
      if (v == null) return null
      val s =
        if (children.length == 2) {
          val sv = children(1).eval(input)
          if (sv == null) return null
          sv.asInstanceOf[Int]
        } else 0
      val bd = children(0).dataType match {
        case _: DecimalType =>
          v.asInstanceOf[org.apache.spark.sql.types.Decimal].toJavaBigDecimal
        case DoubleType => java.math.BigDecimal.valueOf(v.asInstanceOf[Double])
        case FloatType => java.math.BigDecimal.valueOf(v.asInstanceOf[Float].toDouble)
        case _ => new java.math.BigDecimal(v.toString)
      }
      val t = bd.setScale(s, java.math.RoundingMode.DOWN)
        .setScale(declaredScale, java.math.RoundingMode.DOWN)
      org.apache.spark.sql.types.Decimal(t)
    }
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): PgTrunc = copy(children = newChildren)
  }

  /** array_positions(arr, elem): 1-based indexes of EVERY match
    * (NULL matches NULL, as in pg). */
  /** pg array_position: 1-based index of the first match, NULL when
    * absent (Spark's builtin returns 0 — a silently-wrong answer for
    * pg clients; sweep-15). IS NOT DISTINCT FROM matching: a NULL
    * target finds NULL elements.
    */
  case class PgArrayPosition(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = IntegerType
    override def nullable: Boolean = true
    override def prettyName: String = "array_position"
    override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
      case ArrayType(et, _) if et == right.dataType ||
        right.dataType == NullType => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure("array_position(anyarray, anyelement)")
    }
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val arr = left.eval(input)
      if (arr == null) return null
      val target = right.eval(input)
      val et = left.dataType.asInstanceOf[ArrayType].elementType
      val a = arr.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      var i = 0
      while (i < a.numElements()) {
        val el = if (a.isNullAt(i)) null else a.get(i, et)
        val hit =
          if (el == null || target == null) el == null && target == null
          else el == target || java.util.Objects.deepEquals(el, target)
        if (hit) return i + 1
        i += 1
      }
      null
    }
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): PgArrayPosition = copy(left = l, right = r)
  }

  /** pg array_remove: drops elements IS NOT DISTINCT FROM the target
    * — a NULL target removes NULL elements (Spark's builtin returns
    * NULL for a NULL target; sweep-15).
    */
  case class PgArrayRemove(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = left.dataType
    override def nullable: Boolean = true
    override def prettyName: String = "array_remove"
    override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
      case ArrayType(et, _) if et == right.dataType ||
        right.dataType == NullType => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure("array_remove(anyarray, anyelement)")
    }
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val arr = left.eval(input)
      if (arr == null) return null
      val target = right.eval(input)
      val et = left.dataType.asInstanceOf[ArrayType].elementType
      val a = arr.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val out = scala.collection.mutable.ArrayBuffer.empty[Any]
      var i = 0
      while (i < a.numElements()) {
        val el = if (a.isNullAt(i)) null else a.get(i, et)
        val hit =
          if (el == null || target == null) el == null && target == null
          else el == target || java.util.Objects.deepEquals(el, target)
        if (!hit) out += el
        i += 1
      }
      new GenericArrayData(out.toArray)
    }
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): PgArrayRemove = copy(left = l, right = r)
  }

  /** pg cardinality: TOTAL element count across all dimensions (Spark
    * size() counts only the outer dimension of a nested array;
    * sweep-15: cardinality(ARRAY[[1,2],[3,4]]) = 4).
    */
  case class PgCardinality(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = IntegerType
    override def nullable: Boolean = true
    override def prettyName: String = "cardinality"
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case _: ArrayType => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure("cardinality(anyarray)")
    }
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val arr = child.eval(input)
      if (arr == null) return null
      def count(v: Any, t: DataType): Int = (v, t) match {
        case (null, _) => 1 // a NULL inner element is one element
        case (a: org.apache.spark.sql.catalyst.util.ArrayData, ArrayType(et: ArrayType, _)) =>
          var n = 0; var i = 0
          while (i < a.numElements()) {
            n += count(if (a.isNullAt(i)) null else a.get(i, et), et); i += 1
          }
          n
        case (a: org.apache.spark.sql.catalyst.util.ArrayData, _) => a.numElements()
        case _ => 1
      }
      count(arr, child.dataType)
    }
    override protected def withNewChildInternal(c: Expression): PgCardinality =
      copy(child = c)
  }

  case class PgArrayPositions(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = "array_positions"
    override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
      case ArrayType(et, _) if et == right.dataType ||
        right.dataType == NullType => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure("array_positions(anyarray, anyelement)")
    }
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val arr = left.eval(input)
      if (arr == null) return null
      val target = right.eval(input)
      val et = left.dataType.asInstanceOf[ArrayType].elementType
      val a = arr.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val out = scala.collection.mutable.ArrayBuffer.empty[Any]
      var i = 0
      while (i < a.numElements()) {
        val el = if (a.isNullAt(i)) null else a.get(i, et)
        val hit =
          if (el == null || target == null) el == null && target == null
          else el == target || java.util.Objects.deepEquals(el, target)
        if (hit) out += (i + 1)
        i += 1
      }
      new GenericArrayData(out.toArray)
    }
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): PgArrayPositions = copy(left = l, right = r)
  }

  /** array_replace(arr, from, to): every element equal to `from`
    * becomes `to` (NULLs replaceable, as in pg). */
  case class PgArrayReplace(children: Seq[Expression])
      extends Expression with CodegenFallback {
    override def dataType: DataType = children(0).dataType
    override def nullable: Boolean = children(0).nullable
    override def prettyName: String = "array_replace"
    override def checkInputDataTypes(): TypeCheckResult = children(0).dataType match {
      case _: ArrayType if children.length == 3 => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "array_replace(anyarray, anyelement, anyelement)")
    }
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val arr = children(0).eval(input)
      if (arr == null) return null
      val from = children(1).eval(input)
      val to = children(2).eval(input)
      val et = children(0).dataType.asInstanceOf[ArrayType].elementType
      val a = arr.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val out = new Array[Any](a.numElements())
      var i = 0
      while (i < a.numElements()) {
        val el = if (a.isNullAt(i)) null else a.get(i, et)
        val hit =
          if (el == null || from == null) el == null && from == null
          else java.util.Objects.deepEquals(el, from) || el == from
        out(i) = if (hit) to else el
        i += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): PgArrayReplace = copy(children = newChildren)
  }

  /** array_ndims(arr): static nesting depth of the array TYPE. */
  case class PgArrayNdims(child: Expression)
      extends UnaryExpression with PgUnaryDirectGen {
    override def dataType: DataType = IntegerType
    override def prettyName: String = "array_ndims"
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case _: ArrayType => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure("array_ndims(anyarray)")
    }
    private def depth(dt: DataType): Int = dt match {
      case ArrayType(et, _) => 1 + depth(et)
      case _ => 0
    }
    override def nullSafeEval(v: Any): Any = depth(child.dataType)
    override protected def withNewChildInternal(c: Expression): PgArrayNdims =
      copy(child = c)
  }

  /** pg generate_series (the array it explodes to): integer form
    * counts by step and is EMPTY when the step points away from stop
    * (Spark's sequence() would auto-reverse); the timestamp/date form
    * delegates to Sequence with the same direction rule. */
  case class PgSeries(children: Seq[Expression])
      extends Expression with CodegenFallback {
    private def isTemporal: Boolean = children.head.dataType match {
      case DateType | TimestampType | TimestampNTZType => true
      case _ => false
    }
    /** pg: generate_series over timestamp (without tz) yields
      * timestamp; only timestamptz endpoints yield timestamptz. DATE
      * endpoints cast to plain timestamp in pg — NTZ here too. */
    private def ntzResult: Boolean = children.take(2).forall(_.dataType match {
      case TimestampNTZType | DateType => true
      case _ => false
    })
    private lazy val seqDelegate: Expression =
      if (ntzResult) Sequence(
        Cast(children(0), TimestampNTZType),
        Cast(children(1), TimestampNTZType),
        Some(children(2)), Some("UTC"))
      else Sequence(
        Cast(children(0), TimestampType, Some("UTC")),
        Cast(children(1), TimestampType, Some("UTC")),
        Some(children(2)), Some("UTC"))
    /** pg generate_series(numeric, numeric, numeric): fractional
      * inputs yield numerics at the widest input scale (sweep-15:
      * generate_series(1.0, 3.0, 0.5) → 1.0, 1.5, …).
      */
    private def decimalScale: Int = children.map(_.dataType).collect {
      case d: DecimalType => d.scale
    }.foldLeft(0)(math.max)
    private def isDecimalSeries: Boolean =
      children.exists(_.dataType match {
        case d: DecimalType => d.scale > 0
        case _ => false
      })
    override def nullable: Boolean = true
    override def dataType: DataType =
      if (isTemporal)
        ArrayType(if (ntzResult) TimestampNTZType else TimestampType,
          containsNull = false)
      else if (isDecimalSeries)
        ArrayType(DecimalType(38, decimalScale), containsNull = false)
      else ArrayType(LongType, containsNull = false)
    override def prettyName: String = "generate_series"
    override def checkInputDataTypes(): TypeCheckResult =
      if (children.length != 3) TypeCheckResult.TypeCheckFailure(
        "generate_series(start, stop[, step])")
      else if (isTemporal) seqDelegate.checkInputDataTypes()
      else if (children.forall(_.dataType.isInstanceOf[NumericType]))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure("generate_series(start, stop[, step])")
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      if (isTemporal) return seqDelegate.eval(input)
      val vs = children.map(_.eval(input))
      if (vs.exists(_ == null)) return null
      if (isDecimalSeries) {
        def toBD(v: Any): java.math.BigDecimal = v match {
          case d: Decimal => d.toJavaBigDecimal
          case l: Long => java.math.BigDecimal.valueOf(l)
          case i: Int => java.math.BigDecimal.valueOf(i.toLong)
          case other => new java.math.BigDecimal(other.toString)
        }
        val start = toBD(vs(0)); val stop = toBD(vs(1)); val step = toBD(vs(2))
        if (step.signum == 0) throw new IllegalArgumentException(
          "step size cannot equal zero")
        val scale = decimalScale
        val out = scala.collection.mutable.ArrayBuffer.empty[Any]
        var v = start
        if (step.signum > 0) while (v.compareTo(stop) <= 0) {
          out += Decimal(v.setScale(scale)); v = v.add(step)
        } else while (v.compareTo(stop) >= 0) {
          out += Decimal(v.setScale(scale)); v = v.add(step)
        }
        return new GenericArrayData(out.toArray)
      }
      def toL(v: Any): Long = v match {
        case l: Long => l
        case i: Int => i.toLong
        case s: Short => s.toLong
        case b: Byte => b.toLong
        case d: Decimal => d.toLong
        case other => other.toString.toLong
      }
      val start = toL(vs(0)); val stop = toL(vs(1)); val step = toL(vs(2))
      if (step == 0L) throw new IllegalArgumentException(
        "step size cannot equal zero")
      val out = scala.collection.mutable.ArrayBuffer.empty[Any]
      var v = start
      if (step > 0) while (v <= stop) { out += v; v += step }
      else while (v >= stop) { out += v; v += step }
      new GenericArrayData(out.toArray)
    }
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): PgSeries = copy(children = newChildren)
  }

  /** Any interval type → pg's text output form ("1 year 2 mons
    * 3 days 04:05:06") — pg's `interval::text` goes through the
    * OUTPUT function, where Spark's cast renders "1 years 2 months"
    * (sweep #9, live-pg-pinned). Routed in by PgSemantics.
    */
  case class PgIntervalText(child: Expression)
      extends UnaryExpression with PgUnaryDirectGen {
    override def dataType: DataType = StringType
    override def prettyName: String = "pg_interval_text"
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case CalendarIntervalType | _: DayTimeIntervalType | _: YearMonthIntervalType =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure("pg_interval_text(interval)")
    }
    override def nullSafeEval(v: Any): Any = {
      val (m, d, us) = PgMiscExpressions.intervalFields(v, child.dataType)
      UTF8String.fromString(graft.pgwire.TextEncoder.formatInterval(m, d, us))
    }
    override protected def withNewChildInternal(c: Expression): PgIntervalText =
      copy(child = c)
  }

  /** Internal interval value → pg's (months, days, micros) triple.
    * DayTimeIntervalType stores only total micros; pg keeps days
    * entered as days ('1 day 12 hours' renders "1 day 12:00:00", but
    * '36 hours' stays "36:00:00"). The type's START field recovers the
    * split exactly: a DAY-starting interval's leading component was
    * spelled in days. */
  def intervalFields(v: Any, dt: DataType): (Int, Int, Long) = dt match {
    case CalendarIntervalType =>
      val c = v.asInstanceOf[org.apache.spark.unsafe.types.CalendarInterval]
      (c.months, c.days, c.microseconds)
    case d: DayTimeIntervalType =>
      val (dd, rest) = PgFormatExpressions.dayTimeParts(v.asInstanceOf[Long], d)
      (0, dd, rest)
    case _: YearMonthIntervalType => (v.asInstanceOf[Int], 0, 0L)
  }

  /** Interval ± interval across Spark's three interval types — pg
    * keeps year-month and day-time components independent
    * (`'2 mons' - '10 days'` = "2 mons -10 days"), which needs the
    * CalendarInterval carrier; Spark's native Add/Subtract reject the
    * mixed-type pair outright (sweep #9). Routed in by PgSemantics
    * when at least one side is CalendarIntervalType.
    */
  case class PgIntervalAdd(left: Expression, right: Expression, negate: Boolean)
      extends BinaryExpression with PgBinaryDirectGen {
    override def dataType: DataType = CalendarIntervalType
    override def prettyName: String = if (negate) "pg_interval_sub" else "pg_interval_add"
    private def isIv(dt: DataType): Boolean = dt match {
      case CalendarIntervalType | _: DayTimeIntervalType | _: YearMonthIntervalType => true
      case _ => false
    }
    override def checkInputDataTypes(): TypeCheckResult =
      if (isIv(left.dataType) && isIv(right.dataType)) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure("interval ± interval")
    override def nullSafeEval(l: Any, r: Any): Any = {
      val (lm, ld, lu) = PgMiscExpressions.intervalFields(l, left.dataType)
      val (rm, rd, ru) = PgMiscExpressions.intervalFields(r, right.dataType)
      val s = if (negate) -1 else 1
      new org.apache.spark.unsafe.types.CalendarInterval(
        lm + s * rm, ld + s * rd, lu + s * ru)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): PgIntervalAdd =
      copy(left = l, right = r)
  }

  /** pg `time + interval` (time_pl_interval; `time - interval` adds the
    * negated interval): the interval moves the time of day, wrapping at
    * 24 h, so whole days and months leave it unchanged. Result is the
    * TIME carrier. Routed in by PgSemantics. */
  case class PgTimePlusInterval(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def prettyName: String = "time_pl_interval"
    override protected def nullSafeEval(t: Any, iv: Any): Any = {
      val day = 86400L * 1000000L
      val (_, _, micros) = PgMiscExpressions.intervalFields(iv, right.dataType)
      Math.floorMod(t.asInstanceOf[Long] / 1000L + Math.floorMod(micros, day), day) * 1000L
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): PgTimePlusInterval =
      copy(left = l, right = r)
  }

  /** pg composite null tests (docs §9.2: famous asymmetric quirk):
    * `row IS NULL` is true when EVERY field is null (or the row itself
    * is), `row IS NOT NULL` is true when every field is NON-null — a
    * mixed row fails BOTH. Spark's IsNull on a struct only checks the
    * struct reference. Routed in by PgSemantics (sweep #11,
    * live-pg-pinned).
    */
  case class PgRowNullTest(child: Expression, wantAllNull: Boolean)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = BooleanType
    override def nullable: Boolean = false
    override def prettyName: String = if (wantAllNull) "pg_row_is_null" else "pg_row_is_not_null"
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case _: StructType => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure("composite operand required")
    }
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val v = child.eval(input)
      if (v == null) return wantAllNull
      val row = v.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
      val n = child.dataType.asInstanceOf[StructType].length
      var i = 0
      var allNull = true
      var allSet = true
      while (i < n) {
        if (row.isNullAt(i)) allSet = false else allNull = false
        i += 1
      }
      if (wantAllNull) allNull else allSet
    }
    override protected def withNewChildInternal(c: Expression): PgRowNullTest =
      copy(child = c)
  }

  /** pg substring/substr over BYTEA: byte slicing with pg's clamp
    * rules (start ≤ 0 clamps into the value, negative length errors).
    * The string-typed pg_substr UDF would otherwise mangle the bytes
    * through a UTF-8 round trip (sweep #12). */
  case class PgByteaSubstr(children: Seq[Expression])
      extends Expression with CodegenFallback {
    override def dataType: DataType = BinaryType
    override def nullable: Boolean = true
    override def prettyName: String = "substr"
    override def checkInputDataTypes(): TypeCheckResult =
      if (children.length >= 2 && children.length <= 3 &&
        children.head.dataType == BinaryType)
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure("substr(bytea, int[, int])")
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val vs = children.map(_.eval(input))
      if (vs.exists(_ == null)) return null
      val b = vs.head.asInstanceOf[Array[Byte]]
      val s = vs(1).asInstanceOf[Number].intValue()
      val lenOpt = if (children.length == 3) Some(vs(2).asInstanceOf[Number].intValue()) else None
      lenOpt.foreach { l =>
        if (l < 0) throw new IllegalArgumentException(
          "negative substring length not allowed")
      }
      val endExcl = lenOpt.map(l => s.toLong + l - 1).getOrElse(Long.MaxValue)
      val lo = math.max(s, 1)
      val hi = math.min(endExcl, b.length.toLong).toInt
      if (hi < lo) Array.emptyByteArray
      else java.util.Arrays.copyOfRange(b, lo - 1, hi)
    }
    override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): PgByteaSubstr =
      copy(children = cs)
  }

  /** pg ltrim/rtrim/btrim over BYTEA: strip bytes contained in the
    * trim set from the chosen ends. */
  case class PgByteaTrim(left: Expression, right: Expression,
      trimLeft: Boolean, trimRight: Boolean)
      extends BinaryExpression with PgBinaryDirectGen {
    override def dataType: DataType = BinaryType
    override def prettyName: String =
      if (trimLeft && trimRight) "btrim" else if (trimLeft) "ltrim" else "rtrim"
    override def checkInputDataTypes(): TypeCheckResult =
      if (left.dataType == BinaryType && right.dataType == BinaryType)
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(s"$prettyName(bytea, bytea)")
    override def nullSafeEval(l: Any, r: Any): Any = {
      val b = l.asInstanceOf[Array[Byte]]
      val set = r.asInstanceOf[Array[Byte]].toSet
      var lo = 0
      var hi = b.length
      if (trimLeft) while (lo < hi && set.contains(b(lo))) lo += 1
      if (trimRight) while (hi > lo && set.contains(b(hi - 1))) hi -= 1
      java.util.Arrays.copyOfRange(b, lo, hi)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): PgByteaTrim =
      copy(left = l, right = r)
  }

  val descriptions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("pg_series"), info("pg_series"), { args =>
      PgSeries(args)
    }),
    (FunctionIdentifier("array_positions"), info("array_positions"), { args =>
      require(args.length == 2, "array_positions requires 2 arguments")
      PgArrayPositions(args(0), args(1))
    }),
    (FunctionIdentifier("pg_array_position"), info("pg_array_position"), { args =>
      require(args.length == 2, "array_position requires 2 arguments")
      PgArrayPosition(args(0), args(1))
    }),
    (FunctionIdentifier("pg_array_remove"), info("pg_array_remove"), { args =>
      require(args.length == 2, "array_remove requires 2 arguments")
      PgArrayRemove(args(0), args(1))
    }),
    (FunctionIdentifier("pg_cardinality"), info("pg_cardinality"), { args =>
      require(args.length == 1, "cardinality requires 1 argument")
      PgCardinality(args(0))
    }),
    (FunctionIdentifier("array_replace"), info("array_replace"), { args =>
      PgArrayReplace(args)
    }),
    (FunctionIdentifier("array_ndims"), info("array_ndims"), { args =>
      require(args.length == 1, "array_ndims requires 1 argument")
      PgArrayNdims(args(0))
    }),
    (FunctionIdentifier("pg_array_prepend"), info("pg_array_prepend"), { args =>
      require(args.length == 2, "array_prepend requires 2 arguments")
      // pg argument order is (elem, array); Spark's is (array, elem)
      ArrayPrepend(args(1), args(0))
    }),
    (FunctionIdentifier("div"), info("div"), { args =>
      require(args.length == 2, "div requires 2 arguments")
      PgDiv(args(0), args(1))
    }),
    (FunctionIdentifier("pg_trunc"), info("pg_trunc"), { args =>
      PgTrunc(args)
    }),
    (FunctionIdentifier("pg_typeof"), info("pg_typeof"), { args =>
      require(args.length == 1, "pg_typeof requires 1 argument")
      PgTypeOf(args(0))
    }),
    (FunctionIdentifier("array_fill"), info("array_fill"), { args =>
      require(args.length == 2, "array_fill requires 2 arguments (1-D form)")
      PgArrayFill(args(0), args(1))
    }),
    (FunctionIdentifier("trim_array"), info("trim_array"), { args =>
      require(args.length == 2, "trim_array requires 2 arguments")
      PgTrimArray(args(0), args(1))
    }),
    // P1 aliases (functions.md §Aggregate / §UUID)
    (FunctionIdentifier("every"), info("every"), { args =>
      require(args.length == 1, "every requires 1 argument")
      BoolAnd(args(0))
    }),
    (FunctionIdentifier("variance"), info("variance"), { args =>
      require(args.length == 1, "variance requires 1 argument")
      VarianceSamp(args(0))
    }),
    (FunctionIdentifier("gen_random_uuid"), info("gen_random_uuid"), { args =>
      require(args.isEmpty, "gen_random_uuid takes no arguments")
      Uuid()
    }),
    (FunctionIdentifier("uuidv4"), info("uuidv4"), { args =>
      require(args.isEmpty, "uuidv4 takes no arguments")
      Uuid()
    }),
    (FunctionIdentifier("generate_subscripts"), info("generate_subscripts"), { args =>
      PgGenerateSubscripts(args)
    }),
    // pg 16 array randomizers (functions.md §Array P2): array_shuffle
    // rides Spark's native Shuffle; array_sample is the pg partial
    // Fisher–Yates with the pg range check
    (FunctionIdentifier("array_shuffle"), info("array_shuffle"), { args =>
      require(args.length == 1, "array_shuffle requires 1 argument")
      Shuffle(args(0), None)
    }),
    (FunctionIdentifier("array_sample"), info("array_sample"), { args =>
      require(args.length == 2, "array_sample requires 2 arguments")
      PgArraySample(args(0), args(1))
    }))

  def install(spark: SparkSession): Unit = {
    val reg: FunctionRegistry = spark.sessionState.functionRegistry
    descriptions.foreach { case (ident, i, builder) =>
      reg.registerFunction(ident, i, builder)
    }
  }
}
