package graft.pgwire

import org.apache.spark.sql.catalyst.analysis.TypeCoercion
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.types._

/** Type-directed pg semantics that a TEXT rewrite cannot express —
  * operand types are only known at analysis time.
  * [[PgSemantics.Resolution]] is an analyzer rule (injected by
  * `graft.GraftExtensions`, which `PgServer.start` requires) active
  * ONLY inside [[PgSemantics.withPg]]'s dynamic extent on the calling
  * thread. [[Handlers.runSql]] wraps every wire-path query in it, so pg
  * dialect semantics apply exactly to server/client SQL while queries
  * run through the plain Spark API (the oracle suite, library users)
  * keep Spark semantics. Running inside the analyzer lets the
  * rewritten types COMPOSE: `(d1 - d2) - 1` resolves as int arithmetic
  * because date−date becomes an int before the outer subtraction
  * resolves.
  *
  * The rules (all live-pg-15-pinned, PgParitySpec sweep #6):
  *
  *  - `int / int` → truncating integer division in the wider operand
  *    type (pg `7/2 = 3`, `-7/2 = -3`, `pg_typeof(7/2) = integer`).
  *    Spark's analyzer coerces both sides to DOUBLE; the rule detects
  *    that exact coercion shape and requires the casts to be
  *    analyzer-inserted (no [[Cast.USER_SPECIFIED_CAST]] tag), so an
  *    explicit `a::float8 / b` keeps float division.
  *  - numeric → int casts round half-away-from-zero (pg
  *    `2.5::int = 3`, `(-2.5)::int = -3`; Spark truncates). String
  *    sources are untouched (documented deviation: pg ERRORS on
  *    `'2.5'::int`, Spark's non-ANSI cast truncates).
  *  - `date - date` → integer day count (pg int4; Spark makes an
  *    INTERVAL DAY).
  *  - `date ± interval` → timestamp WITHOUT time zone (pg returns
  *    timestamp; Spark's DateAddInterval stays DATE, truncating the
  *    time-of-day part).
  *  - range, network, money, enum, text-search, trigram, jsonb and
  *    bit-string operators → the family functions, and time-of-day
  *    arithmetic, by operand type ([[pgTypeOf]]; the families are
  *    STRING to Spark, time is bigint nanos). See [[FamilyOps]].
  *  - array `||` element / sub-array / NULL → append, prepend or the
  *    array itself.
  *  - EXTRACT, `date_part`, `date_trunc` and `isfinite` over an
  *    interval, a time or a date/timestamp.
  *  - `pg_typeof(x)` names x's pg type from the analyzed plan.
  *
  * Reference anchor: the reference engine inherits these from
  * DataFusion's pg-style arithmetic; here they are reconstructed
  * against the live pg 15 oracle (PgDiffTool sweep #6).
  */
object PgSemantics {

  private val activeFlag = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = java.lang.Boolean.FALSE
  }

  def active: Boolean = activeFlag.get().booleanValue()

  /** Run `body` with pg dialect semantics active on this thread —
    * every plan ANALYZED inside (analysis is eager in `spark.sql`)
    * carries the rewrites for its lifetime. */
  def withPg[T](body: => T): T = {
    val prev = activeFlag.get()
    activeFlag.set(java.lang.Boolean.TRUE)
    try body finally activeFlag.set(prev)
  }

  /** Analyzer rule — a no-op unless [[withPg]] is active on the
    * current thread (so the shared GraftExtensions session keeps
    * Spark semantics for everything else). */
  object Resolution extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan =
      if (!active) plan else rewriteExpressions(plan)
  }

  private def rewriteExpressions(plan: LogicalPlan): LogicalPlan = {
    val ops = new FamilyOps(plan)
    lazy val rewrite: PartialFunction[Expression, Expression] = {
      // the type-family operators, orderings and functions by operand
      // type — first, before the int-division and unknown-literal
      // cases below claim the analyzer's casts over these
      // STRING-carried values
      case ops(call) => call

      // array_sort binds its comparator to the element type it first
      // resolves with; after the sorted collect's keys are retyped
      // above (a range key is a struct), bind it again
      case s @ ArraySort(arg, f: LambdaFunction, _)
          if arg.resolved && f.bound && (arg.dataType match {
            case ArrayType(et, _) => f.arguments.exists(_.dataType != et)
            case _ => false
          }) =>
        s.copy(function = f.transform {
          case v: NamedLambdaVariable => UnresolvedNamedLambdaVariable(Seq(v.name))
        })

      // int / int (both casts analyzer-inserted) → truncating division
      case Divide(
            lc @ Cast(l, DoubleType, _, _),
            rc @ Cast(r, DoubleType, _, _), _)
          if l.resolved && r.resolved &&
            isIntegral(l.dataType) && isIntegral(r.dataType) &&
            notUserCast(lc) && notUserCast(rc) =>
        Cast(new IntegralDivide(l, r), widerInt(l.dataType, r.dataType))

      // fractional-numeric → integral cast: round half-away-from-zero
      case c @ Cast(child, target, tz, mode)
          if child.resolved && isIntegral(target) &&
            isFractional(child.dataType) &&
            c.getTagValue(roundedTag).isEmpty => {
        val inner = new Round(child, Literal(0))
        val rounded = Cast(inner, target, tz, mode)
        rounded.setTagValue(roundedTag, ())
        c.getTagValue(Cast.USER_SPECIFIED_CAST)
          .foreach(_ => rounded.setTagValue(Cast.USER_SPECIFIED_CAST, ()))
        rounded
      }

      // array/record → text cast renders pg composite text
      // ('{1,2,3}', '(1,x)'), never Spark's '[1, 2, 3]' (sweep-27)
      case Cast(child, StringType, _, _)
          if child.resolved && (child.dataType.isInstanceOf[ArrayType] ||
            child.dataType.isInstanceOf[StructType]) =>
        graft.functions.PgMiscExpressions.PgCompositeText(child)

      // date - date → int day count
      case SubtractDates(l, r, _) if l.resolved && r.resolved =>
        DateDiff(l, r)

      // date ± interval → timestamp without time zone.
      // Three analyzer shapes cover pg's one rule: CalendarInterval
      // (pg_interval casts) resolves to DateAddInterval; a native
      // day-time interval literal resolves to TimestampAddInterval
      // over an implicit date→timestamp cast (session-zoned — retarget
      // it to NTZ); a year-month interval resolves to DateAddYMInterval
      // (stays DATE, dropping pg's midnight time part).
      case DateAddInterval(d, itvl, tz, _) if d.resolved && itvl.resolved =>
        new TimestampAddInterval(Cast(d, TimestampNTZType), itvl, tz)
      case TimestampAddInterval(c @ Cast(d, TimestampType, _, _), itvl, tz)
          if d.resolved && d.dataType == DateType && notUserCast(c) =>
        new TimestampAddInterval(Cast(d, TimestampNTZType), itvl, tz)
      case DateAddYMInterval(d, itvl) if d.resolved && itvl.resolved =>
        new TimestampAddYMInterval(Cast(d, TimestampNTZType), itvl, None)

      // timezone(zone, ts) / AT TIME ZONE with a timestamp-WITHOUT-tz
      // operand: pg's overload interprets the naive value IN the zone
      // → timestamptz. The registered builder pins the tz→ntz
      // direction via an implicit cast; undo it when the source is NTZ
      case graft.functions.PgFormatExpressions.PgTimezone(
            z, c @ Cast(x, TimestampType, _, _))
          if x.resolved && x.dataType == TimestampNTZType && notUserCast(c) =>
        graft.functions.PgFormatExpressions.PgTimezoneToTz(z, x)

      // date_trunc over timestamp-WITHOUT-tz or DATE input: pg
      // returns plain timestamp (sweep #8, live-pg-pinned), but
      // Spark's TruncTimestamp coerces to the session-zoned type via
      // an analyzer cast. Retarget the result back to NTZ.
      case t @ TruncTimestamp(_, c @ Cast(x, TimestampType, _, _), _)
          if x.resolved &&
            (x.dataType == TimestampNTZType || x.dataType == DateType) &&
            notUserCast(c) && t.getTagValue(truncNtzTag).isEmpty => {
        t.setTagValue(truncNtzTag, ())
        Cast(t, TimestampNTZType)
      }

      // float → text casts ride pg's output function (shortest
      // precise form), not Spark's Double.toString
      case Cast(f, StringType, _, _)
          if f.resolved &&
            (f.dataType == DoubleType || f.dataType == FloatType) =>
        PgFloatText(f, f.dataType == FloatType)

      // pg avg(int/numeric) returns numeric and RENDERS at least 16
      // fractional digits (live pg: avg of 2,3 → 2.5000000000000000);
      // Spark's DECIMAL average keeps input-scale+4. Cast the result
      // to scale max(16, input scale). float8 input stays float8 (pg
      // too). (sweep #10)
      case ae @ org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression(
            avg: org.apache.spark.sql.catalyst.expressions.aggregate.Average, _, _, _, _)
          if avg.child.resolved && ae.getTagValue(avgScaleTag).isEmpty &&
            (avg.child.dataType match {
              case ByteType | ShortType | IntegerType | LongType | _: DecimalType => true
              case _ => false
            }) => {
        ae.setTagValue(avgScaleTag, ())
        val scale = avg.child.dataType match {
          case d: DecimalType => math.max(16, d.scale)
          case _ => 16
        }
        Cast(ae, DecimalType(38, scale))
      }

      // bytea string-function dispatch (sweep #12): the pg-named
      // string UDFs (pg_substr, pg_ltrim/pg_rtrim, btrim) are
      // string-typed, so a BYTEA argument would round-trip through
      // UTF-8 and mangle the bytes. Retarget to byte-level
      // expressions when the first argument is binary (possibly
      // behind the analyzer's implicit binary→string cast).
      case u: ScalaUDF
          if u.udfName.exists(n => Set("pg_substr", "pg_ltrim", "pg_rtrim",
            "btrim").contains(n.toLowerCase)) &&
            u.children.nonEmpty && byteaArg(u.children.head).isDefined &&
            u.children.forall(_.resolved) => {
        val name = u.udfName.get.toLowerCase
        val arg0 = byteaArg(u.children.head).get
        name match {
          case "pg_substr" =>
            graft.functions.PgMiscExpressions.PgByteaSubstr(
              arg0 +: u.children.tail)
          case "pg_ltrim" | "pg_rtrim" | "btrim" =>
            val arg1 = u.children.tail.headOption.flatMap(byteaArg)
              .getOrElse(Cast(u.children(1), BinaryType))
            graft.functions.PgMiscExpressions.PgByteaTrim(arg0, arg1,
              trimLeft = name != "pg_rtrim", trimRight = name != "pg_ltrim")
        }
      }

      // (btrim resolves to Spark's BUILTIN StringTrimBoth, not the
      // registered UDF — same bytea retarget)
      case StringTrimBoth(src, Some(tr), _)
          if src.resolved && tr.resolved && byteaArg(src).isDefined =>
        graft.functions.PgMiscExpressions.PgByteaTrim(
          byteaArg(src).get,
          byteaArg(tr).getOrElse(Cast(tr, BinaryType)),
          trimLeft = true, trimRight = true)

      // pg composite null tests: `row IS NULL` ⟺ every field null,
      // `row IS NOT NULL` ⟺ every field non-null (a mixed row fails
      // both — pg docs §9.2). Spark checks only the struct reference.
      case IsNull(e) if e.resolved && e.dataType.isInstanceOf[StructType] =>
        graft.functions.PgMiscExpressions.PgRowNullTest(e, wantAllNull = true)
      case IsNotNull(e) if e.resolved && e.dataType.isInstanceOf[StructType] =>
        graft.functions.PgMiscExpressions.PgRowNullTest(e, wantAllNull = false)

      // round(float8) is half-to-EVEN in pg (2.5 → 2; numeric stays
      // half-away) — Spark's Round is half-up for doubles; BRound IS
      // banker's rounding (sweep #9, live-pg-pinned). This also
      // retargets the Round the fractional-cast rule above inserts,
      // so `2.5::float8::int` = 2 exactly like pg.
      case r: Round
          if r.child.resolved &&
            (r.child.dataType == DoubleType || r.child.dataType == FloatType) =>
        BRound(r.child, r.scale)

      // interval → text rides pg's interval output function
      // ("1 year 2 mons", not Spark's "1 years 2 months")
      case Cast(iv, StringType, _, _)
          if iv.resolved && (iv.dataType match {
            case CalendarIntervalType | _: DayTimeIntervalType |
                 _: YearMonthIntervalType => true
            case _ => false
          }) =>
        graft.functions.PgMiscExpressions.PgIntervalText(iv)

      // interval ± interval with a CalendarInterval side: pg keeps
      // year-month and day-time fields independent; Spark's native
      // arithmetic rejects the mixed pair
      case Add(l, r, _)
          if l.resolved && r.resolved && isIvPair(l.dataType, r.dataType) =>
        graft.functions.PgMiscExpressions.PgIntervalAdd(
          ivOperand(l), ivOperand(r), negate = false)
      case Subtract(l, r, _)
          if l.resolved && r.resolved && isIvPair(l.dataType, r.dataType) =>
        graft.functions.PgMiscExpressions.PgIntervalAdd(
          ivOperand(l), ivOperand(r), negate = true)
      // the parser sugars `x ± INTERVAL '…'` into TimeAdd assuming a
      // datetime left side — when x is itself an interval, it's the
      // same interval-arithmetic case (negation already folded into
      // the interval operand)
      // (the parser also wraps the sugar in a cast back to the left
      // operand's interval type — drop it, the result is pg's
      // CalendarInterval carrier)
      case Cast(TimestampAddInterval(l, itv, _), target, _, _)
          if l.resolved && itv.resolved && isIvPair(l.dataType, itv.dataType) &&
            (target match {
              case CalendarIntervalType | _: YearMonthIntervalType |
                   _: DayTimeIntervalType => true
              case _ => false
            }) =>
        graft.functions.PgMiscExpressions.PgIntervalAdd(l, itv, negate = false)
      case TimestampAddInterval(l, itv, _)
          if l.resolved && itv.resolved && isIvPair(l.dataType, itv.dataType) =>
        graft.functions.PgMiscExpressions.PgIntervalAdd(l, itv, negate = false)
      case DateAddInterval(l, itv, _, _)
          if l.resolved && itv.resolved && isIvPair(l.dataType, itv.dataType) =>
        graft.functions.PgMiscExpressions.PgIntervalAdd(l, itv, negate = false)

      // concat's argument conversion uses pg's OUTPUT function for
      // booleans ('t'/'f'), not the text cast ('true'/'false') —
      // live-pg: concat('a', true) = 'at' but true::text = 'true'
      case cw: ConcatWs
          if cw.resolved && cw.children.exists(isImplicitBoolStr) =>
        ConcatWs(cw.children.map(pgBoolText))
      case cc: Concat
          if cc.resolved && cc.children.exists(isImplicitBoolStr) =>
        Concat(cc.children.map(pgBoolText))

      // ---- unknown-literal coercion (sweep-32, live-pg-pinned) ----
      // pg coerces an UNKNOWN (bare string literal) operand to the
      // other operand's type through that type's input function.
      // Spark's coercion never produces these conversions, so the
      // shapes arrive here unresolved.

      // array `||` with a string literal: pg runs array_in on the
      // literal — `'{1,2}'::int[] || '{3}'` = {1,2,3}; a non-array-
      // shaped literal is 22P02 ("... || '3'" included, live-pinned)
      case c: Concat
          if !c.resolved && c.children.forall(_.resolved) &&
            c.children.exists(_.dataType.isInstanceOf[ArrayType]) &&
            c.children.exists(isStringLit) =>
        val at = c.children.find(_.dataType.isInstanceOf[ArrayType]).get
          .dataType.asInstanceOf[ArrayType]
        Concat(c.children.map(ch =>
          if (isStringLit(ch)) pgArrayLiteralExpr(litText(ch), at) else ch))

      // array `||` NULL (either way round): pg reads the bare NULL as
      // a NULL array, and array_cat skips it — `ARRAY[1,2] || NULL` is
      // {1,2}, not an appended NULL element
      case Concat(Seq(l, r)) if l.resolved && r.resolved &&
          (arrayDepth(l.dataType) > 0 && isBareNull(r) ||
            isBareNull(l) && arrayDepth(r.dataType) > 0) =>
        if (isBareNull(r)) l else r

      // array `||` element / element `||` array → append / prepend, and
      // T[][] `||` T[] (either way round) appends / prepends the
      // sub-array; both sides widen to the common element type, as pg
      // resolves anyarray || anyelement (`ARRAY[1,2] || 3000000000` is
      // bigint[]); no common type (text beside int) stays an error
      case c @ Concat(Seq(l0, r0))
          if !c.resolved && l0.resolved && r0.resolved &&
            !c.children.exists(isStringLit) &&
            arrayDepth(l0.dataType) != arrayDepth(r0.dataType) &&
            pendType(stripImplicitCasts(l0), stripImplicitCasts(r0)).isDefined =>
        val (l, r) = (stripImplicitCasts(l0), stripImplicitCasts(r0))
        val at = pendType(l, r).get
        if (arrayDepth(l.dataType) > arrayDepth(r.dataType))
          ArrayAppend(castTo(l, at), castTo(r, at.elementType))
        else
          ArrayPrepend(castTo(r, at), castTo(l, at.elementType))

      // `@>` / `<@` / `&&` with a string literal beside an array
      case p @ graft.functions.PgJsonExpressions.PgContains(l, r)
          if !p.resolved && l.resolved && r.resolved &&
            arrayAndStrLit(l, r) =>
        if (l.dataType.isInstanceOf[ArrayType])
          graft.functions.PgJsonExpressions.PgContains(l,
            pgArrayLiteralExpr(litText(r), l.dataType.asInstanceOf[ArrayType]))
        else
          graft.functions.PgJsonExpressions.PgContains(
            pgArrayLiteralExpr(litText(l), r.dataType.asInstanceOf[ArrayType]), r)
      case p @ ArraysOverlap(l, r)
          if !p.resolved && l.resolved && r.resolved &&
            arrayAndStrLit(l, r) =>
        if (l.dataType.isInstanceOf[ArrayType])
          ArraysOverlap(l,
            pgArrayLiteralExpr(litText(r), l.dataType.asInstanceOf[ArrayType]))
        else
          ArraysOverlap(
            pgArrayLiteralExpr(litText(l), r.dataType.asInstanceOf[ArrayType]), r)

      // timestamp + unknown → the literal is an INTERVAL (pg's only
      // addition candidate); timestamp - unknown → the literal is a
      // TIMESTAMP (pg prefers ts-ts over ts-interval: live-pinned
      // `ts - '1 hour'` = "invalid input syntax for type timestamp")
      case a @ Add(l, r, _)
          if !a.resolved && l.resolved && r.resolved &&
            isTsType(l.dataType) && isStringLit(r) =>
        Add(l, graft.functions.PgFormatExpressions.PgIntervalLiteral(r))
      case a @ Add(l, r, _)
          if !a.resolved && l.resolved && r.resolved &&
            isStringLit(l) && isTsType(r.dataType) =>
        Add(graft.functions.PgFormatExpressions.PgIntervalLiteral(l), r)
      case s @ Subtract(l, r, _)
          if !s.resolved && l.resolved && r.resolved &&
            isTsType(l.dataType) && isStringLit(r) =>
        Subtract(l, taggedCast(r, l.dataType))

      // interval ± unknown → the literal is an interval
      case a @ Add(l, r, _)
          if !a.resolved && l.resolved && r.resolved &&
            (isIvType(l.dataType) && isStringLit(r)) =>
        Add(l, graft.functions.PgFormatExpressions.PgIntervalLiteral(r))
      case a @ Add(l, r, _)
          if !a.resolved && l.resolved && r.resolved &&
            (isStringLit(l) && isIvType(r.dataType)) =>
        Add(graft.functions.PgFormatExpressions.PgIntervalLiteral(l), r)
      case s @ Subtract(l, r, _)
          if !s.resolved && l.resolved && r.resolved &&
            isIvType(l.dataType) && isStringLit(r) =>
        Subtract(l, graft.functions.PgFormatExpressions.PgIntervalLiteral(r))

      // the same shapes AFTER Spark's own coercion got there first —
      // an analyzer-inserted Cast over the unknown literal (to a
      // timestamp for `ts + 'x'`, to a day-time interval for
      // `interval + 'x'`): pg reads the literal as an INTERVAL for
      // addition; the cast may even resolve and then fail or
      // misbehave at runtime on pg-only spellings
      case Add(l, r, _)
          if l.resolved && (isTsType(l.dataType) || isIvType(l.dataType)) &&
            implicitStrLit(r).isDefined =>
        Add(l, graft.functions.PgFormatExpressions.PgIntervalLiteral(
          implicitStrLit(r).get))
      case Add(l, r, _)
          if r.resolved && (isTsType(r.dataType) || isIvType(r.dataType)) &&
            implicitStrLit(l).isDefined =>
        Add(graft.functions.PgFormatExpressions.PgIntervalLiteral(
          implicitStrLit(l).get), r)
      case Subtract(l, r, _)
          if l.resolved && isTsType(l.dataType) && implicitStrLit(r).isDefined =>
        Subtract(l, taggedCast(implicitStrLit(r).get, l.dataType))
      case Subtract(l, r, _)
          if r.resolved && isTsType(r.dataType) && implicitStrLit(l).isDefined =>
        Subtract(taggedCast(implicitStrLit(l).get, r.dataType), r)
      case Subtract(l, r, _)
          if l.resolved && isIvType(l.dataType) && implicitStrLit(r).isDefined =>
        Subtract(l, graft.functions.PgFormatExpressions.PgIntervalLiteral(
          implicitStrLit(r).get))

      // interval + unknown AFTER Spark's datetime coercion flipped it
      // into TimestampAddInterval(cast(lit AS TIMESTAMP), interval)
      case TimestampAddInterval(l, itv, _)
          if itv.resolved && isIvType(itv.dataType) &&
            implicitStrLit(l).isDefined =>
        graft.functions.PgMiscExpressions.PgIntervalAdd(
          graft.functions.PgFormatExpressions.PgIntervalLiteral(
            implicitStrLit(l).get), itv, negate = false)

      // greatest/least with string literals among typed arguments:
      // the unknowns coerce to the known type (greatest('1', 2.5) = 2.5)
      case g: Greatest
          if !g.resolved && g.children.forall(_.resolved) &&
            mixedStrLit(g.children) && widerKnown(g.children).isDefined =>
        Greatest(coerceStrLits(g.children))
      case l: Least
          if !l.resolved && l.children.forall(_.resolved) &&
            mixedStrLit(l.children) && widerKnown(l.children).isDefined =>
        Least(coerceStrLits(l.children))

      // 1-arg to_timestamp is pg's epoch→timestamptz (PgNames routes
      // it to timestamp_seconds); an unknown literal argument coerces
      // to double precision
      case st @ SecondsToTimestamp(child)
          if !st.resolved && child.resolved && child.dataType == StringType =>
        SecondsToTimestamp(Cast(child, DoubleType))

      // `->` / `#>` over a jsonb value: the token layer emits the json
      // (text-preserving) variant; jsonb re-serializes canonically
      // (sweep-28)
      case x: graft.functions.PgJsonExpressions.PgJsonExtractPath
          if !x.jsonb && x.children.nonEmpty && x.children.head.resolved &&
            ops.typeOf(x.children.head).contains("jsonb") =>
        x.copy(jsonb = true)
      case x: graft.functions.PgJsonExpressions.PgJsonArrayElements
          if !x.jsonb && x.child.resolved && ops.typeOf(x.child).contains("jsonb") =>
        x.copy(jsonb = true)
      case x: graft.functions.PgJsonExpressions.PgJsonEach
          if !x.jsonb && x.child.resolved && ops.typeOf(x.child).contains("jsonb") =>
        x.copy(jsonb = true)

      // pg_typeof names its argument's type once no case above applies
      // under it any more, so the name is the rewritten value's
      case p: graft.functions.PgMiscExpressions.PgTypeOf
          if p.pgName.isEmpty && p.child.resolved && !p.child.exists(rewrite.isDefinedAt) =>
        p.copy(pgName = Some(ops.typeName(p.child)))
    }
    plan.transformAllExpressions(rewrite)
  }

  // ---- the pg type of a value --------------------------------------------

  /** pg type of a family function's result, by function name — the one
    * table behind operator dispatch, RowDescription OIDs and
    * `pg_typeof`, looked up by UDF name or, for native expressions,
    * `prettyName`. A range combinator takes its type from its range
    * inputs ([[rangeCombinators]]); the enum functions from their
    * type-name argument ([[enumFns]]). */
  private val fnTypes: Map[String, String] =
    Compat.rangeTypeNames.toSeq.flatMap(n => Seq(n -> n, s"${n}3" -> n, s"${n}_in" -> n))
      .toMap ++ Map(
      "to_tsvector" -> "tsvector", "tsvector_in" -> "tsvector",
      "strip" -> "tsvector", "setweight" -> "tsvector",
      "setweight3" -> "tsvector", "ts_delete" -> "tsvector",
      "ts_delete_arr" -> "tsvector", "ts_filter" -> "tsvector",
      "tsvector_concat" -> "tsvector", "array_to_tsvector" -> "tsvector",
      "to_tsquery" -> "tsquery", "plainto_tsquery" -> "tsquery",
      "phraseto_tsquery" -> "tsquery", "websearch_to_tsquery" -> "tsquery",
      "tsquery_in" -> "tsquery", "tsquery_and" -> "tsquery",
      "tsquery_or" -> "tsquery", "tsquery_phrase" -> "tsquery",
      "tsquery_not" -> "tsquery",
      "tsquery_phrase3" -> "tsquery",
      "inet_in" -> "inet", "broadcast" -> "inet", "netmask" -> "inet",
      "hostmask" -> "inet", "set_masklen" -> "inet", "inet_add" -> "inet",
      "inet_sub" -> "inet", "inet_not" -> "inet", "inet_and" -> "inet",
      "inet_or" -> "inet",
      "cidr_in" -> "cidr", "network" -> "cidr", "inet_merge" -> "cidr",
      "pg_set_masklen_cidr" -> "cidr",
      "macaddr_in" -> "macaddr", "mac_trunc" -> "macaddr",
      "mac_not" -> "macaddr", "mac_and" -> "macaddr", "mac_or" -> "macaddr",
      "macaddr8_in" -> "macaddr8", "macaddr8_set7bit" -> "macaddr8",
      "bit_in" -> "bit", "bit_in_hex" -> "bit", "pg_bit_cast" -> "bit",
      "varbit_in" -> "varbit", "pg_varbit_cast" -> "varbit",
      "pg_int_to_bit" -> "bit", "pg_bit_and" -> "bit", "pg_bit_or" -> "bit",
      "pg_bit_xor" -> "bit", "pg_bit_not" -> "bit", "pg_bit_shl" -> "bit",
      "pg_bit_shr" -> "bit", "pg_bit_set" -> "bit",
      "xml_in" -> "xml", "pg_xml_tag" -> "xml", "xmlcomment" -> "xml",
      "pg_xmlpi" -> "xml", "pg_xml_forest_item" -> "xml",
      "money_in" -> "money", "money_add" -> "money", "money_sub" -> "money",
      "money_mul" -> "money", "money_div_num" -> "money",
      "money_div_int" -> "money",
      "money_to_numeric" -> "numeric",
      // variable-scale numeric results render their own text form
      "trim_scale" -> "numeric",
      "pg_time_in" -> "time", "make_time" -> "time", "time_pl_interval" -> "time") ++
      // `::jsonb` (pg_jsonb) and the functions returning jsonb
      Seq("pg_jsonb", "to_jsonb", "jsonb_build_object", "jsonb_build_array",
        "jsonb_object", "jsonb_extract_path", "jsonb_set", "jsonb_set_lax",
        "jsonb_insert", "jsonb_delete", "jsonb_delete_path", "jsonb_concat",
        "jsonb_strip_nulls", "jsonb_path_query_first",
        "jsonb_path_query_array").map(_ -> "jsonb") ++
      Seq("st_geomfromtext", "st_geometryfromtext", "st_geomfromewkt",
        "st_geometry_in", "st_geomfromwkb", "st_geomfromewkb",
        "st_geomfromtext2", "st_geomfromwkb2",
        "st_makepoint", "st_point", "st_setsrid", "st_centroid",
        "st_envelope", "st_makeline", "st_makeenvelope").map(_ -> "geometry")

  private val rangeCombinators =
    Set("range_union", "range_intersect", "range_minus", "range_merge")

  /** Functions returning a value of the enum type that their first
    * (literal type-name) argument names. */
  private val enumFns = Set("enum_in", "enum_label_at", "enum_first_n", "enum_last_n")

  /** Column metadata keys naming a stored column's pg type. */
  private val typeKeys = Seq(PgType.OID_ALIAS_KEY, "pg.enum", PgType.PG_TYPE_KEY)

  /** The pg type of an analyzed expression, where its Spark type does
    * not tell it (the family values are STRING, time is bigint nanos):
    * a stored column's `pg.oid_alias`, `pg.enum` or `pg.type`, the
    * family function that produced the value, or —
    * through Alias, an analyzer-inserted same-type Cast or null guard,
    * min/max and, by exprId, the subquery, CTE and view projections
    * that define an attribute
    * (`defs`, see [[definedTypes]]) — the expression behind it. */
  def pgTypeOf(e: Expression,
      defs: ExprId => Option[String] = _ => None): Option[String] = e match {
    case a: AttributeReference =>
      typeKeys.find(a.metadata.contains).map(a.metadata.getString).orElse(defs(a.exprId))
    case Alias(c, _) => pgTypeOf(c, defs)
    case c @ Cast(child, dt, _, _)
        if notUserCast(c) && child.resolved && child.dataType == dt =>
      pgTypeOf(child, defs)
    // the analyzer's null guard around a UDF with primitive parameters
    case If(IsNull(_), Literal(null, _), v) => pgTypeOf(v, defs)
    case aggregate.AggregateExpression(f @ (_: aggregate.Min | _: aggregate.Max |
        _: aggregate.MinBy | _: aggregate.MaxBy), _, _, _, _) =>
      pgTypeOf(f.children.head, defs)
    case u: ScalaUDF => u.udfName.flatMap(n => fnType(n.toLowerCase, u.children, defs))
    case f => fnType(f.prettyName, f.children, defs)
  }

  private def fnType(name: String, args: Seq[Expression],
      defs: ExprId => Option[String]): Option[String] =
    if (rangeCombinators.contains(name))
      args.iterator.flatMap(pgTypeOf(_, defs)).find(Compat.rangeTypeNames.contains)
    else if (enumFns.contains(name))
      args.headOption.collect { case Literal(v, StringType) if v != null => v.toString }
    else fnTypes.get(name)

  /** pg types of the attributes a plan defines (its nodes' output
    * Aliases, children first), so a reference to a subquery, CTE or
    * view column finds the type of the expression behind it. */
  def definedTypes(plan: LogicalPlan): ExprId => Option[String] = {
    val types = scala.collection.mutable.HashMap.empty[ExprId, String]
    plan.foreachUp(_.expressions.foreach {
      case a: Alias => pgTypeOf(a.child, types.get).foreach(types(a.exprId) = _)
      case _ =>
    })
    types.get
  }

  /** Family functions of the operators whose operands share one family. */
  private val sameOps: Map[(String, String), String] = Map(
    ("range", "&&") -> "range_overlaps", ("range", "<<") -> "range_before",
    ("range", ">>") -> "range_after", ("range", "+") -> "range_union",
    ("range", "*") -> "range_intersect", ("range", "-") -> "range_minus",
    ("range", "<") -> "range_lt", ("range", "<=") -> "range_le",
    ("range", ">") -> "range_gt", ("range", ">=") -> "range_ge",
    ("inet", "&&") -> "inet_overlap", ("inet", "<<") -> "inet_contained_strict",
    ("inet", ">>") -> "inet_contains_strict", ("inet", "-") -> "inet_diff",
    ("inet", "&") -> "inet_and", ("inet", "|") -> "inet_or",
    ("inet", "<") -> "inet_lt", ("inet", "<=") -> "inet_le",
    ("inet", ">") -> "inet_gt", ("inet", ">=") -> "inet_ge",
    ("macaddr", "&") -> "mac_and", ("macaddr", "|") -> "mac_or",
    ("money", "+") -> "money_add", ("money", "-") -> "money_sub",
    ("money", "/") -> "money_div_money",
    ("money", "<") -> "money_lt", ("money", "<=") -> "money_le",
    ("money", ">") -> "money_gt", ("money", ">=") -> "money_ge",
    ("tsquery", "&&") -> "tsquery_and", ("tsquery", "||") -> "tsquery_or",
    ("tsquery", "<->") -> "tsquery_phrase", ("tsvector", "||") -> "tsvector_concat",
    ("jsonb", "||") -> "jsonb_concat",
    ("bit", "&") -> "pg_bit_and", ("bit", "|") -> "pg_bit_or", ("bit", "#") -> "pg_bit_xor")

  /** The boolean pg_trgm operators' support functions (pg's names; Compat
    * emits them for `<%` `%>` `<<%` `%>>`, and `%` between two text
    * operands is `similarity_op`): the operator, the similarity
    * function, and the session GUC holding the threshold it must reach,
    * with the extension default. */
  private val trgmOps: Map[String, (String, String, String, Double)] = Map(
    "similarity_op" -> ("%", "similarity", "pg_trgm.similarity_threshold", 0.3),
    "word_similarity_op" ->
      ("<%", "word_similarity", "pg_trgm.word_similarity_threshold", 0.6),
    "word_similarity_commutator_op" ->
      ("%>", "word_similarity_c", "pg_trgm.word_similarity_threshold", 0.6),
    "strict_word_similarity_op" ->
      ("<<%", "strict_word_similarity", "pg_trgm.strict_word_similarity_threshold", 0.5),
    "strict_word_similarity_commutator_op" ->
      ("%>>", "strict_word_similarity_c", "pg_trgm.strict_word_similarity_threshold", 0.5))

  /** `similarity(a, b) >= threshold` for trigram operator function `fnOp`,
    * the threshold read from the statement's session ([[TxnCtx]]); a
    * missing or unparseable value reads as the extension default, like
    * an unloaded extension. */
  private def trgmMatch(fnOp: String, a: Expression, b: Expression): Expression = {
    val (op, fn, guc, default) = trgmOps(fnOp)
    requireText(op, Seq(a, b))
    val threshold = TxnCtx.session.flatMap(_.gucs.get(guc))
      .flatMap(_.trim.toDoubleOption).filter(d => d >= 0.0 && d <= 1.0)
      .getOrElse(default)
    GreaterThanOrEqual(fnCall(fn, Seq(a, b)), Literal(threshold))
  }

  /** pg_trgm's operators take text: another operand type is pg's 42883,
    * not a trigram match over the value's text (`5 <% 3`). */
  private def requireText(op: String, args: Seq[Expression]): Unit = {
    val bare = args.map(stripImplicitCasts)
    if (bare.exists(a => a.dataType != StringType && a.dataType != NullType)) {
      def name(a: Expression) = PgFunctions.formatType(PgType.oidOf(a.dataType), -1)
      throw PgException("42883", s"operator does not exist: ${name(bare(0))} $op ${name(bare(1))}")
    }
  }

  /** Each range type's element: its pg name, and the types its bounds'
    * canonical text sorts as, most significant first. A numrange bound
    * sorts as a double, then as a decimal(38,18); only bounds that tie
    * as doubles and differ past 20 integer or 18 fractional digits
    * compare inexactly. */
  private val rangeElems: Map[String, (String, Seq[DataType])] = Map(
    "int4range" -> ("integer", Seq(LongType)), "int8range" -> ("bigint", Seq(LongType)),
    "numrange" -> ("numeric", Seq(DoubleType, DecimalType(38, 18))),
    "daterange" -> ("date", Seq(DateType)),
    "tsrange" -> ("timestamp without time zone", Seq(TimestampNTZType)),
    "tstzrange" -> ("timestamp with time zone", Seq(TimestampType)))

  /** Functions of an enum value that read only its type: → the forms
    * taking the type name (`enum_first_n('mood')`). */
  private val enumTypeFns = Set("enum_first", "enum_last", "enum_range")

  /** The family functions, orderings and functions that pg's overloaded
    * operators and functions resolve to, chosen by operand type. Spark
    * parses the spellings (`+ - * / % & | ~ << >> < <= > >= ||`,
    * `length`, `min`/`max`, `greatest`/`least`, ORDER BY) and types
    * them as STRING operations; Compat turns the spellings Spark cannot
    * parse into one neutral call each (PgContains and arrays_overlap for
    * `@> <@ &&`, jsonb_path_match for `@@`, trgm_sim_dist for `<->`).
    * This extractor matches the resolved or type-mismatched node,
    * looking through the analyzer's casts:
    *  - range, inet/cidr, macaddr, money: the family operators;
    *  - enum: `< <= > >=`, ORDER BY, min/max, greatest/least by declared
    *    label position (pg §8.7.2), and enum_first/enum_last/enum_range;
    *  - tsvector/tsquery: `@@ && || <->`, `length`;
    *  - pg_trgm: `%` between two text operands and the threshold
    *    operators, against the session's `pg_trgm.*_threshold`;
    *  - jsonb: `- ||` (and `->`/`#>`, in the rule above);
    *  - bit/varbit: `& | # ~ << >>`, casts to int/bigint and from an
    *    integer (Compat's pg_bit_cast), bit_count, octet_length,
    *    get_bit, set_bit, bit_length;
    *  - time (bigint nanos): `date + time`, `timestamp ± time` and
    *    `time - time` read the time as an interval, `time ± interval`
    *    wraps at 24 h;
    *  - inet/cidr: ORDER BY and min/max in network order; ranges:
    *    ORDER BY in range order;
    *  - EXTRACT, date_part, date_trunc, isfinite ([[PgNames.TypedCall]]):
    *    an interval's pg fields, a time's time-of-day fields, a date's or
    *    timestamp's fields Spark lacks ([[datetimeFields]]).
    * BETWEEN's shared operand (a common-expression reference) types as
    * its definition. One instance per rule application: the plan's
    * [[definedTypes]] are built on first use. */
  private final class FamilyOps(plan: LogicalPlan) {
    private lazy val defs = definedTypes(plan)

    /** The expressions that common-expression references (BETWEEN's
      * shared operand) stand for. */
    private lazy val commons: Map[CommonExpressionId, Expression] =
      plan.flatMap(_.expressions.flatMap(_.collect {
        case w: With => w.defs.map(d => d.id -> d.child)
      }.flatten)).toMap

    /** The pg type of an operand (analyzer-inserted casts stripped). */
    private def pgType(e: Expression): Option[String] = stripImplicitCasts(e) match {
      case r: CommonExpressionRef => commons.get(r.id).flatMap(pgType)
      case v => if (v.resolved) pgTypeOf(v, id => defs(id)) else None
    }

    /** The pg type of a STRING operand: every family this rule
      * dispatches, apart from time, is a STRING to Spark. */
    def typeOf(e: Expression): Option[String] = {
      val v = stripImplicitCasts(e)
      if (v.resolved && v.dataType == StringType) pgType(v) else None
    }

    private def family(e: Expression): Option[String] = typeOf(e).map {
      case r if Compat.rangeTypeNames.contains(r) => "range"
      case "cidr" => "inet"
      case "macaddr8" => "macaddr"
      case "varbit" => "bit"
      case t => t
    }

    /** A time-of-day operand (the TIME carrier, bigint nanos). */
    private def isTime(e: Expression): Boolean = {
      val v = stripImplicitCasts(e)
      v.resolved && v.dataType == LongType && pgType(v).contains("time")
    }

    private def isBits(e: Expression): Boolean = e.resolved && family(e).contains("bit")

    /** pg_typeof's answer for an analyzed value. */
    def typeName(e: Expression): String = (e match {
      // `lower(r)` / `upper(r)` yield the range's ELEMENT type
      case u: ScalaUDF if u.udfName.exists(n => n == "range_lower" || n == "range_upper") =>
        pgType(u.children.head).flatMap(rangeElems.get).map(_._1)
      case _ => pgType(e).map {
        case "time" => "time without time zone"
        case "varbit" => "bit varying"
        case t => t
      }
    }).getOrElse(PgFunctions.formatType(PgType.oidOf(e.dataType), -1))

    /** The operand's type when it is one of the session's enum types. */
    private def enumOf(e: Expression): Option[String] =
      typeOf(e).filter(t => org.apache.spark.sql.SparkSession.getActiveSession
        .exists(graft.functions.PgEnums.lookup(_, t).isDefined))

    /** A key that orders the operand's values as pg orders its type,
      * where that is not their text order: an enum's declared label
      * position, inet/cidr's network order (pg network_cmp,
      * [[graft.functions.Inet.cmp]]). */
    private def sortKey(e: Expression): Option[Expression] =
      enumOf(e).map(enumOrd(_, e)).orElse(family(e).collect {
        case "inet" => fnCall("inet_sort_key", Seq(stripImplicitCasts(e)))
      })

    /** [[sortKey]], and for ORDER BY (pg has no min/max over ranges) a
      * range's key in pg's range order: empty first, then the lower
      * bound (-infinity first, inclusive before exclusive), then the
      * upper bound (exclusive before inclusive, +infinity last). */
    private def orderKey(e: Expression): Option[Expression] =
      sortKey(e).orElse(typeOf(e).flatMap(rangeElems.get).map { case (_, elem) =>
        val v = stripImplicitCasts(e)
        def f(fn: String) = fnCall(fn, Seq(v))
        def bound(name: String, fn: String) = elem.zipWithIndex.flatMap { case (t, i) =>
          Seq(Literal(s"$name$i"), Cast(f(fn), t, None, EvalMode.TRY))
        }
        val key = CreateNamedStruct(Seq(
          Literal("e"), Not(f("isempty")),
          Literal("li"), Not(f("lower_inf"))) ++ bound("l", "range_lower") ++ Seq(
          Literal("lx"), Not(f("lower_inc")),
          Literal("ui"), f("upper_inf")) ++ bound("u", "range_upper") ++ Seq(
          Literal("ux"), f("upper_inc")))
        If(IsNull(v), Literal(null), key)
      })

    def unapply(e: Expression): Option[Expression] = e match {
      case PgNames.TypedCall(name, args, builtin) if args.forall(_.resolved) =>
        Some(dateCall(name, args, builtin))
      // time of day: pg casts a time beside a date or timestamp to an
      // interval; Spark reads `date ± bigint` as date_add/date_sub and
      // `timestamp - bigint` as a timestamp difference
      case DateAdd(d, t) if isTime(t) =>
        Some(TimestampAddInterval(Cast(d, TimestampNTZType), timeInterval(t)))
      case DateSub(d, t) if isTime(t) =>
        Some(TimestampAddInterval(Cast(d, TimestampNTZType), UnaryMinus(timeInterval(t))))
      case Add(ts, t, _) if ts.resolved && isTsType(ts.dataType) && isTime(t) =>
        Some(TimestampAddInterval(ts, timeInterval(t)))
      case SubtractTimestamps(ts, t, _, _) if isTime(t) =>
        Some(TimestampAddInterval(ts, UnaryMinus(timeInterval(t))))
      case Subtract(l, r, _) if isTime(l) && isTime(r) =>
        Some(Subtract(timeInterval(l), timeInterval(r)))
      // `time ± interval` (Spark's datetime-plus/minus-interval shapes)
      case TimestampAddInterval(t, iv, _) if isTime(t) && iv.resolved =>
        Some(graft.functions.PgMiscExpressions.PgTimePlusInterval(stripImplicitCasts(t), iv))
      case DatetimeSub(t, iv, _) if isTime(t) && iv.resolved =>
        Some(graft.functions.PgMiscExpressions.PgTimePlusInterval(stripImplicitCasts(t), UnaryMinus(iv)))
      case Add(l, r, _) => arith("+", l, r)
      case Subtract(l, r, _) => arith("-", l, r)
      case Multiply(l, r, _) => arith("*", l, r)
      case Divide(l, r, _) => arith("/", l, r)
      // `%` between two text operands is pg_trgm's similarity operator;
      // a number on either side keeps it modulo
      case Remainder(l, r, _) if isText(l) && isText(r) =>
        Some(trgmMatch("similarity_op", stripImplicitCasts(l), stripImplicitCasts(r)))
      case u: ScalaUDF if u.udfName.exists(trgmOps.contains) =>
        Some(trgmMatch(u.udfName.get, u.children(0), u.children(1)))
      // `<->` (Compat's trgm_sim_dist): the phrase operator over
      // tsqueries, distance over geometries, else trigram distance
      case u: ScalaUDF if u.udfName.contains("trgm_sim_dist") && u.children.forall(_.resolved) =>
        val args = u.children.map(stripImplicitCasts)
        if (args.forall(pgType(_).contains("geometry")))
          Some(fnCall("st_distance", args))
        else same("<->", args(0), args(1)).orElse { requireText("<->", args); None }
      case u: ScalaUDF
          if u.udfName.exists(enumTypeFns.contains) && u.children.head.resolved =>
        enumOf(u.children.head).map(t => fnCall(u.udfName.get + "_n", Seq(Literal(t))))
      case c: BinaryComparison
          if !c.isInstanceOf[EqualTo] && !c.isInstanceOf[EqualNullSafe] =>
        same(c.symbol, c.left, c.right).orElse(enumCompare(c))
      case Concat(Seq(l, r)) => same("||", l, r)
      // a bit string shifts by an integer (Spark's coercion may have
      // cast the bit operand to int)
      case ShiftLeft(l, r) => same("<<", l, r).orElse(bitShift("pg_bit_shl", l, r))
      case ShiftRight(l, r) => same(">>", l, r).orElse(bitShift("pg_bit_shr", l, r))
      case BitwiseAnd(l, r) => same("&", l, r)
      case BitwiseOr(l, r) => same("|", l, r)
      case BitwiseXor(l, r) => same("#", l, r)
      case ArraysOverlap(l, r) => same("&&", l, r)
      case m: graft.functions.PgJsonbPathMatch if !m.tz && m.children.length == 2 =>
        textSearchMatch(m.children(0), m.children(1))
      case Length(c) if typeOf(c).contains("tsvector") =>
        Some(fnCall("ts_length", Seq(stripImplicitCasts(c))))
      case so: SortOrder => orderKey(so.child).map(k => so.copy(child = k))
      // a windowed or filtered aggregate keeps its AggregateExpression:
      // only the function inside changes
      case ae @ aggregate.AggregateExpression(m @ (_: aggregate.Min | _: aggregate.Max),
            _, _, _, _) =>
        val v = m.children.head
        sortKey(v).map(k => ae.copy(aggregateFunction = m match {
          case _: aggregate.Min => aggregate.MinBy(v, k)
          case _ => aggregate.MaxBy(v, k)
        }))
      case g @ (_: Greatest | _: Least) if g.children.forall(_.resolved) =>
        g.children.iterator.flatMap(enumOf).nextOption().map(t => fnCall("enum_label_at",
          Seq(Literal(t), g.withNewChildren(g.children.map(enumOrd(t, _))))))
      // an ordered aggregate's keys (Compat's sorted collect,
      // named_struct('n0', k0 IS NULL, 'k0', k0, …, 'v', v)) order like
      // ORDER BY
      case s: CreateNamedStruct if isSortedCollect(s) =>
        val keyed = s.children.grouped(2).flatMap {
          case Seq(n @ Literal(k, StringType), v) if k.toString.startsWith("k") =>
            Seq(n, orderKey(v).getOrElse(v))
          case pair => pair
        }.toSeq
        if (keyed == s.children) None else Some(s.withNewChildren(keyed))
      // `@>` / `<@` (PgContains(container, contained)): a range on
      // either side — range_contains tells range from element by shape
      case graft.functions.PgJsonExpressions.PgContains(l, r)
          if l.resolved && r.resolved &&
            (family(l).contains("range") || family(r).contains("range")) =>
        Some(fnCall("range_contains", Seq(stripImplicitCasts(l), stripImplicitCasts(r))))
      case BitwiseNot(c) if c.resolved => family(c).collect {
        case "bit" => fnCall("pg_bit_not", Seq(stripImplicitCasts(c)))
        case "inet" => fnCall("inet_not", Seq(stripImplicitCasts(c)))
        case "macaddr" => fnCall("mac_not", Seq(stripImplicitCasts(c)))
      }
      case Upper(c) if c.resolved && family(c).contains("range") =>
        Some(fnCall("range_upper", Seq(stripImplicitCasts(c))))
      case Lower(c) if c.resolved && family(c).contains("range") =>
        Some(fnCall("range_lower", Seq(stripImplicitCasts(c))))
      case t: graft.functions.PgMiscExpressions.PgTrunc
          if t.children.length == 1 && t.children.head.resolved &&
            family(t.children.head).contains("macaddr") =>
        Some(fnCall("mac_trunc", t.children.map(stripImplicitCasts)))
      case f: graft.functions.Inet.InetFn
          if (f.fnName == "abbrev" || f.fnName == "set_masklen") &&
            f.children.head.resolved && typeOf(f.children.head).contains("cidr") =>
        Some(fnCall(if (f.fnName == "abbrev") "pg_abbrev_cidr" else "pg_set_masklen_cidr",
          f.children))
      // inet/cidr → text (`::text`, `text(x)`) shows the mask length
      case c @ Cast(x, StringType, _, _)
          if !notUserCast(c) && x.resolved && family(x).contains("inet") =>
        Some(fnCall("pg_inet_text", Seq(stripImplicitCasts(x))))
      // money::numeric reads the currency text
      case c @ Cast(x, _: DecimalType, _, _)
          if !notUserCast(c) && x.resolved && family(x).contains("money") =>
        Some(fnCall("money_to_numeric", Seq(stripImplicitCasts(x))))
      // bit → int/bigint reads the bits as a binary number
      case c @ Cast(x, IntegerType | LongType, _, _) if !notUserCast(c) && isBits(x) =>
        Some(Cast(fnCall("pg_bit_to_int", Seq(stripImplicitCasts(x))), c.dataType))
      // `::bit(n)` (Compat's pg_bit_cast): an integer converts to its
      // low n bits, anything else casts as bit text
      case u: ScalaUDF if u.udfName.contains("pg_bit_cast") && u.children.forall(_.resolved) &&
          isIntegral(stripImplicitCasts(u.children.head).dataType) =>
        Some(fnCall("pg_int_to_bit", u.children.map(stripImplicitCasts)))
      // the accessors Spark resolves to its integer, text or bytea forms
      case BitwiseCount(c) if isBits(c) => Some(fnCall("pg_bitstr_count", Seq(stripImplicitCasts(c))))
      case OctetLength(c) if isBits(c) => Some(fnCall("pg_bit_octet_length", Seq(stripImplicitCasts(c))))
      case BitLength(c) if isBits(c) => Some(Length(stripImplicitCasts(c)))
      case u: ScalaUDF if u.udfName.exists(n => n == "get_bit" || n == "set_bit") &&
          isBits(u.children.head) =>
        Some(fnCall(if (u.udfName.contains("get_bit")) "pg_bit_get" else "pg_bit_set",
          u.children.map(stripImplicitCasts)))
      case _ => None
    }

    /** EXTRACT (`extract('field', x)`), date_part, date_trunc and
      * isfinite by x's type. pg does not normalize an interval's fields
      * as Spark does (hours of '100 hours' is 100); date_part is double
      * precision where EXTRACT is numeric (pg 14+). A time has only its
      * time-of-day fields. Otherwise a date or timestamp field Spark
      * lacks or numbers differently, else the builtin. */
    private def dateCall(name: String, args: Seq[Expression],
        builtin: Seq[Expression] => Expression): Expression = {
      val x = args.last
      val field = args.head match {
        case Literal(f, StringType) if f != null && args.length == 2 => Some(f.toString.toLowerCase)
        case _ => None
      }
      def part(of: Expression): Expression = {
        val p = graft.functions.PgFormatExpressions.PgIntervalPart(args.head, of)
        if (name == "date_part") taggedCast(p, DoubleType) else p
      }
      (name, field) match {
        case ("isfinite", _) if isIvType(x.dataType) => Literal(true)
        case ("date_trunc", _) if isIvType(x.dataType) =>
          graft.functions.PgFormatExpressions.PgIntervalTrunc(args.head, x)
        case ("extract" | "date_part", _) if isIvType(x.dataType) => part(x)
        case ("extract" | "date_part", Some(f)) if isTime(x) =>
          if (!timeFields(graft.functions.PgFormatExpressions.PgIntervalPart.unit(f)))
            throw PgException("0A000", s"""unit "$f" not supported for type time without time zone""")
          part(timeInterval(x))
        case ("date_trunc", Some("decade" | "century" | "millennium")) =>
          fnCall("pg_date_trunc", args)
        case ("extract", Some("epoch")) =>
          taggedCast(datetimeField("epoch", x), DecimalType(24, 6))
        case ("extract" | "date_part", Some(f)) if datetimeFields.contains(f) =>
          datetimeField(f, x)
        case _ => builtin(args)
      }
    }

    /** `<<`/`>>` of a bit string by an integer. */
    private def bitShift(fn: String, l: Expression, r: Expression): Option[Expression] =
      if (isBits(l) && r.resolved) Some(fnCall(fn, Seq(stripImplicitCasts(l), stripImplicitCasts(r))))
      else None

    /** The TIME carrier (nanos) as pg's implicit time → interval cast. */
    private def timeInterval(t: Expression): Expression =
      fnCall("make_dt_interval", Seq(Literal(0), Literal(0), Literal(0),
        Divide(Cast(stripImplicitCasts(t), DecimalType(20, 0)), Literal(BigDecimal(1000000000L)))))

    /** `+ - * /`: the mixed-type forms (inet ± integer, money × / number,
      * jsonb − key), then the same-family ones. */
    private def arith(op: String, l: Expression, r: Expression): Option[Expression] = {
      if (!l.resolved || !r.resolved) return None
      val (fl, fr) = (family(l), family(r))
      def integral(e: Expression) = isIntegral(stripImplicitCasts(e).dataType)
      def number(e: Expression) = stripImplicitCasts(e).dataType.isInstanceOf[NumericType]
      def call(fn: String, a: Expression, b: Expression) =
        Some(fnCall(fn, Seq(stripImplicitCasts(a), stripImplicitCasts(b))))
      (op, fl, fr) match {
        case ("+", Some("inet"), None) if integral(r) => call("inet_add", l, r)
        case ("+", None, Some("inet")) if integral(l) => call("inet_add", r, l)
        case ("-", Some("inet"), None) if integral(r) => call("inet_sub", l, r)
        case ("*", Some("money"), None) if number(r) => call("money_mul", l, r)
        case ("*", None, Some("money")) if number(l) => call("money_mul", r, l)
        // money / integer truncates (pg cash_div_int*); / float or
        // numeric and * round half-even (rint)
        case ("/", Some("money"), None) if integral(r) => call("money_div_int", l, r)
        case ("/", Some("money"), None) if number(r) => call("money_div_num", l, r)
        // jsonb - text | integer | text[] deletes keys or an element
        case ("-", Some("jsonb"), None) => call("jsonb_delete", l, r)
        case _ => same(op, l, r)
      }
    }

    /** Both operands of one family — or one typed and the other an
      * unknown (string) literal, which pg reads as the typed side's type. */
    private def same(op: String, l: Expression, r: Expression): Option[Expression] = {
      if (!l.resolved || !r.resolved) return None
      val fam = (family(l), family(r)) match {
        case (Some(a), Some(b)) if a == b => Some(a)
        case (Some(a), None) if implicitStrLit(r).isDefined => Some(a)
        case (None, Some(b)) if implicitStrLit(l).isDefined => Some(b)
        case _ => None
      }
      fam.flatMap(f => sameOps.get((f, op)))
        .map(fn => fnCall(fn, Seq(stripImplicitCasts(l), stripImplicitCasts(r))))
    }

    /** An order comparison with an enum operand compares declared label
      * positions; `=`/`<>` stay on the label text. */
    private def enumCompare(c: BinaryComparison): Option[Expression] =
      if (!c.left.resolved || !c.right.resolved) None
      else enumOf(c.left).orElse(enumOf(c.right)).map(t =>
        c.withNewChildren(Seq(enumOrd(t, c.left), enumOrd(t, c.right))))

    /** `@@` (Compat's jsonb_path_match) with a text-search side:
      * tsvector @@ tsquery either way round (an unknown literal after a
      * tsquery reads as a tsvector), text @@ tsquery (also written
      * tsquery-first, which pg rejects), and two unknown literals as
      * text @@ text, `to_tsvector(l) @@ plainto_tsquery(r)`; anything
      * else stays a jsonpath match. */
    private def textSearchMatch(l0: Expression, r0: Expression): Option[Expression] = {
      if (!l0.resolved || !r0.resolved) return None
      val (l, r) = (stripImplicitCasts(l0), stripImplicitCasts(r0))
      def call(fn: String, a: Expression, b: Expression) = Some(fnCall(fn, Seq(a, b)))
      (typeOf(l), typeOf(r)) match {
        case (Some("tsvector"), _) => call("ts_match", l, r)
        case (_, Some("tsvector")) => call("ts_match", r, l)
        case (Some("tsquery"), _) => call(if (isStringLit(r)) "ts_match" else "ts_match_text", r, l)
        case (_, Some("tsquery")) => call("ts_match_text", l, r)
        case _ if isStringLit(l) && isStringLit(r) =>
          call("ts_match_text", l, fnCall("plainto_tsquery", Seq(Literal("english"), r)))
        case _ => None
      }
    }

    private def isText(e: Expression): Boolean =
      e.resolved && stripImplicitCasts(e).dataType == StringType

    private def isSortedCollect(s: CreateNamedStruct): Boolean = {
      val names = s.nameExprs.map {
        case Literal(n, StringType) => String.valueOf(n)
        case _ => ""
      }
      names.lastOption.contains("v") && names.init.grouped(2).zipWithIndex.forall {
        case (Seq(n, k), i) => n == s"n$i" && k == s"k$i"
        case _ => false
      }
    }
  }

  /** The fields pg reads from a time of day. */
  private val timeFields = Set("hour", "minute", "second", "millisecond", "microsecond", "epoch")

  /** pg fields of a date or timestamp that Spark's EXTRACT lacks or
    * numbers differently, as SQL over the operand `v` (live-pg-15
    * pinned); EXTRACT's epoch is this one cast to numeric. */
  private lazy val datetimeFields: Map[String, Expression] = Map(
    "epoch" -> "CAST(unix_micros(CAST(v AS TIMESTAMP)) AS DOUBLE) / 1000000.0",
    "dow" -> "dayofweek(v) - 1", // pg: 0 = Sunday
    "isodow" -> "weekday(v) + 1", // pg: 7 = Sunday
    "isoyear" -> "pg_isoyear(CAST(v AS DATE))",
    "decade" -> "CAST(floor(year(v) / 10) AS BIGINT)",
    "century" -> "CAST(ceil(year(v) / 100.0) AS BIGINT)",
    "millennium" -> "CAST(ceil(year(v) / 1000.0) AS BIGINT)",
    "microseconds" -> "CAST(extract(SECOND FROM v) * 1000000 AS BIGINT)",
    "milliseconds" -> "CAST(extract(SECOND FROM v) * 1000 AS DECIMAL(20,3))",
    // Julian Date: 1970-01-01 00:00 is 2440588, the day fraction
    // measured from midnight
    "julian" -> "CAST(unix_micros(CAST(v AS TIMESTAMP)) AS DOUBLE) / 86400000000.0 + 2440588"
  ).map { case (f, sql) =>
    f -> org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(sql)
  }

  private def datetimeField(f: String, x: Expression): Expression =
    datetimeFields(f).transformUp {
      case org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(Seq("v")) => x
    }

  /** `enum_ord('type', x)`: x's declared position in its enum type. */
  private def enumOrd(t: String, e: Expression): Expression =
    fnCall("enum_ord", Seq(Literal(t), stripImplicitCasts(e)))

  private def stripImplicitCasts(e: Expression): Expression = e match {
    case c @ Cast(child, _, _, _) if notUserCast(c) => stripImplicitCasts(child)
    case other => other
  }

  private def fnCall(name: String, args: Seq[Expression]): Expression =
    org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
      Seq(name), args, isDistinct = false)

  /** pg float4/float8 → text uses the Ryu-style output function
    * (shortest precise form: `1e3::text` = '1000', not '1000.0') —
    * the SAME renderer the wire codec uses for top-level floats. */
  case class PgFloatText(child: Expression, isFloat4: Boolean)
      extends UnaryExpression
      with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    override def dataType: DataType = StringType
    override def prettyName: String = "pg_float_text"
    override def nullSafeEval(v: Any): Any =
      org.apache.spark.unsafe.types.UTF8String.fromString(
        TextEncoder.formatFloat(
          if (isFloat4) v.asInstanceOf[Float].toDouble else v.asInstanceOf[Double],
          isFloat4))
    override protected def withNewChildInternal(c: Expression): PgFloatText =
      copy(child = c)
  }

  private def isImplicitBoolStr(e: Expression): Boolean = e match {
    case c @ Cast(b, StringType, _, _) =>
      b.resolved && b.dataType == BooleanType && notUserCast(c)
    case _ => false
  }

  private def pgBoolText(e: Expression): Expression = e match {
    case c @ Cast(b, StringType, _, _)
        if b.resolved && b.dataType == BooleanType && notUserCast(c) =>
      If(b, Literal("t"), Literal("f"))
    case other => other
  }

  // ---- unknown-literal coercion helpers (sweep-32) ----

  private def isStringLit(e: Expression): Boolean = e match {
    case Literal(_, StringType) => true
    case _ => false
  }

  private def litText(e: Expression): String = e match {
    case Literal(s: org.apache.spark.unsafe.types.UTF8String, StringType)
        if s != null => s.toString
    case Literal(null, StringType) => null
    case _ => null
  }

  /** The string LITERAL behind an operand — bare, or wrapped in an
    * ANALYZER-inserted cast (Spark's coercion may claim the unknown
    * before the pg rules see it). */
  private def implicitStrLit(e: Expression): Option[Expression] = e match {
    case l @ Literal(_, StringType) => Some(l)
    case c @ Cast(l @ Literal(_, StringType), _, _, _) if notUserCast(c) => Some(l)
    case _ => None
  }

  private def arrayAndStrLit(l: Expression, r: Expression): Boolean =
    (l.dataType.isInstanceOf[ArrayType] && isStringLit(r)) ||
      (isStringLit(l) && r.dataType.isInstanceOf[ArrayType])

  /** pg array_in over a literal: '{…}' text → a typed array literal
    * expression (re-parsed through the analyzer); anything else is
    * pg's malformed-array-literal. */
  private def pgArrayLiteralExpr(text: String, at: ArrayType): Expression = {
    if (text == null) return Literal(null, at)
    val t = text.trim
    if (!(t.startsWith("{") && t.endsWith("}")))
      throw PgException("22P02", s"""malformed array literal: "$text"""")
    var elem: DataType = at.elementType
    while (elem.isInstanceOf[ArrayType])
      elem = elem.asInstanceOf[ArrayType].elementType
    val sql = Compat.arrayLiteralSql(t, elem.sql)
    org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(sql)
  }

  private def castTo(e: Expression, dt: DataType): Expression =
    if (e.dataType == dt) e else Cast(e, dt)

  /** The array type `arr || elem` (either way round) yields: the
    * deeper side's element type widened with the other side's type. */
  private def pendType(l: Expression, r: Expression): Option[ArrayType] = {
    val (arr, elem) = if (arrayDepth(l.dataType) > arrayDepth(r.dataType)) (l, r) else (r, l)
    val at = arr.dataType.asInstanceOf[ArrayType]
    val (et, ot) = (at.elementType, elem.dataType)
    // no string promotion: pg has no common type for text beside int
    if (TypeCoercion.hasStringType(et) != TypeCoercion.hasStringType(ot) &&
        et != NullType && ot != NullType) None
    else TypeCoercion.findWiderTypeForTwo(et, ot).map(ArrayType(_, at.containsNull))
  }

  /** Array nesting depth of a type (0 for a non-array). */
  private def arrayDepth(dt: DataType): Int = dt match {
    case ArrayType(et, _) => 1 + arrayDepth(et)
    case _ => 0
  }

  /** A bare NULL (possibly behind the analyzer's casts). */
  private def isBareNull(e: Expression): Boolean = stripImplicitCasts(e) match {
    case Literal(null, _) => true
    case _ => false
  }

  /** An interval operand, with a coercion-claimed unknown literal
    * rerouted through pg's interval input parser. */
  private def ivOperand(e: Expression): Expression =
    implicitStrLit(e)
      .map(graft.functions.PgFormatExpressions.PgIntervalLiteral(_))
      .getOrElse(e)

  /** A cast TAGGED user-specified so the implicit-literal rules never
    * re-match their own output (fixpoint safety). */
  private def taggedCast(e: Expression, dt: DataType): Expression = {
    val c = Cast(e, dt)
    c.setTagValue(Cast.USER_SPECIFIED_CAST, ())
    c
  }

  private def isTsType(dt: DataType): Boolean =
    dt == TimestampType || dt == TimestampNTZType

  private def isIvType(dt: DataType): Boolean = dt match {
    case CalendarIntervalType | _: DayTimeIntervalType |
         _: YearMonthIntervalType => true
    case _ => false
  }

  private def mixedStrLit(children: Seq[Expression]): Boolean =
    children.exists(isStringLit) &&
      children.exists(c => !isStringLit(c) && c.dataType != StringType)

  /** Widest common type of the NON-string-literal arguments. */
  private def widerKnown(children: Seq[Expression]): Option[DataType] = {
    val known = children.filterNot(isStringLit).map(_.dataType).distinct
    known match {
      case Seq(one) => Some(one)
      case many if many.forall(_.isInstanceOf[NumericType]) =>
        // mixed numeric categories render through float8: pg's numeric
        // keeps PER-VALUE scale (greatest('1', 2.5, 3) prints "3"),
        // which a fixed-scale decimal column cannot reproduce — the
        // shortest-precise float text form can
        if (many.exists(t => t == DoubleType || t == FloatType) ||
          many.exists(_.isInstanceOf[DecimalType])) Some(DoubleType)
        else Some(LongType)
      case _ => None
    }
  }

  private def coerceStrLits(children: Seq[Expression]): Seq[Expression] = {
    val target = widerKnown(children).get
    children.map(c => if (isStringLit(c)) Cast(c, target) else c)
  }

  private val roundedTag = new TreeNodeTag[Unit]("graft.pg.roundedCast")
  private val truncNtzTag = new TreeNodeTag[Unit]("graft.pg.truncNtz")
  private val avgScaleTag = new TreeNodeTag[Unit]("graft.pg.avgScale")

  /** The BYTEA expression behind an argument, unwrapping the
    * analyzer's implicit binary→string cast. */
  private def byteaArg(e: Expression): Option[Expression] = e match {
    case c @ Cast(b, StringType, _, _)
        if b.resolved && b.dataType == BinaryType && notUserCast(c) => Some(b)
    case b if b.resolved && b.dataType == BinaryType => Some(b)
    case _ => None
  }

  /** Both interval-typed AND not a pair Spark's native ± supports —
    * a CalendarInterval side, or mixed year-month + day-time (pg
    * keeps the fields independent; Spark rejects the combination). */
  private def isIvPair(l: DataType, r: DataType): Boolean = {
    def iv(dt: DataType): Boolean = dt match {
      case CalendarIntervalType | _: DayTimeIntervalType |
           _: YearMonthIntervalType => true
      case _ => false
    }
    def ym(dt: DataType): Boolean = dt.isInstanceOf[YearMonthIntervalType]
    def dt0(dt: DataType): Boolean = dt.isInstanceOf[DayTimeIntervalType]
    iv(l) && iv(r) && !((ym(l) && ym(r)) || (dt0(l) && dt0(r)))
  }

  private def notUserCast(c: Cast): Boolean =
    c.getTagValue(Cast.USER_SPECIFIED_CAST).isEmpty

  private def isIntegral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  private def isFractional(t: DataType): Boolean = t match {
    case DoubleType | FloatType | _: DecimalType => true
    case _ => false
  }

  private def widerInt(a: DataType, b: DataType): DataType = {
    def rank(t: DataType): Int = t match {
      case ByteType => 0
      case ShortType => 1
      case IntegerType => 2
      case _ => 3
    }
    // pg's common division results: int⊗int → int4, anything with an
    // int8 side → int8 (int2/int2 → int2 in pg; int4 here renders
    // identically in text and keeps one wire OID for the common cases)
    if (rank(a) <= 2 && rank(b) <= 2) IntegerType else LongType
  }
}
