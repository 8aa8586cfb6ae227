package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, TypeCheckResult}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.SparkSession

/** Native Catalyst expressions for the text-analysis hot path
  * (SURVEY §0 LLM-pipeline ops: language ID, quality scoring, token
  * counting, rolling-hash fingerprinting).
  *
  * As built-in compositions those operators evaluate 16 full-string
  * `replace` copies (lang ID), three regex passes (quality), two
  * array-materializing splits (token stats), and a per-character
  * interpreted higher-order lambda (fingerprint) PER ROW. Each
  * expression here does the same work in ONE pass over the string
  * inside whole-stage codegen (`doGenCode` emits a static helper
  * call, the `lev_banded` pattern), with zero intermediate
  * allocations beyond the output row.
  *
  * Semantics are pinned bit-for-bit to the compositions they replace
  * (TextAnalysisSpec's equivalence properties):
  *  - token counts replicate `size(split(trim(text), "\\s+"))`:
  *    Spark `trim` strips SPACES only, `split` is Java Pattern.split
  *    with limit -1 (leading/trailing empty tokens kept), Java `\s`
  *    is ASCII [ \t\n\x0B\f\r];
  *  - marker counts replicate `(length(p) - length(replace(p, m, ''))) /
  *    len(m)` — non-overlapping left-to-right occurrence count;
  *  - char counts are CODE POINTS (Spark `length`), and the
  *    fingerprint walks code points like `split(text, '')` + `ascii`
  *    (Java's zero-width split never separates surrogate pairs);
  *  - NULL text → NULL result (null structs project null fields),
  *    except `lang_scores.lang_pred` which is 'und' — matching the
  *    CASE chain both engines evaluate over NULL scores.
  */
object TextExpressions {

  /** Stopword-marker sets, space-padded whole words. The single
    * source of truth — `TextAnalysisOps.langMarkers` aliases this and
    * the DuckDB oracle SQL is generated from it. */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq(" the ", " a ", " and ", " of "),
    "de" -> Seq(" der ", " die ", " und ", " das "),
    "es" -> Seq(" el ", " la ", " los ", " que "),
    "fr" -> Seq(" le ", " la ", " les ", " des "))

  // langs in output-struct order; marker arrays resolved once
  private val scoreLangs = Array("de", "en", "es", "fr")
  private val markerArr: Array[Array[String]] =
    scoreLangs.map(l => langMarkers(l).toArray)

  /** Non-overlapping left-to-right occurrence count — exactly the
    * `(length(s) - length(replace(s, m, ''))) / len(m)` arithmetic. */
  private def countOcc(s: String, m: String): Long = {
    var c = 0L
    var i = s.indexOf(m)
    while (i >= 0) { c += 1; i = s.indexOf(m, i + m.length) }
    c
  }

  // Java regex \s (default flags): ASCII whitespace only
  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** `size(split(trim(text), "\\s+"))`: strip 0x20 both ends (Spark
    * trim), then separator-run count + 1 (Pattern.split limit -1
    * keeps leading AND trailing empty tokens; empty input → [""]). */
  private def wsTokenCount(s: String): Long = {
    var b = 0
    var e = s.length
    while (b < e && s.charAt(b) == ' ') b += 1
    while (e > b && s.charAt(e - 1) == ' ') e -= 1
    if (b == e) return 1L
    var runs = 0L
    var i = b
    while (i < e) {
      if (isWs(s.charAt(i))) {
        runs += 1
        while (i < e && isWs(s.charAt(i))) i += 1
      } else i += 1
    }
    runs + 1
  }

  private val undRow: InternalRow = new GenericInternalRow(
    Array[Any](null, null, null, null, null, UTF8String.fromString("und")))

  /** One-pass language scores + argmax prediction. Called from
    * generated code; accepts null (NULL text → NULL scores, 'und'). */
  def langScoresEval(t: UTF8String): InternalRow = {
    if (t == null) return undRow
    val s = t.toString
    val padded = " " + s + " "
    val scores = new Array[Long](5)
    var li = 0
    while (li < 4) {
      val ms = markerArr(li)
      var mi = 0
      var sc = 0L
      while (mi < ms.length) { sc += countOcc(padded, ms(mi)); mi += 1 }
      scores(li) = sc
      li += 1
    }
    // zh: CJK ideograph count (BMP range, so char compare is exact)
    var zh = 0L
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c >= '一' && c <= '鿿') zh += 1
      i += 1
    }
    scores(4) = zh
    var best = scores(0)
    i = 1
    while (i < 5) { if (scores(i) > best) best = scores(i); i += 1 }
    // first lang in (de, en, es, fr, zh) order at the max — the CASE
    // chain's tie-break
    val pred =
      if (best <= 0) "und"
      else if (scores(0) == best) "de"
      else if (scores(1) == best) "en"
      else if (scores(2) == best) "es"
      else if (scores(3) == best) "fr"
      else "zh"
    new GenericInternalRow(Array[Any](scores(0), scores(1), scores(2),
      scores(3), scores(4), UTF8String.fromString(pred)))
  }

  /** Character-bigram Shannon entropy — the compression-ratio quality
    * proxy (low entropy ⇒ repetitive/templated text, high ⇒ natural
    * prose or noise; the cheap stand-in for a gzip-ratio filter).
    * Bigrams are CODE POINT pairs (DuckDB's `substr(text, i, 2)`
    * unit, so the oracle reproduces them on non-BMP text too).
    *
    * Cross-engine determinism: H = Σ (c/N)·ln(N/c) accumulates over
    * distinct bigrams in UTF-8 BINARY ORDER on both engines (DuckDB:
    * `sum(… ORDER BY b)`; here: a UTF8String-keyed TreeMap walk), so
    * the IEEE add sequence is identical; the result is floor-quantized
    * to micro-nats like q69's idf. */
  def charEntropyEval(t: UTF8String): InternalRow = {
    val cps = t.toString.codePoints().toArray
    if (cps.length < 2)
      return new GenericInternalRow(Array[Any](0L, 0L))
    val counts = new java.util.TreeMap[UTF8String, Long]()
    var i = 0
    while (i + 1 < cps.length) {
      counts.merge(UTF8String.fromString(new String(cps, i, 2)), 1L,
        (a, b) => a + b)
      i += 1
    }
    val nD = (cps.length - 1).toDouble
    var h = 0.0
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next().toDouble
      h += (c / nD) * math.log(nD / c)
    }
    new GenericInternalRow(Array[Any](
      (cps.length - 1).toLong, math.floor(h * 1000000.0).toLong))
  }

  /** One-pass quality counts: code points, ws tokens, [a-zA-Z] chars,
    * 0x20 chars. Ratio arithmetic stays in Catalyst (decimal casts). */
  def textQualityEval(t: UTF8String): InternalRow = {
    val s = t.toString
    var alpha = 0L
    var spaces = 0L
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')) alpha += 1
      else if (c == ' ') spaces += 1
      i += 1
    }
    new GenericInternalRow(Array[Any](
      t.numChars().toLong, wsTokenCount(s), alpha, spaces))
  }

  /** One-pass token counts: ws tokens, BPE-ish tokens (`[\w]+` runs or
    * single non-word non-space CODE POINTS — Java regex matches code
    * points, so a non-BMP symbol is ONE token), plus code-point count
    * for the chars/4 estimate. */
  def tokenCountsEval(t: UTF8String): InternalRow = {
    val s = t.toString
    var bpe = 0L
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      val isWord = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
        (c >= '0' && c <= '9') || c == '_'
      if (isWord) {
        bpe += 1
        i += 1
        while (i < s.length && {
          val w = s.charAt(i)
          (w >= 'a' && w <= 'z') || (w >= 'A' && w <= 'Z') ||
            (w >= '0' && w <= '9') || w == '_'
        }) i += 1
      } else if (isWs(c)) i += 1
      else {
        bpe += 1
        i += Character.charCount(s.codePointAt(i))
      }
    }
    new GenericInternalRow(Array[Any](
      wsTokenCount(s), bpe, t.numChars().toLong))
  }

  /** Rolling polynomial hash over code points:
    * h = (h*31 + codepoint) mod 1e9+7, h0 = 0. */
  def rollingFpEval(t: UTF8String): Long = {
    val s = t.toString
    var h = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * 31 + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    h
  }

  /** Distinct character n-gram shingles in first-occurrence order —
    * the one-pass twin of
    * `array_distinct(transform(sequence(1, length-n+1), i -> substr(i, n)))`
    * (code-point windows, like Spark's substr; texts shorter than n
    * code points and NULL text both yield the empty array, matching
    * the `when(cnt >= 1, ...).otherwise(array())` composition where a
    * NULL condition falls through to otherwise). */
  def charShinglesEval(t: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    if (t == null)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val total = t.numChars()
    val cnt = total - (n - 1)
    if (cnt < 1)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i < cnt) {
      seen.add(t.substring(i, i + n))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      seen.toArray(new Array[AnyRef](seen.size)).asInstanceOf[Array[Any]])
  }

  private def checkString(fn: String, child: Expression): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$fn requires a string argument, got ${child.dataType.simpleString}")

  /** lang_scores(text) → struct<score_de..score_zh: long, lang_pred>.
    * NOT null-intolerant: NULL text yields (NULLs, 'und') — the value
    * the downstream CASE chain and the DuckDB oracle both produce. */
  case class LangScores(child: Expression) extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      checkString(prettyName, child)
    override def dataType: DataType = StructType(Seq(
      StructField("score_de", LongType), StructField("score_en", LongType),
      StructField("score_es", LongType), StructField("score_fr", LongType),
      StructField("score_zh", LongType),
      StructField("lang_pred", StringType, nullable = false)))
    override def nullable: Boolean = false
    override def prettyName: String = "lang_scores"

    override def eval(input: InternalRow): Any =
      langScoresEval(child.eval(input).asInstanceOf[UTF8String])

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val c = child.genCode(ctx)
      val resultCode =
        code"""
           |${c.code}
           |InternalRow ${ev.value} = graft.functions.TextExpressions.langScoresEval(
           |  ${c.isNull} ? null : ${c.value});
           |""".stripMargin
      ev.copy(code = resultCode, isNull = FalseLiteral)
    }

    override protected def withNewChildInternal(newChild: Expression): LangScores =
      copy(child = newChild)
  }

  /** text_quality(text) → struct<n_chars, n_tokens, n_alpha, n_spaces>. */
  case class TextQuality(child: Expression) extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      checkString(prettyName, child)
    override def dataType: DataType = StructType(Seq(
      StructField("n_chars", LongType, nullable = false),
      StructField("n_tokens", LongType, nullable = false),
      StructField("n_alpha", LongType, nullable = false),
      StructField("n_spaces", LongType, nullable = false)))
    override def nullable: Boolean = true
    override def prettyName: String = "text_quality"

    override def nullSafeEval(t: Any): Any =
      textQualityEval(t.asInstanceOf[UTF8String])

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, t =>
        s"${ev.value} = graft.functions.TextExpressions.textQualityEval($t);")

    override protected def withNewChildInternal(newChild: Expression): TextQuality =
      copy(child = newChild)
  }

  /** char_entropy(text) → struct<n_bigrams, entropy_u> (micro-nats). */
  case class CharEntropy(child: Expression) extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      checkString(prettyName, child)
    override def dataType: DataType = StructType(Seq(
      StructField("n_bigrams", LongType, nullable = false),
      StructField("entropy_u", LongType, nullable = false)))
    override def nullable: Boolean = true
    override def prettyName: String = "char_entropy"

    override def nullSafeEval(t: Any): Any =
      charEntropyEval(t.asInstanceOf[UTF8String])

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, t =>
        s"${ev.value} = graft.functions.TextExpressions.charEntropyEval($t);")

    override protected def withNewChildInternal(newChild: Expression): CharEntropy =
      copy(child = newChild)
  }

  /** token_counts(text) → struct<ws_tokens, bpeish_tokens, n_chars>. */
  case class TokenCounts(child: Expression) extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      checkString(prettyName, child)
    override def dataType: DataType = StructType(Seq(
      StructField("ws_tokens", LongType, nullable = false),
      StructField("bpeish_tokens", LongType, nullable = false),
      StructField("n_chars", LongType, nullable = false)))
    override def nullable: Boolean = true
    override def prettyName: String = "token_counts"

    override def nullSafeEval(t: Any): Any =
      tokenCountsEval(t.asInstanceOf[UTF8String])

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, t =>
        s"${ev.value} = graft.functions.TextExpressions.tokenCountsEval($t);")

    override protected def withNewChildInternal(newChild: Expression): TokenCounts =
      copy(child = newChild)
  }

  /** rolling_fp(text) → long. */
  case class RollingFp(child: Expression) extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      checkString(prettyName, child)
    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override def prettyName: String = "rolling_fp"

    override def nullSafeEval(t: Any): Any =
      rollingFpEval(t.asInstanceOf[UTF8String])

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, t =>
        s"${ev.value} = graft.functions.TextExpressions.rollingFpEval($t);")

    override protected def withNewChildInternal(newChild: Expression): RollingFp =
      copy(child = newChild)
  }

  /** char_shingles(text, n) → array<string> (distinct n-grams,
    * first-occurrence order; never NULL — empty array for NULL/short
    * text, the composition's behavior). */
  case class CharShingles(child: Expression, n: Int) extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      if (n < 1)
        TypeCheckResult.TypeCheckFailure(s"$prettyName requires n >= 1, got $n")
      else checkString(prettyName, child)
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullable: Boolean = false
    override def prettyName: String = "char_shingles"

    override def eval(input: InternalRow): Any =
      charShinglesEval(child.eval(input).asInstanceOf[UTF8String], n)

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val c = child.genCode(ctx)
      val resultCode =
        code"""
           |${c.code}
           |org.apache.spark.sql.catalyst.util.GenericArrayData ${ev.value} =
           |  graft.functions.TextExpressions.charShinglesEval(
           |    ${c.isNull} ? null : ${c.value}, $n);
           |""".stripMargin
      ev.copy(code = resultCode, isNull = FalseLiteral)
    }

    override protected def withNewChildInternal(newChild: Expression): CharShingles =
      copy(child = newChild)
  }

  /** One-pass URL-domain extraction — the codegen twin of
    * `transform(regexp_extract_all(text, UrlPattern, 0), u ->
    *   regexp_replace(regexp_replace(regexp_replace(u,
    *     '^https?://', ''), '^www\\.', ''), '/.*$', ''))`
    * with UrlPattern =
    * `(https?://|www\.)[A-Za-z0-9.-]+\.[A-Za-z]{2,}(/[A-Za-z0-9._/-]*)?`.
    *
    * Hand-rolled to replicate Java regex semantics exactly
    * (TextAnalysisSpec pins bit-equivalence against the composition):
    *  - leftmost non-overlapping matches, search resumes at match end;
    *  - the two alternation prefixes start with distinct chars ('h'
    *    vs 'w'), so at most one can fire per position; `https?` tries
    *    the 's' branch first, then the bare one;
    *  - greedy `[A-Za-z0-9.-]+` backtracks from the end of the
    *    host-char run: the LAST '.' inside the run followed by >= 2
    *    letters ends the host (the `{2,}` letters then extend
    *    greedily — letters are host chars, so they sit inside the
    *    run);
    *  - the optional `(/path)?` group only moves the match end, never
    *    the domain, because `/.*$` strips it anyway — so the scanner
    *    consumes it solely to place the next search position;
    *  - domain = matched host minus the scheme, minus one leading
    *    `www.` (the replace chain applies `^www\.` AFTER the scheme
    *    strip, so `https://www.x.com` also reduces to `x.com`).
    *
    * Multiplicity and order preserved (one element per match) — the
    * downstream per-domain mention counts need the duplicates. */
  def urlDomainsEval(t: UTF8String): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    if (t == null) return null
    val s = t.toString
    val n = s.length
    val out = new java.util.ArrayList[AnyRef](4)
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      var prefixEnd = -1
      var schemePrefix = false
      if (c == 'h' && s.startsWith("http", i)) {
        if (s.startsWith("s://", i + 4)) { prefixEnd = i + 8; schemePrefix = true }
        else if (s.startsWith("://", i + 4)) { prefixEnd = i + 7; schemePrefix = true }
      } else if (c == 'w' && s.startsWith("www.", i)) {
        prefixEnd = i + 4
      }
      if (prefixEnd < 0) { i += 1 }
      else {
        // maximal run of host chars [A-Za-z0-9.-]
        var runEnd = prefixEnd
        while (runEnd < n && {
          val h = s.charAt(runEnd)
          (h >= 'a' && h <= 'z') || (h >= 'A' && h <= 'Z') ||
            (h >= '0' && h <= '9') || h == '.' || h == '-'
        }) runEnd += 1
        // backtrack the greedy +: last '.' in the run (with >= 1 host
        // char before it) followed by >= 2 letters
        var hostEnd = -1
        var k = runEnd - 1
        while (hostEnd < 0 && k >= prefixEnd + 1) {
          if (s.charAt(k) == '.') {
            var m = k + 1
            while (m < runEnd && {
              val l = s.charAt(m)
              (l >= 'a' && l <= 'z') || (l >= 'A' && l <= 'Z')
            }) m += 1
            if (m - (k + 1) >= 2) hostEnd = m
          }
          k -= 1
        }
        if (hostEnd < 0) { i += 1 }
        else {
          // `^www\.` strips exactly ONE leading "www.": for a
          // www.-prefixed match that IS the prefix (already outside
          // domStart); only a scheme-prefixed host can shed another
          var domStart = prefixEnd
          if (schemePrefix && s.startsWith("www.", domStart) &&
              hostEnd > domStart + 4)
            domStart += 4
          out.add(UTF8String.fromString(s.substring(domStart, hostEnd)))
          // optional path group — consumed only to move the cursor
          var matchEnd = hostEnd
          if (matchEnd < n && s.charAt(matchEnd) == '/') {
            matchEnd += 1
            while (matchEnd < n && {
              val p = s.charAt(matchEnd)
              (p >= 'a' && p <= 'z') || (p >= 'A' && p <= 'Z') ||
                (p >= '0' && p <= '9') || p == '.' || p == '_' ||
                p == '/' || p == '-'
            }) matchEnd += 1
          }
          i = matchEnd
        }
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.toArray(new Array[AnyRef](out.size)).asInstanceOf[Array[Any]])
  }

  /** url_domain_counts: per-document mention counts of each reduced
    * domain, folded in the SAME scan as the extraction — the map-side
    * half of a per-domain (mentions, docs) roll-up, so the aggregate
    * needs ONE shuffle on `domain` instead of a (domain, doc_id)
    * exchange followed by a second roll-up. */
  def urlDomainCountsEval(t: UTF8String):
      org.apache.spark.sql.catalyst.util.MapData = {
    val arr = urlDomainsEval(t)
    if (arr == null) return null
    val counts = new java.util.LinkedHashMap[UTF8String, java.lang.Long]()
    var i = 0
    while (i < arr.numElements()) {
      counts.merge(arr.getUTF8String(i), java.lang.Long.valueOf(1L),
        (a, b) => java.lang.Long.valueOf(a.longValue() + b.longValue()))
      i += 1
    }
    val keys = new Array[Any](counts.size())
    val vals = new Array[Any](counts.size())
    var j = 0
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      keys(j) = e.getKey
      vals(j) = e.getValue.longValue()
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(keys),
      new org.apache.spark.sql.catalyst.util.GenericArrayData(vals))
  }

  /** url_domain_counts(text) → map<string,bigint> (NULL → NULL). */
  case class UrlDomainCounts(child: Expression) extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      checkString(prettyName, child)
    override def dataType: DataType =
      MapType(StringType, LongType, valueContainsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = "url_domain_counts"

    override def nullSafeEval(t: Any): Any =
      urlDomainCountsEval(t.asInstanceOf[UTF8String])

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, t =>
        s"${ev.value} = graft.functions.TextExpressions.urlDomainCountsEval($t);")

    override protected def withNewChildInternal(newChild: Expression): UrlDomainCounts =
      copy(child = newChild)
  }

  /** url_domains(text) → array<string> (NULL text → NULL, matching
    * `regexp_extract_all`'s null propagation so `explode` drops the
    * row either way). */
  case class UrlDomains(child: Expression) extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      checkString(prettyName, child)
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = "url_domains"

    override def nullSafeEval(t: Any): Any =
      urlDomainsEval(t.asInstanceOf[UTF8String])

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, t =>
        s"${ev.value} = graft.functions.TextExpressions.urlDomainsEval($t);")

    override protected def withNewChildInternal(newChild: Expression): UrlDomains =
      copy(child = newChild)
  }

  /** Jaccard over two distinct string arrays in one pass: |a∩b| via a
    * hash set, |a∪b| = |a|+|b|−|a∩b| (inputs are distinct sets — the
    * [[CharShingles]] contract). Same double division as
    * `try_divide(size(array_intersect), size(array_union))`, without
    * materializing either array; both-empty → NULL (ANSI double
    * division throws on 0/0, so the NULL-on-empty contract is the
    * usable one — callers that must error can guard on sizes). */
  def arrJaccardEval(a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData): Any = {
    val na = a.numElements()
    val nb = b.numElements()
    val set = new java.util.HashSet[UTF8String](math.max(4, na * 2))
    var i = 0
    while (i < na) { set.add(a.getUTF8String(i)); i += 1 }
    var inter = 0
    i = 0
    while (i < nb) { if (set.contains(b.getUTF8String(i))) inter += 1; i += 1 }
    val union = na + nb - inter
    if (union == 0) null
    else java.lang.Double.valueOf(inter.toDouble / union.toDouble)
  }

  /** arr_jaccard(a, b) → double (NULL if either side is NULL). */
  case class ArrJaccard(left: Expression, right: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
    private def isStringArray(e: Expression): Boolean = e.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    }
    override def checkInputDataTypes(): TypeCheckResult =
      if (isStringArray(left) && isStringArray(right)) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<string> arguments, got " +
          s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def prettyName: String = "arr_jaccard"

    override def nullSafeEval(a: Any, b: Any): Any =
      arrJaccardEval(
        a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val r = ctx.freshName("jac")
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"""
           |Object $r = graft.functions.TextExpressions.arrJaccardEval($a, $b);
           |if ($r == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = ((java.lang.Double) $r).doubleValue(); }
           |""".stripMargin)
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): ArrJaccard =
      copy(left = newLeft, right = newRight)
  }

  private def arity(name: String, n: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    args => {
      require(args.length == n,
        s"$name requires exactly $n arguments, got ${args.length}")
      build(args)
    }

  val descriptions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      (FunctionIdentifier("lang_scores"),
        new ExpressionInfo(classOf[LangScores].getName, "lang_scores"),
        arity("lang_scores", 1)(args => LangScores(args(0)))),
      (FunctionIdentifier("text_quality"),
        new ExpressionInfo(classOf[TextQuality].getName, "text_quality"),
        arity("text_quality", 1)(args => TextQuality(args(0)))),
      (FunctionIdentifier("token_counts"),
        new ExpressionInfo(classOf[TokenCounts].getName, "token_counts"),
        arity("token_counts", 1)(args => TokenCounts(args(0)))),
      (FunctionIdentifier("char_entropy"),
        new ExpressionInfo(classOf[CharEntropy].getName, "char_entropy"),
        arity("char_entropy", 1)(args => CharEntropy(args(0)))),
      (FunctionIdentifier("rolling_fp"),
        new ExpressionInfo(classOf[RollingFp].getName, "rolling_fp"),
        arity("rolling_fp", 1)(args => RollingFp(args(0)))),
      (FunctionIdentifier("char_shingles"),
        new ExpressionInfo(classOf[CharShingles].getName, "char_shingles"),
        arity("char_shingles", 2)(args => args(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(i: Int, IntegerType) =>
            CharShingles(args(0), i)
          case other => throw new IllegalArgumentException(
            s"char_shingles: n must be an integer literal, got $other")
        })),
      (FunctionIdentifier("arr_jaccard"),
        new ExpressionInfo(classOf[ArrJaccard].getName, "arr_jaccard"),
        arity("arr_jaccard", 2)(args => ArrJaccard(args(0), args(1)))),
      (FunctionIdentifier("url_domains"),
        new ExpressionInfo(classOf[UrlDomains].getName, "url_domains"),
        arity("url_domains", 1)(args => UrlDomains(args(0)))),
      (FunctionIdentifier("url_domain_counts"),
        new ExpressionInfo(classOf[UrlDomainCounts].getName, "url_domain_counts"),
        arity("url_domain_counts", 1)(args => UrlDomainCounts(args(0)))))

  /** Idempotent registration on an already-built session (same
    * contract as [[VectorExpressions.install]]). */
  def install(spark: SparkSession): Unit = {
    val reg: FunctionRegistry = spark.sessionState.functionRegistry
    descriptions.foreach { case (ident, info, builder) =>
      if (!reg.functionExists(ident)) reg.registerFunction(ident, info, builder)
    }
  }
}
