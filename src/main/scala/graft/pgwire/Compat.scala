package graft.pgwire

import scala.collection.mutable.ArrayBuffer

/** PostgreSQL → Spark SQL compatibility rewriter.
  *
  * The reference applies a token blacklist plus 12 AST rewrite rules
  * before handing SQL to its engine (reference:
  * datafusion-pg-catalog/src/sql/parser.rs:56-267,314-427 and
  * sql/rules.rs). Spark needs a different but overlapping subset
  * (SURVEY.md §4.1): Catalyst already plans correlated subqueries and
  * qualified wildcards, so those reference rules are unnecessary; what
  * Spark lacks is the pg-isms — regex operators, `= ANY(array)`,
  * `'{…}'` array literals, pg type names in casts, `::regclass`, bare
  * `current_user`-style variables, and the `pg_catalog.` qualifier
  * (Spark temp views are unqualified, so the qualifier is stripped
  * rather than prepended).
  *
  * Implementation is a token-level rewriter (tokenizer below), not a
  * full parser — the same tradeoff the reference makes with its
  * token-substitution blacklist.
  */
object Compat {

  // ---- tokenizer ---------------------------------------------------------

  sealed trait Kind
  case object Ws extends Kind // whitespace + comments
  case object Str extends Kind // '...' string literal (text includes quotes)
  case object QIdent extends Kind // "..." quoted identifier
  case object Num extends Kind
  case object Word extends Kind // identifier / keyword / $N param
  case object Op extends Kind // operator / punctuation, one logical op per token

  final case class Tok(kind: Kind, text: String) {
    def isWord(w: String): Boolean = kind == Word && text.equalsIgnoreCase(w)
    def is(op: String): Boolean = kind == Op && text == op
  }

  /** Multi-char operators recognized as single tokens (longest first). */
  private val multiOps = Seq("!~~*", "!~~", "~~*", "~~", "!~*", "!~", "~*", "::", "<>", "!=", "<=", ">=", "||/", "||", "=>", "->>", "->", "#>>", "#>", "#-", "@>", "<@", "@?", "@@", "&&", "|/", "?|", "?&", "<<->", "<<%", "<<=", ">>=", "<<", ">>", "&<", "&>", "-|-", "<->>", "<->", "<%", "%>>", "%>")

  def tokenize(sql: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    val n = sql.length
    def peek(k: Int): Char = if (i + k < n) sql.charAt(i + k) else '\u0000'
    while (i < n) {
      val c = sql.charAt(i)
      if (c.isWhitespace) {
        val s = i; while (i < n && sql.charAt(i).isWhitespace) i += 1
        out += Tok(Ws, sql.substring(s, i))
      } else if (c == '-' && peek(1) == '-') {
        val s = i; while (i < n && sql.charAt(i) != '\n') i += 1
        out += Tok(Ws, sql.substring(s, i))
      } else if (c == '/' && peek(1) == '*') {
        val s = i; i += 2
        while (i + 1 < n && !(sql.charAt(i) == '*' && sql.charAt(i + 1) == '/')) i += 1
        i = math.min(i + 2, n)
        out += Tok(Ws, sql.substring(s, i))
      } else if (c == '\'' || ((c == 'E' || c == 'e') && peek(1) == '\'')) {
        // string literal; E'...' folds to plain (backslash escapes kept verbatim)
        val escaped = c != '\''
        val s = i
        if (escaped) i += 1
        i += 1 // opening quote
        var done = false
        while (i < n && !done) {
          val ch = sql.charAt(i)
          if (escaped && ch == '\\') i += 2
          else if (ch == '\'' && peek(1) == '\'') i += 2
          else if (ch == '\'') { i += 1; done = true }
          else i += 1
        }
        val raw = sql.substring(s, i)
        // pg standard strings ('...') hold backslashes LITERALLY;
        // Spark's parser escape-processes them. Double them so the
        // engine restores the client's bytes. E'...' bodies stay
        // verbatim — Spark's escape set approximates pg's E-escapes.
        out += Tok(Str,
          if (escaped) raw.substring(1)
          else if (raw.indexOf('\\') >= 0) raw.replace("\\", "\\\\")
          else raw)
      } else if ((c == 'U' || c == 'u') && peek(1) == '&' && peek(2) == '\'') {
        // U&'...' unicode-escape literal: decode \XXXX and \+XXXXXX
        // here, emit a plain literal (re-escaped for Spark's parser)
        i += 2 // U&
        i += 1 // opening quote
        val body = new java.lang.StringBuilder()
        var done = false
        while (i < n && !done) {
          val ch = sql.charAt(i)
          if (ch == '\'' && peek(1) == '\'') { body.append('\''); i += 2 }
          else if (ch == '\'') { i += 1; done = true }
          else if (ch == '\\' && peek(1) == '\\') { body.append('\\'); i += 2 }
          else if (ch == '\\' && peek(1) == '+' && i + 7 < n) {
            body.appendCodePoint(Integer.parseInt(sql.substring(i + 2, i + 8), 16))
            i += 8
          } else if (ch == '\\' && i + 4 < n) {
            body.append(Integer.parseInt(sql.substring(i + 1, i + 5), 16).toChar)
            i += 5
          } else { body.append(ch); i += 1 }
        }
        out += Tok(Str, "'" + body.toString
          .replace("\\", "\\\\").replace("'", "''") + "'")
      } else if (c == '$' && peek(1) == '$') {
        // dollar-quoted string $$...$$ → plain string literal
        // (literal text: backslashes doubled for the Spark parser)
        val close = sql.indexOf("$$", i + 2)
        val end = if (close < 0) n else close + 2
        val body = sql.substring(i + 2, if (close < 0) n else close)
        i = end
        out += Tok(Str, "'" + body.replace("\\", "\\\\").replace("'", "''") + "'")
      } else if (c == '"') {
        val s = i; i += 1
        while (i < n && sql.charAt(i) != '"') i += 1
        i = math.min(i + 1, n)
        out += Tok(QIdent, sql.substring(s, i))
      } else if (c.isDigit || (c == '.' && peek(1).isDigit)) {
        val s = i
        while (i < n && (sql.charAt(i).isDigit || sql.charAt(i) == '.' ||
          sql.charAt(i) == 'e' || sql.charAt(i) == 'E' ||
          ((sql.charAt(i) == '+' || sql.charAt(i) == '-') && i > s &&
            (sql.charAt(i - 1) == 'e' || sql.charAt(i - 1) == 'E')))) i += 1
        out += Tok(Num, sql.substring(s, i))
      } else if (c.isLetter || c == '_' || c == '$') {
        val s = i; i += 1
        while (i < n && (sql.charAt(i).isLetterOrDigit || sql.charAt(i) == '_' || sql.charAt(i) == '$')) i += 1
        out += Tok(Word, sql.substring(s, i))
      } else {
        multiOps.find(op => sql.startsWith(op, i)) match {
          case Some(op) => out += Tok(Op, op); i += op.length
          case None => out += Tok(Op, c.toString); i += 1
        }
      }
    }
    out.result()
  }

  def render(toks: Seq[Tok]): String = toks.map(_.text).mkString

  /** [[render]] for token slices COMPOSED into a single replacement
    * token: pg double-quoted identifiers must become backticks HERE,
    * because the final QIdent→backtick pass cannot see inside an
    * already-composed token (`"Q q" = ANY(ARRAY[…])` otherwise ships a
    * raw double-quoted ident to Spark's parser). */
  private def renderQ(toks: Seq[Tok]): String = toks.map { t =>
    if (t.kind == QIdent && t.text.length >= 2)
      "`" + t.text.substring(1, t.text.length - 1).replace("`", "``") + "`"
    else t.text
  }.mkString

  // ---- helpers over token vectors ---------------------------------------

  /** Index of previous / next non-whitespace token. */
  private def prevIdx(ts: ArrayBuffer[Tok], from: Int): Int = {
    var j = from - 1; while (j >= 0 && ts(j).kind == Ws) j -= 1; j
  }
  private def nextIdx(ts: ArrayBuffer[Tok], from: Int): Int = {
    var j = from + 1; while (j < ts.length && ts(j).kind == Ws) j += 1
    if (j < ts.length) j else -1
  }

  /** Last token index of a `time` type spelling starting at the word
    * `time` (index `t`): absorbs an optional `(p)` precision and an
    * optional `without time zone` suffix.
    */
  private def timeTypeEnd(ts: ArrayBuffer[Tok], t: Int): Int = {
    var end = t
    val b1 = nextIdx(ts, end)
    if (b1 >= 0 && ts(b1).is("(")) {
      val b2 = matchParen(ts, b1)
      if (b2 > 0) end = b2
    }
    val w1 = nextIdx(ts, end)
    if (w1 >= 0 && ts(w1).isWord("without")) {
      val w2 = nextIdx(ts, w1)
      val w3 = if (w2 >= 0) nextIdx(ts, w2) else -1
      if (w2 >= 0 && ts(w2).isWord("time") && w3 >= 0 && ts(w3).isWord("zone"))
        end = w3
    }
    end
  }

  /** Given index of '(' find matching ')' index, or -1. */
  private def matchParen(ts: ArrayBuffer[Tok], open: Int): Int = {
    var depth = 0; var j = open
    while (j < ts.length) {
      if (ts(j).is("(")) depth += 1
      else if (ts(j).is(")")) { depth -= 1; if (depth == 0) return j }
      j += 1
    }
    -1
  }

  /** Start index of the primary expression ENDING at token index `end`
    * (inclusive): literal, number, possibly-qualified identifier chain,
    * function call, or balanced paren group. Used to capture the left
    * operand of `= ANY(...)`.
    */
  /** Keywords that may directly precede a parenthesized expression
    * without being a function name. */
  private val exprBoundaryWords = Set("then", "when", "else", "end", "case",
    "and", "or", "not", "in", "on", "where", "select", "from", "by",
    "having", "limit", "offset", "returning", "set", "values", "as",
    "distinct", "all", "union", "intersect", "except", "between", "like",
    "ilike", "escape", "is", "null", "true", "false", "join", "then")

  private def primaryStart(ts: ArrayBuffer[Tok], end: Int): Int = {
    var j = end
    if (ts(j).is(")")) { // balanced group (incl. function call args)
      var depth = 0
      while (j >= 0) {
        if (ts(j).is(")")) depth += 1
        else if (ts(j).is("(")) {
          depth -= 1
          if (depth == 0) {
            // include a function name before '(' if present — but a
            // KEYWORD before a paren group is clause syntax, not a
            // call (`CASE WHEN p THEN ('x')::t` must not absorb THEN)
            val p = prevIdx(ts, j)
            return if (p >= 0 && ts(p).kind == Word &&
              !exprBoundaryWords.contains(ts(p).text.toLowerCase)) p
            else j
          }
        }
        j -= 1
      }
      return 0
    }
    // ident chain a.b.c or single literal/number
    var start = j
    var k = prevIdx(ts, start)
    while (k >= 0 && ts(k).is(".") && {
      val k2 = prevIdx(ts, k)
      k2 >= 0 && (ts(k2).kind == Word || ts(k2).kind == QIdent)
    }) {
      start = prevIdx(ts, k)
      k = prevIdx(ts, start)
    }
    start
  }

  // ---- pg type name mapping ---------------------------------------------

  /** pg type name → Spark SQL type name (SURVEY §1 type map). */
  val typeNameMap: Map[String, String] = Map(
    "int2" -> "smallint", "int4" -> "int", "int8" -> "bigint",
    "serial" -> "int", "bigserial" -> "bigint",
    "float4" -> "float", "float8" -> "double", "real" -> "float",
    "bool" -> "boolean", "text" -> "string", "bytea" -> "binary",
    "name" -> "string", "char" -> "string", "bpchar" -> "string",
    "citext" -> "string", "oid" -> "int", "timestamptz" -> "timestamp",
    "json" -> "string", "jsonb" -> "string", "uuid" -> "string",
    "money" -> "decimal(19,2)", "int" -> "int", "integer" -> "int",
    "smallint" -> "smallint", "bigint" -> "bigint", "varchar" -> "varchar",
    "numeric" -> "decimal", "decimal" -> "decimal", "double" -> "double",
    // pg plain `timestamp` is WITHOUT time zone → Spark TIMESTAMP_NTZ
    // (round 11; previously both spellings collapsed to the session-
    // zoned TimestampType and rendered a spurious +00 — the biggest
    // accepted-deviation class, now closed; live-pg-pinned in
    // PgParitySpec + CopyParitySpec)
    "boolean" -> "boolean", "date" -> "date", "timestamp" -> "timestamp_ntz",
    "interval" -> "interval", "string" -> "string", "binary" -> "binary",
    "float" -> "float", "time" -> "bigint")

  /** reg* cast → catalog-lookup subquery (reference: sql/rules.rs:859-1062). */
  private val regLookup: Map[String, (String, String)] = Map(
    "regclass" -> ("pg_class", "relname"),
    "regtype" -> ("pg_type", "typname"),
    "regnamespace" -> ("pg_namespace", "nspname"),
    "regproc" -> ("pg_proc", "proname"),
    "regrole" -> ("pg_roles", "rolname"))

  /** Fixed pg catalog-relation OIDs: `'pg_class'::regclass` becomes a
    * literal, never a subquery — clients use these casts inside JOIN ON
    * conditions where Spark forbids subquery expressions.
    */
  private val catalogRelOids: Map[String, Int] = Map(
    "pg_type" -> 1247, "pg_attribute" -> 1249, "pg_proc" -> 1255,
    "pg_class" -> 1259, "pg_database" -> 1262, "pg_am" -> 2601,
    "pg_constraint" -> 2606, "pg_description" -> 2609, "pg_index" -> 2610,
    "pg_namespace" -> 2615, "pg_policy" -> 3256, "pg_collation" -> 3456,
    "pg_enum" -> 3501)

  /** Bare session variables → function calls
    * (reference: sql/rules.rs:642-770).
    */
  private val bareVarMap: Map[String, String] = Map(
    "current_user" -> "current_user()",
    "session_user" -> "current_user()",
    "current_role" -> "current_user()",
    "user" -> "current_user()", // pg treats bare `user` as session_user
    "current_catalog" -> "pg_current_database()",
    "current_schema" -> "pg_current_schema()",
    // pg's tz-less now; Spark's localtimestamp() is TimestampNTZ
    "localtimestamp" -> "localtimestamp()")

  // ---- blacklist (reference: sql/parser.rs:56-267) -----------------------

  /** Known-unplannable client startup queries → canned replacements.
    * Keys are whitespace-normalized lowercase prefixes.
    */
  private val blacklist: Seq[(String, String)] = Seq(
    // pgcli foreign-key introspection (array_agg over correlated unnest)
    ("select s_p.nspname as parentschema" ->
      "SELECT CAST(NULL AS STRING) AS parentschema, CAST(NULL AS STRING) AS parenttable, CAST(NULL AS STRING) AS parentcolumn, CAST(NULL AS STRING) AS childschema, CAST(NULL AS STRING) AS childtable, CAST(NULL AS STRING) AS childcolumn WHERE 1=0"),
    // dbeaver total db size
    ("select pg_database_size(" ->
      "SELECT CAST(0 AS BIGINT) AS pg_database_size"),
    // grafana search_path lookup
    ("select current_setting('search_path')" ->
      "SELECT '\"$user\", public' AS current_setting"),
    // psql \d row-level policies (array-vs-'{0}' comparison is
    // unplannable; reference: sql/parser.rs:134-155)
    ("select pol.polname" ->
      "SELECT CAST(NULL AS STRING) AS polname, CAST(NULL AS BOOLEAN) AS polpermissive, CAST(NULL AS STRING) AS roles, CAST(NULL AS STRING) AS qual, CAST(NULL AS STRING) AS with_check, CAST(NULL AS STRING) AS cmd WHERE 1=0"),
    // psql \d extended statistics (reference: parser.rs:166-187)
    ("select oid, stxrelid" ->
      "SELECT CAST(NULL AS INT) AS oid, CAST(NULL AS STRING) AS stxrelid, CAST(NULL AS STRING) AS nsp, CAST(NULL AS STRING) AS stxname, CAST(NULL AS STRING) AS columns, CAST(NULL AS BOOLEAN) AS ndist_enabled, CAST(NULL AS BOOLEAN) AS deps_enabled, CAST(NULL AS BOOLEAN) AS mcv_enabled, CAST(NULL AS INT) AS stxstattarget WHERE 1=0"),
    // psql \d publications (reference: parser.rs:197-229)
    ("select pubname" ->
      "SELECT CAST(NULL AS STRING) AS pubname, CAST(NULL AS STRING) AS c2, CAST(NULL AS STRING) AS c3 WHERE 1=0"),
    // dbeaver relation sizes (relnamespace='public' int-vs-string;
    // reference: parser.rs:243-246)
    ("select c.oid,pg_catalog.pg_total_relation_size" ->
      "SELECT CAST(NULL AS INT) AS oid, CAST(0 AS BIGINT) AS total_rel_size, CAST(0 AS BIGINT) AS rel_size WHERE 1=0"),
    // dbeaver/jdbc type lookup (pg 1-based array indexing + lateral
    // generate_series; reference blacklists the pgcli variant,
    // parser.rs:104-126)
    ("select typinput=" ->
      "SELECT CAST(NULL AS BOOLEAN) AS is_array, CAST(NULL AS STRING) AS typtype, CAST(NULL AS STRING) AS typname, CAST(NULL AS INT) AS oid WHERE 1=0"),
    // grafana table list (search_path expansion via lateral
    // generate_series over string_to_array — unplannable; serve the
    // public tables directly)
    ("select case when quote_ident(table_schema) in" ->
      "SELECT tablename AS `table` FROM pg_tables ORDER BY 1"),
    // grafana column list for a named table (same lateral shape; the
    // probed table does not exist → empty)
    ("select quote_ident(column_name)" ->
      "SELECT CAST(NULL AS STRING) AS `column`, CAST(NULL AS STRING) AS `type` WHERE 1=0"),
    // psql \d foreign keys referencing partition ancestors: the
    // set-returning pg_partition_ancestors subquery UNION VALUES shape
    // cannot plan; constraints are empty anyway
    ("select conname, conrelid" ->
      "SELECT CAST(NULL AS STRING) AS conname, CAST(NULL AS INT) AS ontable, CAST(NULL AS STRING) AS condef WHERE 1=0"))

  def applyBlacklist(sql: String): Option[String] = {
    val norm = sql.trim.toLowerCase.replaceAll("\\s+", " ")
    blacklist.collectFirst { case (prefix, repl) if norm.startsWith(prefix) => repl }
  }

  // ---- main rewrite ------------------------------------------------------

  /** What a rewrite knows of its statement and session.
    *  - `enumTypes`: the session's enum type names, for `::name` casts;
    *  - `topLevel`: a client's top-level statement, which gets pg's
    *    implicit output-column names ([[injectOutputNames]]) and pg's
    *    default NULL placement on every ORDER BY
    *    ([[defaultNullOrdering]]); fragments (parameter inference,
    *    fixtures, CompatSpec's pins) do not;
    *  - `fileTable`: is a relation a file-backed catalog table, where
    *    the hidden `_metadata` columns resolve (json_agg's input-order
    *    key, [[captureInputOrder]]).
    */
  final case class Ctx(enumTypes: Set[String] = Set.empty, topLevel: Boolean = false,
      fileTable: String => Boolean = _ => false)

  // ---- pg output column names (FigureColname) ----------------------------
  //
  // pg derives the name of an unlabeled result column from its SYNTAX
  // (parse_target.c FigureColname; every rule below live-pinned against
  // pg 15, sweep-33): column ref → last path component; function call →
  // function name (TRIM → btrim/ltrim/rtrim, AT TIME ZONE → timezone);
  // casts → the argument's own name if derivable, else the resolved
  // type's internal name (1::int → int4); typed literals → the type
  // word; CASE → the ELSE arm's name, else "case"; ARRAY[…] → array;
  // scalar subquery → the inner column's name; operators, literals and
  // IS tests → "?column?". Spark instead prints the pretty expression
  // ("lower(ABC)", "(a + b)"). This pass injects explicit pg-computed
  // aliases into the OUTERMOST select list (first set-operation branch —
  // pg takes output names from it) and a trailing RETURNING list, so
  // RowDescription matches pg without touching inner query semantics.

  /** depth-0 keywords that terminate the outermost select list. */
  private val selectListEnders = Set("from", "where", "group", "having",
    "window", "order", "limit", "offset", "fetch", "for", "union",
    "except", "intersect", "into")

  /** Keyword literals: a bare NULL/TRUE/FALSE names ?column?, and is
    * never a plain column reference. */
  private val bareLiteralWords = Set("null", "true", "false", "unknown")

  /** A final bare Word that is an expression continuation, never an
    * implicit trailing alias. */
  private val notAliasFinalWords = Set("null", "true", "false", "unknown",
    "end", "precision", "varying", "zone", "isnull", "notnull", "default",
    "within", "filter", "over",
    "year", "month", "day", "hour", "minute", "second", "week",
    "millisecond", "microsecond", "decade", "century", "millennium")

  /** A final Word/QIdent after one of these words is an operand of the
    * construct, not an alias (`x COLLATE "C"`, `… AT TIME ZONE tz`). */
  private val notAliasAfterWords = Set("collate", "zone", "to", "at",
    "escape", "operator", "interval", "like", "ilike", "similar")

  /** Spelled type → pg internal type name, for cast-derived columns. */
  private val pgTypeDisplayMap = Map(
    "int" -> "int4", "integer" -> "int4", "bigint" -> "int8",
    "smallint" -> "int2", "boolean" -> "bool", "real" -> "float4",
    "float" -> "float8", "double precision" -> "float8",
    "double" -> "float8", "decimal" -> "numeric",
    "character varying" -> "varchar", "character" -> "bpchar",
    "char" -> "bpchar", "bit varying" -> "varbit",
    "timestamp with time zone" -> "timestamptz",
    "timestamp without time zone" -> "timestamp",
    "time with time zone" -> "timetz",
    "time without time zone" -> "time")

  /** Bare single-word items that Spark renders with a () suffix after
    * the bare-var rewrite; pg keeps the bare spelling as the name. */
  private val bareVarNames: Set[String] =
    bareVarMap.keySet ++ Set("current_date", "current_time",
      "current_timestamp", "localtime", "localtimestamp")

  private def stripIdent(t: Tok): String =
    if (t.kind == QIdent) t.text.substring(1, t.text.length - 1).replace("\"\"", "\"")
    else t.text.toLowerCase

  private def typeDisplayOf(ts: ArrayBuffer[Tok], s: Int, e: Int): String = {
    val words = scala.collection.mutable.ArrayBuffer.empty[String]
    var j = s
    while (j >= 0 && j <= e) {
      val t = ts(j)
      if (t.kind == Word) words += t.text.toLowerCase
      else if (t.kind == QIdent) words += stripIdent(t)
      else if (t.is("(") || t.is("[")) j = e // typmod / array suffix ends it
      j = if (j == e) e + 1 else { val n = nextIdx(ts, j); if (n < 0) e + 1 else n }
    }
    val spelled = words.mkString(" ")
    pgTypeDisplayMap.getOrElse(spelled,
      pgTypeDisplayMap.getOrElse(words.headOption.getOrElse(""),
        words.headOption.getOrElse("?column?")))
  }

  /** pg's FigureColname over the token span [s, e] (meaningful bounds).
    * None = no derivable name (caller renders "?column?" / "case"). */
  private def figureColname(ts: ArrayBuffer[Tok], s0: Int, e0: Int): Option[String] =
    figureCol(ts, s0, e0).map(_._1)

  /** Name plus pg's strength: 2 = a "real" name (column ref, function,
    * subquery column), 1 = weak (a cast's type name, the "case"
    * fallback, a typed literal's type word). A weak inner name does
    * NOT propagate through an enclosing cast — `'x'::text::varchar`
    * names varchar, not text (live-pinned). */
  private def figureCol(ts: ArrayBuffer[Tok], s0: Int,
      e0: Int): Option[(String, Int)] = {
    var s = s0; var e = e0
    while (s <= e && ts(s).kind == Ws) s += 1
    while (e >= s && ts(e).kind == Ws) e -= 1
    if (s > e || s < 0) return None
    // trailing COLLATE <ident>: transparent, recurse into the value
    if ((ts(e).kind == Word || ts(e).kind == QIdent) && {
      val p = prevIdx(ts, e); p >= s && ts(p).isWord("COLLATE")
    }) return figureCol(ts, s, prevIdx(ts, prevIdx(ts, e)))
    // trailing `::type` cast chain: the cast must be the OUTERMOST
    // production — everything after the last depth-0 `::` has to be a
    // type spelling (words + optional typmod parens + []). Then the
    // value's own name wins, else the type names the column.
    run {
      var k = -1; var depth = 0; var j = s
      while (j <= e) {
        val t = ts(j)
        if (t.is("(") || t.is("[")) depth += 1
        else if (t.is(")") || t.is("]")) depth -= 1
        else if (depth == 0 && t.is("::")) k = j
        j += 1
      }
      if (k >= 0) {
        var ok = true; var sawParen = false
        var p = nextIdx(ts, k)
        while (ok && p >= 0 && p <= e) {
          val t = ts(p)
          if (t.kind == Word || t.kind == QIdent) { if (sawParen) ok = false }
          else if (t.is("(") && !sawParen) {
            val c = matchParen(ts, p)
            if (c < 0 || c > e) ok = false else { sawParen = true; p = c }
          } else if (t.is("[") || t.is("]")) () // array suffix
          else ok = false
          p = if (p < 0) -1 else nextIdx(ts, p)
        }
        if (ok) {
          val left = figureCol(ts, s, prevIdx(ts, k))
          return left.filter(_._2 >= 2).orElse(
            Some((typeDisplayOf(ts, nextIdx(ts, k), e), 1)))
        }
      }
    }
    // trailing subscript `[i]` / slice: transparent (live pin:
    // (ARRAY[1,2])[1] names "array")
    if (ts(e).is("]")) {
      var depth = 0; var j = e
      while (j >= s) {
        if (ts(j).is("]")) depth += 1
        else if (ts(j).is("[")) {
          depth -= 1
          if (depth == 0) return figureCol(ts, s, j - 1)
        }
        j -= 1
      }
    }
    // balanced outer parens: scalar subquery → inner column name;
    // plain group → recurse
    if (ts(s).is("(") && matchParen(ts, s) == e) {
      val inner = nextIdx(ts, s)
      if (inner >= 0 && inner < e && ts(inner).isWord("SELECT"))
        return subqueryColname(ts, inner, e)
      return figureCol(ts, s + 1, e - 1)
    }
    // field selection / qualified ref: name is the last path component
    if ((ts(e).kind == Word || ts(e).kind == QIdent) && {
      val p = prevIdx(ts, e); p >= s && ts(p).is(".")
    }) return Some((stripIdent(ts(e)), 2))
    // single token
    if (s == e) {
      return ts(s).kind match {
        case Word if !ts(s).text.startsWith("$") &&
          !bareLiteralWords.contains(ts(s).text.toLowerCase) =>
          Some((ts(s).text.toLowerCase, 2))
        case QIdent => Some((stripIdent(ts(s)), 2))
        case _ => None
      }
    }
    // CASE … [ELSE x] END → the ELSE arm's name, else "case"
    if (ts(s).isWord("CASE")) {
      var caseDepth = 0; var j = s; var elsePos = -1
      while (j <= e) {
        val t = ts(j)
        if (t.isWord("CASE")) caseDepth += 1
        else if (t.isWord("END")) caseDepth -= 1
        else if (t.isWord("ELSE") && caseDepth == 1) elsePos = j
        j += 1
      }
      val fromElse =
        if (elsePos >= 0) figureCol(ts, nextIdx(ts, elsePos), prevIdx(ts, e))
        else None
      return Some(fromElse.filter(_._2 >= 2).getOrElse(("case", 1)))
    }
    // ARRAY[…]
    if (ts(s).isWord("ARRAY")) {
      val n = nextIdx(ts, s)
      if (n >= 0 && ts(n).is("[")) return Some(("array", 2))
    }
    // typed literal: TYPE 'lit' (including multi-word spellings)
    if (ts(e).kind == Str) {
      var allWords = true; var j = s
      while (j < e) {
        if (ts(j).kind != Ws && ts(j).kind != Word) allWords = false
        j += 1
      }
      if (allWords) return Some((typeDisplayOf(ts, s, prevIdx(ts, e)), 1))
    }
    // function call: [path.]fn( … ) with only OVER/FILTER/WITHIN GROUP
    // suffix groups after the close
    if (ts(s).kind == Word || ts(s).kind == QIdent) {
      var fnTok = s
      var j = nextIdx(ts, s)
      while (j >= 0 && j < e && ts(j).is(".") && {
        val n = nextIdx(ts, j)
        n >= 0 && (ts(n).kind == Word || ts(n).kind == QIdent)
      }) { fnTok = nextIdx(ts, j); j = nextIdx(ts, fnTok) }
      if (j >= 0 && j <= e && ts(j).is("(")) {
        val close = matchParen(ts, j)
        if (close > 0 && close <= e && suffixOnly(ts, close, e)) {
          val fn = stripIdent(ts(fnTok))
          if (fn == "cast") {
            // CAST(x AS type): x's name wins, else the type's
            var depth = 0; var k = j; var asPos = -1
            while (k < close) {
              if (ts(k).is("(")) depth += 1
              else if (ts(k).is(")")) depth -= 1
              else if (depth == 1 && ts(k).isWord("AS")) asPos = k
              k += 1
            }
            if (asPos > 0) {
              val arg = figureCol(ts, nextIdx(ts, j), prevIdx(ts, asPos))
              return arg.filter(_._2 >= 2).orElse(
                Some((typeDisplayOf(ts, nextIdx(ts, asPos), prevIdx(ts, close)), 1)))
            }
          }
          if (fn == "trim") {
            val a = nextIdx(ts, j)
            if (a >= 0 && ts(a).isWord("LEADING")) return Some(("ltrim", 2))
            if (a >= 0 && ts(a).isWord("TRAILING")) return Some(("rtrim", 2))
            return Some(("btrim", 2))
          }
          // engine spellings substituted BEFORE this pass (session-bound
          // sequence calls) display under their pg names
          return Some((fn match {
            case "pg_nextval" => "nextval"
            case "pg_currval" => "currval"
            case "pg_setval" => "setval"
            case "pg_lastval" => "lastval"
            case other => other
          }, 2))
        }
      }
    }
    // a_expr AT TIME ZONE tz
    run {
      var depth = 0; var j = s
      while (j <= e) {
        val t = ts(j)
        if (t.is("(") || t.is("[")) depth += 1
        else if (t.is(")") || t.is("]")) depth -= 1
        else if (depth == 0 && t.isWord("AT")) {
          val n = nextIdx(ts, j)
          if (n >= 0 && ts(n).isWord("TIME")) return Some(("timezone", 2))
        }
        j += 1
      }
    }
    None
  }

  private def run[A](a: => A): A = a

  /** After a call's close paren, only OVER / FILTER / WITHIN GROUP
    * suffix groups may follow for the span to still BE that call. */
  private def suffixOnly(ts: ArrayBuffer[Tok], close: Int, e: Int): Boolean = {
    var j = nextIdx(ts, close)
    while (j >= 0 && j <= e) {
      if (ts(j).isWord("FILTER") || ts(j).isWord("OVER") ||
        ts(j).isWord("WITHIN")) {
        var n = nextIdx(ts, j)
        if (n >= 0 && ts(n).isWord("GROUP")) n = nextIdx(ts, n)
        if (n < 0) return false
        if (ts(n).is("(")) {
          val c = matchParen(ts, n)
          if (c < 0 || c > e) return false
          j = nextIdx(ts, c)
        } else if (ts(j).isWord("OVER") &&
          (ts(n).kind == Word || ts(n).kind == QIdent)) {
          j = nextIdx(ts, n) // OVER windowname
        } else return false
      } else return false
    }
    true
  }

  /** Output name of a scalar subquery `(SELECT …)`: the single result
    * column's alias, else its FigureColname. */
  private def subqueryColname(ts: ArrayBuffer[Tok], sel: Int,
      close: Int): Option[(String, Int)] = {
    val items = selectListItems(ts, sel, close - 1)
    items.lastOption.flatMap { case (s, e) =>
      aliasOf(ts, s, e) match {
        case Some(a) => Some((a, 2))
        case None => figureCol(ts, s, e)
      }
    }
  }

  /** The explicit (AS or bare) trailing alias of a select item, if any. */
  private def aliasOf(ts: ArrayBuffer[Tok], s: Int, e: Int): Option[String] = {
    if (e <= s) return None
    val last = ts(e)
    if (last.kind != Word && last.kind != QIdent) return None
    val p = prevIdx(ts, e)
    if (p < s) return None
    if (ts(p).isWord("AS")) return Some(stripIdent(last))
    if (last.kind == Word && notAliasFinalWords.contains(last.text.toLowerCase))
      return None
    if (ts(p).kind == Word && notAliasAfterWords.contains(ts(p).text.toLowerCase))
      return None
    if (ts(p).is(".") || ts(p).is("::")) return None
    // bare alias: identifier directly after a completed value
    val valueEnd = ts(p).kind == Word || ts(p).kind == QIdent ||
      ts(p).kind == Str || ts(p).kind == Num || ts(p).is(")") || ts(p).is("]")
    if (valueEnd) Some(stripIdent(last)) else None
  }

  /** Split the select list starting after token `sel` (the SELECT
    * keyword) into item spans, ending at a depth-0 list ender or `to`. */
  private def selectListItems(ts: ArrayBuffer[Tok], sel: Int,
      to: Int): Seq[(Int, Int)] = {
    var i = nextIdx(ts, sel)
    // DISTINCT [ON (…)] / ALL
    if (i >= 0 && ts(i).isWord("DISTINCT")) {
      i = nextIdx(ts, i)
      if (i >= 0 && ts(i).isWord("ON")) {
        val o = nextIdx(ts, i)
        if (o >= 0 && ts(o).is("(")) {
          val c = matchParen(ts, o)
          if (c > 0) i = nextIdx(ts, c)
        }
      }
    } else if (i >= 0 && ts(i).isWord("ALL")) i = nextIdx(ts, i)
    if (i < 0) return Nil
    val items = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var start = i
    var lastMeaningful = -1
    var depth = 0
    var j = i
    var done = false
    while (j <= to && !done) {
      val t = ts(j)
      if (t.is("(") || t.is("[")) { depth += 1; lastMeaningful = j }
      else if (t.is(")") || t.is("]")) { depth -= 1; lastMeaningful = j }
      else if (depth == 0 && t.is(",")) {
        if (lastMeaningful >= start) items += ((start, lastMeaningful))
        start = j + 1
        lastMeaningful = -1
      } else if (depth == 0 && t.kind == Word &&
        selectListEnders.contains(t.text.toLowerCase) &&
        // `x IS [NOT] DISTINCT FROM y`: that FROM is part of the
        // operator, not the clause boundary
        !(t.isWord("FROM") && lastMeaningful >= 0 &&
          ts(lastMeaningful).isWord("DISTINCT")) &&
        // `… WITHIN GROUP (ORDER BY …)`: GROUP ends the list only as
        // the GROUP BY clause head
        !(t.isWord("GROUP") && { val n = nextIdx(ts, j); n < 0 || !ts(n).isWord("BY") })) {
        done = true
      } else if (t.is(";")) done = true
      else if (t.kind != Ws) lastMeaningful = j
      if (!done) j += 1
    }
    if (lastMeaningful >= start) items += ((start, lastMeaningful))
    items.toSeq
  }

  /** Is the span a plain (possibly parenthesized, possibly qualified)
    * column reference? Spark already names those like pg. */
  private def isPlainRef(ts: ArrayBuffer[Tok], s0: Int, e0: Int): Boolean = {
    var s = s0; var e = e0
    while (s <= e && ts(s).kind == Ws) s += 1
    while (e >= s && ts(e).kind == Ws) e -= 1
    while (s <= e && ts(s).is("(") && matchParen(ts, s) == e) { s += 1; e -= 1
      while (s <= e && ts(s).kind == Ws) s += 1
      while (e >= s && ts(e).kind == Ws) e -= 1
    }
    var j = s; var expectIdent = true
    while (j >= 0 && j <= e) {
      val t = ts(j)
      if (t.kind != Ws) {
        if (expectIdent) {
          if (t.kind != Word && t.kind != QIdent) return false
          if (t.kind == Word && (t.text.startsWith("$") ||
            bareLiteralWords.contains(t.text.toLowerCase) ||
            bareVarNames.contains(t.text.toLowerCase))) return false
          expectIdent = false
        } else {
          if (!t.is(".")) return false
          expectIdent = true
        }
      }
      j += 1
    }
    !expectIdent
  }

  /** Inject pg-computed `AS` aliases into the outermost select list and
    * a trailing RETURNING list. Runs FIRST in [[rewrite]] so the names
    * derive from the user's original spellings. */
  private def injectOutputNames(ts: ArrayBuffer[Tok]): Unit = {
    var i = nextIdx(ts, -1)
    if (i < 0) return
    if (ts(i).isWord("WITH")) {
      // skip the CTE list: WITH [RECURSIVE] name [(cols)] AS
      // [[NOT] MATERIALIZED] (body) [, …]
      i = nextIdx(ts, i)
      if (i >= 0 && ts(i).isWord("RECURSIVE")) i = nextIdx(ts, i)
      var ok = true
      while (ok && i >= 0 &&
        (ts(i).kind == Word || ts(i).kind == QIdent)) {
        i = nextIdx(ts, i)
        if (i >= 0 && ts(i).is("(")) {
          val c = matchParen(ts, i); if (c < 0) return; i = nextIdx(ts, c)
        }
        if (i < 0 || !ts(i).isWord("AS")) return
        i = nextIdx(ts, i)
        if (i >= 0 && ts(i).isWord("NOT")) i = nextIdx(ts, i)
        if (i >= 0 && ts(i).isWord("MATERIALIZED")) i = nextIdx(ts, i)
        if (i < 0 || !ts(i).is("(")) return
        val c = matchParen(ts, i); if (c < 0) return
        i = nextIdx(ts, c)
        if (i >= 0 && ts(i).is(",")) i = nextIdx(ts, i) else ok = false
      }
    }
    if (i < 0) return
    val items: Seq[(Int, Int)] =
      if (ts(i).isWord("SELECT")) selectListItems(ts, i, ts.length - 1)
      else if (ts(i).isWord("INSERT") || ts(i).isWord("UPDATE") ||
        ts(i).isWord("DELETE")) {
        // a trailing RETURNING list names output the same way
        var depth = 0; var j = i; var ret = -1
        while (j < ts.length) {
          val t = ts(j)
          if (t.is("(")) depth += 1
          else if (t.is(")")) depth -= 1
          else if (depth == 0 && t.isWord("RETURNING")) ret = j
          j += 1
        }
        if (ret < 0) return
        selectListItems(ts, ret, ts.length - 1)
      } else return
    // compute, then inject back-to-front so spans stay valid
    val injections = items.flatMap { case (s, e) =>
      val meaningless = (s to e).forall(k => ts(k).kind == Ws)
      val isStar = !meaningless && {
        var last = e; while (last > s && ts(last).kind == Ws) last -= 1
        ts(last).is("*")
      }
      if (meaningless || isStar) None
      else if (aliasOf(ts, s, e).isDefined) {
        // pg folds an unquoted alias to lowercase; Spark preserves the
        // written case — normalize in place (resolution elsewhere is
        // case-insensitive, so references keep working)
        var last = e; while (last > s && ts(last).kind == Ws) last -= 1
        if (ts(last).kind == Word && ts(last).text.exists(_.isUpper))
          ts(last) = Tok(Word, ts(last).text.toLowerCase)
        None
      } else if (isPlainRef(ts, s, e)) None
      else {
        var last = e; while (last > s && ts(last).kind == Ws) last -= 1
        Some((last, figureColname(ts, s, last).getOrElse("?column?")))
      }
    }
    injections.sortBy(-_._1).foreach { case (after, name) =>
      // always QIdent: a bare Word alias would be picked up by later
      // word-level passes (the bare-var rewrite)
      val aliasTok = Tok(QIdent, "\"" + name.replace("\"", "\"\"") + "\"")
      ts.insertAll(after + 1,
        Seq(Tok(Ws, " "), Tok(Word, "AS"), Tok(Ws, " "), aliasTok))
    }
  }

  /** A top-level statement's rewrite (perfbench's traced replay calls
    * this form). */
  def rewriteTop(sql: String, enumTypes: Set[String]): String =
    rewrite(sql, Ctx(enumTypes, topLevel = true))

  /** Rewrite one pg-dialect statement into Spark SQL. */
  def rewrite(sql: String, ctx: Ctx = Ctx()): String = {
    applyBlacklist(sql) match {
      case Some(repl) => return repl
      case None =>
    }
    val ts = ArrayBuffer.from(tokenize(sql))
    // this call's suffixes for generated aliases (__grpN, __rsN)
    val seq = Iterator.from(1)
    if (ctx.topLevel) {
      injectOutputNames(ts)
      defaultNullOrdering(ts)
    }
    rewriteDistinctOn(ts)
    rewriteWindowFrames(ts, seq)
    collapseOperatorCall(ts)
    collapseAnsiTypeSpellings(ts)
    stripCollate(ts)
    stripPgCatalogQualifier(ts)
    unquoteFunctionCalls(ts)
    rewritePrefixTypedLiterals(ts)
    rewriteRegCasts(ts)
    rewriteArrayLiteralCasts(ts)
    // must precede shiftArraySubscripts: ARRAY[5] would otherwise look
    // like an integer subscript on a value token named "array"
    rewriteArrayConstructors(ts)
    rewriteRowIsNull(ts)
    rewriteRowConstructor(ts)
    rewriteNamedMakeInterval(ts)
    stripLockingClause(ts)
    rewriteFetchWithTies(ts)
    rewriteFetchFirst(ts)
    rewriteTablesample(ts)
    rewriteArraySubquery(ts)
    // bare variables must precede ANY/ALL rewriting: the array_contains
    // replacement renders its operand tokens into one composite token
    // that later word-level passes can no longer see into
    rewriteBareVars(ts)
    // pg concat() skips NULLs (never returns NULL); Spark's concat is
    // null-on-null. concat_ws('') carries pg's exact semantics.
    rewriteConcatNullSafe(ts)
    rewriteBitStrings(ts)
    rewriteMathOps(ts)
    rewriteBetweenSymmetric(ts)
    rewriteAnyAll(ts)
    rewriteJsonAggInputOrder(ts, ctx.fileTable, seq)
    rewriteJsonAggs(ts)
    rewriteJsonToRecord(ts)
    rewriteSetReturning(ts)
    rewriteSubstringRegex(ts)
    quoteNormalizeForms(ts)
    rewriteIntervalLiterals(ts)
    rewriteSimilarTo(ts)
    rewriteRegexOps(ts)
    rewriteFamilyOnlyOps(ts)
    rewriteTextCalls(ts)
    rewriteTsAccessors(ts)
    rewriteJsonOps(ts)
    rewriteLimitCast(ts)
    rewriteCastTypes(ts, ctx.enumTypes)
    rewriteXmlConstructs(ts)
    // AT TIME ZONE first: its literal dispatch distinguishes
    // `timestamp '…'` (→ NTZ direction) from `timestamptz '…'`, which
    // the literal rename below collapses
    rewriteAtTimeZone(ts)
    rewriteTimestamptzLiterals(ts)
    canonTimestampLiterals(ts)
    rewriteHypotheticalSet(ts)
    castWrapRegrAvg(ts)
    wrapByteaLiteralArgs(ts)
    rewriteVariadic(ts)
    rewriteTsRankWeights(ts)
    shiftArraySubscripts(ts)
    aliasVersionCall(ts)
    stripTvfParens(ts)
    // pg double-quoted identifiers → backticks (Spark's default parser
    // reads "x" as a string literal, not an identifier)
    val out = ts.map { t =>
      if (t.kind == QIdent && t.text.length >= 2)
        Tok(Word, "`" + t.text.substring(1, t.text.length - 1).replace("`", "``") + "`")
      else t
    }
    render(out.toSeq)
  }

  /** pg sorts NULLs last ascending and first descending, Spark the
    * reverse, and Spark's parser keeps no trace of an omitted NULLS
    * clause: spell pg's default on every ORDER BY item of a query,
    * subquery or window that has none. An ORDER BY inside a call's
    * parentheses (an aggregate's input order, WITHIN GROUP) keeps its
    * own null handling. Runs first, so the passes that copy ORDER BY
    * items (DISTINCT ON, WITH TIES, GROUPS frames) carry the clause. */
  private def defaultNullOrdering(ts: ArrayBuffer[Tok]): Unit = {
    // per open paren: does an ORDER BY directly inside it sort rows?
    val rowScopes = scala.collection.mutable.Stack(true)
    var i = 0
    while (i < ts.length) {
      val t = ts(i)
      if (t.is("(")) {
        val p = prevIdx(ts, i)
        val n = nextIdx(ts, i)
        rowScopes.push(p >= 0 && (ts(p).isWord("OVER") || ts(p).isWord("AS")) ||
          n >= 0 && (ts(n).isWord("SELECT") || ts(n).isWord("WITH") || ts(n).isWord("VALUES")))
      } else if (t.is(")")) {
        if (rowScopes.size > 1) rowScopes.pop()
      } else if (t.isWord("ORDER") && rowScopes.top) {
        val by = nextIdx(ts, i)
        if (by >= 0 && ts(by).isWord("BY")) addDefaultNulls(ts, by)
      }
      i += 1
    }
  }

  /** Words that end an ORDER BY list (after at least one item token):
    * pg's reserved clause starters; the window frame units, which pg
    * leaves unreserved, end it only before a frame ([[endsOrderBy]]). */
  private val orderByEnd = Set("LIMIT", "OFFSET", "FETCH", "FOR", "UNION", "INTERSECT",
    "EXCEPT", "WINDOW")
  private val frameUnits = Set("ROWS", "RANGE", "GROUPS")

  /** Does the word at `k`, inside an ORDER BY item outside any CASE,
    * start the next clause? Never after `.` or an operator, where it
    * names a column (`q.rows`, `x + range`); a frame unit only where a
    * frame follows: BETWEEN, UNBOUNDED or CURRENT next, or a PRECEDING
    * or FOLLOWING bound before the window's closing parenthesis. */
  private def endsOrderBy(ts: ArrayBuffer[Tok], k: Int): Boolean = {
    val w = ts(k).text.toUpperCase
    (orderByEnd.contains(w) || frameUnits.contains(w) && frameFollows(ts, k)) && {
      val p = prevIdx(ts, k)
      p < 0 || ts(p).kind != Op || ts(p).is(")") || ts(p).is("]")
    }
  }

  /** Does a window frame extent follow the frame unit at `k`? */
  private def frameFollows(ts: ArrayBuffer[Tok], k: Int): Boolean = {
    val n = nextIdx(ts, k)
    n >= 0 && Seq("BETWEEN", "UNBOUNDED", "CURRENT").exists(ts(n).isWord) || {
      var j = k + 1
      var depth = 0
      var bound = false
      while (j < ts.length && depth >= 0 && !bound) {
        if (ts(j).is("(")) depth += 1 else if (ts(j).is(")")) depth -= 1
        bound = depth == 0 && (ts(j).isWord("PRECEDING") || ts(j).isWord("FOLLOWING"))
        j += 1
      }
      bound
    }
  }

  /** Append ` NULLS LAST` (` NULLS FIRST` after DESC) to each item of
    * the ORDER BY list after token `by` that has no NULLS or USING. */
  private def addDefaultNulls(ts: ArrayBuffer[Tok], by: Int): Unit = {
    var j = by + 1
    var depth = 0
    var last = -1 // the current item's last token
    var explicit = false
    var cases = 0 // open CASE expressions
    var done = false
    while (!done) {
      val t = if (j < ts.length) ts(j) else Tok(Op, ";")
      if (depth == 0 && (t.is(",") || t.is(")") || t.is(";") ||
          last >= 0 && cases == 0 && t.kind == Word && endsOrderBy(ts, j))) {
        if (last >= 0 && !explicit) {
          val nulls = if (ts(last).isWord("DESC")) "FIRST" else "LAST"
          ts.insertAll(last + 1, Seq(Tok(Ws, " "), Tok(Word, "NULLS"), Tok(Ws, " "), Tok(Word, nulls)))
          j += 4
        }
        done = !t.is(",")
        last = -1
        explicit = false
      } else {
        if (t.is("(")) depth += 1 else if (t.is(")")) depth -= 1
        if (t.isWord("CASE")) cases += 1 else if (t.isWord("END") && cases > 0) cases -= 1
        if (t.kind != Ws) {
          last = j
          explicit ||= depth == 0 && (t.isWord("NULLS") || t.isWord("USING"))
        }
      }
      j += 1
    }
  }

  /** `f(VARIADIC ARRAY[a, b, …])` → `f(a, b, …)` for the literal
    * array-constructor shape (the only spelling clients emit; a
    * column-valued VARIADIC argument cannot expand statically).
    */
  private def rewriteVariadic(ts: ArrayBuffer[Tok]): Unit = {
    var i = 0
    while (i < ts.length) {
      if (ts(i).kind == Word && ts(i).isWord("variadic")) {
        val arr = nextIdx(ts, i)
        if (arr >= 0 && ts(arr).kind == Word && ts(arr).isWord("array")) {
          val open = nextIdx(ts, arr)
          if (open >= 0 && ts(open).is("(")) {
            val close = matchParen(ts, open)
            if (close > 0) {
              ts.remove(close) // drop array's ')'
              ts.remove(i, open - i + 1) // drop VARIADIC array (
            }
          }
        }
      }
      i += 1
    }
  }

  /** pg's weights-array ts_rank overloads: `ts_rank[_cd]({D,C,B,A}
    * weights, vector, query[, norm])`. Same arity as the
    * normalization forms, so dispatch is by the FIRST argument's
    * shape: a `'{…}'` array literal (converted to a typed ARRAY here)
    * or an ARRAY[...]/array(...) constructor → the `_w` engine
    * functions; the weightless 3-arg form resolves to ts_rank3 in the
    * registry ([[PgNames]]). */
  private def rewriteTsRankWeights(ts: ArrayBuffer[Tok]): Unit = {
    var i = 0
    while (i < ts.length) {
      val t = ts(i)
      if (t.kind == Word && (t.isWord("ts_rank") || t.isWord("ts_rank_cd"))) {
        val open = nextIdx(ts, i)
        if (open >= 0 && ts(open).is("(")) {
          val close = matchParen(ts, open)
          val a1 = nextIdx(ts, open)
          if (close > 0 && a1 >= 0) {
            val arrLit = ts(a1).kind == Str && ts(a1).text.length > 2 &&
              ts(a1).text.charAt(1) == '{'
            val arrCtor = ts(a1).kind == Word &&
              (ts(a1).isWord("array") || ts(a1).isWord("ARRAY"))
            if (arrLit || arrCtor) {
              var commas = 0; var depth = 0; var j = open + 1
              while (j < close) {
                if (ts(j).is("(") || ts(j).is("[")) depth += 1
                else if (ts(j).is(")") || ts(j).is("]")) depth -= 1
                else if (depth == 0 && ts(j).is(",")) commas += 1
                j += 1
              }
              val base = t.text.toLowerCase
              if (commas == 2 || commas == 3) {
                if (arrLit) ts(a1) = Tok(Word,
                  arrayLiteralTokens(ts(a1).text, "float"))
                ts(i) = Tok(Word, base + (if (commas == 2) "_w" else "_w4"))
              }
            }
          }
        }
      }
      i += 1
    }
  }

  /** Reverse type map for parameter inference: Spark type name → OID. */
  private val sparkTypeOid: Map[String, Int] = Map(
    "boolean" -> 16, "smallint" -> 21, "int" -> 23, "bigint" -> 20,
    "float" -> 700, "double" -> 701, "decimal" -> 1700, "string" -> 25,
    "varchar" -> 1043, "binary" -> 17, "date" -> 1082, "timestamp" -> 1184,
    "timestamp_ntz" -> 1114, "interval" -> 1186)

  /** Infer `$N` parameter OIDs from explicit `$N::type` casts in the
    * SQL text — the cast-derived half of the reference's placeholder
    * inference (planner.rs:9-37); uncast params stay 0 (unknown).
    */
  def inferParamOids(sql: String, nParams: Int): Seq[Int] = {
    val toks = tokenize(sql).filter(_.kind != Ws).toVector
    val inferred = new Array[Int](nParams)
    var i = 0
    while (i < toks.length - 2) {
      val t = toks(i)
      if (t.kind == Word && t.text.matches("\\$\\d+") && toks(i + 1).is("::") &&
        toks(i + 2).kind == Word) {
        val idx = t.text.substring(1).toInt - 1
        val pgName = toks(i + 2).text.toLowerCase
        if (idx >= 0 && idx < nParams) {
          if (pgName == "time") inferred(idx) = 1083 // TIME pseudo-type
          else {
            val sparkName = typeNameMap.getOrElse(pgName, pgName)
            sparkTypeOid.get(sparkName).foreach(inferred(idx) = _)
          }
        }
      }
      i += 1
    }
    inferred.toSeq
  }

  /** pg array subscripts are 1-based, Spark's are 0-based: decrement
    * integer-literal subscripts `v[n]` → `v[n-1]`. Runs after the cast
    * rewrites, so `::text[]` type suffixes are already gone; only
    * subscripts following a value token are touched.
    */
  private def shiftArraySubscripts(ts: ArrayBuffer[Tok]): Unit = {
    var i = 0
    while (i < ts.length) {
      if (ts(i).is("[")) {
        val p = prevIdx(ts, i)
        val n = nextIdx(ts, i)
        val c = if (n >= 0) nextIdx(ts, n) else -1
        val valueBefore = p >= 0 && (ts(p).kind == Word || ts(p).kind == QIdent ||
          ts(p).is(")") || ts(p).is("]"))
        if (valueBefore && n >= 0 && c >= 0 && ts(n).kind == Num &&
          ts(n).text.forall(_.isDigit) && ts(c).is("]")) {
          val idx = ts(n).text.toLong
          if (idx >= 1) ts(n) = Tok(Num, (idx - 1).toString)
        } else if (valueBefore && n >= 0 && c >= 0 && ts(n).kind == Num &&
          ts(n).text.forall(_.isDigit) && ts(c).is(":")) {
          // pg slice `v[a:b]` (1-based, inclusive) → slice(v, a, b-a+1);
          // open upper bound `v[a:]` → slice to end (length clamps)
          val bIdx = nextIdx(ts, c)
          val closedEnd = bIdx >= 0 && ts(bIdx).kind == Num &&
            ts(bIdx).text.forall(_.isDigit) && {
              val x = nextIdx(ts, bIdx); x >= 0 && ts(x).is("]")
            }
          val openEnd = bIdx >= 0 && ts(bIdx).is("]")
          if (closedEnd || openEnd) {
            val cls = if (closedEnd) nextIdx(ts, bIdx) else bIdx
            val a = ts(n).text.toLong
            val len =
              if (closedEnd) math.max(ts(bIdx).text.toLong - a + 1, 0)
              else 1000000000L // slice() clamps to the array end
            var start = primaryStart(ts, p)
            // primaryStart treats a preceding keyword as a function
            // name for paren groups (`SELECT (arr)` → start at SELECT);
            // step back inside to the group itself
            if (ts(start).kind == Word && Set("select", "where", "when",
              "then", "else", "and", "or", "by", "from", "in", "on")
                .contains(ts(start).text.toLowerCase))
              start = nextIdx(ts, start)
            ts.remove(i, cls - i + 1)
            ts.insert(i, Tok(Word, s", $a, $len)"))
            ts.insertAll(start, Seq(Tok(Word, "slice"), Tok(Op, "(")))
            i += 2
          }
        } else if (valueBefore && n >= 0 && ts(n).is(":")) {
          // pg open lower bound `v[:b]` / full slice `v[:]`
          val bIdx = nextIdx(ts, n)
          val closedEnd = bIdx >= 0 && ts(bIdx).kind == Num &&
            ts(bIdx).text.forall(_.isDigit) && {
              val x = nextIdx(ts, bIdx); x >= 0 && ts(x).is("]")
            }
          val openEnd = bIdx >= 0 && ts(bIdx).is("]")
          if (closedEnd || openEnd) {
            val cls = if (closedEnd) nextIdx(ts, bIdx) else bIdx
            val len = if (closedEnd) ts(bIdx).text.toLong else 1000000000L
            var start = primaryStart(ts, p)
            if (ts(start).kind == Word && Set("select", "where", "when",
              "then", "else", "and", "or", "by", "from", "in", "on")
                .contains(ts(start).text.toLowerCase))
              start = nextIdx(ts, start)
            ts.remove(i, cls - i + 1)
            ts.insert(i, Tok(Word, s", 1, $len)"))
            ts.insertAll(start, Seq(Tok(Word, "slice"), Tok(Op, "(")))
            i += 2
          }
        }
      }
      i += 1
    }
  }

  /** UDTFs shipped as views: `pg_get_keywords()` → `pg_get_keywords`
    * (the reference registers a real table function,
    * pg_catalog.rs:1528; Spark-side the keyword table is a view).
    */
  private val tvfViews = Set("pg_get_keywords")

  private def stripTvfParens(ts: ArrayBuffer[Tok]): Unit = {
    var i = 0
    while (i < ts.length) {
      if (ts(i).kind == Word && tvfViews.contains(ts(i).text.toLowerCase)) {
        val open = nextIdx(ts, i)
        if (open >= 0 && ts(open).is("(")) {
          val close = nextIdx(ts, open)
          if (close >= 0 && ts(close).is(")")) ts.remove(open, close - open + 1)
        }
      }
      i += 1
    }
  }

  /** `OPERATOR(pg_catalog.~)` → `~` (reference: sql/rules.rs:802-858). */
  private def collapseOperatorCall(ts: ArrayBuffer[Tok]): Unit = {
    var i = 0
    while (i < ts.length) {
      if (ts(i).isWord("OPERATOR")) {
        val open = nextIdx(ts, i)
        if (open >= 0 && ts(open).is("(")) {
          val close = matchParen(ts, open)
          if (close > 0) {
            val inner = ts.slice(open + 1, close).filterNot(t => t.kind == Ws)
            val op = inner.lastOption // pg_catalog . ~  → take last token
            if (op.exists(_.kind == Op)) {
              val repl = op.get
              ts.remove(i, close - i + 1)
              ts.insert(i, repl)
            }
          }
        }
      }
      i += 1
    }
  }

  /** Drop `COLLATE <ident-chain | "ident" | 'str'>` (rules.rs:771-801). */
  private def stripCollate(ts: ArrayBuffer[Tok]): Unit = {
    var i = 0
    while (i < ts.length) {
      if (ts(i).isWord("COLLATE")) {
        var end = nextIdx(ts, i)
        if (end >= 0) {
          // consume ident chain a.b / quoted / string
          var j = end
          var k = nextIdx(ts, j)
          while (k >= 0 && ts(k).is(".") && nextIdx(ts, k) >= 0) {
            j = nextIdx(ts, k); k = nextIdx(ts, j)
          }
          // absorb the whitespace before COLLATE so no dangling space
          val from = if (i > 0 && ts(i - 1).kind == Ws) i - 1 else i
          ts.remove(from, j - from + 1)
          i = from - 1
        }
      }
      i += 1
    }
  }

  /** `"substring"(x)`-style quoted function names → bare words (pg
    * clients quote names colliding with their own keywords; Spark
    * would parse the double-quoted token as an identifier, never a
    * function reference).
    */
  private def unquoteFunctionCalls(ts: ArrayBuffer[Tok]): Unit = {
    var i = 0
    while (i < ts.length) {
      if (ts(i).kind == QIdent) {
        val nx = nextIdx(ts, i)
        if (nx >= 0 && ts(nx).is("(")) {
          val bare = ts(i).text.substring(1, ts(i).text.length - 1)
          if (bare.matches("[A-Za-z_][A-Za-z0-9_]*")) ts(i) = Tok(Word, bare)
        }
      }
      i += 1
    }
  }

  /** `pg_catalog.name` → `name` — Spark temp views/functions are
    * unqualified, so the qualifier is stripped (the inverse of the
    * reference's prepend rule, same resolution outcome). `public.name`
    * strips the same way: served tables live in pg's default schema,
    * and schema-qualifying clients (postgres_fdw's remote SQL always
    * writes `public.t`) must resolve to the same temp views.
    * `information_schema.name` folds to the `information_schema_name`
    * view for the same reason.
    */
  private def stripPgCatalogQualifier(ts: ArrayBuffer[Tok]): Unit = {
    var i = 0
    while (i < ts.length) {
      val isPgCat = ts(i).isWord("pg_catalog") ||
        (ts(i).kind == QIdent && ts(i).text.equalsIgnoreCase("\"pg_catalog\"")) ||
        ts(i).isWord("public") ||
        (ts(i).kind == QIdent && ts(i).text == "\"public\"")
      val isInfoSchema = ts(i).isWord("information_schema")
      if (isPgCat || isInfoSchema) {
        val dot = nextIdx(ts, i)
        if (dot >= 0 && ts(dot).is(".")) {
          val name = nextIdx(ts, dot)
          if (name >= 0 && (ts(name).kind == Word || ts(name).kind == QIdent)) {
            if (isPgCat) {
              ts.remove(i, name - i) // leaves `name`
              i -= 1
            } else {
              val bare =
                if (ts(name).kind == QIdent)
                  ts(name).text.substring(1, ts(name).text.length - 1)
                else ts(name).text
              ts.remove(i, name - i + 1)
              ts.insert(i, Tok(Word, s"information_schema_${bare.toLowerCase}"))
            }
          }
        }
      }
      i += 1
    }
  }

  /** `'x'::regclass` (or CAST('x' AS regclass)) → catalog subquery;
    * numeric strings and numbers → plain int (rules.rs:859-1062).
    */
  private def rewriteRegCasts(ts: ArrayBuffer[Tok]): Unit = {
    var i = 0
    while (i < ts.length) {
      if (ts(i).is("::")) {
        val t = nextIdx(ts, i)
        val p = prevIdx(ts, i)
        if (t >= 0 && p >= 0 && ts(t).kind == Word && regLookup.contains(ts(t).text.toLowerCase)) {
          val (table, nameCol) = regLookup(ts(t).text.toLowerCase)
          val operand = ts(p)
          val repl: Seq[Tok] = operand.kind match {
            case Str =>
              val lit = operand.text
              val bare = lit.substring(1, lit.length - 1)
              if (bare.forall(_.isDigit))
                Seq(Tok(Word, s"CAST($bare AS INT)"))
              else {
                // strip schema qualifier inside the literal ('public.t' → 't')
                val rel = bare.split('.').last.replace("'", "''")
                catalogRelOids.get(rel) match {
                  case Some(fixed) => Seq(Tok(Word, s"CAST($fixed AS INT)"))
                  case None => Seq(Tok(Word,
                    s"(SELECT CAST(oid AS INT) FROM $table WHERE $nameCol = '$rel' LIMIT 1)"))
                }
              }
            case Num => Seq(Tok(Word, s"CAST(${operand.text} AS INT)"))
            case _ => Seq(operand) // leave non-literal operands as-is
          }
          ts.remove(p, t - p + 1)
          ts.insertAll(p, repl)
          i = p
        }
      }
      i += 1
    }
  }

  /** `'{a,b}'::type[]` and `'{a,b}'::_type` → typed array literal
    * (reference FixArrayLiteral, rules.rs:504-574).
    */
  private def rewriteArrayLiteralCasts(ts: ArrayBuffer[Tok]): Unit = {
    var i = 0
    while (i < ts.length) {
      if (ts(i).is("::")) {
        val p = prevIdx(ts, i)
        val t = nextIdx(ts, i)
        if (p >= 0 && t >= 0 && ts(p).kind == Str && isArrayLiteral(ts(p).text) &&
          // a bare ::json/::jsonb cast of a '{…}' literal is a JSON
          // document, not a pg array literal (json[] still qualifies)
          !(Set("json", "jsonb").contains(ts(t).text.toLowerCase) && {
            val b1 = nextIdx(ts, t); !(b1 >= 0 && ts(b1).is("["))
          })) {
          // determine element type + whether [] follows
          val (elemPg, lastTypeIdx) = {
            val w = ts(t).text.toLowerCase
            if (w.startsWith("_")) (w.substring(1), t)
            else {
              val b1 = nextIdx(ts, t)
              if (b1 >= 0 && ts(b1).is("[")) {
                val b2 = nextIdx(ts, b1)
                if (b2 >= 0 && ts(b2).is("]")) (w, b2) else (w, t)
              } else (w, t)
            }
          }
          val sparkElem = typeNameMap.getOrElse(elemPg, elemPg)
          val arr = arrayLiteralTokens(ts(p).text, sparkElem)
          ts.remove(p, lastTypeIdx - p + 1)
          ts.insert(p, Tok(Word, arr))
          i = p
        }
      }
      i += 1
    }
  }

  /** pg `ARRAY[a, b, c]` constructor → Spark `array(a, b, c)`. Only
    * the word ARRAY immediately followed by `[` is touched (in pg that
    * shape is always the constructor; subscripting a column named
    * array requires quoting), so `v[1]` subscripts are untouched.
    * Nested constructors resolve as the scan continues into the
    * replaced region.
    */
  /** pg `SELECT DISTINCT ON (keys) sl FROM … [ORDER BY o]` — the
    * keep-first-row-per-group idiom (pg requires the keys to be an
    * ORDER BY prefix; the kept row is the first in that order) —
    * rewritten to a row_number window:
    *
    *   SELECT sl FROM (SELECT *, row_number() OVER (PARTITION BY keys
    *     ORDER BY o-or-keys) AS __gdo FROM …) __gdo_t
    *   WHERE __gdo = 1 [ORDER BY o]
    *
    * The inner `SELECT *` keeps every base column visible so both the
    * select list and the outer ORDER BY resolve unchanged. Known
    * limits (documented): table-qualified references in the select
    * list lose their qualifier's scope through the subquery, and a
    * GROUP BY in the same block is unsupported.
    */
  private def rewriteDistinctOn(ts: ArrayBuffer[Tok]): Unit = {
    var i = 0
    while (i < ts.length) {
      if (ts(i).isWord("SELECT")) {
        val d = nextIdx(ts, i)
        val on = if (d >= 0 && ts(d).isWord("DISTINCT")) nextIdx(ts, d) else -1
        val open = if (on >= 0 && ts(on).isWord("ON")) nextIdx(ts, on) else -1
        if (open >= 0 && ts(open).is("(")) {
          val close = matchParen(ts, open)
          if (close > 0) {
            // scope scan from after the key list: depth-0 FROM, then
            // depth-0 ORDER BY / LIMIT / OFFSET / scope end
            var depth = 0
            var fromIdx = -1; var orderIdx = -1; var tailIdx = -1
            var j = close + 1
            var end = ts.length
            while (j < ts.length && end == ts.length) {
              val t = ts(j)
              if (t.is("(")) depth += 1
              else if (t.is(")")) { depth -= 1; if (depth < 0) end = j }
              else if (depth == 0 && t.kind == Word) {
                val w = t.text.toUpperCase
                if (w == "FROM" && fromIdx < 0) fromIdx = j
                else if (w == "ORDER" && fromIdx >= 0 && orderIdx < 0) {
                  val by = nextIdx(ts, j)
                  if (by >= 0 && ts(by).isWord("BY")) orderIdx = j
                } else if ((w == "LIMIT" || w == "OFFSET") && fromIdx >= 0 &&
                  orderIdx < 0 && tailIdx < 0) tailIdx = j
                else if (w == "UNION" || w == "INTERSECT" || w == "EXCEPT")
                  end = j
              }
              j += 1
            }
            if (fromIdx > 0) {
              val keys = ts.slice(open + 1, close).toVector
              val sl = ts.slice(close + 1, fromIdx).toVector
              val bodyEnd = if (orderIdx > 0) orderIdx
                else if (tailIdx > 0) tailIdx else end
              val body = ts.slice(fromIdx, bodyEnd).toVector // FROM …
              // ORDER BY keys for the window: the query's own ORDER BY
              // (pg validated it starts with the keys) or the keys
              val oby: Vector[Tok] =
                if (orderIdx > 0) {
                  val by = nextIdx(ts, orderIdx)
                  // order list runs to LIMIT/OFFSET or scope end
                  var k = by + 1; var oEnd = bodyEnd
                  var dep = 0; oEnd = end
                  var m = by + 1
                  while (m < end && oEnd == end) {
                    if (ts(m).is("(")) dep += 1
                    else if (ts(m).is(")")) dep -= 1
                    else if (dep == 0 && ts(m).kind == Word &&
                      Set("LIMIT", "OFFSET").contains(ts(m).text.toUpperCase)) oEnd = m
                    m += 1
                  }
                  ts.slice(by + 1, oEnd).toVector
                } else keys
              val tail = // everything from ORDER BY (inclusive) to scope end
                ts.slice(bodyEnd, end).toVector
              val rebuilt = ArrayBuffer[Tok]()
              rebuilt += Tok(Word, "SELECT ")
              rebuilt ++= sl
              rebuilt += Tok(Word, " FROM (SELECT *, row_number() OVER (PARTITION BY ")
              rebuilt ++= keys
              rebuilt += Tok(Word, " ORDER BY ")
              rebuilt ++= oby
              rebuilt += Tok(Word, ") AS __gdo ")
              rebuilt ++= body
              rebuilt += Tok(Word, ") __gdo_t WHERE __gdo = 1 ")
              rebuilt ++= tail
              ts.remove(i, end - i)
              ts.insertAll(i, rebuilt)
              i += rebuilt.length - 1
            }
          }
        }
      }
      i += 1
    }
  }

  // ---- pg window frame features Spark's parser lacks --------------------
  //
  // GROUPS frames and frame EXCLUDE clauses (pg window_definition;
  // the reference engine declares both unsupported). Strategy,
  // live-pinned against pg 15 (sweep-25):
  //
  //  - GROUPS whose bounds are only UNBOUNDED/CURRENT ROW is
  //    value-identical to the same RANGE frame (a RANGE CURRENT ROW
  //    boundary already spans the whole peer group) — keyword swap.
  //  - GROUPS with integer offsets counts peer groups, which Spark
  //    cannot express directly; the block is restructured so a
  //    dense_rank() subquery materializes the group number and the
  //    frame becomes RANGE over that integer — `GROUPS n PRECEDING`
  //    over ORDER BY o is exactly `RANGE n PRECEDING` over
  //    dense_rank() ORDER BY o (peers share a rank; rank distance =
  //    group distance). Same inner `SELECT *` shape and documented
  //    limits as DISTINCT ON: no GROUP BY/HAVING in the block.
  //  - EXCLUDE decomposes arithmetically for sum/count/avg: the
  //    excluded portion is re-aggregated by a peers-only window
  //    (RANGE BETWEEN CURRENT ROW AND CURRENT ROW) and/or the current
  //    row's own value, then subtracted from the full-frame result,
  //    with a count guard reproducing NULL-on-empty. Valid only when
  //    the frame provably contains everything subtracted: the current
  //    row for EXCLUDE CURRENT ROW (start not FOLLOWING, end not
  //    PRECEDING), the whole peer group for EXCLUDE GROUP/TIES (a
  //    RANGE/GROUPS frame spanning offset 0, or ROWS UNBOUNDED..
  //    UNBOUNDED — pg intersects the exclusion with the frame, so a
  //    narrower ROWS frame would over-subtract). Everything else
  //    (other aggregates, FILTER + EXCLUDE, narrow-frame GROUP/TIES)
  //    raises 0A000 rather than returning wrong numbers. min/max —
  //    not subtractable — instead SPLIT a ROWS frame around the
  //    excluded current row into complementary pieces composed with
  //    least()/greatest() (sweep-25b); their RANGE/GROUPS EXCLUDE
  //    shapes stay 0A000. EXCLUDE CURRENT ROW on a frame that
  //    provably cannot contain the current row is pg's no-op.
  //    avg rides CAST(sum AS decimal(38,16))/count — pg's numeric
  //    avg scale for int/numeric inputs; float8 input gains trailing
  //    zeros vs pg (documented deviation).

  private val frameUnbounded = Set("UP", "CR", "UF")

  /** Classify a frame bound starting at non-ws index `j`; returns
    * (kind, lastTokenIdx) where kind ∈ UP|CR|UF|OP|OF (unbounded/
    * current/offset × preceding/following). */
  private def parseBound(ts: ArrayBuffer[Tok], j: Int, stop: Int): (String, Int) = {
    if (ts(j).isWord("UNBOUNDED")) {
      val d = nextIdx(ts, j)
      (if (d >= 0 && ts(d).isWord("FOLLOWING")) "UF" else "UP", d)
    } else if (ts(j).isWord("CURRENT")) ("CR", nextIdx(ts, j))
    else {
      // offset bound: scan to the PRECEDING/FOLLOWING keyword
      var k = j; var depth = 0; var dir = ""; var last = j
      while (k < stop && dir.isEmpty) {
        if (ts(k).is("(")) depth += 1
        else if (ts(k).is(")")) depth -= 1
        else if (depth == 0 && ts(k).isWord("PRECEDING")) { dir = "OP"; last = k }
        else if (depth == 0 && ts(k).isWord("FOLLOWING")) { dir = "OF"; last = k }
        k += 1
      }
      (if (dir.isEmpty) "CR" else dir, last)
    }
  }

  /** Frame clause layout inside one OVER(...): frame keyword index,
    * EXCLUDE index (-1), bound kinds, and the index right after the
    * bounds. */
  private case class FrameInfo(f: Int, e: Int, startKind: String,
      endKind: String, boundsEnd: Int)

  private def frameOf(ts: ArrayBuffer[Tok], open: Int, close: Int): Option[FrameInfo] = {
    var f = -1; var e = -1; var depth = 0; var j = open + 1
    while (j < close) {
      if (ts(j).is("(")) depth += 1
      else if (ts(j).is(")")) depth -= 1
      else if (depth == 0 && f < 0 && (ts(j).isWord("ROWS") ||
        ts(j).isWord("RANGE") || ts(j).isWord("GROUPS"))) f = j
      else if (depth == 0 && ts(j).isWord("EXCLUDE")) e = j
      j += 1
    }
    if (f < 0) None
    else {
      val stop = if (e >= 0) e else close
      val b1 = nextIdx(ts, f)
      if (b1 < 0 || b1 >= stop) None
      else if (ts(b1).isWord("BETWEEN")) {
        val (sk, sEnd) = parseBound(ts, nextIdx(ts, b1), stop)
        val and = nextIdx(ts, sEnd)
        if (and < 0 || !ts(and).isWord("AND")) None
        else {
          val (ek, eEnd) = parseBound(ts, nextIdx(ts, and), stop)
          Some(FrameInfo(f, e, sk, ek, eEnd + 1))
        }
      } else {
        val (sk, sEnd) = parseBound(ts, b1, stop)
        Some(FrameInfo(f, e, sk, "CR", sEnd + 1)) // single bound: end = CURRENT ROW
      }
    }
  }

  /** Restructure blocks whose select list has a GROUPS frame with
    * integer offsets: dense_rank() subquery + RANGE over the rank
    * (aliases suffixed from `seq`). */
  private def rewriteGroupsOffsets(ts: ArrayBuffer[Tok], seq: Iterator[Int]): Unit = {
    var guard = 0
    var again = true
    while (again && guard < 32) {
      again = false; guard += 1
      // depth of every token, for block scoping
      val depths = new Array[Int](ts.length)
      var d = 0
      for (j <- ts.indices) {
        if (ts(j).is("(")) { depths(j) = d; d += 1 }
        else if (ts(j).is(")")) { d -= 1; depths(j) = d }
        else depths(j) = d
      }
      var i = 0
      while (i < ts.length && !again) {
        if (ts(i).isWord("OVER")) {
          val open = nextIdx(ts, i)
          val close = if (open >= 0 && ts(open).is("(")) matchParen(ts, open) else -1
          if (close > 0) frameOf(ts, open, close) match {
            case Some(fi) if ts(fi.f).isWord("GROUPS") &&
                (fi.startKind == "OP" || fi.startKind == "OF" ||
                 fi.endKind == "OP" || fi.endKind == "OF") =>
              rewriteOneGroupsOffset(ts, i, open, close, fi, depths, seq)
              again = true // indices shifted; rescan
            case Some(fi) if needsGroupSpaceSplit(ts, i, open, close, fi) =>
              // min/max EXCLUDE GROUP/TIES (r16): not subtractable, so
              // the frame must SPLIT at the current peer group — which
              // needs group-number addressing. The same dense_rank
              // restructure turns the window into RANGE over an
              // integer group column; rewriteOneFrame then splits at
              // ±1 group exactly.
              rewriteOneGroupsOffset(ts, i, open, close, fi, depths, seq)
              again = true
            case _ =>
          }
        }
        i += 1
      }
    }
  }

  /** The aggregate name directly before an OVER keyword, when the
    * call shape is `fn(args) OVER`. */
  private def windowAggFn(ts: ArrayBuffer[Tok], overIdx: Int): Option[String] = {
    val p1 = prevIdx(ts, overIdx)
    if (p1 < 0 || !ts(p1).is(")")) return None
    var depth2 = 0; var aOpen = p1
    while (aOpen >= 0 && { val t = ts(aOpen)
      if (t.is(")")) depth2 += 1 else if (t.is("(")) depth2 -= 1
      depth2 != 0 }) aOpen -= 1
    val fnIdx = prevIdx(ts, aOpen)
    if (fnIdx < 0 || ts(fnIdx).kind != Word) None
    else Some(ts(fnIdx).text.toLowerCase)
  }

  /** min/max + EXCLUDE GROUP/TIES over a RANGE/GROUPS frame with
    * UNBOUNDED/CURRENT bounds: eligible for the dense_rank
    * group-space restructure so the frame can split at the current
    * peer group. A window already ordered by a __grp column is
    * excluded (it was restructured — terminates the rescan loop), as
    * is one without ORDER BY (the main pass's 0A000 fires there). */
  private def needsGroupSpaceSplit(ts: ArrayBuffer[Tok], overIdx: Int,
      open: Int, close: Int, fi: FrameInfo): Boolean = {
    if (fi.e < 0) return false
    if (!(ts(fi.f).isWord("RANGE") || ts(fi.f).isWord("GROUPS"))) return false
    if (!frameUnbounded(fi.startKind) || !frameUnbounded(fi.endKind))
      return false
    val k1 = nextIdx(ts, fi.e)
    val kind = if (k1 < 0) "" else ts(k1).text.toUpperCase
    // GROUP/TIES (r16) and CURRENT (r17 — the last 0A000 window
    // shape): all three split in group space for min/max
    if (kind != "GROUP" && kind != "TIES" && kind != "CURRENT") return false
    if (!windowAggFn(ts, overIdx).exists(f => f == "min" || f == "max"))
      return false
    var orderIdx = -1; var depth = 0; var j = open + 1
    while (j < fi.f && orderIdx < 0) {
      if (ts(j).is("(")) depth += 1
      else if (ts(j).is(")")) depth -= 1
      else if (depth == 0 && ts(j).isWord("ORDER")) orderIdx = j
      j += 1
    }
    if (orderIdx < 0) return false
    val by = nextIdx(ts, orderIdx)
    val keyToks = ts.slice(if (by >= 0) by + 1 else orderIdx + 1, fi.f)
      .filter(_.kind != Ws)
    !(keyToks.length == 1 && keyToks.head.kind == Word &&
      keyToks.head.text.startsWith("__grp"))
  }

  private def rewriteOneGroupsOffset(ts: ArrayBuffer[Tok], overIdx: Int,
      open: Int, close: Int, fi: FrameInfo, depths: Array[Int], seq: Iterator[Int]): Unit = {
    // split the spec: [PARTITION BY part] ORDER BY ord GROUPS bounds [EXCLUDE ...]
    var orderIdx = -1; var depth = 0
    var j = open + 1
    while (j < fi.f && orderIdx < 0) {
      if (ts(j).is("(")) depth += 1
      else if (ts(j).is(")")) depth -= 1
      else if (depth == 0 && ts(j).isWord("ORDER")) {
        val by = nextIdx(ts, j)
        if (by >= 0 && ts(by).isWord("BY")) orderIdx = j
      }
      j += 1
    }
    if (orderIdx < 0)
      throw PgException("42P20", "GROUPS mode requires an ORDER BY clause")
    val partToks = ts.slice(open + 1, orderIdx).toVector
    val ordToks = ts.slice(nextIdx(ts, nextIdx(ts, orderIdx)), fi.f).toVector
    val frameTail = ts.slice(fi.f + 1, close).toVector // bounds [+ EXCLUDE]

    // enclosing block: nearest preceding SELECT, then its FROM/tail at
    // the same depth
    // nearest preceding SELECT at (or above) the window's own depth —
    // skips sibling scalar subqueries that closed before the window
    var s = overIdx
    while (s >= 0 && !(ts(s).isWord("SELECT") && depths(s) <= depths(overIdx)))
      s -= 1
    if (s < 0) throw PgException("0A000",
      "GROUPS frame with an offset is only supported in a SELECT list")
    val ds = depths(s)
    var fromIdx = -1; var tailIdx = -1; var end = ts.length
    j = s + 1
    while (j < ts.length && end == ts.length) {
      if (depths(j) < ds) end = j
      else if (depths(j) == ds && ts(j).kind == Word) {
        val w = ts(j).text.toUpperCase
        if (w == "FROM" && fromIdx < 0) fromIdx = j
        else if (fromIdx >= 0 && tailIdx < 0 &&
          (w == "ORDER" || w == "LIMIT" || w == "OFFSET")) tailIdx = j
        else if (w == "UNION" || w == "INTERSECT" || w == "EXCEPT") end = j
        else if (fromIdx >= 0 && (w == "GROUP" || w == "HAVING") &&
          !ts(j).isWord("GROUPS"))
          throw PgException("0A000",
            "GROUPS frame with an offset is not supported in an aggregated block")
      }
      j += 1
    }
    if (fromIdx < 0) throw PgException("0A000",
      "GROUPS frame with an offset requires a FROM clause")
    val bodyEnd = if (tailIdx > 0) tailIdx else end
    val body = ts.slice(fromIdx, bodyEnd).toVector

    val n = seq.next()
    val g = s"__grp$n"
    // new OVER spec: [PARTITION BY part] ORDER BY __grpN RANGE bounds…
    // discrete tokens: the EXCLUDE pass that follows must still see
    // the RANGE keyword (isWord matches whole-token text only)
    val newSpec = ArrayBuffer[Tok]()
    newSpec ++= partToks
    newSpec ++= Seq(Tok(Ws, " "), Tok(Word, "ORDER"), Tok(Ws, " "),
      Tok(Word, "BY"), Tok(Ws, " "), Tok(Word, g), Tok(Ws, " "),
      Tok(Word, "RANGE"), Tok(Ws, " "))
    newSpec ++= frameTail
    // new FROM body: dense_rank() over the original (part, order)
    val newBody = ArrayBuffer[Tok]()
    newBody += Tok(Word, "FROM (SELECT *, dense_rank() OVER (")
    newBody ++= partToks
    newBody += Tok(Word, " ORDER BY ")
    newBody ++= ordToks
    newBody += Tok(Word, s") AS $g ")
    newBody ++= body
    newBody += Tok(Word, s") __grp_t$n ")
    // splice the later span first so earlier indices stay valid
    if (fromIdx > close) {
      ts.remove(fromIdx, bodyEnd - fromIdx)
      ts.insertAll(fromIdx, newBody)
      ts.remove(open + 1, close - open - 1)
      ts.insertAll(open + 1, newSpec)
    } else {
      ts.remove(open + 1, close - open - 1)
      ts.insertAll(open + 1, newSpec)
      val shift = newSpec.length - (close - open - 1)
      ts.remove(fromIdx + shift, bodyEnd - fromIdx)
      ts.insertAll(fromIdx + shift, newBody)
    }
  }

  /** GROUPS→RANGE keyword mapping and EXCLUDE decomposition over one
    * OVER(...) span (see the block comment above). */
  private def rewriteWindowFrames(ts: ArrayBuffer[Tok], seq: Iterator[Int]): Unit = {
    rewriteGroupsOffsets(ts, seq)
    var i = 0
    while (i < ts.length) {
      if (ts(i).isWord("OVER")) {
        val open = nextIdx(ts, i)
        val close = if (open >= 0 && ts(open).is("(")) matchParen(ts, open) else -1
        if (close > 0) frameOf(ts, open, close).foreach { fi =>
          rewriteOneFrame(ts, i, open, close, fi)
        }
      }
      i += 1
    }
  }

  private def rewriteOneFrame(ts: ArrayBuffer[Tok], overIdx: Int,
      open: Int, close: Int, fi: FrameInfo): Unit = {
    val isGroups = ts(fi.f).isWord("GROUPS")
    if (isGroups) {
      if (frameUnbounded(fi.startKind) && frameUnbounded(fi.endKind))
        ts(fi.f) = Tok(Word, "RANGE") // exact: peers ride the CR boundary
      else throw PgException("0A000",
        "GROUPS frame with an offset is only supported in a SELECT list")
    }
    if (fi.e < 0) return
    // EXCLUDE kind
    val k1 = nextIdx(ts, fi.e)
    val kind = if (k1 < 0) "" else ts(k1).text.toUpperCase
    val kEnd = if (kind == "CURRENT" || kind == "NO") nextIdx(ts, k1) else k1
    if (kind == "NO") { ts.remove(fi.e, kEnd - fi.e + 1); return } // NO OTHERS: no-op
    // aggregate call directly before OVER
    val p1 = prevIdx(ts, overIdx)
    if (p1 < 0 || !ts(p1).is(")"))
      throw PgException("0A000", s"frame EXCLUDE on this window call is not supported")
    var depth2 = 0; var aOpen = p1
    while (aOpen >= 0 && { val t = ts(aOpen)
      if (t.is(")")) depth2 += 1 else if (t.is("(")) depth2 -= 1; depth2 != 0 }) aOpen -= 1
    val fnIdx = prevIdx(ts, aOpen)
    if (fnIdx < 0 || ts(fnIdx).kind != Word)
      throw PgException("0A000", "frame EXCLUDE on this window call is not supported")
    val fn = ts(fnIdx).text.toLowerCase
    if (fn == "filter")
      throw PgException("0A000", "FILTER with a frame EXCLUDE clause is not supported")
    // ranking/offset functions ignore the frame entirely in pg, so
    // EXCLUDE is a no-op for them — drop the whole frame clause and
    // let Spark supply the function's required frame (it rejects an
    // explicit spelling on some of these)
    if (Set("row_number", "rank", "dense_rank", "percent_rank", "cume_dist",
        "ntile", "lead", "lag").contains(fn)) {
      ts.remove(fi.f, kEnd - fi.f + 1); return
    }
    if (!Set("sum", "count", "avg", "min", "max").contains(fn))
      throw PgException("0A000", s"$fn with a frame EXCLUDE clause is not supported")
    // validity: the frame must contain what we subtract
    val containsCur = fi.startKind != "OF" && fi.endKind != "OP" &&
      fi.startKind != "UF" && fi.endKind != "UP"
    val rangeKw = ts(fi.f).isWord("RANGE")
    val containsGroup = (rangeKw && containsCur) ||
      (fi.startKind == "UP" && fi.endKind == "UF")
    if (kind == "CURRENT" && !containsCur) {
      // the frame provably cannot contain the current row (a bound of
      // OFFSET FOLLOWING / OFFSET PRECEDING keeps it out), so pg's
      // exclusion intersects to nothing — drop the EXCLUDE clause
      ts.remove(fi.e, kEnd - fi.e + 1)
      return
    }
    if ((kind == "GROUP" || kind == "TIES") && !containsGroup)
      throw PgException("0A000",
        s"EXCLUDE $kind needs a RANGE/GROUPS frame spanning the current row " +
        "(a narrower ROWS frame would over-subtract)")
    val args = ts.slice(aOpen + 1, p1).toVector
    val isStar = args.exists(_.is("*")) && args.forall(t => t.kind == Ws || t.is("*"))
    if (args.exists(_.isWord("DISTINCT")))
      throw PgException("0A000", "DISTINCT is not implemented for window functions")
    val specFull = ts.slice(open + 1, if (fi.e >= 0) fi.e else close).toVector
    // peers-only window: same partition/order, RANGE CR..CR
    var orderIdx = -1; var dep = 0; var j = open + 1
    while (j < fi.f && orderIdx < 0) {
      if (ts(j).is("(")) dep += 1
      else if (ts(j).is(")")) dep -= 1
      else if (dep == 0 && ts(j).isWord("ORDER")) orderIdx = j
      j += 1
    }
    if (orderIdx < 0 && (kind == "GROUP" || kind == "TIES"))
      throw PgException("0A000",
        s"EXCLUDE $kind without a window ORDER BY is not supported")
    val grpSpec = ts.slice(open + 1, fi.f).toVector :+
      Tok(Word, " RANGE BETWEEN CURRENT ROW AND CURRENT ROW")

    val repl = ArrayBuffer[Tok]()
    def w(s: String): Unit = repl += Tok(Word, s)
    def winOver(aggFn: String, spec: Vector[Tok]): Unit = {
      w(s"$aggFn("); repl ++= args; w(") OVER ("); repl ++= spec; w(")")
    }
    def curCnt(): Unit = // this row's own count contribution
      if (isStar) w("1")
      else { w("(CASE WHEN ("); repl ++= args; w(") IS NULL THEN 0 ELSE 1 END)") }
    def curVal(): Unit = { w("coalesce("); repl ++= args; w(", 0)") }
    def cnt(): Unit = { // remaining-rows count expression
      w("("); winOver("count", specFull)
      kind match {
        case "CURRENT" => w(" - "); curCnt()
        case "GROUP" => w(" - "); winOver("count", grpSpec)
        case "TIES" => w(" - "); winOver("count", grpSpec); w(" + "); curCnt()
      }
      w(")")
    }
    def sumRest(): Unit = { // remaining-rows sum expression
      winOver("sum", specFull)
      kind match {
        case "CURRENT" => w(" - "); curVal()
        case "GROUP" =>
          w(" - coalesce("); winOver("sum", grpSpec); w(", 0)")
        case "TIES" =>
          w(" - coalesce("); winOver("sum", grpSpec); w(", 0) + "); curVal()
      }
    }
    // min/max are not subtractable — EXCLUDE instead SPLITS the frame
    // into complementary pieces composed with least()/greatest()
    // (NULL-skipping, so an empty piece vanishes exactly):
    //  - EXCLUDE CURRENT ROW over a ROWS frame splits at the row
    //    (sweep-25b);
    //  - EXCLUDE GROUP/TIES (r16) splits at the current PEER GROUP,
    //    which needs group-number addressing: rewriteGroupsOffsets
    //    restructured the window to RANGE over a dense_rank __grp
    //    column (needsGroupSpaceSplit), where ±1 is exactly one
    //    group — pieces are [start, 1 PRECEDING] and [1 FOLLOWING,
    //    end], with the current row's own value re-included for TIES.
    //  Remaining unsupported shape: EXCLUDE CURRENT ROW over a
    //  RANGE/GROUPS frame (the excluded row sits inside a peer run
    //  neither split can isolate) — 0A000.
    if (fn == "min" || fn == "max") {
      val rowsKw = ts(fi.f).isWord("ROWS")
      val grpOrdered = orderIdx >= 0 && {
        val by = nextIdx(ts, orderIdx)
        val keyToks = ts.slice(if (by >= 0) by + 1 else orderIdx + 1, fi.f)
          .filter(_.kind != Ws)
        keyToks.length == 1 && keyToks.head.kind == Word &&
          keyToks.head.text.startsWith("__grp")
      }
      val splitAtGroup = (kind == "GROUP" || kind == "TIES") &&
        rangeKw && grpOrdered
      // EXCLUDE CURRENT ROW over a RANGE/GROUPS frame (r17 — closes
      // the last 0A000 window shape): such frames are unions of WHOLE
      // peer groups, so the frame splits into [start, group-1],
      // [group+1, end] (group space, like GROUP/TIES) plus the
      // current group MINUS the current row — rebuilt as two
      // complementary ROWS windows PARTITIONED BY the peer group
      // itself (same partition+order ⇒ one Window operator ⇒ the
      // same physical row order, so the complement is exact).
      val splitCurAtGroup = kind == "CURRENT" && rangeKw && grpOrdered
      if (!((kind == "CURRENT" && rowsKw) || splitAtGroup || splitCurAtGroup))
        throw PgException("0A000",
          s"$fn with EXCLUDE $kind on this frame is not supported " +
          "(ROWS … EXCLUDE CURRENT ROW and RANGE/GROUPS … EXCLUDE " +
          "CURRENT ROW/GROUP/TIES split exactly)")
      // frame bound token spans
      val b1 = nextIdx(ts, fi.f)
      val (b1Toks, b2Toks) =
        if (b1 >= 0 && ts(b1).isWord("BETWEEN")) {
          val j1 = nextIdx(ts, b1)
          val (_, last1) = parseBound(ts, j1, fi.boundsEnd + 1)
          var andIdx = nextIdx(ts, last1)
          val j2 = nextIdx(ts, andIdx)
          val (_, last2) = parseBound(ts, j2, fi.boundsEnd + 1)
          (ts.slice(j1, last1 + 1).toVector, ts.slice(j2, last2 + 1).toVector)
        } else {
          val (_, last1) = parseBound(ts, b1, fi.boundsEnd + 1)
          (ts.slice(b1, last1 + 1).toVector,
            Vector(Tok(Word, "CURRENT ROW")))
        }
      val specPrefix = ts.slice(open + 1, fi.f).toVector
      val frameKw = if (rowsKw) " ROWS BETWEEN " else " RANGE BETWEEN "
      def piece(lo: Vector[Tok], hi: Vector[Tok]): Unit = {
        val spec = specPrefix ++ (Tok(Word, frameKw) +: lo) ++
          (Tok(Word, " AND ") +: hi)
        winOver(fn, spec)
      }
      val hasLeft = fi.startKind != "CR"
      val hasRight = fi.endKind != "CR"
      val cmp = if (fn == "min") "least" else "greatest"
      val parts = ArrayBuffer.empty[() => Unit]
      if (hasLeft) parts += (() => piece(b1Toks, Vector(Tok(Word, "1 PRECEDING"))))
      if (hasRight) parts += (() => piece(Vector(Tok(Word, "1 FOLLOWING")), b2Toks))
      if (kind == "TIES")
        parts += (() => { w("("); repl ++= args; w(")") })
      if (splitCurAtGroup) {
        // current group minus the current row: complementary ROWS
        // windows partitioned by (part, __grpN)
        val grpName = {
          val by = nextIdx(ts, orderIdx)
          ts.slice(by + 1, fi.f).filter(_.kind != Ws).head.text
        }
        val partPrefix = ts.slice(open + 1, orderIdx).toVector
        def peerSpec(frame: String): Vector[Tok] = {
          val pp =
            if (partPrefix.exists(_.kind == Word))
              partPrefix :+ Tok(Word, s", $grpName")
            else Vector(Tok(Word, s"PARTITION BY $grpName"))
          pp :+ Tok(Word, s" ORDER BY $grpName ROWS BETWEEN $frame")
        }
        parts += (() => winOver(fn,
          peerSpec("UNBOUNDED PRECEDING AND 1 PRECEDING")))
        parts += (() => winOver(fn,
          peerSpec("1 FOLLOWING AND UNBOUNDED FOLLOWING")))
      }
      if (parts.isEmpty) {
        // the frame minus the exclusion is provably empty: NULL of
        // the argument's type
        w("(CASE WHEN 1 = 0 THEN "); winOver(fn, specFull); w(" END)")
      } else if (parts.length == 1) parts.head()
      else {
        w(s"$cmp(")
        parts.head(); parts.tail.foreach { p => w(", "); p() }
        w(")")
      }
      ts.remove(fnIdx, close - fnIdx + 1)
      ts.insertAll(fnIdx, repl)
      return
    }
    fn match {
      case "count" => cnt()
      case "sum" =>
        w("(CASE WHEN "); cnt(); w(" = 0 THEN NULL ELSE ")
        sumRest(); w(" END)")
      case "avg" =>
        w("(CASE WHEN "); cnt(); w(" = 0 THEN NULL ELSE CAST(")
        sumRest(); w(" AS decimal(38,16)) / "); cnt(); w(" END)")
    }
    ts.remove(fnIdx, close - fnIdx + 1)
    ts.insertAll(fnIdx, repl)
  }

  /** SQL-standard row-limit spellings Spark's parser lacks:
    * `FETCH {FIRST|NEXT} [n] {ROW|ROWS} ONLY` → `LIMIT n` (n defaults
    * to 1), `OFFSET n {ROW|ROWS}` → `OFFSET n`, and pg's empty
    * grouping list `GROUP BY ()` → plain ungrouped aggregation.
    */
  /** pg `ORDER BY o FETCH FIRST n ROWS WITH TIES` — LIMIT that keeps
    * peer rows of the n-th row. Spark has no WITH TIES anywhere, so
    * the block restructures to a rank window (same inner `SELECT *`
    * shape as DISTINCT ON, same documented limits: no GROUP BY /
    * DISTINCT in the block, and OFFSET between ORDER BY and FETCH is
    * unsupported).
    */
  /** Strip pg's row-locking clauses — `FOR UPDATE | NO KEY UPDATE |
    * SHARE | KEY SHARE [OF tbl, ...] [NOWAIT | SKIP LOCKED]` — which
    * every ORM's select_for_update/with_for_update emits. A single-
    * writer engine with tag-only transactions has no row locks to
    * take, so the clause is a no-op (the same contract COMMIT/ROLLBACK
    * already document); Spark's parser would otherwise reject it.
    * SUBSTRING's `FOR n` is safe: the next word there is never one of
    * the four lock strengths.
    */
  private def stripLockingClause(ts: ArrayBuffer[Tok]): Unit = {
    var i = 0
    while (i < ts.length) {
      var matchedEnd = -1 // index of the clause's last token, inclusive
      if (ts(i).isWord("FOR")) {
        val n1 = nextIdx(ts, i)
        if (n1 >= 0) {
          if (ts(n1).isWord("UPDATE") || ts(n1).isWord("SHARE"))
            matchedEnd = n1
          else if (ts(n1).isWord("NO")) {
            val n2 = nextIdx(ts, n1)
            val n3 = if (n2 >= 0) nextIdx(ts, n2) else -1
            if (n2 >= 0 && n3 >= 0 && ts(n2).isWord("KEY") && ts(n3).isWord("UPDATE"))
              matchedEnd = n3
          } else if (ts(n1).isWord("KEY")) {
            val n2 = nextIdx(ts, n1)
            if (n2 >= 0 && ts(n2).isWord("SHARE")) matchedEnd = n2
          }
        }
      }
      if (matchedEnd >= 0) {
        var j = matchedEnd
        // optional OF table [, table ...]
        val ofIdx = nextIdx(ts, j)
        if (ofIdx >= 0 && ts(ofIdx).isWord("OF")) {
          j = ofIdx
          var expectName = true
          var k = nextIdx(ts, j)
          while (k >= 0 && ((expectName &&
              (ts(k).kind == Word || ts(k).kind == QIdent)) ||
              (!expectName && ts(k).is(",")))) {
            j = k
            expectName = !expectName
            k = nextIdx(ts, j)
          }
        }
        // optional NOWAIT | SKIP LOCKED
        val w1 = nextIdx(ts, j)
        if (w1 >= 0 && ts(w1).isWord("NOWAIT")) j = w1
        else if (w1 >= 0 && ts(w1).isWord("SKIP")) {
          val w2 = nextIdx(ts, w1)
          if (w2 >= 0 && ts(w2).isWord("LOCKED")) j = w2
        }
        // drop the clause plus the whitespace run before FOR
        var start = i
        while (start > 0 && ts(start - 1).kind == Ws) start -= 1
        ts.remove(start, j - start + 1)
        i = start
      } else i += 1
    }
  }

  private def rewriteFetchWithTies(ts: ArrayBuffer[Tok]): Unit = {
    var i = 0
    while (i < ts.length) {
      if (ts(i).isWord("SELECT")) {
        var depth = 0
        var fromIdx = -1; var orderIdx = -1; var fetchIdx = -1
        var grouped = false
        var j = i + 1
        var end = ts.length
        val distinct = { val d = nextIdx(ts, i); d >= 0 && ts(d).isWord("DISTINCT") }
        while (j < ts.length && end == ts.length) {
          val t = ts(j)
          if (t.is("(")) depth += 1
          else if (t.is(")")) { depth -= 1; if (depth < 0) end = j }
          else if (depth == 0 && t.kind == Word) {
            val w = t.text.toUpperCase
            if (w == "FROM" && fromIdx < 0) fromIdx = j
            else if (w == "GROUP" || w == "HAVING") grouped = true
            else if (w == "ORDER" && orderIdx < 0) {
              val by = nextIdx(ts, j)
              if (by >= 0 && ts(by).isWord("BY")) orderIdx = j
            } else if (w == "FETCH" && fetchIdx < 0) fetchIdx = j
            else if (w == "UNION" || w == "INTERSECT" || w == "EXCEPT") end = j
          }
          j += 1
        }
        if (fromIdx > 0 && orderIdx > 0 && fetchIdx > orderIdx && !grouped && !distinct) {
          // FETCH {FIRST|NEXT} [n] {ROW|ROWS} WITH TIES ?
          val kw = nextIdx(ts, fetchIdx)
          if (kw >= 0 && (ts(kw).isWord("FIRST") || ts(kw).isWord("NEXT"))) {
            val a = nextIdx(ts, kw)
            val (nTok, rowIdx) =
              if (a >= 0 && ts(a).kind == Num) (ts(a).text, nextIdx(ts, a))
              else ("1", a)
            if (rowIdx >= 0 && (ts(rowIdx).isWord("ROW") || ts(rowIdx).isWord("ROWS"))) {
              val withIdx = nextIdx(ts, rowIdx)
              val tiesIdx = if (withIdx >= 0 && ts(withIdx).isWord("WITH"))
                nextIdx(ts, withIdx) else -1
              if (tiesIdx >= 0 && ts(tiesIdx).isWord("TIES")) {
                val by = nextIdx(ts, orderIdx)
                val oby = ts.slice(by + 1, fetchIdx).toVector
                // nothing but the order list may sit between ORDER BY
                // and FETCH (no OFFSET support in this shape)
                val sl = ts.slice(i + 1, fromIdx).toVector
                val body = ts.slice(fromIdx, orderIdx).toVector
                val rest = ts.slice(tiesIdx + 1, end).toVector
                val rebuilt = ArrayBuffer[Tok]()
                rebuilt += Tok(Word, "SELECT ")
                rebuilt ++= sl
                rebuilt += Tok(Word, " FROM (SELECT *, rank() OVER (ORDER BY ")
                rebuilt ++= oby
                rebuilt += Tok(Word, ") AS __wt_rk ")
                rebuilt ++= body
                rebuilt += Tok(Word, s") __wt_t WHERE __wt_rk <= $nTok ORDER BY ")
                rebuilt ++= oby
                rebuilt += Tok(Word, " ")
                rebuilt ++= rest
                ts.remove(i, end - i)
                ts.insertAll(i, rebuilt)
                i += rebuilt.length - 1
              }
            }
          }
        }
      }
      i += 1
    }
  }

  private def rewriteFetchFirst(ts: ArrayBuffer[Tok]): Unit = {
    var i = 0
    while (i < ts.length) {
      if (ts(i).isWord("FETCH")) {
        val kw = nextIdx(ts, i)
        if (kw >= 0 && (ts(kw).isWord("FIRST") || ts(kw).isWord("NEXT"))) {
          val a = nextIdx(ts, kw)
          val (nTok, rowIdx) =
            if (a >= 0 && ts(a).kind == Num) (ts(a).text, nextIdx(ts, a))
            else ("1", a)
          if (rowIdx >= 0 && (ts(rowIdx).isWord("ROW") || ts(rowIdx).isWord("ROWS"))) {
            val only = nextIdx(ts, rowIdx)
            if (only >= 0 && ts(only).isWord("ONLY")) {
              ts.remove(i, only - i + 1)
              // SQL-standard clause order is `OFFSET n ROWS FETCH …`,
              // but Spark's parser wants LIMIT before OFFSET — when an
              // OFFSET immediately precedes, insert the LIMIT before it
              val pNum = prevIdx(ts, i)
              val pOff = if (pNum >= 0 && ts(pNum).kind == Num) prevIdx(ts, pNum) else -1
              if (pOff >= 0 && ts(pOff).isWord("OFFSET"))
                ts.insert(pOff, Tok(Word, s"LIMIT $nTok "))
              else ts.insert(i, Tok(Word, s"LIMIT $nTok"))
            }
          }
        }
      } else if (ts(i).isWord("OFFSET")) {
        val a = nextIdx(ts, i)
        val r = if (a >= 0 && ts(a).kind == Num) nextIdx(ts, a) else -1
        if (r >= 0 && (ts(r).isWord("ROW") || ts(r).isWord("ROWS")))
          ts.remove(r)
      } else if (ts(i).isWord("GROUP")) {
        val by = nextIdx(ts, i)
        val open = if (by >= 0 && ts(by).isWord("BY")) nextIdx(ts, by) else -1
        val closeP = if (open >= 0 && ts(open).is("(")) nextIdx(ts, open) else -1
        if (closeP >= 0 && ts(closeP).is(")"))
          ts.remove(i, closeP - i + 1)
      }
      i += 1
    }
  }

  /** pg `TABLESAMPLE BERNOULLI(p)` / `SYSTEM(p)` → Spark
    * `TABLESAMPLE (p PERCENT)`. Spark's percent sampling is row-level
    * Bernoulli; pg's SYSTEM is page-level — the sampled FRACTION
    * matches, page clustering doesn't exist over columnar scans
    * (documented deviation). REPEATABLE(seed) passes through.
    */
  private def rewriteTablesample(ts: ArrayBuffer[Tok]): Unit = {
    var i = 0
    while (i < ts.length) {
      if (ts(i).isWord("TABLESAMPLE")) {
        val m = nextIdx(ts, i)
        if (m >= 0 && (ts(m).isWord("BERNOULLI") || ts(m).isWord("SYSTEM"))) {
          val open = nextIdx(ts, m)
          if (open >= 0 && ts(open).is("(")) {
            val close = matchParen(ts, open)
            if (close > 0) {
              ts.insert(close, Tok(Word, " PERCENT"))
              ts.remove(m)
              // pg puts TABLESAMPLE AFTER the alias; Spark's grammar
              // wants it between the table and the alias — relocate
              // when an alias precedes
              var segEnd = matchParen(ts, nextIdx(ts, i))
              val r = nextIdx(ts, segEnd)
              if (r >= 0 && ts(r).isWord("REPEATABLE")) {
                val ro = nextIdx(ts, r)
                if (ro >= 0 && ts(ro).is("(")) {
                  val rc = matchParen(ts, ro)
                  if (rc > 0) segEnd = rc
                }
              }
              val stopWords = Set("where", "group", "order", "limit",
                "having", "on", "join", "inner", "left", "right", "full",
                "cross", "union", "intersect", "except", "from", "as")
              var aliasStart = -1
              val pA = prevIdx(ts, i)
              if (pA >= 0 && ts(pA).is(")")) {
                // alias with a column list: scan back to its '('
                var depth = 0
                var j = pA
                while (j >= 0 && aliasStart < 0) {
                  if (ts(j).is(")")) depth += 1
                  else if (ts(j).is("(")) {
                    depth -= 1
                    if (depth == 0) {
                      val w = prevIdx(ts, j)
                      if (w >= 0 && ts(w).kind == Word &&
                        !stopWords.contains(ts(w).text.toLowerCase)) {
                        val as0 = prevIdx(ts, w)
                        aliasStart =
                          if (as0 >= 0 && ts(as0).isWord("AS")) as0 else w
                      } else aliasStart = -2 // not an alias shape
                    }
                  }
                  j -= 1
                }
              } else if (pA >= 0 && ts(pA).kind == Word &&
                !stopWords.contains(ts(pA).text.toLowerCase)) {
                val before = prevIdx(ts, pA)
                // pA is an ALIAS only when a table-like token precedes
                // it — a clause keyword (FROM/JOIN/',') before means pA
                // IS the table and TABLESAMPLE is already in place
                val keywordBefore = before >= 0 && ((ts(before).kind == Word &&
                  Set("from", "join", "inner", "left", "right", "full",
                    "cross", "lateral", "only", "union", "intersect",
                    "except").contains(ts(before).text.toLowerCase)) ||
                  ts(before).is(",") || ts(before).is("("))
                if (before >= 0 && !keywordBefore &&
                  (ts(before).kind == Word || ts(before).kind == QIdent ||
                    ts(before).is(")") || ts(before).isWord("AS"))) {
                  val as0 = prevIdx(ts, pA)
                  aliasStart =
                    if (as0 >= 0 && ts(as0).isWord("AS")) as0 else pA
                }
              }
              if (aliasStart >= 0) {
                val seg = ts.slice(i, segEnd + 1).toVector
                ts.remove(i, segEnd - i + 1)
                ts.insertAll(aliasStart, seg :+ Tok(Ws, " "))
                i = aliasStart + seg.length
              }
            }
          }
        }
      }
      i += 1
    }
  }

  /** pg `ARRAY(subquery)` constructor → a scalar subquery collecting
    * the single output column: `(SELECT collect_list(__c) FROM (sub)
    * AS __asub(__c))`. pg preserves the subquery's ORDER BY; here the
    * order survives for the single-partition result sizes a scalar
    * array implies (a multi-partition unordered subquery has no pg-
    * defined order either).
    */
  private def rewriteArraySubquery(ts: ArrayBuffer[Tok]): Unit = {
    var i = 0
    while (i < ts.length) {
      if (ts(i).kind == Word && ts(i).text.equalsIgnoreCase("ARRAY")) {
        val open = nextIdx(ts, i)
        if (open >= 0 && ts(open).is("(")) {
          val first = nextIdx(ts, open)
          if (first >= 0 && (ts(first).isWord("SELECT") || ts(first).isWord("WITH"))) {
            val close = matchParen(ts, open)
            if (close > 0) {
              ts.insert(close + 1, Tok(Word, " AS __asub(__c))"))
              ts(i) = Tok(Word, "(SELECT collect_list(__c) FROM")
            }
          }
        }
      }
      i += 1
    }
  }

  /** pg `ROW(a, b, …)` constructor → `named_struct('f1', a, 'f2', b,
    * …)` with pg's positional field names (f1, f2, …) — the names
    * row_to_json renders. Only the explicit ROW keyword form; bare
    * parenthesized rows are left alone (they are also valid scalar
    * groupings). */
  private def rewriteRowConstructor(ts: ArrayBuffer[Tok]): Unit = {
    var i = 0
    while (i < ts.length) {
      if (ts(i).isWord("ROW")) {
        val open = nextIdx(ts, i)
        if (open >= 0 && ts(open).is("(")) {
          val close = matchParen(ts, open)
          val firstArg = nextIdx(ts, open)
          if (close > 0 && firstArg >= 0 && firstArg < close) {
            // top-level comma positions, in order
            val commas = scala.collection.mutable.ArrayBuffer.empty[Int]
            var depth = 0
            var j = open + 1
            while (j < close) {
              if (ts(j).is("(") || ts(j).is("[")) depth += 1
              else if (ts(j).is(")") || ts(j).is("]")) depth -= 1
              else if (depth == 0 && ts(j).is(",")) commas += j
              j += 1
            }
            // insert field-name labels back-to-front so indices hold
            (commas.zipWithIndex.reverse).foreach { case (c, k) =>
              ts.insertAll(c + 1, Seq(Tok(Str, s"'f${k + 2}'"), Tok(Op, ",")))
            }
            ts.insertAll(open + 1, Seq(Tok(Str, "'f1'"), Tok(Op, ",")))
            ts(i) = Tok(Word, "named_struct")
          }
        }
      }
      i += 1
    }
  }

  /** pg `ROW(a, b, …) IS [NOT] NULL` tests the FIELDS (IS NULL ⇔ every
    * field null, IS NOT NULL ⇔ every field non-null — pg §9.24.6),
    * where Spark tests the struct value itself (a constructor is never
    * null → always false). Expand to the conjunction BEFORE the
    * constructor becomes named_struct. Live-pg-pinned (sweep #6). */
  private def rewriteRowIsNull(ts: ArrayBuffer[Tok]): Unit = {
    var i = 0
    while (i < ts.length) {
      if (ts(i).isWord("ROW")) {
        val open = nextIdx(ts, i)
        val close = if (open >= 0 && ts(open).is("(")) matchParen(ts, open) else -1
        val isIdx = if (close > 0) nextIdx(ts, close) else -1
        if (isIdx >= 0 && ts(isIdx).isWord("IS")) {
          val a = nextIdx(ts, isIdx)
          val (nullIdx, neg) =
            if (a >= 0 && ts(a).isWord("NOT")) (nextIdx(ts, a), true)
            else (a, false)
          if (nullIdx >= 0 && ts(nullIdx).isWord("NULL")) {
            // split constructor args on depth-0 commas
            val args = ArrayBuffer.empty[Seq[Tok]]
            val cur = ArrayBuffer.empty[Tok]
            var depth = 0
            var j = open + 1
            while (j < close) {
              val t = ts(j)
              if (t.is("(") || t.is("[")) depth += 1
              else if (t.is(")") || t.is("]")) depth -= 1
              if (depth == 0 && t.is(",")) { args += cur.toSeq; cur.clear() }
              else cur += t
              j += 1
            }
            if (cur.nonEmpty) args += cur.toSeq
            if (args.nonEmpty) {
              val test = if (neg) " IS NOT NULL" else " IS NULL"
              val repl = ArrayBuffer[Tok](Tok(Op, "("))
              args.zipWithIndex.foreach { case (arg, k) =>
                if (k > 0) repl += Tok(Word, " AND ")
                repl += Tok(Op, "(")
                repl ++= arg
                repl += Tok(Op, ")")
                repl += Tok(Word, test)
              }
              repl += Tok(Op, ")")
              ts.remove(i, nullIdx - i + 1)
              ts.insertAll(i, repl)
              i += repl.length - 1
            }
          }
        }
      }
      i += 1
    }
  }

  /** pg `make_interval(years => 1, days => 3)` named-notation call →
    * the positional 7-arg form Spark's same-named builtin takes
    * (years, months, weeks, days, hours, mins, secs; missing = 0). */
  private def rewriteNamedMakeInterval(ts: ArrayBuffer[Tok]): Unit = {
    val order = Seq("years", "months", "weeks", "days", "hours", "mins", "secs")
    var i = 0
    while (i < ts.length) {
      if (ts(i).kind == Word && ts(i).text.equalsIgnoreCase("make_interval")) {
        val open = nextIdx(ts, i)
        val close = if (open >= 0 && ts(open).is("(")) matchParen(ts, open) else -1
        if (close > 0 && (open + 1 until close).exists(j => ts(j).is("=>"))) {
          // split depth-0 args; each is `name => value-tokens`
          val args = ArrayBuffer.empty[Seq[Tok]]
          val cur = ArrayBuffer.empty[Tok]
          var depth = 0
          var j = open + 1
          while (j < close) {
            val t = ts(j)
            if (t.is("(") || t.is("[")) depth += 1
            else if (t.is(")") || t.is("]")) depth -= 1
            if (depth == 0 && t.is(",")) { args += cur.toSeq; cur.clear() }
            else cur += t
            j += 1
          }
          if (cur.nonEmpty) args += cur.toSeq
          val named = args.flatMap { arg =>
            val sig = arg.filter(_.kind != Ws)
            if (sig.length >= 3 && sig(0).kind == Word && sig(1).is("=>"))
              Some(sig(0).text.toLowerCase -> renderQ(sig.drop(2)).trim)
            else None
          }.toMap
          if (named.size == args.size && named.keySet.subsetOf(order.toSet)) {
            val positional = order.map(n => named.getOrElse(n, "0")).mkString(", ")
            ts.remove(open + 1, close - open - 1)
            ts.insert(open + 1, Tok(Word, positional))
          }
        }
      }
      i += 1
    }
  }

  /** Hypothetical-set aggregates (pg §9.22): `rank(v) WITHIN GROUP
    * (ORDER BY x [ASC|DESC])` and the dense_rank / percent_rank /
    * cume_dist family. Spark has no hypothetical-set aggregates; each
    * lowers to counting aggregates over the group (live-pg-pinned,
    * incl. NULL hypotheticals under pg's default NULLS LAST / DESC
    * NULLS FIRST placement):
    *   rank         = 1 + count(rows ordered before v)
    *   dense_rank   = 1 + count(DISTINCT values ordered before v)
    *                  (values wrapped in struct() so a NULL sort value
    *                  still counts as one dense slot)
    *   percent_rank = (rank − 1) / N
    *   cume_dist    = (count(rows before-or-peer of v) + 1) / (N + 1)
    * Single ORDER BY key, default null placement — the practical
    * client surface; other shapes pass through (and error) rather
    * than silently computing something else. */
  private def rewriteHypotheticalSet(ts: ArrayBuffer[Tok]): Unit = {
    val fns = Set("rank", "dense_rank", "percent_rank", "cume_dist")
    var i = 0
    while (i < ts.length) {
      if (ts(i).kind == Word && fns.contains(ts(i).text.toLowerCase)) {
        val open = nextIdx(ts, i)
        val close = if (open >= 0 && ts(open).is("(")) matchParen(ts, open) else -1
        val w = if (close > 0) nextIdx(ts, close) else -1
        val g = if (w >= 0 && ts(w).isWord("WITHIN")) nextIdx(ts, w) else -1
        val open2 = if (g >= 0 && ts(g).isWord("GROUP")) nextIdx(ts, g) else -1
        val close2 = if (open2 >= 0 && ts(open2).is("(")) matchParen(ts, open2) else -1
        if (close2 > 0) {
          val vToks = ts.slice(open + 1, close).toSeq
          val noComma = !vToks.exists(_.is(","))
          val ord = nextIdx(ts, open2)
          val by = if (ord >= 0 && ts(ord).isWord("ORDER")) nextIdx(ts, ord) else -1
          if (noComma && vToks.exists(_.kind != Ws) && by >= 0 && ts(by).isWord("BY")) {
            // sort key = tokens after BY, minus a trailing ASC/DESC
            var sortToks = ts.slice(by + 1, close2).toSeq
              .reverse.dropWhile(_.kind == Ws).reverse
            var desc = false
            sortToks.lastOption match {
              case Some(t) if t.isWord("DESC") =>
                desc = true; sortToks = sortToks.dropRight(1)
              case Some(t) if t.isWord("ASC") => sortToks = sortToks.dropRight(1)
              case _ =>
            }
            val hasNullsClause = sortToks.exists(_.isWord("NULLS"))
            if (!hasNullsClause && sortToks.exists(_.kind != Ws)) {
              val v = renderQ(vToks).trim
              val x = renderQ(sortToks).trim
              val before =
                if (desc) s"(($x) > ($v) OR (($x) IS NULL AND ($v) IS NOT NULL))"
                else s"(($x) < ($v) OR (($v) IS NULL AND ($x) IS NOT NULL))"
              val beforeOrPeer =
                if (desc) s"(($x) >= ($v) OR ($x) IS NULL)"
                else s"(($x) <= ($v) OR ($v) IS NULL)"
              val repl = ts(i).text.toLowerCase match {
                case "rank" =>
                  s"(1 + count(CASE WHEN $before THEN 1 END))"
                case "dense_rank" =>
                  // size(collect_set(…)) == count(DISTINCT …) but
                  // evaluates in ONE aggregate pass (no Expand /
                  // second shuffle level — r18 q122 fusion); struct()
                  // keeps a NULL sort value as one dense slot, and
                  // the CASE's NULL result drops non-matching rows
                  // from the set exactly like count(DISTINCT)
                  s"(1 + CAST(size(collect_set(CASE WHEN $before THEN struct($x) END)) AS BIGINT))"
                case "percent_rank" =>
                  s"(CAST(count(CASE WHEN $before THEN 1 END) AS DOUBLE) / count(*))"
                case _ =>
                  s"(CAST(count(CASE WHEN $beforeOrPeer THEN 1 END) + 1 AS DOUBLE) / (count(*) + 1))"
              }
              ts.remove(i, close2 - i + 1)
              ts.insert(i, Tok(Word, repl))
            }
          }
        }
      }
      i += 1
    }
  }

  /** pg's `typename 'literal'` prefix-typed-literal syntax for the
    * engine's FAMILY types → `'literal'::typename`, which the cast
    * passes below already lower (sweep-32: `int4range '[1,5)' @> 3`).
    * Allowlist only — date/timestamp/interval/numeric keep their
    * dedicated handling, and non-type words (LIKE, AS, …) never fire.
    */
  // lazy: rangeTypeNames is declared further down the object body and
  // would still be null during this val's eager initialization
  private lazy val prefixLiteralTypes: Set[String] =
    rangeTypeNames ++ Set("inet", "cidr", "macaddr", "macaddr8",
      "tsvector", "tsquery", "money", "uuid", "varbit", "json", "jsonb",
      "xml", "bytea", "oid", "regclass", "boolean", "bool", "int2",
      "int4", "int8", "smallint", "int", "integer", "bigint", "float4",
      "float8", "real", "text", "name", "bpchar", "varchar", "char")

  private def rewritePrefixTypedLiterals(ts: ArrayBuffer[Tok]): Unit = {
    var i = 0
    while (i < ts.length) {
      if (ts(i).kind == Word && prefixLiteralTypes.contains(ts(i).text.toLowerCase)) {
        val lit = nextIdx(ts, i)
        val p = prevIdx(ts, i)
        // not in cast-type position (`::char`), not a column ref being
        // compared (`WHERE name 'x'` is invalid SQL anyway)
        if (lit >= 0 && ts(lit).kind == Str &&
          !(p >= 0 && (ts(p).is("::") || ts(p).isWord("as")))) {
          val w = ts(i)
          val s = ts(lit)
          ts.remove(i, lit - i + 1)
          ts.insertAll(i, Seq(s, Tok(Op, "::"), Tok(Word, w.text)))
        }
      }
      i += 1
    }
  }

  /** pg `expr AT TIME ZONE zone` (§9.9.4) → `timezone(zone, expr)` —
    * the same native expression behind the timezone() function, with
    * operand-type dispatch (PgSemantics flips direction for
    * timestamp-without-tz inputs). The `timestamp '…'` LITERAL form
    * retargets to TIMESTAMP_NTZ first so it takes pg's
    * naive-in-zone → timestamptz direction (the TimestampType ≡
    * timestamptz deviation would otherwise flip it). */
  /** Bare `timestamptz '…'` typed literals: Spark has no TIMESTAMPTZ
    * literal keyword; its TIMESTAMP literal parses offsets and the
    * engine's TimestampType ≡ timestamptz, so a rename carries pg's
    * semantics exactly. */
  private def rewriteTimestamptzLiterals(ts: ArrayBuffer[Tok]): Unit = {
    var i = 0
    while (i < ts.length) {
      if (ts(i).kind == Word && ts(i).text.equalsIgnoreCase("timestamptz")) {
        val lit = nextIdx(ts, i)
        if (lit >= 0 && ts(lit).kind == Str) ts(i) = Tok(Word, "timestamp")
      } else if (ts(i).kind == Word &&
        (ts(i).text.equalsIgnoreCase("numeric") || ts(i).text.equalsIgnoreCase("decimal"))) {
        // `numeric '12.3450'` typed literal (sweep #9): Spark has no
        // NUMERIC literal keyword — the bare decimal literal keeps the
        // spelled scale exactly like pg (integer bodies take the BD
        // suffix to stay decimal-typed, same as the ::numeric rule)
        val lit = nextIdx(ts, i)
        if (lit >= 0 && ts(lit).kind == Str) {
          val body = ts(lit).text.drop(1).dropRight(1).trim
          if (body.matches("[+-]?(\\d+(\\.\\d*)?|\\.\\d+)([eE][+-]?\\d+)?")) {
            ts(lit) = Tok(Num,
              if (body.contains('.') || body.toLowerCase.contains('e')) body
              else body + "BD")
            ts.remove(i)
            i -= 1
          }
        }
      } else if (ts(i).kind == Word && ts(i).text.equalsIgnoreCase("timestamp")) {
        // pg `TIMESTAMP 'lit'` is WITHOUT time zone → TIMESTAMP_NTZ;
        // `TIMESTAMP WITH TIME ZONE 'lit'` (no Spark literal keyword)
        // collapses to the plain TIMESTAMP literal (≡ timestamptz).
        // (AT TIME ZONE operands were already consumed by
        // rewriteAtTimeZone, which runs before this pass.)
        val w1 = nextIdx(ts, i)
        if (w1 >= 0 && ts(w1).kind == Str) ts(i) = Tok(Word, "timestamp_ntz")
        else if (w1 >= 0 && (ts(w1).isWord("with") || ts(w1).isWord("without"))) {
          val w2 = nextIdx(ts, w1)
          val w3 = if (w2 >= 0) nextIdx(ts, w2) else -1
          val lit = if (w3 >= 0) nextIdx(ts, w3) else -1
          if (w2 >= 0 && ts(w2).isWord("time") && w3 >= 0 && ts(w3).isWord("zone") &&
            lit >= 0 && ts(lit).kind == Str) {
            val ltz = ts(w1).isWord("with")
            ts.remove(w1, w3 - w1 + 1)
            ts(i) = Tok(Word, if (ltz) "timestamp" else "timestamp_ntz")
          }
        }
      }
      i += 1
    }
  }

  private val pgMonthNames: Map[String, Int] = Map(
    "jan" -> 1, "feb" -> 2, "mar" -> 3, "apr" -> 4, "may" -> 5, "jun" -> 6,
    "jul" -> 7, "aug" -> 8, "sep" -> 9, "oct" -> 10, "nov" -> 11, "dec" -> 12)

  /** pg's flexible datetime input (docs §8.5.1) for timestamp
    * LITERALS: compact digits (`20240307 101112`), month-name forms
    * (`March 7, 2024 10:11`, `7 Mar 2024`), a `T` separator, AM/PM,
    * and a trailing numeric zone offset (DROPPED — pg's `::timestamp`
    * keeps the wall-clock). Returns the canonical
    * `yyyy-MM-dd HH:mm:ss[.f]` spelling, or None when the input is
    * already Spark-parseable ISO or not recognized (the engine's cast
    * error then stands, matching pg's 22007 on garbage).
    * Literal-only by construction: the rewrite fires on Str tokens, so
    * column casts keep Spark's (pushdown-friendly) cast semantics.
    */
  def pgTimestampCanon(raw: String): Option[String] = {
    val s = raw.trim
    if (s.matches("\\d{4}-\\d{2}-\\d{2}( \\d{2}:\\d{2}(:\\d{2}(\\.\\d+)?)?)?"))
      return None // canonical already
    if (s.equalsIgnoreCase("epoch")) return Some("1970-01-01 00:00:00")
    def time(t0: String): Option[(Int, Int, Int, String)] = {
      val t = Option(t0).getOrElse("").trim
      if (t.isEmpty) return Some((0, 0, 0, ""))
      "^(\\d{1,2}):(\\d{2})(?::(\\d{2})(\\.\\d+)?)?\\s*(?:([AaPp])\\.?[Mm]\\.?)?\\s*(?:[+-]\\d{1,2}(?::?\\d{2})?)?$".r
        .findFirstMatchIn(t).flatMap { m =>
          var h = m.group(1).toInt
          val mi = m.group(2).toInt
          val se = Option(m.group(3)).map(_.toInt).getOrElse(0)
          val fr = Option(m.group(4)).getOrElse("")
          Option(m.group(5)).map(_.toLowerCase).foreach { ap =>
            if (ap == "p" && h < 12) h += 12
            else if (ap == "a" && h == 12) h = 0
          }
          if (h <= 24 && mi <= 59 && se <= 60) Some((h, mi, se, fr)) else None
        }
    }
    def build(y: Int, mo: Int, d: Int, tp: Option[(Int, Int, Int, String)]): Option[String] =
      tp.flatMap { case (h, mi, se, fr) =>
        try {
          java.time.LocalDate.of(y, mo, d) // validates the date part
          Some(f"$y%04d-$mo%02d-$d%02d $h%02d:$mi%02d:$se%02d$fr")
        } catch { case _: java.time.DateTimeException => None }
      }
    val isoish = "^(\\d{4})-(\\d{1,2})-(\\d{1,2})(?:[T ](.+))?$".r
    val compact = "^(\\d{4})(\\d{2})(\\d{2})(?:[ T]?(\\d{2})(\\d{2})(\\d{2})(\\.\\d+)?)?$".r
    val monthFirst = "^([A-Za-z]{3,9})\\.?\\s+(\\d{1,2}),?\\s+(\\d{4})(?:\\s+(.+))?$".r
    val dayFirst = "^(\\d{1,2})\\s+([A-Za-z]{3,9})\\.?,?\\s+(\\d{4})(?:\\s+(.+))?$".r
    def month(w: String): Option[Int] = pgMonthNames.get(w.toLowerCase.take(3))
      .filter(_ => "^(jan(uary)?|feb(ruary)?|mar(ch)?|apr(il)?|may|jun(e)?|jul(y)?|aug(ust)?|sep(tember)?|oct(ober)?|nov(ember)?|dec(ember)?)$"
        .r.matches(w.toLowerCase))
    s match {
      case isoish(y, mo, d, t) => build(y.toInt, mo.toInt, d.toInt, time(t))
      case compact(y, mo, d, hh, mi, se, fr) =>
        val tp =
          if (hh == null) Some((0, 0, 0, ""))
          else Some((hh.toInt, mi.toInt, se.toInt, Option(fr).getOrElse("")))
            .filter(t => t._1 <= 24 && t._2 <= 59 && t._3 <= 60)
        build(y.toInt, mo.toInt, d.toInt, tp)
      case monthFirst(mw, d, y, t) =>
        month(mw).flatMap(mo => build(y.toInt, mo, d.toInt, time(t)))
      case dayFirst(d, mw, y, t) =>
        month(mw).flatMap(mo => build(y.toInt, mo, d.toInt, time(t)))
      case _ => None
    }
  }

  /** Canonicalize pg-flexible timestamp literal spellings wherever a
    * string literal meets the (already-mapped) TIMESTAMP_NTZ target:
    * `'lit'::timestamp_ntz`, `timestamp_ntz 'lit'`, and
    * `CAST('lit' AS timestamp_ntz)`. Runs LAST so every pg spelling
    * has been resolved to the one Spark name first.
    */
  private def canonTimestampLiterals(ts: ArrayBuffer[Tok]): Unit = {
    def canon(idx: Int): Unit = {
      val t = ts(idx).text
      if (t.length >= 2) {
        val body = t.drop(1).dropRight(1).replace("''", "'")
        pgTimestampCanon(body).foreach(c =>
          ts(idx) = Tok(Str, "'" + c.replace("'", "''") + "'"))
      }
    }
    var i = 0
    while (i < ts.length) {
      if (ts(i).kind == Word && ts(i).text.equalsIgnoreCase("timestamp_ntz")) {
        val n = nextIdx(ts, i)
        val p = prevIdx(ts, i)
        if (n >= 0 && ts(n).kind == Str) canon(n)
        else if (p >= 0 && ts(p).is("::")) {
          val s0 = prevIdx(ts, p)
          if (s0 >= 0 && ts(s0).kind == Str) canon(s0)
        } else if (p >= 0 && ts(p).isWord("AS")) {
          val s0 = prevIdx(ts, p)
          if (s0 >= 0 && ts(s0).kind == Str) canon(s0)
        }
      }
      i += 1
    }
  }

  private def rewriteAtTimeZone(ts: ArrayBuffer[Tok]): Unit = {
    var i = 0
    while (i < ts.length) {
      if (ts(i).isWord("AT")) {
        val t1 = nextIdx(ts, i)
        val t2 = if (t1 >= 0) nextIdx(ts, t1) else -1
        if (t1 >= 0 && ts(t1).isWord("TIME") && t2 >= 0 && ts(t2).isWord("ZONE")) {
          val p = prevIdx(ts, i)
          val z = nextIdx(ts, t2)
          if (p >= 0 && z >= 0 && isValueEnd(ts(p))) {
            val zEnd = valueEnd(ts, z)
            var ls = lhsStart(ts, p)
            if (ts(p).kind == Str) {
              val tw = prevIdx(ts, p)
              if (tw >= 0 && ts(tw).isWord("timestamp")) {
                ts(tw) = Tok(Word, "timestamp_ntz"); ls = tw
              } else if (tw >= 0 && ts(tw).isWord("timestamptz")) ls = tw
            }
            val lhsToks = ts.slice(ls, p + 1).toSeq
            val zoneToks = ts.slice(z, zEnd + 1).toSeq
            val repl = ArrayBuffer[Tok](Tok(Word, "timezone"), Tok(Op, "(")) ++
              zoneToks ++ Seq(Tok(Op, ","), Tok(Ws, " ")) ++ lhsToks ++ Seq(Tok(Op, ")"))
            ts.remove(ls, zEnd - ls + 1)
            ts.insertAll(ls, repl)
            i = ls + repl.length - 1
          }
        }
      }
      i += 1
    }
  }

  /** pg's regr_avgx/regr_avgy return float8 for ANY input; Spark's
    * return the avg result type (numeric over decimal input, which
    * renders with trailing scale zeros). Wrap the call in a cast. */
  private def castWrapRegrAvg(ts: ArrayBuffer[Tok]): Unit = {
    var i = 0
    while (i < ts.length) {
      if (ts(i).kind == Word &&
        (ts(i).text.equalsIgnoreCase("regr_avgx") ||
          ts(i).text.equalsIgnoreCase("regr_avgy"))) {
        val open = nextIdx(ts, i)
        val close = if (open >= 0 && ts(open).is("(")) matchParen(ts, open) else -1
        if (close > 0) {
          // hidden-paren wrapper tokens (balanced in the rendered SQL)
          ts.insert(close + 1, Tok(Word, " AS DOUBLE)"))
          ts.insert(i, Tok(Word, "CAST("))
          i = close + 2
        }
      }
      i += 1
    }
  }

  private def rewriteArrayConstructors(ts: ArrayBuffer[Tok]): Unit = {
    var i = 0
    while (i < ts.length) {
      if (ts(i).kind == Word && ts(i).text.equalsIgnoreCase("array")) {
        val b1 = nextIdx(ts, i)
        if (b1 >= 0 && ts(b1).is("[")) {
          var depth = 0; var j = b1; var close = -1
          while (j < ts.length && close < 0) {
            if (ts(j).is("[")) depth += 1
            else if (ts(j).is("]")) { depth -= 1; if (depth == 0) close = j }
            j += 1
          }
          if (close > 0) {
            ts(i) = Tok(Word, "array")
            ts(b1) = Tok(Op, "(")
            ts(close) = Tok(Op, ")")
            // multidimensional literal `ARRAY[[1,2],[3,4]]` (sweep #9):
            // a '[' directly at a LIST position (after '(' or ',') is
            // a nested constructor, never a subscript — convert it too
            var k = b1 + 1
            var cl = close
            while (k < cl) {
              if (ts(k).is("[")) {
                val pv = prevIdx(ts, k)
                if (pv >= 0 && (ts(pv).is("(") || ts(pv).is(","))) {
                  var d2 = 0; var m2 = k; var c2 = -1
                  while (m2 <= cl && c2 < 0) {
                    if (ts(m2).is("[")) d2 += 1
                    else if (ts(m2).is("]")) { d2 -= 1; if (d2 == 0) c2 = m2 }
                    m2 += 1
                  }
                  if (c2 > 0) {
                    ts(k) = Tok(Op, "(")
                    ts(c2) = Tok(Op, ")")
                    ts.insert(k, Tok(Word, "array"))
                    cl += 1
                  }
                }
              }
              k += 1
            }
          }
        }
      }
      i += 1
    }
  }

  private def isArrayLiteral(strTok: String): Boolean = {
    val bare = strTok.substring(1, strTok.length - 1).trim
    bare.startsWith("{") && bare.endsWith("}")
  }

  /** pg array text form (`{a,b}`) → Spark array literal SQL; used for
    * bind parameters with array OIDs (reference param coercion:
    * arrow-pg/src/datatypes/df.rs — 9 array types).
    */
  def arrayLiteralSql(pgText: String, sparkElem: String): String =
    arrayLiteralTokens("'" + pgText.replace("'", "''") + "'", sparkElem)

  /** '{a,b,NULL}' → CAST(ARRAY('a','b',NULL) AS ARRAY<elem>).
    * Nested text form ('{{1,2},{3,4}}', psycopg with numpy-shaped
    * data) recurses into ARRAY<ARRAY<elem>> — parity-PLUS: the
    * reference's decode is flat-only (arrow-pg/src/datatypes/
    * df.rs:555-877). */
  private def arrayLiteralTokens(strTok: String, sparkElem: String): String = {
    val bare = strTok.substring(1, strTok.length - 1).trim
    val body = bare.substring(1, bare.length - 1)
    val elemSql = if (sparkElem == "decimal") "decimal(38,18)" else sparkElem
    val (sql, depth, _) = arrayBodyToSql(body)
    val castType = (1 to depth).foldLeft(elemSql) { (t, _) => s"ARRAY<$t>" }
    s"CAST($sql AS $castType)"
  }

  /** Render one array body (no outer braces) to an ARRAY(...) SQL
    * expression; returns (sql, nesting depth ≥ 1, element count).
    * pg arrays are rectangular — mixed depth or ragged dimensions are
    * 22P02 like pg's "multidimensional arrays must have array
    * expressions with matching dimensions". */
  private def arrayBodyToSql(body: String): (String, Int, Int) = {
    val parts = splitArrayBody(body)
    if (parts.isEmpty) ("ARRAY()", 1, 0)
    else if (parts.head.trim.startsWith("{")) {
      val sub = parts.map { raw =>
        val v = raw.trim
        if (!(v.startsWith("{") && v.endsWith("}")))
          throw PgException("22P02",
            "malformed array literal: mixed nesting depth")
        arrayBodyToSql(v.substring(1, v.length - 1))
      }
      val depth = sub.head._2
      val count = sub.head._3
      if (sub.exists(s => s._2 != depth || s._3 != count))
        throw PgException("22P02",
          "malformed array literal: multidimensional arrays must have " +
            "array expressions with matching dimensions")
      (s"ARRAY(${sub.map(_._1).mkString(",")})", depth + 1, sub.length)
    } else {
      val els = parts.map { raw =>
        val v = raw.trim
        if (v.isEmpty || v.equalsIgnoreCase("null")) "NULL"
        else {
          val unq =
            if (v.startsWith("\"") && v.endsWith("\"") && v.length >= 2)
              v.substring(1, v.length - 1).replace("\\\"", "\"").replace("\\\\", "\\")
            else v
          "'" + unq.replace("'", "''") + "'"
        }
      }
      (s"ARRAY(${els.mkString(",")})", 1, els.length)
    }
  }

  /** Split one nesting level: commas at brace depth 0, quotes respected. */
  private def splitArrayBody(body: String): Seq[String] = {
    val out = ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inQ = false
    var depth = 0
    var i = 0
    while (i < body.length) {
      val c = body.charAt(i)
      if (inQ) {
        if (c == '\\' && i + 1 < body.length) { cur.append(c).append(body.charAt(i + 1)); i += 1 }
        else if (c == '"') { inQ = false; cur.append(c) }
        else cur.append(c)
      } else if (c == '"') { inQ = true; cur.append(c) }
      else if (c == '{') { depth += 1; cur.append(c) }
      else if (c == '}') { depth -= 1; cur.append(c) }
      else if (c == ',' && depth == 0) { out += cur.toString; cur.clear() }
      else cur.append(c)
      i += 1
    }
    if (cur.nonEmpty || out.nonEmpty) out += cur.toString
    out.toSeq.filter(_ => true) match {
      case s if s.length == 1 && s.head.trim.isEmpty => Seq.empty
      case s => s
    }
  }

  private val cmpOps = Set("=", "<>", "!=", "<", "<=", ">", ">=")

  /** `x = ANY(arr)` → `array_contains(arr, x)`;
    * `x <> ALL(arr)` / `x != ALL(arr)` → `NOT array_contains(arr, x)`
    * (reference: rules.rs:304-449 — same two supported cases).
    */
  private def rewriteAnyAll(ts: ArrayBuffer[Tok]): Unit = {
    var i = 0
    while (i < ts.length) {
      if (ts(i).kind == Op && cmpOps.contains(ts(i).text)) {
        val op = ts(i).text
        val kw = nextIdx(ts, i)
        val isAny = kw >= 0 && (ts(kw).isWord("ANY") || ts(kw).isWord("SOME"))
        val isAll = kw >= 0 && ts(kw).isWord("ALL")
        if (isAny || isAll) {
          val open = nextIdx(ts, kw)
          if (open >= 0 && ts(open).is("(")) {
            // subqueries (SELECT ...) keep Spark's native ANY/ALL-less
            // forms elsewhere; only array operands rewrite here
            val inner1 = nextIdx(ts, open)
            val isSubquery = inner1 >= 0 && ts(inner1).isWord("SELECT")
            val close = matchParen(ts, open)
            val p = prevIdx(ts, i)
            if (!isSubquery && close > 0 && p >= 0) {
              val start = primaryStart(ts, p)
              val lhs = renderQ(ts.slice(start, p + 1).toSeq).trim
              val innerToks = ts.slice(open + 1, close)
              val innerNonWs = innerToks.filterNot(_.kind == Ws)
              val arrSql =
                if (innerNonWs.length == 1 && innerNonWs.head.kind == Str &&
                  isArrayLiteral(innerNonWs.head.text))
                  arrayLiteralTokens(innerNonWs.head.text, "string")
                else renderQ(innerToks.toSeq).trim
              // fast paths keep the codegen'd array_contains; the
              // general comparison forms ride exists/forall lambdas
              val repl =
                if (op == "=" && isAny) s"array_contains($arrSql, $lhs)"
                else if ((op == "<>" || op == "!=") && isAll)
                  s"NOT array_contains($arrSql, $lhs)"
                else {
                  val sparkOp = if (op == "<>") "!=" else op
                  val fn = if (isAny) "exists" else "forall"
                  s"$fn($arrSql, pg__x -> ($lhs) $sparkOp pg__x)"
                }
              ts.remove(start, close - start + 1)
              ts.insert(start, Tok(Word, repl))
              i = start
            }
          }
        }
      } else if (ts(i).isWord("OVERLAPS")) {
        // (s1, e1) OVERLAPS (s2, e2) → pg_overlaps(s1, e1, s2, e2)
        val p = prevIdx(ts, i)
        val open2 = nextIdx(ts, i)
        if (p >= 0 && ts(p).is(")") && open2 >= 0 && ts(open2).is("(")) {
          // matching '(' of the left pair by backward scan
          var depth = 1; var start = p - 1
          while (start >= 0 && depth > 0) {
            if (ts(start).is(")")) depth += 1
            else if (ts(start).is("(")) depth -= 1
            if (depth > 0) start -= 1
          }
          if (start >= 0 && ts(start).is("(")) {
            val close2 = matchParen(ts, open2)
            if (close2 > 0) {
              // right pair: '(' → ','; drop the left ')' and the
              // OVERLAPS keyword; prepend the function name
              ts(open2) = Tok(Op, ",")
              ts.remove(i) // OVERLAPS (indices after i shift left by 1)
              ts.remove(p) // left ')'
              ts.insert(start, Tok(Word, "pg_overlaps"))
              i = start
            }
          }
        }
      }
      i += 1
    }
  }

  /** Split a token run on depth-0 commas (for ORDER BY key lists). */
  private def splitTopLevel(toks: Vector[Tok]): Vector[Vector[Tok]] = {
    val out = Vector.newBuilder[Vector[Tok]]
    var depth = 0
    var cur = Vector.newBuilder[Tok]
    toks.foreach { t =>
      if (t.is("(") || t.is("[")) depth += 1
      else if (t.is(")") || t.is("]")) depth -= 1
      if (depth == 0 && t.is(",")) { out += cur.result(); cur = Vector.newBuilder[Tok] }
      else cur += t
    }
    out += cur.result()
    out.result()
  }

  private def isDirWord(t: Tok): Boolean = t.kind == Word &&
    Set("ASC", "DESC", "NULLS", "FIRST", "LAST").contains(t.text.toUpperCase)

  /** Tokens for a key-ordered collect:
    * `[reverse(]array_sort(collect_list(named_struct(
    *   'n0',(k0) IS NULL,'k0',k0,…,'v',v)))[)]`.
    * Catalyst sorts the struct field-by-field, so ORDER BY keys keep
    * their SQL types (numeric keys sort numerically, not as strings).
    * The IS NULL discriminator fields give pg's default null
    * placement (NULLS LAST ascending — Catalyst's bare struct sort
    * would put null fields first; reversed for DESC this also yields
    * pg's NULLS FIRST). The value rides last so ties resolve
    * deterministically. */
  private def sortedStructToks(keys: Vector[Vector[Tok]], value: Seq[Tok],
      desc: Boolean, pred: Option[Seq[Tok]] = None): ArrayBuffer[Tok] = {
    val out = ArrayBuffer[Tok]()
    out += Tok(Word, (if (desc) "reverse(" else "") +
      "array_sort(collect_list(")
    // FILTER (WHERE pred) folds into the collected element: a false
    // predicate yields a NULL top-level struct, which collect_list
    // drops — exactly pg's filtered aggregation
    pred.foreach { p =>
      out += Tok(Word, "CASE WHEN (")
      out ++= p
      out += Tok(Word, ") THEN ")
    }
    out += Tok(Word, "named_struct(")
    keys.zipWithIndex.foreach { case (k, i) =>
      out += Tok(Word, s"'n$i',(")
      out ++= k
      out += Tok(Word, s") IS NULL,'k$i',")
      out ++= k
      out += Tok(Word, ",")
    }
    out += Tok(Word, "'v',")
    out ++= value
    out += Tok(Word, ")")
    pred.foreach(_ => out += Tok(Word, " END"))
    out += Tok(Word, "))" + (if (desc) ")" else ""))
    out
  }

  /** A trailing `FILTER ( WHERE pred )` after token `close`: returns
    * (predicate tokens, last consumed index). */
  private def trailingFilter(ts: ArrayBuffer[Tok], close: Int): Option[(Vector[Tok], Int)] = {
    val f = nextIdx(ts, close)
    if (f < 0 || !ts(f).isWord("FILTER")) return None
    val open = nextIdx(ts, f)
    if (open < 0 || !ts(open).is("(")) return None
    val w = nextIdx(ts, open)
    if (w < 0 || !ts(w).isWord("WHERE")) return None
    val end = matchParen(ts, open)
    if (end < 0) None else Some((ts.slice(w + 1, end).toVector, end))
  }

  /** pg's no-ORDER-BY `json[b]_agg` follows INPUT order (pg's heap
    * scan). Where that order is well-defined here — the block's FROM
    * is ONE base relation (optionally aliased; WHERE/GROUP BY don't
    * disturb it, because the captured KEY orders the sort, not
    * arrival order after a shuffle) — capture it (r17): wrap the
    * relation in a subquery minting `monotonically_increasing_id()
    * AS __rsN` (scan order: the id is partition-prefixed and
    * partition index follows split order) and turn the bare
    * aggregate into its `ORDER BY __rsN` form, which
    * [[rewriteJsonAggs]] lowers to the sorted-struct collect. Spark
    * rejects the id directly inside an aggregate argument
    * (42845 nondeterministic-in-aggregate), hence the block
    * restructure. Blocks with joins / subquery / multi-relation
    * sources keep the value-sorted fallback (documented: a
    * multi-source input has no pg-reproducible order). Residual
    * deviation: pg heap order diverges from parquet file order once
    * pg-side UPDATEs relocate rows — unpinnable, documented. */
  private def rewriteJsonAggInputOrder(ts: ArrayBuffer[Tok], fileTable: String => Boolean,
      seq: Iterator[Int]): Unit = {
    val targets = Set("json_agg", "jsonb_agg")
    var guard = 0
    var again = true
    while (again && guard < 64) {
      again = false; guard += 1
      val depths = new Array[Int](ts.length)
      var d = 0
      for (j <- ts.indices) {
        if (ts(j).is("(")) { depths(j) = d; d += 1 }
        else if (ts(j).is(")")) { d -= 1; depths(j) = d }
        else depths(j) = d
      }
      var i = 0
      while (i < ts.length && !again) {
        val t = ts(i)
        if (t.kind == Word && targets.contains(t.text.toLowerCase) &&
            !t.text.startsWith("__")) {
          val open = nextIdx(ts, i)
          val close = if (open >= 0 && ts(open).is("(")) matchParen(ts, open) else -1
          if (close > 0) {
            var depth = 0; var j = open + 1
            var hasOrder = false; var hasDistinct = false; var isStar = false
            while (j < close) {
              if (ts(j).is("(")) depth += 1
              else if (ts(j).is(")")) depth -= 1
              else if (depth == 0 && ts(j).isWord("ORDER")) hasOrder = true
              else if (depth == 0 && ts(j).isWord("DISTINCT")) hasDistinct = true
              else if (depth == 0 && ts(j).is("*")) isStar = true
              j += 1
            }
            if (!hasOrder && !hasDistinct && !isStar)
              again = captureInputOrder(ts, depths, i, close, fileTable, seq)
          }
        }
        i += 1
      }
    }
  }

  /** One no-ORDER-BY json agg: resolve its block's FROM relation; if
    * eligible, wrap it (or reuse an existing __rs wrap) and append
    * `ORDER BY __rsN` to the call. `_metadata` resolves only on a
    * `fileTable` relation. Returns true when tokens changed (caller
    * rescans — indices shifted). */
  private def captureInputOrder(ts: ArrayBuffer[Tok], depths: Array[Int],
      aggIdx: Int, aggClose: Int, fileTable: String => Boolean, seq: Iterator[Int]): Boolean = {
    var s = aggIdx
    while (s >= 0 && !(ts(s).isWord("SELECT") && depths(s) <= depths(aggIdx)))
      s -= 1
    if (s < 0) return false
    val ds = depths(s)
    var fromIdx = -1; var end = ts.length; var j = s + 1
    while (j < ts.length && end == ts.length) {
      if (depths(j) < ds) end = j
      else if (depths(j) == ds && ts(j).kind == Word) {
        val w = ts(j).text.toUpperCase
        if (w == "FROM" && fromIdx < 0) fromIdx = j
        else if (w == "UNION" || w == "INTERSECT" || w == "EXCEPT") end = j
      }
      j += 1
    }
    if (fromIdx < 0) return false
    val stopWords = Set("WHERE", "GROUP", "HAVING", "ORDER", "LIMIT",
      "OFFSET", "WINDOW", "UNION", "INTERSECT", "EXCEPT")
    val rel = nextIdx(ts, fromIdx)
    if (rel < 0 || rel >= end) return false
    // already wrapped by a previous agg in this block? reuse its key
    if (ts(rel).is("(")) {
      val relClose = matchParen(ts, rel)
      if (relClose < 0) return false
      val existing = ts.slice(rel, relClose).collectFirst {
        case tok if tok.kind == Word && tok.text.startsWith("__rs") => tok.text
      }
      existing match {
        case Some(key) =>
          ts.insertAll(aggClose, Seq(Tok(Ws, " "), Tok(Word, "ORDER"),
            Tok(Ws, " "), Tok(Word, "BY"), Tok(Ws, " "), Tok(Word, key)))
          true
        case None => false
      }
    } else if (ts(rel).kind == Word) {
      // single base relation [AS] [alias], then a block keyword or end
      val relText = ts(rel).text
      var aliasEnd = rel
      var alias = ts(rel).text.split("\\.").last
      val n1 = nextIdx(ts, rel)
      if (n1 >= 0 && n1 < end && ts(n1).isWord("AS")) {
        val n2 = nextIdx(ts, n1)
        if (n2 < 0 || n2 >= end || ts(n2).kind != Word) return false
        alias = ts(n2).text; aliasEnd = n2
      } else if (n1 >= 0 && n1 < end && ts(n1).kind == Word &&
          !stopWords.contains(ts(n1).text.toUpperCase)) {
        alias = ts(n1).text; aliasEnd = n1
      }
      val after = nextIdx(ts, aliasEnd)
      val cleanTail = after < 0 || after >= end ||
        (ts(after).kind == Word && stopWords.contains(ts(after).text.toUpperCase)) ||
        ts(after).is(")")
      if (!cleanTail) return false // join/comma/tablesample: fallback path
      // whole-row form json_agg(t) must not capture: the wrap would
      // add the __rs column to the row struct itself
      val aggOpen = nextIdx(ts, aggIdx)
      val argToks = ts.slice(aggOpen + 1, aggClose).filter(_.kind != Ws)
      if (argToks.length == 1 && argToks.head.kind == Word &&
          (argToks.head.text.equalsIgnoreCase(alias) ||
            argToks.head.text.equalsIgnoreCase(relText)))
        return false
      val key = s"__rs${seq.next()}"
      // r18: on a FILE-BACKED table the key leads with the file's
      // (mtime, name) ordinal — a multi-STATEMENT insert history
      // spans multiple parquet files whose LISTING order is
      // uuid-random, so the bare partition-prefixed id lost the
      // statement order; write mtimes are strictly later per
      // statement (a parquet commit takes ≫1 ms), restoring pg's
      // heap sequence. Non-file relations (views, VALUES) keep the
      // plain id — `_metadata` would not resolve there.
      val idExpr =
        if (fileTable(relText.split("\\.").last.toLowerCase))
          "struct(_metadata.file_modification_time AS __mt, " +
            "_metadata.file_name AS __fn, " +
            "monotonically_increasing_id() AS __mi)"
        else "monotonically_increasing_id()"
      // splice the LATER span first so earlier indices stay valid
      if (rel > aggClose) {
        ts.remove(rel, aliasEnd - rel + 1)
        ts.insertAll(rel, Seq(Tok(Word,
          s"(SELECT *, $idExpr AS $key FROM $relText) $alias")))
        ts.insertAll(aggClose, Seq(Tok(Ws, " "), Tok(Word, "ORDER"),
          Tok(Ws, " "), Tok(Word, "BY"), Tok(Ws, " "), Tok(Word, key)))
      } else {
        ts.insertAll(aggClose, Seq(Tok(Ws, " "), Tok(Word, "ORDER"),
          Tok(Ws, " "), Tok(Word, "BY"), Tok(Ws, " "), Tok(Word, key)))
        ts.remove(rel, aliasEnd - rel + 1)
        ts.insertAll(rel, Seq(Tok(Word,
          s"(SELECT *, $idExpr AS $key FROM $relText) $alias")))
      }
      true
    } else false
  }

  /** pg json aggregates → the engine's ordered UDAFs. Spark has no
    * `json_agg`; `ordered_json_agg(to_jsonb(e), key)` carries pg's
    * rendering plus a deterministic order (pg's input order is not
    * reproducible across a distributed partial agg, so the value is
    * the sort key):
    *   json[b]_agg(e)             → ordered_json_agg(to_jsonb(e), CAST(e AS STRING))
    *   json[b]_object_agg(k, v)   → ordered_json_object_agg(CAST(k AS STRING), to_jsonb(v))
    * An aggregate-internal ORDER BY (which Spark cannot parse) keeps
    * the USER'S key with its SQL type via a struct sort:
    *   json[b]_agg(e ORDER BY k)  →
    *     nullif(concat('[', array_join(transform(
    *       array_sort(collect_list(named_struct('k0',k,'v',
    *         coalesce(to_jsonb(e),'null')))), gv -> gv.v), ','), ']'), '[]')
    * and string_agg/array_agg the same way (array_join/plain transform).
    * The spliced Word tokens keep their hidden parens balanced so
    * matchParen-based later passes stay consistent.
    */
  private def rewriteJsonAggs(ts: ArrayBuffer[Tok]): Unit = {
    val aggNames = Set("json_agg", "jsonb_agg")
    val objNames = Set("json_object_agg", "jsonb_object_agg")
    // aggregate-internal ORDER BY (Spark can't parse it): sorted by
    // VALUE deterministically — the same convention as the json aggs
    val orderedAggs = Set("string_agg", "array_agg")
    // order-INSENSITIVE aggregates: pg still accepts the clause
    // (`max(x ORDER BY x)` is valid, a no-op) — just strip it
    val orderFreeAggs = Set("max", "min", "sum", "avg", "count",
      "bool_and", "bool_or", "every", "bit_and", "bit_or", "bit_xor",
      "stddev", "stddev_pop", "stddev_samp", "variance", "var_pop",
      "var_samp", "corr", "covar_pop", "covar_samp")
    var i = 0
    while (i < ts.length) {
      val t = ts(i)
      val lower = if (t.kind == Word) t.text.toLowerCase else ""
      if (orderFreeAggs.contains(lower)) {
        val open = nextIdx(ts, i)
        if (open >= 0 && ts(open).is("(")) {
          val close = matchParen(ts, open)
          if (close > 0) {
            var depth = 0; var orderIdx = -1
            var j = open
            while (j <= close && orderIdx < 0) {
              val tok = ts(j)
              if (tok.is("(") || tok.is("[")) depth += 1
              else if (tok.is(")") || tok.is("]")) depth -= 1
              else if (depth == 1 && tok.isWord("ORDER")) {
                val nb = nextIdx(ts, j)
                if (nb >= 0 && ts(nb).isWord("BY")) orderIdx = j
              }
              j += 1
            }
            if (orderIdx > 0) ts.remove(orderIdx, close - orderIdx)
          }
        }
      }
      if (orderedAggs.contains(lower)) {
        val open = nextIdx(ts, i)
        if (open >= 0 && ts(open).is("(")) {
          val close = matchParen(ts, open)
          if (close > 0) {
            var depth = 0; var orderIdx = -1; var commaIdx = -1
            var j = open
            while (j <= close) {
              val tok = ts(j)
              if (tok.is("(") || tok.is("[")) depth += 1
              else if (tok.is(")") || tok.is("]")) depth -= 1
              else if (depth == 1 && tok.kind == Word &&
                tok.text.equalsIgnoreCase("ORDER") && orderIdx < 0) {
                val nb = nextIdx(ts, j)
                if (nb >= 0 && ts(nb).kind == Word && ts(nb).text.equalsIgnoreCase("BY"))
                  orderIdx = j
              } else if (depth == 1 && tok.is(",") && commaIdx < 0) commaIdx = j
              j += 1
            }
            val firstTok = nextIdx(ts, open)
            if (lower == "array_agg" && firstTok >= 0 && ts(firstTok).isWord("DISTINCT")) {
              // array_agg(DISTINCT e [ORDER BY e [DESC]]) — pg sorts
              // the distinct set (the order key must equal e in pg);
              // NULL joins the set once, NULLS LAST asc / FIRST desc;
              // empty group → NULL (sweep #10, live-pg semantics)
              val eEnd = if (orderIdx > 0) orderIdx else close
              val e = ts.slice(firstTok + 1, eEnd).toVector
              val desc = orderIdx > 0 && ts.slice(orderIdx, close).exists(tok =>
                tok.kind == Word && tok.text.equalsIgnoreCase("DESC"))
              val sortFlag = if (desc) "false" else "true"
              val set = Tok(Word, "sort_array(collect_set(") +: e :+ Tok(Word, s"), $sortFlag)")
              // pg's array_prepend takes (element, array)
              val withNull =
                if (desc) Tok(Word, "array_prepend(NULL, ") +: set :+ Tok(Word, ")")
                else Tok(Word, "array_append(") +: set :+ Tok(Word, ", NULL)")
              val rebuilt =
                ArrayBuffer(Tok(Word, "CASE WHEN count(*) = 0 THEN NULL " +
                  "WHEN count(*) > count(")) ++ e ++ ArrayBuffer(Tok(Word, ") THEN ")) ++
                  withNull ++ ArrayBuffer(Tok(Word, " ELSE ")) ++ set ++ ArrayBuffer(Tok(Word, " END"))
              ts.remove(i, close - i + 1)
              ts.insertAll(i, rebuilt)
              i += rebuilt.length - 1
            } else if (orderIdx < 0 && lower == "string_agg" && commaIdx > 0 &&
              firstTok >= 0 && ts(firstTok).isWord("DISTINCT")) {
              // pg's DISTINCT aggregation feeds values in sorted order
              // (live-pg pin: string_agg(DISTINCT x, ',') over b,a,b →
              // "a,b"); count(e)=0 guard restores pg's NULL-on-empty
              val e = ts.slice(firstTok + 1, commaIdx).toVector
              val d = ts.slice(commaIdx + 1, close).toVector
              val rebuilt =
                ArrayBuffer(Tok(Word, "CASE WHEN count(")) ++ e ++
                  ArrayBuffer(Tok(Word, ") = 0 THEN CAST(NULL AS STRING) " +
                    "ELSE array_join(array_sort(collect_set(")) ++ e ++
                  ArrayBuffer(Tok(Word, ")), coalesce(")) ++ d ++
                  ArrayBuffer(Tok(Word, ", '')) END"))
              ts.remove(i, close - i + 1)
              ts.insertAll(i, rebuilt)
              i += rebuilt.length - 1
            } else if (orderIdx > 0) {
              val by = nextIdx(ts, orderIdx) // the BY token
              val keySlice = ts.slice(by + 1, close).toVector
              val desc = keySlice.exists(tok =>
                tok.kind == Word && tok.text.equalsIgnoreCase("DESC"))
              val keys = splitTopLevel(keySlice).map(_.filterNot(isDirWord))
              val filt = trailingFilter(ts, close)
              val pred = filt.map(_._1.toSeq)
              val end = filt.map(_._2).getOrElse(close)
              val rebuilt =
                if (lower == "string_agg" && commaIdx > 0 && commaIdx < orderIdx) {
                  val e = ts.slice(open + 1, commaIdx).toVector
                  val d = ts.slice(commaIdx + 1, orderIdx).toVector
                  // coalesce: pg joins with '' when the delimiter is
                  // NULL; Spark's array_join would return NULL (sweep-15)
                  ArrayBuffer(Tok(Word, "array_join(transform(")) ++
                    sortedStructToks(keys, e, desc, pred) ++
                    ArrayBuffer(Tok(Word, ", gv -> gv.v), coalesce(")) ++ d ++
                    ArrayBuffer(Tok(Word, ", ''))"))
                } else {
                  val e = ts.slice(open + 1, orderIdx).toVector
                  ArrayBuffer(Tok(Word, "transform(")) ++
                    sortedStructToks(keys, e, desc, pred) ++
                    ArrayBuffer(Tok(Word, ", gv -> gv.v)"))
                }
              ts.remove(i, end - i + 1)
              ts.insertAll(i, rebuilt)
              i += rebuilt.length - 1
            } else if (lower == "array_agg" &&
              !(firstTok >= 0 && ts(firstTok).isWord("DISTINCT"))) {
              // plain array_agg: Spark's array_agg/collect_list DROPS
              // NULL elements; pg keeps them (live-pg pin: array_agg
              // over lead() tail rows → {3,NULL,NULL}). Struct-wrap so
              // the collected element is never top-level NULL, then
              // project the value back out. A trailing FILTER folds in
              // as a CASE (false → NULL struct → dropped).
              val e = ts.slice(open + 1, close).toVector
              val filt = trailingFilter(ts, close)
              val end = filt.map(_._2).getOrElse(close)
              val rebuilt = ArrayBuffer(Tok(Word, "transform(collect_list("))
              filt.foreach { case (p, _) =>
                rebuilt += Tok(Word, "CASE WHEN (")
                rebuilt ++= p
                rebuilt += Tok(Word, ") THEN ")
              }
              rebuilt += Tok(Word, "named_struct('v',")
              rebuilt ++= e
              rebuilt += Tok(Word, ")")
              filt.foreach(_ => rebuilt += Tok(Word, " END"))
              rebuilt += Tok(Word, "), gv -> gv.v)")
              ts.remove(i, end - i + 1)
              ts.insertAll(i, rebuilt)
              i += rebuilt.length - 1
            }
          }
        }
      } else if (aggNames.contains(lower) || objNames.contains(lower)) {
        val open = nextIdx(ts, i)
        if (open >= 0 && ts(open).is("(")) {
          val close = matchParen(ts, open)
          if (close > 0) {
            // depth-1 scan for ORDER BY (agg form) or the arg comma
            var depth = 0
            var orderIdx = -1
            var commaIdx = -1
            var j = open
            while (j <= close) {
              val tok = ts(j)
              if (tok.is("(") || tok.is("[")) depth += 1
              else if (tok.is(")") || tok.is("]")) depth -= 1
              else if (depth == 1 && tok.kind == Word &&
                tok.text.equalsIgnoreCase("ORDER") && orderIdx < 0) {
                val nb = nextIdx(ts, j)
                if (nb >= 0 && ts(nb).kind == Word && ts(nb).text.equalsIgnoreCase("BY"))
                  orderIdx = j
              } else if (depth == 1 && tok.is(",") && commaIdx < 0) commaIdx = j
              j += 1
            }
            if (objNames.contains(lower) && commaIdx > 0) {
              val keyToks = ts.slice(open + 1, commaIdx).toVector
              val valToks = ts.slice(commaIdx + 1, close).toVector
              val aggFn = if (lower.startsWith("jsonb")) "ordered_jsonb_object_agg"
                else "ordered_json_object_agg"
              val rebuilt = ArrayBuffer(Tok(Word, s"$aggFn(CAST(")) ++
                keyToks ++ ArrayBuffer(Tok(Word, " AS STRING), to_jsonb(")) ++
                valToks ++ ArrayBuffer(Tok(Word, "))"))
              ts.remove(i, close - i + 1)
              ts.insertAll(i, rebuilt)
              i += rebuilt.length - 1
            } else if (aggNames.contains(lower)) {
              val rebuilt =
                if (orderIdx > 0) {
                  // keep the user's typed ORDER BY key: struct-sort,
                  // render each element (SQL NULL → json null), join
                  val exprToks = ts.slice(open + 1, orderIdx).toVector
                  val by = nextIdx(ts, orderIdx)
                  val keySlice = ts.slice(by + 1, close).toVector
                  val desc = keySlice.exists(tok =>
                    tok.kind == Word && tok.text.equalsIgnoreCase("DESC"))
                  val keys = splitTopLevel(keySlice).map(_.filterNot(isDirWord))
                  val value = (ArrayBuffer(Tok(Word, "coalesce(to_jsonb(")) ++
                    exprToks ++ ArrayBuffer(Tok(Word, "), 'null')"))).toSeq
                  ArrayBuffer(Tok(Word, "nullif(concat('[', array_join(transform(")) ++
                    sortedStructToks(keys, value, desc) ++
                    ArrayBuffer(Tok(Word, ", gv -> gv.v), ', '), ']'), '[]')"))
                } else {
                  val exprToks = ts.slice(open + 1, close).toVector
                  ArrayBuffer(Tok(Word, "ordered_json_agg(to_jsonb(")) ++
                    exprToks ++ ArrayBuffer(Tok(Word, "), CAST(")) ++
                    exprToks ++ ArrayBuffer(Tok(Word, " AS STRING))"))
                }
              ts.remove(i, close - i + 1)
              ts.insertAll(i, rebuilt)
              i += rebuilt.length - 1
            }
          }
        }
      }
      i += 1
    }
  }

  /** pg type words (possibly multi-word / suffixed) → a Spark type
    * name for the json_to_record CAST targets. */
  /** `json[b]_populate_record[set](NULL::tbl, j)` → the equivalent
    * `json[b]_to_record[set](j) AS alias(col type, …)` with the column
    * list expanded from `tbl`'s schema (pg's table-row-type shape; the
    * NULL base makes pg's "defaults from base" exactly to_record's
    * missing-key→NULL). Runs BEFORE [[rewrite]] — the caller supplies
    * `schemaOf` because the catalog lives with the SparkSession, and
    * this module is pure text. A non-NULL base or unknown table name
    * leaves the call untouched (the engine then errors naturally).
    */
  def rewritePopulateRecord(sql: String,
      schemaOf: String => Option[Seq[(String, String)]]): String = {
    val names = Set("json_populate_record", "jsonb_populate_record",
      "json_populate_recordset", "jsonb_populate_recordset")
    val ts = ArrayBuffer(tokenize(sql): _*)
    var i = 0
    var changed = false
    while (i < ts.length) {
      val t = ts(i)
      if (t.kind == Word && names.contains(t.text.toLowerCase)) {
        val setForm = t.text.toLowerCase.endsWith("recordset")
        val open = nextIdx(ts, i)
        val close = if (open >= 0 && ts(open).is("(")) matchParen(ts, open) else -1
        if (close > 0) {
          // first arg must be NULL :: tblname
          var depth = 0
          var comma = -1
          var j = open + 1
          while (j < close && comma < 0) {
            if (ts(j).is("(")) depth += 1
            else if (ts(j).is(")")) depth -= 1
            else if (depth == 0 && ts(j).is(",")) comma = j
            j += 1
          }
          val nullIdx = nextIdx(ts, open)
          val castIdx = if (nullIdx >= 0) nextIdx(ts, nullIdx) else -1
          val tblIdx = if (castIdx >= 0) nextIdx(ts, castIdx) else -1
          if (comma > 0 && nullIdx >= 0 && ts(nullIdx).isWord("NULL") &&
            castIdx >= 0 && ts(castIdx).is("::") &&
            tblIdx >= 0 && ts(tblIdx).kind == Word && nextIdx(ts, tblIdx) == comma) {
            schemaOf(ts(tblIdx).text.toLowerCase) match {
              case Some(cols) if cols.nonEmpty =>
                // alias after the call? ([AS] word, but not a coldef list)
                var a = nextIdx(ts, close)
                if (a >= 0 && ts(a).isWord("AS")) a = nextIdx(ts, a)
                val keywordsAfter = Set("where", "group", "order", "limit",
                  "having", "on", "join", "inner", "left", "right", "full",
                  "cross", "union", "intersect", "except")
                val aliasParen = a >= 0 && {
                  val n = nextIdx(ts, a); n >= 0 && ts(n).is("(")
                }
                val hasAlias = a >= 0 && ts(a).kind == Word &&
                  !keywordsAfter.contains(ts(a).text.toLowerCase) && !aliasParen
                val alias = if (hasAlias) ts(a).text else t.text.toLowerCase
                val arg2 = ts.slice(comma + 1, close).map(_.text).mkString
                // pg spelling: bare name when identifier-plain, else
                // double-quoted (the to_record coldef parser reads both)
                val colDefs = cols.map { case (n, ty) =>
                  val nm = if (n.matches("[a-z_][a-z0-9_]*")) n
                    else "\"" + n.replace("\"", "\"\"") + "\""
                  s"$nm $ty"
                }.mkString(", ")
                val fn = (if (t.text.toLowerCase.startsWith("jsonb")) "jsonb" else "json") +
                  "_to_record" + (if (setForm) "set" else "")
                val end = if (hasAlias) math.max(a, close) else close
                ts.remove(i, end - i + 1)
                ts.insert(i, Tok(Word, s"$fn($arg2) AS $alias($colDefs)"))
                changed = true
              case _ =>
            }
          }
        }
      }
      i += 1
    }
    if (changed) ts.map(_.text).mkString else sql
  }

  /** Spark DataType → the pg type-name spelling [[rewritePopulateRecord]]
    * emits into the generated coldef list (consumed by recordColType).
    */
  def pgTypeNameOf(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType => "int8"
      case IntegerType => "int4"
      case ShortType => "int2"
      case StringType => "text"
      case DoubleType => "float8"
      case FloatType => "float4"
      case BooleanType => "bool"
      case DateType => "date"
      case TimestampType | TimestampNTZType => "timestamp"
      case d: DecimalType => s"numeric(${d.precision},${d.scale})"
      case _ => "text"
    }
  }

  private def recordColType(toks: Vector[Tok]): String = {
    val joined = toks.map(_.text).mkString(" ").toLowerCase
      .replaceAll("\\s+", " ").trim
      .replace("double precision", "double")
      .replace("character varying", "varchar")
      .replace("timestamp with time zone", "timestamp")
      .replace("timestamp without time zone", "timestamp")
    val (base, suffix) = joined.indexOf('(') match {
      case -1 => (joined, "")
      case p => (joined.substring(0, p).trim, joined.substring(p).replaceAll("\\s", ""))
    }
    typeNameMap.getOrElse(base, base) + suffix
  }

  /** `json[b]_to_record(j) AS t(a int, b text)` and the set-returning
    * `json[b]_to_recordset(j) AS t(…)` — pg's row-expansion functions
    * (reference functions.md §JSON, blocked upstream). Each declared
    * column becomes `CAST(json_extract_path_text(j,'name') AS type)`,
    * which carries pg's per-field text-input coercion (a json string
    * "7" populates an int column; missing keys go NULL; extra keys are
    * ignored) — Spark's from_json would instead null out coercible
    * fields. A json/jsonb-typed column keeps the raw json form.
    * The recordset form explodes the array first. A preceding comma
    * gets an explicit LATERAL so the pg implicit-lateral correlated
    * shape (`FROM t, json_to_record(t.j) AS r(…)`) still plans. */
  private def rewriteJsonToRecord(ts: ArrayBuffer[Tok]): Unit = {
    val names = Set("json_to_record", "jsonb_to_record",
      "json_to_recordset", "jsonb_to_recordset")
    var i = 0
    while (i < ts.length) {
      val t = ts(i)
      if (t.kind == Word && names.contains(t.text.toLowerCase)) {
        val setForm = t.text.toLowerCase.endsWith("recordset")
        val open = nextIdx(ts, i)
        val close = if (open >= 0 && ts(open).is("(")) matchParen(ts, open) else -1
        if (close > 0) {
          // [AS] alias ( coldefs )
          var a = nextIdx(ts, close)
          if (a >= 0 && ts(a).isWord("AS")) a = nextIdx(ts, a)
          val aliasOk = a >= 0 && (ts(a).kind == Word || ts(a).kind == QIdent)
          val open2 = if (aliasOk) nextIdx(ts, a) else -1
          val close2 = if (open2 >= 0 && ts(open2).is("(")) matchParen(ts, open2) else -1
          if (close2 > 0) {
            val alias =
              if (ts(a).kind == QIdent)
                "`" + ts(a).text.substring(1, ts(a).text.length - 1) + "`"
              else ts(a).text
            val arg = ts.slice(open + 1, close).toVector
            val cols = splitTopLevel(ts.slice(open2 + 1, close2).toVector)
              .map(_.filter(c => c.kind != Ws))
            val src: Seq[Tok] =
              if (setForm) Seq(Tok(Word, "__je"))
              else arg
            val colToks = ArrayBuffer[Tok]()
            cols.zipWithIndex.foreach { case (col, ci) =>
              if (ci > 0) colToks += Tok(Word, ", ")
              val rawName = col.head.text
              val name = if (col.head.kind == QIdent)
                rawName.substring(1, rawName.length - 1) else rawName
              val sparkType = recordColType(col.tail)
              val key = "'" + name.replace("'", "''") + "'"
              val outName = if (col.head.kind == QIdent) "`" + name + "`" else name
              if (sparkType == "string" &&
                col.tail.headOption.exists(w =>
                  Set("json", "jsonb").contains(w.text.toLowerCase))) {
                colToks += Tok(Word, "json_extract_path(")
                colToks ++= src
                colToks += Tok(Word, s", $key) AS $outName")
              } else {
                colToks += Tok(Word, "CAST(json_extract_path_text(")
                colToks ++= src
                colToks += Tok(Word, s", $key) AS $sparkType) AS $outName")
              }
            }
            val prev = prevIdx(ts, i)
            val needLateral = prev >= 0 && ts(prev).is(",")
            val rebuilt = ArrayBuffer[Tok]()
            if (needLateral) rebuilt += Tok(Word, "LATERAL ")
            rebuilt += Tok(Word, "(SELECT ")
            rebuilt ++= colToks
            if (setForm) {
              rebuilt += Tok(Word, " FROM (SELECT explode(json_array_elements(")
              rebuilt ++= arg
              rebuilt += Tok(Word, ")) AS __je)")
            }
            rebuilt += Tok(Word, s") AS $alias")
            ts.remove(i, close2 - i + 1)
            ts.insertAll(i, rebuilt)
            i += rebuilt.length - 1
          }
        }
      }
      i += 1
    }
  }

  /** pg's set-returning string splitters → Spark generators:
    * `regexp_split_to_table(x, p)` → `explode(regexp_split_to_array(x, p))`
    * `string_to_table(x, d)` → `explode(string_to_array(x, d))`.
    * Valid wherever Spark allows a generator (SELECT list, LATERAL
    * VIEW); the array twins carry the pg splitting rules.
    */
  private def rewriteSetReturning(ts: ArrayBuffer[Tok]): Unit = {
    val wraps = Map(
      "regexp_split_to_table" -> ("explode", "regexp_split_to_array"),
      "string_to_table" -> ("explode", "string_to_array"),
      // json set-returning fns: the engine-side functions yield the
      // array form; explode restores pg's one-row-per-element shape
      // (inline for the two-column key/value fns)
      "json_array_elements" -> ("explode", "json_array_elements"),
      "json_array_elements_text" -> ("explode", "json_array_elements_text"),
      "jsonb_array_elements" -> ("explode", "jsonb_array_elements"),
      "jsonb_array_elements_text" -> ("explode", "jsonb_array_elements_text"),
      "json_object_keys" -> ("explode", "json_object_keys"),
      "jsonb_object_keys" -> ("explode", "json_object_keys"),
      "json_each" -> ("inline", "json_each"),
      "json_each_text" -> ("inline", "json_each_text"),
      "jsonb_each" -> ("inline", "jsonb_each"),
      "jsonb_each_text" -> ("inline", "jsonb_each_text"),
      "generate_subscripts" -> ("explode", "generate_subscripts"),
      // jsonb_path_query is set-returning in pg; the engine-side
      // expression yields text[] of the matched items
      "jsonb_path_query" -> ("explode", "jsonb_path_query"),
      // pg's integer series (empty when the step points away from
      // stop — Spark's sequence() would auto-reverse)
      "generate_series" -> ("explode", "pg_series"))
    var i = 0
    while (i < ts.length) {
      val t = ts(i)
      if (t.kind == Word && t.text.equalsIgnoreCase("unnest")) {
        // pg unnest: one-row-per-element (FROM or SELECT position —
        // Spark accepts explode/inline in both). Single array →
        // explode(arr); the multi-array ROWS FROM shorthand
        // unnest(a, b, …) AS t(x, y, …) → inline(arrays_zip(a, b, …))
        // (positional column aliases apply to the zipped struct).
        val open = nextIdx(ts, i)
        if (open >= 0 && ts(open).is("(")) {
          val close = matchParen(ts, open)
          if (close > 0) {
            var commas = 0; var depth = 0; var j = open + 1
            while (j < close) {
              if (ts(j).is("(") || ts(j).is("[")) depth += 1
              else if (ts(j).is(")") || ts(j).is("]")) depth -= 1
              else if (depth == 0 && ts(j).is(",")) commas += 1
              j += 1
            }
            if (commas == 0) {
              ts(i) = Tok(Word, "explode")
              // `FROM unnest(a) u` names BOTH the table and the column
              // `u` in pg; Spark's explode emits column `col`, so a
              // bare alias (no column list) expands to `AS u(u)`.
              // FROM/JOIN-position only — in a select list `explode(a)
              // u` already names the column u.
              val before = prevIdx(ts, i)
              val fromPos = before >= 0 &&
                (ts(before).isWord("FROM") || ts(before).isWord("JOIN"))
              var a = nextIdx(ts, close)
              val hadAs = a >= 0 && ts(a).isWord("AS")
              if (hadAs) a = nextIdx(ts, a)
              if (fromPos && a >= 0 && ts(a).kind == Word &&
                !Set("where", "group", "order", "limit", "having", "on",
                  "join", "inner", "left", "right", "full", "cross",
                  "union", "intersect", "except", "from")
                  .contains(ts(a).text.toLowerCase) && {
                  val n = nextIdx(ts, a); !(n >= 0 && ts(n).is("("))
                }) {
                val alias = ts(a).text
                ts(a) = Tok(Word,
                  if (hadAs) s"$alias($alias)" else s"AS $alias($alias)")
              }
            } else {
              ts.insert(close + 1, Tok(Word, ")"))
              ts(i) = Tok(Word, "inline(arrays_zip")
            }
          }
        }
      } else if (t.kind == Word && wraps.contains(t.text.toLowerCase)) {
        val open = nextIdx(ts, i)
        if (open >= 0 && ts(open).is("(")) {
          val close = matchParen(ts, open)
          if (close > 0) {
            val (gen, fn) = wraps(t.text.toLowerCase)
            if (t.text.equalsIgnoreCase("generate_series")) {
              // default step: pad the 2-arg form here (the wrap fuses
              // the name into one token with the generator)
              var commas = 0; var depth = 0; var j = open + 1
              while (j < close) {
                if (ts(j).is("(") || ts(j).is("[")) depth += 1
                else if (ts(j).is(")") || ts(j).is("]")) depth -= 1
                else if (depth == 0 && ts(j).is(",")) commas += 1
                j += 1
              }
              if (commas == 1) ts.insert(close, Tok(Word, ", 1"))
            }
            val close2 = matchParen(ts, open)
            ts.insert(close2 + 1, Tok(Word, ")"))
            ts(i) = Tok(Word, gen + "(" + fn)
            // pg: `FROM generate_series(...) AS g` names the COLUMN g
            // too (single-column SRF alias rule, same as unnest above);
            // Spark's explode emits `col`, so expand to `AS g(g)`
            // (live-pg-pinned in CopyParitySpec multi-row case)
            if (gen == "explode") {
              val before = prevIdx(ts, i)
              val fromPos = before >= 0 &&
                (ts(before).isWord("FROM") || ts(before).isWord("JOIN"))
              var a = nextIdx(ts, close2 + 1)
              val hadAs = a >= 0 && ts(a).isWord("AS")
              if (hadAs) a = nextIdx(ts, a)
              if (fromPos && a >= 0 && ts(a).kind == Word &&
                !Set("where", "group", "order", "limit", "having", "on",
                  "join", "inner", "left", "right", "full", "cross",
                  "union", "intersect", "except", "from")
                  .contains(ts(a).text.toLowerCase) && {
                  val n = nextIdx(ts, a); !(n >= 0 && ts(n).is("("))
                }) {
                val alias = ts(a).text
                ts(a) = Tok(Word,
                  if (hadAs) s"$alias($alias)" else s"AS $alias($alias)")
              }
            }
          }
        }
      }
      i += 1
    }
  }

  /** pg `substring(string FROM 'pattern')` is the POSIX-regex form
    * (returns the first match, or capture group 1 when the pattern
    * has one; NULL when no match). Spark's FROM/FOR grammar is
    * position-only, so a string-literal FROM operand (with no FOR)
    * reroutes to the pg_substring_re UDF. */
  /** `x [NOT] BETWEEN SYMMETRIC a AND b` → pg's own definition,
    * `(x BETWEEN a AND b OR x BETWEEN b AND a)`, the NOT form wrapped
    * in `NOT (…)` (Spark has no SYMMETRIC). Each BETWEEN then compares
    * in the operands' pg type (an enum's label order, inet's network
    * order), which a spelled-out least/greatest of the bounds would
    * not. `a` runs to the depth-0 AND; `b` is the following value
    * extent. */
  private def rewriteBetweenSymmetric(ts: ArrayBuffer[Tok]): Unit = {
    var i = 0
    while (i < ts.length) {
      val sym = if (ts(i).isWord("BETWEEN")) nextIdx(ts, i) else -1
      if (sym >= 0 && ts(sym).isWord("SYMMETRIC")) {
        // find the depth-0 AND after SYMMETRIC
        var j = sym + 1; var depth = 0; var andIdx = -1
        while (j < ts.length && andIdx < 0) {
          if (ts(j).is("(") || ts(j).is("[")) depth += 1
          else if (ts(j).is(")") || ts(j).is("]")) depth -= 1
          else if (depth == 0 && ts(j).isWord("AND")) andIdx = j
          j += 1
        }
        val bStart = if (andIdx > 0) nextIdx(ts, andIdx) else -1
        val before = prevIdx(ts, i)
        val negated = before >= 0 && ts(before).isWord("NOT")
        val xEnd = if (negated) prevIdx(ts, before) else before
        if (bStart >= 0 && xEnd >= 0) {
          val bEnd = extendValue(ts, bStart)
          val xStart = betweenOperandStart(ts, xEnd)
          val x = ts.slice(xStart, xEnd + 1).toSeq
          val a = ts.slice(nextIdx(ts, sym), andIdx).toSeq
          val b = ts.slice(bStart, bEnd + 1).toSeq
          def word(w: String) = Seq(Tok(Ws, " "), Tok(Word, w), Tok(Ws, " "))
          def between(lo: Seq[Tok], hi: Seq[Tok]) = x ++ word("BETWEEN") ++ lo ++ word("AND") ++ hi
          val expr = (if (negated) Seq(Tok(Word, "NOT"), Tok(Ws, " ")) else Nil) ++
            Seq(Tok(Op, "(")) ++ between(a, b) ++ word("OR") ++ between(b, a) ++ Seq(Tok(Op, ")"))
          ts.remove(xStart, bEnd - xStart + 1)
          ts.insertAll(xStart, expr)
          i = xStart + expr.length - 1
        }
      }
      i += 1
    }
  }

  /** Start of BETWEEN's left operand ending at `end`: back to the
    * nearest depth-0 clause keyword, comma, comparison or open paren
    * (BETWEEN binds looser than arithmetic, tighter than `=`). */
  private def betweenOperandStart(ts: ArrayBuffer[Tok], end: Int): Int = {
    var j = end; var depth = 0; var start = end
    while (j >= 0) {
      val t = ts(j)
      if (t.kind != Ws) {
        if (t.is(")") || t.is("]") || t.isWord("END")) depth += 1
        else if (t.is("(") || t.is("[") || t.isWord("CASE")) {
          if (depth == 0) return start
          depth -= 1
        } else if (depth == 0 && (t.is(",") ||
            (t.kind == Op && cmpOps.contains(t.text)) ||
            (t.kind == Word && lhsClauseKeywords.contains(t.text.toLowerCase)))) return start
        start = j
      }
      j -= 1
    }
    start
  }

  /** `concat(a, b, …)` → `concat_ws('', a, b, …)`: pg concat skips
    * NULL arguments and never returns NULL; Spark's concat is
    * null-on-null. `array_cat` resolves to Spark's concat in the
    * registry ([[PgNames]]), after this pass. */
  private def rewriteConcatNullSafe(ts: ArrayBuffer[Tok]): Unit = {
    var i = 0
    while (i < ts.length) {
      if (ts(i).kind == Word && ts(i).text.equalsIgnoreCase("concat")) {
        val open = nextIdx(ts, i)
        if (open >= 0 && ts(open).is("(")) {
          ts(i) = Tok(Word, "concat_ws")
          ts.insert(open + 1, Tok(Word, "'', "))
          i = open + 1
        }
      }
      i += 1
    }
  }

  /** pg bit strings (§8.10.1), the grammar Spark cannot parse:
    * `B'1010'` literals → bit_in, `X'1F'::bit(n)` → bit_in_hex,
    * `::bit(n)` → one pg_bit_cast call whatever the operand, and
    * `::varbit(n)` → pg_varbit_cast (without a length, `::bit` →
    * bit_in and `::varbit` → varbit_in, typed bit varying). Values
    * are the literal '0'/'1' text, so substring/overlay/position/
    * length/|| come free from the string builtins; the analyzer rule
    * (PgSemantics) dispatches the bit operators, casts and accessors
    * on operand type.
    */
  private def rewriteBitStrings(ts: ArrayBuffer[Tok]): Unit = {
    // literals first: adjacent Word(B)+Str (no whitespace between)
    var i = 0
    while (i < ts.length - 1) {
      val t = ts(i)
      if (t.kind == Word && (t.text == "b" || t.text == "B") &&
        ts(i + 1).kind == Str) {
        val lit = ts(i + 1).text
        ts.remove(i, 2)
        ts.insert(i, Tok(Word, s"bit_in($lit)"))
      } else if (t.kind == Word && (t.text == "x" || t.text == "X") &&
        ts(i + 1).kind == Str && {
          // X'..' is a bit literal only when a ::bit cast follows (it
          // is Spark binary otherwise)
          val after = nextIdx(ts, i + 1)
          after >= 0 && ts(after).is("::") && {
            val ty = nextIdx(ts, after); ty >= 0 && ts(ty).isWord("bit")
          }
        }) {
        val lit = ts(i + 1).text
        ts.remove(i, 2)
        ts.insert(i, Tok(Word, s"bit_in_hex($lit)"))
      }
      i += 1
    }
    // casts: ::bit(n) / ::varbit [(n)]
    i = 0
    while (i < ts.length) {
      if (ts(i).is("::")) {
        val ty = nextIdx(ts, i)
        val p = prevIdx(ts, i)
        if (ty >= 0 && p >= 0 && (ts(ty).isWord("bit") || ts(ty).isWord("varbit")) &&
          (isValueEnd(ts(p)) || ts(p).kind == Num)) {
          val start = primaryStart(ts, p)
          // optional (n)
          val open = nextIdx(ts, ty)
          var end = ty
          var nTok: Option[String] = None
          if (open >= 0 && ts(open).is("(")) {
            val close = matchParen(ts, open)
            if (close > 0) {
              nTok = Some(ts.slice(open + 1, close).map(_.text).mkString.trim)
              end = close
            }
          }
          val fn =
            if (ts(ty).isWord("varbit")) nTok.fold("varbit_in")(_ => "pg_varbit_cast")
            else nTok.fold("bit_in")(_ => "pg_bit_cast")
          val tail = nTok.map(n => s", $n)").getOrElse(")")
          ts.remove(i, end - i + 1)
          ts.insert(p + 1, Tok(Op, tail))
          ts.insertAll(start, Seq(Tok(Word, fn), Tok(Op, "(")))
          i = p + 3
        }
      }
      i += 1
    }
  }

  /** pg math operators Spark lacks (or reads differently): `^` is
    * power in pg but XOR in Spark (a silently-wrong answer), `#` is
    * pg's XOR, `|/` square root, `||/` cube root, `@` absolute value.
    * Binary ops reuse the value-extent machinery; the unary ops wrap
    * the following value. */
  private def rewriteMathOps(ts: ArrayBuffer[Tok]): Unit = {
    var i = 0
    while (i < ts.length) {
      val t = ts(i)
      if (t.kind == Op && t.text == "^") {
        val rhs = nextIdx(ts, i)
        val p = prevIdx(ts, i)
        if (rhs >= 0 && p >= 0 && (isValueEnd(ts(p)) || ts(p).kind == Num)) {
          val start = lhsStart(ts, p)
          var opIdx = i
          var rhs2 = rhs
          if (opIdx - 1 >= 0 && ts(opIdx - 1).kind == Ws) {
            ts.remove(opIdx - 1); opIdx -= 1; rhs2 -= 1
          }
          rhs2 = extendValue(ts, rhs2)
          ts.insert(rhs2 + 1, Tok(Op, ")"))
          ts(opIdx) = Tok(Op, ",")
          ts.insertAll(start, Seq(Tok(Word, "power"), Tok(Op, "(")))
          i = start
        }
      } else if (t.kind == Op && t.text == "#") {
        // pg XOR → Spark's ^ operator (only when both sides are
        // values — `#-`/`#>` were tokenized as their own ops already)
        val rhs = nextIdx(ts, i)
        val p = prevIdx(ts, i)
        if (rhs >= 0 && p >= 0 && (isValueEnd(ts(p)) || ts(p).kind == Num) &&
          (ts(rhs).kind == Num || ts(rhs).kind == Word || ts(rhs).is("(")))
          ts(i) = Tok(Op, "^")
      } else if (t.kind == Op &&
        (t.text == "|/" || t.text == "||/" || t.text == "@")) {
        // unary prefix ops: valid only when NOT following a value
        // (a leading KEYWORD like SELECT/WHERE/AND is not a value)
        val p = prevIdx(ts, i)
        val rhs = nextIdx(ts, i)
        val leadKw = p >= 0 && ts(p).kind == Word &&
          Set("SELECT", "WHERE", "AND", "OR", "NOT", "WHEN", "THEN",
            "ELSE", "BY", "HAVING", "ON", "SET", "RETURN", "CASE", "IN")
            .contains(ts(p).text.toUpperCase)
        if (rhs >= 0 && (p < 0 || !isValueEnd(ts(p)) || leadKw)) {
          val fn = t.text match {
            case "|/" => "sqrt"; case "||/" => "cbrt"; case _ => "abs"
          }
          val end = extendValue(ts, rhs)
          ts.insert(end + 1, Tok(Op, ")"))
          ts(i) = Tok(Word, fn)
          ts.insert(i + 1, Tok(Op, "("))
          i = end + 1
        }
      }
      i += 1
    }
  }

  /** Extend a value start index over a call's parens, a bracket
    * subscript, or a parenthesized expression; also swallows a
    * leading unary minus on a number. */
  private def extendValue(ts: ArrayBuffer[Tok], at: Int): Int = {
    var v = at
    if (ts(v).is("(")) {
      val close = matchParen(ts, v)
      return if (close > 0) close else v
    }
    if ((ts(v).text == "-" || ts(v).text == "+") && ts(v).kind == Op) {
      val n = nextIdx(ts, v)
      if (n >= 0) v = n
    }
    if (ts(v).kind == Word) {
      val nxt = nextIdx(ts, v)
      if (nxt >= 0 && ts(nxt).is("(")) {
        val close = matchParen(ts, nxt)
        if (close > 0) return close
      }
    }
    v
  }

  /** pg `normalize(x, NFC)` takes its form as a bare KEYWORD; the
    * engine's normalize UDF takes it as text. Quote the keyword. */
  private def quoteNormalizeForms(ts: ArrayBuffer[Tok]): Unit = {
    var i = 0
    while (i < ts.length) {
      if (ts(i).kind == Word && ts(i).text.equalsIgnoreCase("normalize")) {
        val open = nextIdx(ts, i)
        if (open >= 0 && ts(open).is("(")) {
          val close = matchParen(ts, open)
          if (close > 0) {
            var j = open + 1; var depth = 0
            while (j < close) {
              if (ts(j).is("(")) depth += 1
              else if (ts(j).is(")")) depth -= 1
              else if (depth == 0 && ts(j).kind == Word &&
                "(?i)NFK?[CD]".r.matches(ts(j).text))
                ts(j) = Tok(Str, "'" + ts(j).text.toUpperCase + "'")
              j += 1
            }
          }
        }
      }
      i += 1
    }
  }

  private def rewriteSubstringRegex(ts: ArrayBuffer[Tok]): Unit = {
    var i = 0
    while (i < ts.length) {
      val t = ts(i)
      if (t.kind == Word && t.text.equalsIgnoreCase("substring")) {
        val open = nextIdx(ts, i)
        if (open >= 0 && ts(open).is("(")) {
          val close = matchParen(ts, open)
          if (close > 0) {
            // depth-1 FROM whose operand is a string literal right
            // before the close paren
            var j = open + 1; var depth = 0; var fromIdx = -1
            var similarIdx = -1; var escapeIdx = -1
            while (j < close) {
              if (ts(j).is("(") || ts(j).is("[")) depth += 1
              else if (ts(j).is(")") || ts(j).is("]")) depth -= 1
              else if (depth == 0 && ts(j).isWord("FROM")) fromIdx = j
              else if (depth == 0 && ts(j).isWord("SIMILAR")) similarIdx = j
              else if (depth == 0 && ts(j).isWord("ESCAPE")) escapeIdx = j
              j += 1
            }
            if (similarIdx > 0 && escapeIdx > similarIdx) {
              // SQL-standard `substring(str SIMILAR pat ESCAPE esc)`
              // (pg §9.7.2): regex-group extraction with the #"…#"
              // markers — route to the pg_substring_similar UDF
              ts(escapeIdx) = Tok(Op, ",")
              ts(similarIdx) = Tok(Op, ",")
              ts(i) = Tok(Word, "pg_substring_similar")
            } else if (fromIdx > 0) {
              val pat = nextIdx(ts, fromIdx)
              if (pat >= 0 && ts(pat).kind == Str && nextIdx(ts, pat) == close) {
                ts(fromIdx) = Tok(Op, ",")
                ts(i) = Tok(Word, "pg_substring_re")
              } else {
                // positional FROM n [FOR m] → the comma call, which the
                // registry resolves with pg's start clamping (Spark's
                // parser would build its own Substring from FROM/FOR)
                var k = fromIdx + 1; var d2 = 0
                while (k < close) {
                  if (ts(k).is("(") || ts(k).is("[")) d2 += 1
                  else if (ts(k).is(")") || ts(k).is("]")) d2 -= 1
                  else if (d2 == 0 && ts(k).isWord("FOR")) ts(k) = Tok(Op, ",")
                  k += 1
                }
                ts(fromIdx) = Tok(Op, ",")
              }
            }
          }
        }
      }
      i += 1
    }
  }

  /** Bare `INTERVAL 'text'` literals that Spark's parser cannot carry
    * — pg-only unit spellings (mon/yr/w), mixed year-month AND
    * day-time fields in one literal, trailing 'ago' — reroute to the
    * pg_interval expression (pg's input parser, CalendarInterval
    * result). Literals Spark understands, and the qualified forms
    * (INTERVAL '1' DAY, INTERVAL '3' MONTH), stay native so their
    * types keep Catalyst's interval arithmetic fast paths. */
  private def rewriteIntervalLiterals(ts: ArrayBuffer[Tok]): Unit = {
    val ymUnits = "(?i)\\b(mons?|months?|yrs?|years?|decades?|centur|millenn)".r
    val dtUnits = "(?i)\\b(days?|weeks?|hours?|hrs?|mins?|minutes?|secs?|seconds?|\\d+:\\d)".r
    val pgOnly = "(?i)\\b(mons?|yrs?|mins?|secs?|hrs?|ago)\\b".r
    // fractional quantities above seconds spill into finer fields in
    // pg ('1.5 days' = 1 day 12:00:00); Spark's literal parser rejects
    val fracUnit = "(?i)\\d+\\.\\d+\\s*(day|week|mon|year|yr|hour|hr|min)".r
    var i = 0
    while (i < ts.length) {
      // `'text'::interval` LITERAL casts route through pg's input
      // parser unconditionally — Spark's cast silently NULLs pg-valid
      // spellings (ISO 8601 'P1DT2H', sweep-32) and NULLs instead of
      // erroring on invalid input; columns keep the native cast
      if (ts(i).kind == Str && {
        val c = nextIdx(ts, i)
        c >= 0 && ts(c).is("::") && {
          val w = nextIdx(ts, c)
          w >= 0 && ts(w).isWord("interval") && {
            // not a unit-qualified cast ('x'::interval hour)
            val q = nextIdx(ts, w)
            !(q >= 0 && ts(q).kind == Word &&
              "(?i)(year|month|week|day|hour|minute|second)s?".r
                .matches(ts(q).text))
          }
        }
      }) {
        val c = nextIdx(ts, i)
        val w = nextIdx(ts, c)
        val s = ts(i)
        ts.remove(i, w - i + 1)
        ts.insertAll(i, Seq(Tok(Word, "pg_interval"), Tok(Op, "("), s, Tok(Op, ")")))
        i += 3
      } else if (ts(i).kind == Word && ts(i).text.equalsIgnoreCase("INTERVAL")) {
        val lit = nextIdx(ts, i)
        if (lit >= 0 && ts(lit).kind == Str) {
          // qualified form? (a unit keyword right after the literal)
          val after = nextIdx(ts, lit)
          val qualified = after >= 0 && ts(after).kind == Word &&
            "(?i)(year|month|week|day|hour|minute|second)s?".r
              .matches(ts(after).text)
          if (!qualified) {
            val body = ts(lit).text.drop(1).dropRight(1).replace("''", "'")
            val mixed = ymUnits.findFirstIn(body).nonEmpty &&
              dtUnits.findFirstIn(body).nonEmpty
            // '1 day 2:03:04': word unit + colon time in one literal —
            // valid pg, rejected by Spark's literal parser (sweep-4)
            val dayColon = "(?i)\\d+:\\d".r.findFirstIn(body).nonEmpty &&
              "(?i)\\b(days?|weeks?|hours?|hrs?|mins?|minutes?|secs?|seconds?)\\b".r
                .findFirstIn(body).nonEmpty
            // '-1 day 5 hours': mixed-sign quantities — Spark's flat
            // DayTimeIntervalType would collapse to -19:00:00 where pg
            // keeps independent fields ('-1 days +05:00:00'); the
            // CalendarInterval from pg_interval preserves the split
            val signs = "(?:^|\\s)([+-]?)\\d".r.findAllMatchIn(body)
              .map(m => if (m.group(1) == "-") "-" else "+").toSet
            val mixedSign = signs.size > 1
            // bare colon time ('25:10:05'): Spark's unqualified literal
            // parser rejects it outright; pg reads hh:mm[:ss[.f]]
            val colonOnly = body.trim.matches("[+-]?\\d+:\\d.*")
            // SQL-standard shorthands (sweep #9): year-month '1-2' and
            // day-plus-time '3 4:05:06'
            val sqlStd = body.trim.matches("[+-]?\\d+-\\d+\\s*") ||
              body.trim.matches("[+-]?\\d+\\s+[+-]?\\d+:\\d.*")
            // EXTRACT(x FROM INTERVAL '…'): route through pg_interval's
            // CalendarInterval so any field is extractable — Spark's
            // typed literal INTERVAL '100' HOUR carries only the named
            // field and errors on extract(days …), where pg returns 0
            val pv = prevIdx(ts, i)
            val inExtract = pv >= 0 && ts(pv).isWord("FROM")
            // glued number+unit ('15h 2m 12s') — valid pg input that
            // Spark's literal parser rejects outright
            val gluedUnit = "(?i)\\d(us|ms|secs?|mins?|hrs?|mons?|yrs?|[smhdwy])\\b".r
              .findFirstIn(body).nonEmpty
            if (mixed || dayColon || mixedSign || colonOnly || sqlStd ||
              inExtract || gluedUnit || pgOnly.findFirstIn(body).nonEmpty ||
              fracUnit.findFirstIn(body).nonEmpty) {
              ts(i) = Tok(Word, "pg_interval")
              ts.insert(lit + 1, Tok(Op, ")"))
              ts.insert(lit, Tok(Op, "("))
              i = lit + 1
            }
          }
        }
      }
      i += 1
    }
  }

  /** `expr SIMILAR TO pattern [ESCAPE e]` → `expr RLIKE <posix>`.
    * A literal pattern is translated at rewrite time with
    * [[PgFunctions.similarEscape]] (no per-row call); a non-literal
    * pattern is wrapped in the registered `similar_to_escape` UDF.
    * A preceding NOT stays in place, yielding `NOT RLIKE`. Spark has
    * no SIMILAR TO at all, so this is the only path that serves it.
    */
  private def rewriteSimilarTo(ts: ArrayBuffer[Tok]): Unit = {
    var i = 0
    while (i < ts.length) {
      val t = ts(i)
      if (t.kind == Word && t.text.equalsIgnoreCase("SIMILAR")) {
        val toIdx = nextIdx(ts, i)
        if (toIdx >= 0 && ts(toIdx).kind == Word && ts(toIdx).text.equalsIgnoreCase("TO")) {
          val patIdx = nextIdx(ts, toIdx)
          if (patIdx >= 0) {
            // optional ESCAPE 'x' with a literal escape char
            var esc: Option[Char] = Some('\\')
            val escKw = nextIdx(ts, patIdx)
            val escLit = if (escKw >= 0) nextIdx(ts, escKw) else -1
            val hasEscape = escKw >= 0 && ts(escKw).kind == Word &&
              ts(escKw).text.equalsIgnoreCase("ESCAPE") &&
              escLit >= 0 && ts(escLit).kind == Str
            // token text is Spark-encoded (tokenize doubled literal
            // backslashes) — collapse when INTERPRETING the content
            if (hasEscape) {
              val inner = ts(escLit).text.drop(1).dropRight(1)
                .replace("''", "'").replace("\\\\", "\\")
              esc = inner.headOption
            }
            if (ts(patIdx).kind == Str) {
              val inner = ts(patIdx).text.drop(1).dropRight(1)
                .replace("''", "'").replace("\\\\", "\\")
              val translated = PgFunctions.similarEscape(inner, esc)
              ts(patIdx) = Tok(Str,
                "'" + translated.replace("\\", "\\\\").replace("'", "''") + "'")
              if (hasEscape) {
                val start = if (escKw > 0 && ts(escKw - 1).kind == Ws) escKw - 1 else escKw
                ts.remove(start, escLit - start + 1)
              }
              ts.remove(i + 1, toIdx - i) // interior Ws + TO
              ts(i) = Tok(Word, "RLIKE")
            } else if (!hasEscape) {
              // non-literal pattern: wrap the whole postfix chain —
              // `t.p`, `lower(pat)`, `f(x).y` — not just the first token
              var end = patIdx
              if (ts(end).is("(")) end = matchParen(ts, end)
              var grown = true
              while (grown) {
                grown = false
                val nx = nextIdx(ts, end)
                if (nx >= 0 && ts(nx).is("(")) { end = matchParen(ts, nx); grown = true }
                else if (nx >= 0 && ts(nx).is(".")) {
                  val nm = nextIdx(ts, nx)
                  if (nm >= 0 && (ts(nm).kind == Word || ts(nm).kind == QIdent)) {
                    end = nm; grown = true
                  }
                }
              }
              ts.insert(end + 1, Tok(Word, ")"))
              ts.insert(patIdx, Tok(Word, "similar_to_escape("))
              ts.remove(i + 1, toIdx - i)
              ts(i) = Tok(Word, "RLIKE")
            }
            // non-literal pattern WITH an ESCAPE clause: left as-is; the
            // parse error downstream names SIMILAR TO rather than a
            // silently-wrong default-escape translation
          }
        }
      }
      i += 1
    }
  }

  /** pg regex operators → RLIKE forms. `~` is treated as the regex op
    * only when the previous token is a value (ident/literal/`)`), since
    * prefix `~` is bitwise NOT in both dialects.
    * `~*` / `!~*` (case-insensitive) prepend `(?i)` to a string-literal
    * pattern, else wrap the pattern expression in concat.
    */
  private def rewriteRegexOps(ts: ArrayBuffer[Tok]): Unit = {
    var i = 0
    while (i < ts.length) {
      val t = ts(i)
      // pg's LIKE-operator spellings (`~~` ≡ LIKE, `~~*` ≡ ILIKE and
      // negations) — clients and ORMs emit them directly; Spark's
      // parser has LIKE/ILIKE keywords with identical semantics
      if (t.kind == Op && (t.text == "~~" || t.text == "~~*" ||
          t.text == "!~~" || t.text == "!~~*")) {
        ts(i) = Tok(Word, t.text match {
          case "~~" => "LIKE"
          case "~~*" => "ILIKE"
          case "!~~" => "NOT LIKE"
          case _ => "NOT ILIKE"
        })
      } else if (t.kind == Op && (t.text == "~" || t.text == "~*" || t.text == "!~" || t.text == "!~*")) {
        val p = prevIdx(ts, i)
        val keywordBefore = p >= 0 && ts(p).kind == Word &&
          Set("SELECT", "WHERE", "AND", "OR", "NOT", "ON", "WHEN", "THEN",
            "ELSE", "BY", "HAVING", "CASE", "RETURNING", "SET", "LIKE", "IN")
            .contains(ts(p).text.toUpperCase)
        val isBinary = p >= 0 && !keywordBefore && (ts(p).kind == Word || ts(p).kind == QIdent ||
          ts(p).kind == Str || ts(p).kind == Num || ts(p).is(")"))
        if (isBinary) {
          val ci = t.text.endsWith("*")
          val neg = t.text.startsWith("!")
          ts(i) = Tok(Word, if (neg) "NOT RLIKE" else "RLIKE")
          if (ci) {
            val rhs = nextIdx(ts, i)
            if (rhs >= 0 && ts(rhs).kind == Str) {
              val lit = ts(rhs).text
              ts(rhs) = Tok(Str, "'(?i)" + lit.substring(1))
            } else if (rhs >= 0) {
              // non-literal pattern: wrap following primary in concat
              ts.insert(rhs, Tok(Word, "concat('(?i)', "))
              var end = rhs + 1
              if (ts(end).is("(")) end = matchParen(ts, end)
              ts.insert(end + 1, Tok(Word, ")"))
            }
          }
        }
      }
      i += 1
    }
  }

  /** pg JSON field access `expr -> 'key'` / `expr ->> 'key'` →
    * `get_json_object(expr, '$.key')`. Only fires when the right side
    * is a STRING literal: Spark lambda arrows (`x -> x + 1`) share the
    * token and must pass through untouched, and the string-key form is
    * what clients (Metabase/Grafana JSON fields) actually emit. Chains
    * (`a->'b'->>'c'`) nest naturally because the rewritten call ends in
    * `)`, a valid left side for the next arrow.
    */
  /** Walk back from `p` (the last token of a value expression) to its
    * first token: through a closing paren to the matching open +
    * callee name, or through a qualified  word (. word)*  chain. */
  /** Clause keywords that can directly precede a parenthesized value
    * expression — `WHERE (x) < y`, `WHEN (x) …` — and must NOT be
    * absorbed as if they were the function name of a call: wrapping
    * from the keyword would emit `enum_ord('t', WHERE (x))`-shaped
    * SQL. Function-named words (left, right, values-as-fn…) are not
    * clause positions and stay absorbable.
    */
  private val lhsClauseKeywords = Set(
    "select", "where", "and", "or", "not", "when", "then", "else", "on",
    "having", "from", "join", "by", "group", "order", "union", "intersect",
    "except", "limit", "offset", "as", "in", "case", "exists", "between",
    "distinct", "returning", "values", "set")

  private def lhsStartOne(ts: ArrayBuffer[Tok], p: Int): Int = {
    if (ts(p).is(")")) {
      var depth = 1
      var j = p - 1
      while (j >= 0 && depth > 0) {
        if (ts(j).is(")")) depth += 1
        else if (ts(j).is("(")) depth -= 1
        if (depth > 0) j -= 1
      }
      val before = prevIdx(ts, j)
      if (before >= 0 && ts(before).kind == Word &&
        !lhsClauseKeywords.contains(ts(before).text.toLowerCase)) before else j
    } else {
      var j = p
      var cont = true
      while (cont) {
        val dot = prevIdx(ts, j)
        val w = if (dot >= 0 && ts(dot).is(".")) prevIdx(ts, dot) else -1
        if (w >= 0 && (ts(w).kind == Word || ts(w).kind == QIdent)) { j = w }
        else cont = false
      }
      j
    }
  }

  /** Start of the value expression ending at `p`, absorbing `::type`
    * casts: for `'{"a":1}'::jsonb @> …` the lhs is the WHOLE cast, not
    * the bare type word the operator happens to touch (the sweep-4
    * regression: operators after a cast wrapped only `jsonb`). */
  private def lhsStart(ts: ArrayBuffer[Tok], p: Int): Int = {
    var start = lhsStartOne(ts, p)
    var before = prevIdx(ts, start)
    while (before >= 0 && ts(before).is("::") && {
      val operand = prevIdx(ts, before)
      operand >= 0 && isValueEnd(ts(operand))
    }) {
      start = lhsStartOne(ts, prevIdx(ts, before))
      before = prevIdx(ts, start)
    }
    start
  }

  private def isValueEnd(t: Tok): Boolean =
    t.kind == Word || t.kind == QIdent || t.kind == Str || t.is(")") || t.is("]")

  /** End index of the value starting at `s`: a call or ARRAY[..]
    * extends to its close; trailing `::type[[]]` casts are absorbed. */
  private def valueEnd(ts: ArrayBuffer[Tok], s: Int): Int = {
    var e = s
    if (ts(s).kind == Word) {
      val nxt = nextIdx(ts, s)
      if (nxt >= 0 && ts(nxt).is("(")) {
        val c = matchParen(ts, nxt); if (c > 0) e = c
      } else if (nxt >= 0 && ts(nxt).is("[")) {
        var depth = 0; var j = nxt; var close = -1
        while (j < ts.length && close < 0) {
          if (ts(j).is("[")) depth += 1
          else if (ts(j).is("]")) { depth -= 1; if (depth == 0) close = j }
          j += 1
        }
        if (close > 0) e = close
      }
    }
    castsEnd(ts, e)
  }

  /** End of the value ending at `e0` with its trailing `::type` casts. */
  private def castsEnd(ts: ArrayBuffer[Tok], e0: Int): Int = {
    var e = e0
    var c = nextIdx(ts, e)
    while (c >= 0 && ts(c).is("::")) {
      val t = nextIdx(ts, c)
      if (t >= 0 && ts(t).kind == Word) {
        e = t
        val b1 = nextIdx(ts, t)
        if (b1 >= 0 && ts(b1).is("[")) {
          val b2 = nextIdx(ts, b1)
          if (b2 >= 0 && ts(b2).is("]")) e = b2
        } else if (b1 >= 0 && ts(b1).is("(")) {
          val pc = matchParen(ts, b1); if (pc > 0) e = pc
        }
        c = nextIdx(ts, e)
      } else c = -1
    }
    e
  }

  /** Range type names (pg §8.17): `::<sub>range` casts and prefixed
    * literals lower to their `<sub>range_in` parsers. */
  private[pgwire] val rangeTypeNames = Set(
    "int4range", "int8range", "numrange", "daterange", "tsrange", "tstzrange")

  /** Operator spellings Spark's parser rejects → one fixed call each,
    * whatever the operands:
    *  - those of one pg type family, its function: the range-only `-|-`
    *    `&<` `&>`, the inet-only `<<=` `>>=`, and the pg_trgm-only `<%`
    *    `%>` `<<%` `%>>` `<<->` `<->>` (pg has no other meaning for
    *    them, so two bare literals resolve too: live-pg sweep-30; the
    *    boolean trigram calls are pg_trgm's own support functions, which
    *    [[PgSemantics]] compares against the session's thresholds);
    *  - `<->`, which is trigram distance over text and the phrase
    *    operator over tsqueries: trgm_sim_dist, which PgSemantics
    *    retypes over tsquery operands.
    * The overloaded spellings Spark parses (`@>`, `&&`, `<<`, `+`, `<`,
    * `%`, `||`, …) dispatch on operand type in PgSemantics. */
  private val familyOnlyOps = Map(
    "-|-" -> "range_adjacent", "&<" -> "range_not_extright",
    "&>" -> "range_not_extleft",
    "<<=" -> "inet_contained_eq", ">>=" -> "inet_contains_eq",
    "<%" -> "word_similarity_op", "%>" -> "word_similarity_commutator_op",
    "<<%" -> "strict_word_similarity_op",
    "%>>" -> "strict_word_similarity_commutator_op",
    "<<->" -> "trgm_word_dist", "<->>" -> "trgm_word_dist_c",
    "<->" -> "trgm_sim_dist")

  private def rewriteFamilyOnlyOps(ts: ArrayBuffer[Tok]): Unit = {
    var i = 0
    while (i < ts.length) {
      val t = ts(i)
      if (t.kind == Op && familyOnlyOps.contains(t.text)) {
        val p = prevIdx(ts, i)
        val rhs = nextIdx(ts, i)
        if (p >= 0 && rhs >= 0 && (isValueEnd(ts(p)) || ts(p).kind == Num)) {
          val end =
            if (ts(rhs).is("(")) { val c = matchParen(ts, rhs); if (c > 0) castsEnd(ts, c) else -1 }
            else valueEnd(ts, rhs)
          if (end > 0) {
            val start = lhsStart(ts, p)
            ts.insert(end + 1, Tok(Op, ")"))
            ts(i) = Tok(Op, ",")
            ts.insertAll(start, Seq(Tok(Word, familyOnlyOps(t.text)), Tok(Op, "(")))
          }
        }
      }
      i += 1
    }
  }

  /** `text(x)` is pg's function-style cast (Spark has no `text`
    * function) → `CAST(x AS STRING)`.
    */
  private def rewriteTextCalls(ts: ArrayBuffer[Tok]): Unit = {
    var i = 0
    while (i < ts.length) {
      if (ts(i).isWord("text")) {
        val open = nextIdx(ts, i)
        val p = prevIdx(ts, i)
        val close = if (open >= 0 && ts(open).is("(")) matchParen(ts, open) else -1
        if (close > 0 && !(p >= 0 && (ts(p).is("::") || ts(p).is(".")))) {
          ts.insertAll(close, Seq(Tok(Ws, " "), Tok(Word, "AS"), Tok(Ws, " "), Tok(Word, "STRING")))
          ts(i) = Tok(Word, "CAST")
        }
      }
      i += 1
    }
  }

  /** Text-search spellings with no Spark reading: pg's `!!` prefix
    * (tsquery negation — pg 15 has no other `!!`), and the
    * `setweight`/`ts_delete` overloads that differ only in an
    * `ARRAY[…]` argument's shape.
    */
  private def rewriteTsAccessors(ts: ArrayBuffer[Tok]): Unit = {
    var i = 0
    while (i < ts.length) {
      val t = ts(i)
      // `!!x` → tsquery_not(x)
      if (t.kind == Op && t.text == "!" && {
        val n = nextIdx(ts, i); n >= 0 && ts(n).kind == Op && ts(n).text == "!"
      }) {
        val bang2 = nextIdx(ts, i)
        val arg = nextIdx(ts, bang2)
        if (arg >= 0 && (ts(arg).kind == Str || ts(arg).kind == Word)) {
          var end = arg
          if (ts(end).kind == Word) {
            val nxt = nextIdx(ts, end)
            if (nxt >= 0 && ts(nxt).is("(")) {
              val close = matchParen(ts, nxt); if (close > 0) end = close
            }
          }
          var castOp = nextIdx(ts, end)
          while (castOp >= 0 && ts(castOp).is("::") && {
            val ty = nextIdx(ts, castOp); ty >= 0 && ts(ty).kind == Word
          }) { end = nextIdx(ts, castOp); castOp = nextIdx(ts, end) }
          ts.insert(end + 1, Tok(Op, ")"))
          ts.remove(i, bang2 - i + 1)
          ts.insertAll(i, Seq(Tok(Word, "tsquery_not"), Tok(Op, "(")))
        }
      }
      // setweight(v, w, ARRAY[...]): the 3-arg text[]-literal form is
      // handled by setweight3 (brace text); the ARRAY spelling needs
      // the Seq-typed variant
      if (t.kind == Word && t.isWord("setweight")) {
        val open = nextIdx(ts, i)
        if (open >= 0 && ts(open).is("(")) {
          val close = matchParen(ts, open)
          var depth = 0
          var j = open + 1
          val commas = scala.collection.mutable.ArrayBuffer.empty[Int]
          while (j < close) {
            if (ts(j).is("(") || ts(j).is("[")) depth += 1
            else if (ts(j).is(")") || ts(j).is("]")) depth -= 1
            else if (depth == 0 && ts(j).is(",")) commas += j
            j += 1
          }
          if (commas.length == 2) {
            val arg3 = nextIdx(ts, commas(1))
            if (arg3 > 0 && ts(arg3).kind == Word && ts(arg3).isWord("array"))
              ts(i) = Tok(Word, "setweight3_arr")
          }
        }
      }
      if (t.kind == Word && t.isWord("ts_delete")) {
        // the 2-arg overloads differ only in the second ARGUMENT shape
        // (lexeme text vs text[]): dispatch on a syntactic ARRAY
        val open = nextIdx(ts, i)
        if (open >= 0 && ts(open).is("(")) {
          val close = matchParen(ts, open)
          var depth = 0
          var j = open + 1
          var comma = -1
          while (j < close && comma < 0) {
            if (ts(j).is("(") || ts(j).is("[")) depth += 1
            else if (ts(j).is(")") || ts(j).is("]")) depth -= 1
            else if (depth == 0 && ts(j).is(",")) comma = j
            j += 1
          }
          val arg2 = if (comma > 0) nextIdx(ts, comma) else -1
          if (arg2 > 0 && ts(arg2).kind == Word && ts(arg2).isWord("array"))
            ts(i) = Tok(Word, "ts_delete_arr")
        }
      }
      i += 1
    }
  }

  private def rewriteJsonOps(ts: ArrayBuffer[Tok]): Unit = {
    var i = 0
    while (i < ts.length) {
      val t = ts(i)
      if (t.kind == Op && (t.text == "@>" || t.text == "<@" || t.text == "?" ||
        t.text == "#-" || t.text == "@?" || t.text == "@@" || t.text == "&&" ||
        t.text == "?|" || t.text == "?&")) {
        // containment / key-exists / path-delete: wrap both operands
        // in the dispatching function (pg_contains covers anyarray @>
        // anyarray AND jsonb @> jsonb; `?` is jsonb_exists; `#-` is
        // jsonb_delete_path, whose rhs may be ARRAY[..] or '{a,b}')
        val rhs = nextIdx(ts, i)
        val p = prevIdx(ts, i)
        // `@>`/`<@` additionally take a bare NUMBER operand: pg's
        // range-vs-element containment (`r @> 3`, `3 <@ r`) — the
        // analyzer retypes pg_contains by operand type (PgSemantics),
        // and range_contains resolves element-ness by shape
        val elemOk = t.text == "@>" || t.text == "<@"
        if (rhs >= 0 && p >= 0 &&
          (isValueEnd(ts(p)) || (elemOk && ts(p).kind == Num)) &&
          (ts(rhs).kind == Str || ts(rhs).kind == Word ||
            ts(rhs).kind == QIdent || (elemOk && ts(rhs).kind == Num))) {
          val start = lhsStart(ts, p)
          val fn = t.text match {
            case "@>" => "pg_contains"
            case "<@" => "pg_contained"
            case "#-" => "jsonb_delete_path"
            case "@?" => "jsonb_path_exists"
            case "@@" => "jsonb_path_match"
            case "&&" => "arrays_overlap" // pg array overlap operator
            case "?|" => "jsonb_exists_any"
            case "?&" => "jsonb_exists_all"
            case _ => "jsonb_exists"
          }
          var opIdx = i
          var rhs2 = rhs
          if (opIdx - 1 >= 0 && ts(opIdx - 1).kind == Ws) {
            ts.remove(opIdx - 1); opIdx -= 1; rhs2 -= 1
          }
          // a Word rhs may be a call or ARRAY[..] constructor — extend
          // to the matching close so the whole value is wrapped
          if (ts(rhs2).kind == Word) {
            val nxt = nextIdx(ts, rhs2)
            if (nxt >= 0 && ts(nxt).is("(")) {
              val close = matchParen(ts, nxt)
              if (close > 0) rhs2 = close
            } else if (nxt >= 0 && ts(nxt).is("[")) {
              var depth = 0
              var j = nxt
              var close = -1
              while (j < ts.length && close < 0) {
                if (ts(j).is("[")) depth += 1
                else if (ts(j).is("]")) { depth -= 1; if (depth == 0) close = j }
                j += 1
              }
              if (close > 0) rhs2 = close
            }
          }
          // absorb trailing ::type casts on the rhs — without this
          // `a @> b::jsonb` wraps only `b`, leaving `::jsonb` dangling
          // OUTSIDE the inserted ')' so the cast pass later wrapped the
          // whole pg_contains call (sweep-4 finding)
          var castOp = nextIdx(ts, rhs2)
          while (castOp >= 0 && ts(castOp).is("::") && {
            val ty = nextIdx(ts, castOp)
            ty >= 0 && ts(ty).kind == Word
          }) {
            rhs2 = nextIdx(ts, castOp)
            val b1 = nextIdx(ts, rhs2)
            if (b1 >= 0 && ts(b1).is("(")) {
              val b2 = matchParen(ts, b1); if (b2 > 0) rhs2 = b2
            } else if (b1 >= 0 && ts(b1).is("[")) {
              val b2 = nextIdx(ts, b1)
              if (b2 >= 0 && ts(b2).is("]")) rhs2 = b2
            }
            castOp = nextIdx(ts, rhs2)
          }
          ts.insert(rhs2 + 1, Tok(Op, ")"))
          ts(opIdx) = Tok(Op, ",")
          ts.insertAll(start, Seq(Tok(Word, fn), Tok(Op, "(")))
          i = start
        }
      } else if (t.kind == Op && (t.text == "->" || t.text == "->>" ||
        t.text == "#>" || t.text == "#>>")) {
        // pg-exact extraction: `->`/`#>` keep the json form (strings
        // stay quoted), `->>`/`#>>` unquote — json_extract_path vs
        // json_extract_path_text, which also handle integer subscripts
        // (negative counts from the end) like pg. This replaced the
        // earlier get_json_object mapping, which conflated the two
        // operator families (both returned unquoted text).
        val rhs = nextIdx(ts, i)
        val p = prevIdx(ts, i)
        // rhs: 'key' | '{a,b,0}' (path ops) | 0 | -1 (array subscript)
        val negNum = rhs >= 0 && ts(rhs).kind == Op && ts(rhs).text == "-" && {
          val n2 = nextIdx(ts, rhs); n2 >= 0 && ts(n2).kind == Num
        }
        val rhsOk = rhs >= 0 && (ts(rhs).kind == Str ||
          (!t.text.startsWith("#") && (ts(rhs).kind == Num || negNum)))
        if (rhsOk && p >= 0 && isValueEnd(ts(p))) {
          val start = lhsStart(ts, p)
          var r = rhs
          if (ts(i - 1).kind == Ws) { ts.remove(i - 1); i -= 1; r -= 1 }
          // the json variant; PgSemantics upgrades it over a jsonb
          // operand
          val fn =
            if (t.text.endsWith(">>")) "json_extract_path_text" else "json_extract_path"
          def lit(e: String): String = "'" + e.replace("'", "''") + "'"
          val (args, endIdx) =
            if (ts(r).kind == Num) (lit(ts(r).text), r)
            else if (negNum) {
              val n2 = nextIdx(ts, r)
              (lit("-" + ts(n2).text), n2)
            } else {
              val key = ts(r).text.substring(1, ts(r).text.length - 1).replace("''", "'")
              if (t.text.startsWith("#")) {
                val body = key.trim.stripPrefix("{").stripSuffix("}")
                val els =
                  if (body.trim.isEmpty) Seq.empty
                  else body.split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq
                (els.map(lit).mkString(", "), r)
              } else (lit(key), r)
            }
          ts.remove(r, endIdx - r + 1)
          ts.insert(r, Tok(Word, args))
          // `#> '{}'` has no path elements: emit fn(target) (pg
          // returns the whole document)
          ts(i) = if (args.nonEmpty) Tok(Op, ",") else Tok(Word, " ")
          ts.insert(r + 1, Tok(Op, ")"))
          ts.insertAll(start, Seq(Tok(Word, fn), Tok(Op, "(")))
          i = start // rescan from the wrapped call
        }
      }
      i += 1
    }
  }

  /** `LIMIT n::bigint` → `LIMIT n` — postgres_fdw's remote SQL casts
    * every LIMIT to bigint, and Spark requires an INT limit literal. */
  private def rewriteLimitCast(ts: ArrayBuffer[Tok]): Unit = {
    var i = 0
    while (i < ts.length) {
      if (ts(i).isWord("LIMIT")) {
        val n = nextIdx(ts, i)
        if (n >= 0 && ts(n).kind == Num) {
          val c = nextIdx(ts, n)
          if (c >= 0 && ts(c).is("::")) {
            val t = nextIdx(ts, c)
            if (t >= 0 && ts(t).kind == Word) ts.remove(c, t - c + 1)
          }
        }
      }
      i += 1
    }
  }

  /** Map pg type names after `::` and inside CAST(... AS t). Handles
    * `[]` suffix → ARRAY<t> (reference PgOidTypePlanner analogue).
    */
  private def rewriteCastTypes(ts: ArrayBuffer[Tok], enumTypes: Set[String]): Unit = {
    var i = 0
    while (i < ts.length) {
      if (ts(i).is("::")) {
        val t = nextIdx(ts, i)
        val p = prevIdx(ts, i)
        // '...'::bytea must go through pg's bytea input parser
        // ('\x…' hex / octal escapes) — Spark's STRING->BINARY cast
        // would take the literal's UTF-8 bytes instead
        if (t >= 0 && ts(t).kind == Word &&
          ts(t).text.equalsIgnoreCase("bytea") && p >= 0 && ts(p).kind == Str) {
          val lit = ts(p)
          ts.remove(p, t - p + 1)
          ts.insertAll(p,
            Seq(Tok(Word, "pg_to_bytea"), Tok(Op, "("), lit, Tok(Op, ")")))
          i = p + 3
        } else if (t >= 0 && ts(t).kind == Word && p >= 0 &&
          (ts(t).text.equalsIgnoreCase("json") || ts(t).text.equalsIgnoreCase("jsonb")) && {
            val b = nextIdx(ts, t); !(b >= 0 && ts(b).is("["))
          }) {
          // `expr::jsonb` → pg_jsonb(expr): validates + normalizes to
          // the jsonb canonical form. `expr::json` → pg_json(expr):
          // validates but preserves the ORIGINAL text — pg's json type
          // stores the source bytes verbatim (sweep-28). Both mark the
          // value json-typed so json_build_* embeds it raw instead of
          // re-quoting (pg's json-argument behavior).
          val fn =
            if (ts(t).text.equalsIgnoreCase("jsonb")) "pg_jsonb" else "pg_json"
          var start = primaryStart(ts, p)
          // absorb a chained cast on the left: a::text::json starts at a
          var pb = prevIdx(ts, start)
          while (pb >= 0 && ts(pb).is("::") && prevIdx(ts, pb) >= 0) {
            start = primaryStart(ts, prevIdx(ts, pb))
            pb = prevIdx(ts, start)
          }
          ts.remove(i, t - i + 1)
          ts.insert(p + 1, Tok(Op, ")"))
          ts.insertAll(start, Seq(Tok(Word, fn), Tok(Op, "(")))
          i = p + 3
        } else if (t >= 0 && ts(t).kind == Word &&
          (ts(t).text.equalsIgnoreCase("numeric") || ts(t).text.equalsIgnoreCase("decimal")) &&
          p >= 0 && ts(p).kind == Num && {
            val b = nextIdx(ts, t); !(b >= 0 && (ts(b).is("(") || ts(b).is("[")))
          }) {
          // `1.50::numeric` — pg numeric is arbitrary-precision and
          // KEEPS the literal's scale (renders 1.50). Spark's bare
          // DECIMAL is (10,0) and would round to 2. A fractional
          // literal keeps its own DecimalType(p,s) by dropping the
          // cast; an INTEGER literal must stay decimal-typed (sweep
          // #9: dropping it made `2::numeric / 3` INT division = 0,
          // a wrong answer) — the `BD` literal suffix pins
          // DecimalType without changing the value. (Non-literal
          // operands fall to the decimal(38,18) mapping, the
          // documented deviation class; division scale follows
          // Spark's decimal rules, not pg's, also documented.)
          if (!ts(p).text.contains('.') && !ts(p).text.toLowerCase.contains('e'))
            ts(p) = Tok(Num, ts(p).text + "BD")
          ts.remove(i, t - i + 1)
          i -= 1
        } else if (t >= 0 && ts(t).isWord("time") && p >= 0 && {
            // `::time` (TIME pseudo-type, SURVEY §1: LongType nanos
            // tagged pg.type=time) — but NOT `::time with time zone`
            // (timetz, out of scope) and NOT `::time[]`
            val n1 = nextIdx(ts, t)
            !(n1 >= 0 && (ts(n1).isWord("with") || ts(n1).is("[")))
          }) {
          // expr::time → pg_time_in(expr); absorb an optional `(p)`
          // precision and a `without time zone` spelling
          val end = timeTypeEnd(ts, t)
          // absorb a chained cast on the left: x::timestamp::time
          // wraps the WHOLE x::timestamp (the jsonb-branch pattern)
          var start = primaryStart(ts, p)
          var pb = prevIdx(ts, start)
          while (pb >= 0 && ts(pb).is("::") && prevIdx(ts, pb) >= 0) {
            start = primaryStart(ts, prevIdx(ts, pb))
            pb = prevIdx(ts, start)
          }
          ts.remove(i, end - i + 1)
          ts.insert(p + 1, Tok(Op, ")"))
          ts.insertAll(start, Seq(Tok(Word, "pg_time_in"), Tok(Op, "(")))
          i = p + 3
        } else if (t >= 0 && ts(t).isWord("geometry") && p >= 0 && {
            val n1 = nextIdx(ts, t); !(n1 >= 0 && ts(n1).is("["))
          }) {
          // `expr::geometry` (SURVEY §2a#9 geo surface) → the pg
          // geometry input function: WKT, EWKT, or hex [E]WKB
          var start = primaryStart(ts, p)
          var pb = prevIdx(ts, start)
          while (pb >= 0 && ts(pb).is("::") && prevIdx(ts, pb) >= 0) {
            start = primaryStart(ts, prevIdx(ts, pb))
            pb = prevIdx(ts, start)
          }
          ts.remove(i, t - i + 1)
          ts.insert(p + 1, Tok(Op, ")"))
          ts.insertAll(start, Seq(Tok(Word, "st_geometry_in"), Tok(Op, "(")))
          i = p + 3
        } else if (t >= 0 && ts(t).kind == Word && p >= 0 &&
          enumTypes.contains(ts(t).text.toLowerCase)) {
          // `expr::<enumtype>` → label validation against the
          // session's enum registry (pg 22P02 on unknown labels)
          val tyName = ts(t).text.toLowerCase
          var start = primaryStart(ts, p)
          var pb = prevIdx(ts, start)
          while (pb >= 0 && ts(pb).is("::") && prevIdx(ts, pb) >= 0) {
            start = primaryStart(ts, prevIdx(ts, pb))
            pb = prevIdx(ts, start)
          }
          ts.remove(i, t - i + 1)
          ts.insert(p + 1, Tok(Op, ")"))
          ts.insertAll(start, Seq(Tok(Word, "enum_in"), Tok(Op, "("),
            Tok(Str, s"'$tyName'"), Tok(Op, ",")))
          i = p + 5
        } else if (t >= 0 && ts(t).kind == Word && p >= 0 && {
          val tn = ts(t).text.toLowerCase
          rangeTypeNames.contains(tn) || tn == "tsvector" || tn == "tsquery" ||
            tn == "inet" || tn == "cidr" || tn == "macaddr" || tn == "macaddr8" ||
            tn == "xml" || tn == "money"
        }) {
          // `expr::<sub>range` / `::tsvector` / `::tsquery` → the
          // type's input/canonicalization function
          val fn = ts(t).text.toLowerCase + "_in"
          var start = primaryStart(ts, p)
          var pb = prevIdx(ts, start)
          while (pb >= 0 && ts(pb).is("::") && prevIdx(ts, pb) >= 0) {
            start = primaryStart(ts, prevIdx(ts, pb))
            pb = prevIdx(ts, start)
          }
          ts.remove(i, t - i + 1)
          ts.insert(p + 1, Tok(Op, ")"))
          ts.insertAll(start, Seq(Tok(Word, fn), Tok(Op, "(")))
          i = p + 3
        } else if (t >= 0 && ts(t).kind == Word && p >= 0 && {
            val tn = ts(t).text.toLowerCase
            val hasParen = { val b = nextIdx(ts, t); b >= 0 && ts(b).is("(") }
            ((tn == "char" || tn == "character" || tn == "bpchar" ||
              tn == "varchar") && hasParen) ||
              // bare `char`/`character` is pg char(1) — `'abc'::char`
              // yields 'a' (bare `bpchar` stays UNLIMITED, no length)
              (!hasParen && (tn == "char" || tn == "character"))
          }) {
          // pg length-typed character casts (sweep #7): `x::char(n)`
          // blank-pads AND truncates to n (bpchar semantics → rpad,
          // which does both); `x::varchar(n)` truncates only →
          // substr. Spark's CAST AS CHAR(n) is schema-only. Documented
          // deviation: char(n) comparisons here are pad-SENSITIVE
          // (pg ignores trailing blanks when comparing two bpchars).
          val tn = ts(t).text.toLowerCase
          val open = nextIdx(ts, t)
          val hasParen = open >= 0 && ts(open).is("(")
          val close = if (hasParen) matchParen(ts, open) else -1
          val nTok = if (hasParen) nextIdx(ts, open) else -1
          val n0 = if (nTok >= 0 && ts(nTok).kind == Num) Some(ts(nTok).text)
            else if (!hasParen) Some("1") // bare char/character → char(1)
            else None
          n0 match {
            case Some(n) =>
              var start = primaryStart(ts, p)
              var pb = prevIdx(ts, start)
              while (pb >= 0 && ts(pb).is("::") && prevIdx(ts, pb) >= 0) {
                start = primaryStart(ts, prevIdx(ts, pb))
                pb = prevIdx(ts, start)
              }
              val callee = if (tn == "varchar") "substr(CAST(" else "rpad(CAST("
              val tail = if (tn == "varchar") s" AS STRING), 1, $n)" else s" AS STRING), $n)"
              val last = if (hasParen) close else t
              ts.remove(i, last - i + 1)
              ts.insert(p + 1, Tok(Word, tail))
              ts.insert(start, Tok(Word, callee))
              i = p + 2
            case None => mapTypeAt(ts, t)
          }
        } else if (t >= 0 && ts(t).kind == Word) {
          // pg bool input accepts on/off, which Spark's cast rejects
          if ((ts(t).text.equalsIgnoreCase("boolean") ||
            ts(t).text.equalsIgnoreCase("bool")) && p >= 0 && ts(p).kind == Str) {
            val body = ts(p).text.drop(1).dropRight(1).trim.toLowerCase
            if (body == "on") ts(p) = Tok(Str, "'true'")
            else if (body == "off") ts(p) = Tok(Str, "'false'")
          }
          mapTypeAt(ts, t)
        }
      } else if (ts(i).isWord("TIME") && {
          // `TIME '12:34'` literal syntax → pg_time_in('12:34').
          // `AT TIME ZONE` / `SET TIME ZONE` are safe: their next
          // token is the word ZONE, not a string literal.
          val n = nextIdx(ts, i)
          val pv = prevIdx(ts, i)
          n >= 0 && ts(n).kind == Str && !(pv >= 0 && ts(pv).is("::"))
        }) {
        val n = nextIdx(ts, i)
        val lit = ts(n)
        ts.remove(i, n - i + 1)
        ts.insertAll(i,
          Seq(Tok(Word, "pg_time_in"), Tok(Op, "("), lit, Tok(Op, ")")))
        i += 3
      } else if (ts(i).isWord("CAST")) {
        val open = nextIdx(ts, i)
        if (open >= 0 && ts(open).is("(")) {
          val close = matchParen(ts, open)
          if (close > 0) {
            // find top-level AS inside
            var j = open + 1; var depth = 0
            while (j < close) {
              if (ts(j).is("(")) depth += 1
              else if (ts(j).is(")")) depth -= 1
              else if (depth == 0 && ts(j).isWord("AS")) {
                val t = nextIdx(ts, j)
                if (t >= 0 && t < close && ts(t).isWord("time") && {
                  val n1 = nextIdx(ts, t)
                  !(n1 >= 0 && n1 < close && (ts(n1).isWord("with") || ts(n1).is("[")))
                }) {
                  // CAST(expr AS time) → pg_time_in(expr): drop
                  // `AS time[(p)][without time zone]`, rename CAST
                  ts.remove(j, timeTypeEnd(ts, t) - j + 1)
                  ts(i) = Tok(Word, "pg_time_in")
                  j = close
                } else if (t >= 0 && t < close && ts(t).kind == Word) {
                  // CAST('off' AS boolean): pg bool input accepts
                  // on/off — rewrite the literal for Spark's cast
                  if (ts(t).text.equalsIgnoreCase("boolean") ||
                    ts(t).text.equalsIgnoreCase("bool")) {
                    val lit = nextIdx(ts, open)
                    if (lit >= 0 && ts(lit).kind == Str && nextIdx(ts, lit) == j) {
                      val body = ts(lit).text.drop(1).dropRight(1).trim.toLowerCase
                      if (body == "on") ts(lit) = Tok(Str, "'true'")
                      else if (body == "off") ts(lit) = Tok(Str, "'false'")
                    }
                  }
                  mapTypeAt(ts, t)
                }
                j = close
              }
              j += 1
            }
          }
        }
      }
      i += 1
    }
  }

  private val xmlProducerFns = Set("pg_xml_tag", "xml_in", "xmlcomment",
    "pg_xmlpi", "pg_xml_forest_item")

  private def sliceText(ts: ArrayBuffer[Tok], a: Int, b: Int): String =
    ts.slice(a, b + 1).map(_.text).mkString

  private def topCommas(ts: ArrayBuffer[Tok], open: Int, close: Int): Seq[Int] = {
    var depth = 0
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    var j = open + 1
    while (j < close) {
      if (ts(j).is("(") || ts(j).is("[")) depth += 1
      else if (ts(j).is(")") || ts(j).is("]")) depth -= 1
      else if (depth == 0 && ts(j).is(",")) out += j
      j += 1
    }
    out.toSeq
  }

  /** pg XML construction syntax (§9.15) → the engine functions.
    * Processes the LAST construct first on each iteration so nested
    * xmlelement/xmlforest arguments are already lowered when the
    * enclosing call is rebuilt as a composite token. Runs AFTER the
    * cast pass, so `::xml` is already `xml_in(…)` and the raw-vs-
    * escape decision keys off the producer function names — pg's
    * type-directed embedding, resolved syntactically.
    */
  private def rewriteXmlConstructs(ts: ArrayBuffer[Tok]): Unit = {
    if (!ts.exists(t => t.kind == Word && {
      val l = t.text.toLowerCase
      l.startsWith("xml") || l == "document"
    })) return

    def isXmlishSlice(a: Int, b: Int): Boolean = {
      var i = a
      while (i <= b) {
        if (ts(i).kind == Word) {
          val l = ts(i).text.toLowerCase
          if (xmlProducerFns.contains(l) || l == "xmlconcat" ||
            xmlProducerFns.exists(f => l.startsWith(f + "("))) return true
        }
        i += 1
      }
      false
    }

    def argRanges(open: Int, close: Int): Seq[(Int, Int)] = {
      val commas = topCommas(ts, open, close)
      val bounds = (open +: commas) :+ close
      bounds.sliding(2).map { case Seq(a, b) =>
        (nextIdx(ts, a), {
          var e = b - 1
          while (e > a && ts(e).kind == Ws) e -= 1
          e
        })
      }.toSeq.filter(r => r._1 >= 0 && r._1 <= r._2)
    }

    /** attribute / forest `expr AS name` split: last top-level AS. */
    def splitAs(a: Int, b: Int): Option[(Int, Int, String)] = {
      var depth = 0
      var asIdx = -1
      var j = a
      while (j <= b) {
        if (ts(j).is("(")) depth += 1
        else if (ts(j).is(")")) depth -= 1
        else if (depth == 0 && ts(j).isWord("as")) asIdx = j
        j += 1
      }
      if (asIdx < 0) None
      else {
        val nm = nextIdx(ts, asIdx)
        if (nm < 0 || nm > b) None
        else {
          var e = asIdx - 1
          while (e > a && ts(e).kind == Ws) e -= 1
          val name = if (ts(nm).kind == QIdent)
            ts(nm).text.substring(1, ts(nm).text.length - 1) else ts(nm).text
          Some((a, e, name))
        }
      }
    }

    var changed = true
    while (changed) {
      changed = false
      // last construct first
      var i = ts.length - 1
      var handled = false
      while (i >= 0 && !handled) {
        val t = ts(i)
        val lower = if (t.kind == Word) t.text.toLowerCase else ""
        if (lower == "xmlelement" || lower == "xmlforest" || lower == "xmlconcat" ||
          lower == "xmlpi" || lower == "xmlroot" || lower == "xmlserialize" ||
          lower == "xmlagg") {
          val open = nextIdx(ts, i)
          if (open >= 0 && ts(open).is("(")) {
            val close = matchParen(ts, open)
            if (close > 0) {
              val args = argRanges(open, close)
              val repl: Option[String] = lower match {
                case "xmlelement" if args.nonEmpty &&
                  ts(args.head._1).isWord("name") =>
                  val tagTok = nextIdx(ts, args.head._1)
                  val tag = if (ts(tagTok).kind == QIdent)
                    ts(tagTok).text.substring(1, ts(tagTok).text.length - 1)
                  else ts(tagTok).text.toLowerCase
                  var attrs = "''"
                  var rest = args.tail
                  if (rest.nonEmpty && ts(rest.head._1).isWord("xmlattributes")) {
                    val aOpen = nextIdx(ts, rest.head._1)
                    val aClose = matchParen(ts, aOpen)
                    val pieces = argRanges(aOpen, aClose).flatMap { case (a, b) =>
                      splitAs(a, b).map { case (ea, eb, nm) =>
                        s"pg_xml_attr('$nm', CAST(${sliceText(ts, ea, eb)} AS STRING))"
                      }
                    }
                    attrs = if (pieces.isEmpty) "''"
                      else s"concat(${pieces.mkString(", ")})"
                    rest = rest.tail
                  }
                  val content = rest.map { case (a, b) =>
                    if (isXmlishSlice(a, b)) sliceText(ts, a, b)
                    else s"pg_xml_escape(CAST(${sliceText(ts, a, b)} AS STRING))"
                  }
                  val body = if (content.isEmpty) "''"
                    else s"concat_ws('', ${content.mkString(", ")})"
                  Some(s"pg_xml_tag('$tag', $attrs, $body)")
                case "xmlforest" =>
                  val pieces = args.flatMap { case (a, b) =>
                    splitAs(a, b).map { case (ea, eb, nm) =>
                      s"pg_xml_forest_item('$nm', CAST(${sliceText(ts, ea, eb)} AS STRING))"
                    }
                  }
                  if (pieces.isEmpty) None
                  else Some(s"concat_ws('', ${pieces.mkString(", ")})")
                case "xmlconcat" =>
                  Some(s"concat_ws('', ${args.map { case (a, b) => sliceText(ts, a, b) }.mkString(", ")})")
                case "xmlpi" if args.nonEmpty && ts(args.head._1).isWord("name") =>
                  val nmTok = nextIdx(ts, args.head._1)
                  val nm = ts(nmTok).text
                  val content = args.tail.headOption
                    .map { case (a, b) => sliceText(ts, a, b) }.getOrElse("''")
                  Some(s"pg_xmlpi('$nm', $content)")
                case "xmlroot" if args.nonEmpty =>
                  Some(s"(${sliceText(ts, args.head._1, args.head._2)})")
                case "xmlserialize" if args.nonEmpty =>
                  // CONTENT|DOCUMENT expr AS type → the expr
                  val (a0, b0) = args.head
                  var a = a0
                  if (ts(a).isWord("content") || ts(a).isWord("document"))
                    a = nextIdx(ts, a)
                  splitAs(a, b0) match {
                    case Some((ea, eb, _)) => Some(s"(${sliceText(ts, ea, eb)})")
                    case None => Some(s"(${sliceText(ts, a, b0)})")
                  }
                case "xmlagg" if args.nonEmpty =>
                  Some(s"array_join(collect_list(${sliceText(ts, args.head._1, args.head._2)}), '')")
                case _ => None
              }
              repl.foreach { text =>
                ts.remove(i, close - i + 1)
                ts.insert(i, Tok(Word, text))
                changed = true
                handled = true
              }
            }
          }
        }
        i -= 1
      }
    }
    // `expr IS [NOT] DOCUMENT`
    var j = 0
    while (j < ts.length) {
      if (ts(j).isWord("is")) {
        val n1 = nextIdx(ts, j)
        val neg = n1 >= 0 && ts(n1).isWord("not")
        val d = if (neg) nextIdx(ts, n1) else n1
        val p = prevIdx(ts, j)
        if (d >= 0 && ts(d).isWord("document") && p >= 0 && isValueEnd(ts(p))) {
          val start = lhsStart(ts, p)
          ts.remove(j, d - j + 1)
          ts.insert(p + 1, Tok(Op, ")"))
          ts.insertAll(start, Seq(
            Tok(Word, (if (neg) "NOT " else "") + "pg_xml_is_document"), Tok(Op, "(")))
        }
      }
      j += 1
    }
  }

  /** pg implicitly converts an untyped string literal to bytea via
    * the bytea input parser when it's passed to a bytea-taking
    * function — `encode('123\000\001', 'base64')` reads the octal
    * escapes. Wrap FIRST-argument string literals of the bytea
    * functions in pg_to_bytea so the same bytes arrive. (Typed
    * binary columns pass through untouched.) */
  private val byteaArgFns = Set("encode", "get_byte", "set_byte", "get_bit",
    "set_bit", "crc32", "crc32c", "convert_from", "convert", "bit_count")
  private def wrapByteaLiteralArgs(ts: ArrayBuffer[Tok]): Unit = {
    var i = 0
    while (i < ts.length) {
      val t = ts(i)
      if (t.kind == Word && byteaArgFns.contains(t.text.toLowerCase)) {
        val open = nextIdx(ts, i)
        if (open >= 0 && ts(open).is("(")) {
          val a = nextIdx(ts, open)
          if (a >= 0 && ts(a).kind == Str) {
            val lit = ts(a)
            ts.remove(a)
            ts.insertAll(a,
              Seq(Tok(Word, "pg_to_bytea"), Tok(Op, "("), lit, Tok(Op, ")")))
            i = a + 3
          }
        }
      }
      i += 1
    }
  }

  /** Collapse two-word ANSI type spellings into pg's one-word names so
    * every downstream cast/DDL branch sees the canonical form:
    * `double precision` → float8, `character varying` → varchar,
    * `bit varying` → varbit. In valid SQL these word adjacencies only
    * occur as type names (cast targets, DDL column types, record
    * definitions). Runs first in the pipeline, before the bit-string
    * and cast-type passes that dispatch on the one-word names.
    */
  private def collapseAnsiTypeSpellings(ts: ArrayBuffer[Tok]): Unit = {
    var i = 0
    while (i < ts.length) {
      if (ts(i).kind == Word) {
        val w = ts(i).text.toLowerCase
        if (w == "double" || w == "character" || w == "bit") {
          val n = nextIdx(ts, i)
          if (n >= 0 && ts(n).kind == Word) {
            val nw = ts(n).text.toLowerCase
            if (w == "double" && nw == "precision") {
              ts.remove(n); ts(i) = Tok(Word, "float8")
            } else if (w == "character" && nw == "varying") {
              ts.remove(n); ts(i) = Tok(Word, "varchar")
            } else if (w == "bit" && nw == "varying") {
              ts.remove(n); ts(i) = Tok(Word, "varbit")
            }
          }
        }
      }
      i += 1
    }
  }

  private def mapTypeAt(ts: ArrayBuffer[Tok], t: Int): Unit = {
    val raw0 = ts(t).text.toLowerCase
    // pg timestamp spellings: `timestamp[(p)] [with|without time zone]`.
    // Drop the precision (pg rounds to p fractional digits; the engine
    // keeps micros — documented deviation) and resolve the tz suffix
    // into the canonical one-word form BEFORE the name map, so plain
    // `timestamp` → TIMESTAMP_NTZ and `with time zone` → TimestampType.
    if ((raw0 == "timestamp" || raw0 == "timestamptz") ) {
      val b1 = nextIdx(ts, t)
      if (b1 >= 0 && ts(b1).is("(")) {
        val nTok = nextIdx(ts, b1)
        val b2 = if (nTok >= 0) nextIdx(ts, nTok) else -1
        if (nTok >= 0 && ts(nTok).kind == Num && b2 >= 0 && ts(b2).is(")"))
          ts.remove(b1, b2 - b1 + 1)
      }
      if (raw0 == "timestamp") {
        val w1 = nextIdx(ts, t)
        if (w1 >= 0 && (ts(w1).isWord("with") || ts(w1).isWord("without"))) {
          val w2 = nextIdx(ts, w1)
          val w3 = if (w2 >= 0) nextIdx(ts, w2) else -1
          if (w2 >= 0 && ts(w2).isWord("time") && w3 >= 0 && ts(w3).isWord("zone")) {
            val ltz = ts(w1).isWord("with")
            ts.remove(w1, w3 - w1 + 1)
            ts(t) = Tok(Word, if (ltz) "timestamptz" else "timestamp")
          }
        }
      }
    }
    // bare `character` at a type position is pg bpchar (char(1));
    // the two-word spellings are collapsed pipeline-wide by
    // collapseAnsiTypeSpellings
    if (raw0 == "character") ts(t) = Tok(Word, "bpchar")
    val raw = ts(t).text.toLowerCase
    val (base, fromUnderscore) =
      if (raw.startsWith("_")) (raw.substring(1), true) else (raw, false)
    typeNameMap.get(base).foreach { mapped =>
      // precision suffix (n) or (p,s) kept verbatim for varchar/decimal
      val b1 = nextIdx(ts, t)
      val hasBrackets = !fromUnderscore && b1 >= 0 && ts(b1).is("[") && {
        val b2 = nextIdx(ts, b1); b2 >= 0 && ts(b2).is("]")
      }
      if (fromUnderscore || hasBrackets) {
        val elem = if (mapped == "decimal") "decimal(38,18)" else mapped
        if (hasBrackets) {
          val b2 = nextIdx(ts, b1)
          ts.remove(t, b2 - t + 1)
        } else ts.remove(t)
        ts.insert(t, Tok(Word, s"ARRAY<$elem>"))
      } else if (mapped == "decimal" && !(b1 >= 0 && ts(b1).is("("))) {
        // bare `numeric` (no precision): Spark's bare DECIMAL is
        // (10,0), which destroys fractional digits — use the engine's
        // documented wide default instead
        ts(t) = Tok(Word, "decimal(38,18)")
      } else if (mapped == "varchar" && !(b1 >= 0 && ts(b1).is("("))) {
        // bare `varchar` (no length) is unlimited in pg; Spark's
        // VARCHAR requires a length parameter → plain string
        ts(t) = Tok(Word, "string")
      } else ts(t) = Tok(Word, mapped)
    }
  }

  /** Bare session variables → function calls (only when NOT followed
    * by '(' — `current_schema()` stays a call and is renamed below).
    */
  private def rewriteBareVars(ts: ArrayBuffer[Tok]): Unit = {
    var i = 0
    while (i < ts.length) {
      if (ts(i).kind == Word) {
        bareVarMap.get(ts(i).text.toLowerCase).foreach { repl =>
          val nx = nextIdx(ts, i)
          val pv = prevIdx(ts, i)
          val followedByParen = nx >= 0 && ts(nx).is("(")
          val qualified = pv >= 0 && ts(pv).is(".")
          // SELECT-list occurrences get an alias so the output column
          // keeps the pg name; elsewhere (WHERE x = current_user) the
          // bare call substitutes in place.
          // alias only a WHOLE select item (next token ends it) — a
          // bare var inside a larger expression must not grow an alias
          val itemEnd = nx < 0 || ts(nx).is(",") || ts(nx).isWord("FROM")
          val inSelectList = pv >= 0 && (ts(pv).isWord("SELECT") || ts(pv).is(",")) &&
            itemEnd
          if (!followedByParen && !qualified)
            // backtick the alias: some pg bare vars (localtimestamp)
            // are reserved words in Spark's parser
            ts(i) = Tok(Word,
              if (inSelectList) repl + " AS `" + ts(i).text + "`" else repl)
          else if (followedByParen && !qualified) {
            // current_schema() / current_database() style calls
            val name = ts(i).text.toLowerCase
            val renamed = name match {
              case "current_schema" => "pg_current_schema"
              case "current_catalog" => "pg_current_database"
              case _ => name
            }
            if (renamed != name) ts(i) = Tok(Word, renamed)
          }
        }
      }
      i += 1
    }
  }

  /** `SELECT version()` must expose column name `version` (clients
    * check it; reference FixVersionColumnName, rules.rs:1195-1260).
    */
  private def aliasVersionCall(ts: ArrayBuffer[Tok]): Unit = {
    var i = 0
    while (i < ts.length) {
      if (ts(i).isWord("version")) {
        val pv = prevIdx(ts, i)
        val inSelectList = pv >= 0 && (ts(pv).isWord("SELECT") || ts(pv).is(","))
        val open = nextIdx(ts, i)
        if (inSelectList && open >= 0 && ts(open).is("(")) {
          val close = matchParen(ts, open)
          if (close > 0) {
            val after = nextIdx(ts, close)
            val aliased = after >= 0 && (ts(after).isWord("AS") ||
              (ts(after).kind == Word && !ts(after).isWord("FROM") &&
                !ts(after).isWord("WHERE") && !ts(after).isWord("UNION")))
            if (!aliased || after < 0) ts.insert(close + 1, Tok(Word, " AS version"))
          }
        }
      }
      i += 1
    }
  }

  /** Statement splitter: semicolon-separated, quote/comment-aware. */
  /** Split a simple-query packet into statements at top-level `;`,
    * returning RAW substrings of the input. This must NOT round-trip
    * through tokenize+render: tokenize doubles backslashes inside
    * plain string literals (the pg standard-conforming-strings
    * adaptation applied once per [[rewrite]]), so a render-then-rewrite
    * statement would double them twice — `LIKE 'st\_%'` arrived at the
    * engine as `st\\\\_%` and matched nothing (caught by the round-11
    * geo pg_proc probe). The scanner tracks quotes/comments/dollar
    * quotes only to find true statement boundaries.
    */
  /** Character position of a top-level keyword (outside quotes,
    * comments, dollar-quotes, and parentheses) in RAW statement text,
    * or -1. Used by the INSERT…RETURNING splitter — same raw-scan
    * rationale as [[splitStatements]].
    */
  def topLevelKeywordPos(sql: String, keyword: String): Int = {
    val n = sql.length
    var i = 0
    var depth = 0
    def peek(k: Int): Char = if (i + k < n) sql.charAt(i + k) else ' '
    def wordBoundaryBefore: Boolean =
      i == 0 || { val p = sql.charAt(i - 1); !(p.isLetterOrDigit || p == '_') }
    while (i < n) {
      val c = sql.charAt(i)
      if (c == '-' && peek(1) == '-') {
        i += 2; while (i < n && sql.charAt(i) != '\n') i += 1
      } else if (c == '/' && peek(1) == '*') {
        i += 2
        var d = 1
        while (i < n && d > 0) {
          if (sql.charAt(i) == '*' && peek(1) == '/') { d -= 1; i += 2 }
          else if (sql.charAt(i) == '/' && peek(1) == '*') { d += 1; i += 2 }
          else i += 1
        }
      } else if (c == '\'' ||
        ((c == 'E' || c == 'e') && peek(1) == '\'' && wordBoundaryBefore)) {
        val escaped = c != '\''
        if (escaped) i += 1
        i += 1
        var done = false
        while (i < n && !done) {
          val ch = sql.charAt(i)
          if (escaped && ch == '\\') i += 2
          else if (ch == '\'' && peek(1) == '\'') i += 2
          else if (ch == '\'') { i += 1; done = true }
          else i += 1
        }
      } else if (c == '"') {
        i += 1; while (i < n && sql.charAt(i) != '"') i += 1
        i = math.min(i + 1, n)
      } else if (c == '$' && peek(1) == '$') {
        val close = sql.indexOf("$$", i + 2)
        i = if (close < 0) n else close + 2
      } else if (c == '(') { depth += 1; i += 1 }
      else if (c == ')') { depth -= 1; i += 1 }
      else if (depth == 0 && wordBoundaryBefore &&
        sql.regionMatches(true, i, keyword, 0, keyword.length) && {
          val after = i + keyword.length
          after >= n || { val a = sql.charAt(after); !(a.isLetterOrDigit || a == '_') }
        }) return i
      else i += 1
    }
    -1
  }

  def splitStatements(sql: String): Seq[String] = {
    val out = ArrayBuffer.empty[String]
    val n = sql.length
    var start = 0
    var i = 0
    def peek(k: Int): Char = if (i + k < n) sql.charAt(i + k) else '\u0000'
    def wordBoundaryBefore: Boolean =
      i == 0 || { val p = sql.charAt(i - 1); !(p.isLetterOrDigit || p == '_') }
    while (i < n) {
      val c = sql.charAt(i)
      if (c == '-' && peek(1) == '-') {
        i += 2; while (i < n && sql.charAt(i) != '\n') i += 1
      } else if (c == '/' && peek(1) == '*') {
        i += 2
        var depth = 1
        while (i < n && depth > 0) {
          if (sql.charAt(i) == '*' && peek(1) == '/') { depth -= 1; i += 2 }
          else if (sql.charAt(i) == '/' && peek(1) == '*') { depth += 1; i += 2 }
          else i += 1
        }
      } else if (c == '\'' ||
        ((c == 'E' || c == 'e') && peek(1) == '\'' && wordBoundaryBefore)) {
        val escaped = c != '\''
        if (escaped) i += 1
        i += 1
        var done = false
        while (i < n && !done) {
          val ch = sql.charAt(i)
          if (escaped && ch == '\\') i += 2
          else if (ch == '\'' && peek(1) == '\'') i += 2
          else if (ch == '\'') { i += 1; done = true }
          else i += 1
        }
      } else if (c == '"') {
        i += 1; while (i < n && sql.charAt(i) != '"') i += 1
        i = math.min(i + 1, n)
      } else if (c == '$' && peek(1) == '$') {
        val close = sql.indexOf("$$", i + 2)
        i = if (close < 0) n else close + 2
      } else if (c == ';') {
        out += sql.substring(start, i); i += 1; start = i
      } else i += 1
    }
    if (start < n) out += sql.substring(start)
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }
}
