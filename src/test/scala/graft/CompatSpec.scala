package graft

import graft.pgwire.{Compat, Handlers, PgCatalog, PgFunctions}

/** Unit tests for the pg→Spark SQL compat rewriter (mirrors the
  * reference's rule tests in datafusion-pg-catalog/src/sql/rules.rs).
  * Function names resolve in the session registry (`PgNames`), not in
  * the rewrite, so those pins read the wire path's answer.
  */
class CompatSpec extends SparkSpec {

  override def beforeAll(): Unit = {
    super.beforeAll()
    PgFunctions.registerAll(spark)
    PgCatalog.registerAll(spark)
  }

  /** The first row of `sql` through the wire path, `|`-joined. */
  private def wire(sql: String): String =
    Handlers.runSql(spark, sql).collect().head.toSeq.map {
      case s: scala.collection.Seq[_] => s.mkString("{", ",", "}")
      case v => String.valueOf(v)
    }.mkString("|")

  test("regex operators rewrite to RLIKE forms") {
    assert(Compat.rewrite("SELECT * FROM t WHERE name ~ '^pg_'") ===
      "SELECT * FROM t WHERE name RLIKE '^pg_'")
    assert(Compat.rewrite("SELECT * FROM t WHERE name !~ '^pg_'") ===
      "SELECT * FROM t WHERE name NOT RLIKE '^pg_'")
    assert(Compat.rewrite("SELECT * FROM t WHERE name ~* 'abc'") ===
      "SELECT * FROM t WHERE name RLIKE '(?i)abc'")
    assert(Compat.rewrite("SELECT * FROM t WHERE name !~* 'abc'") ===
      "SELECT * FROM t WHERE name NOT RLIKE '(?i)abc'")
  }

  test("prefix ~ (bitwise NOT) is left alone") {
    assert(Compat.rewrite("SELECT ~ 5") === "SELECT ~ 5")
  }

  test("OPERATOR(pg_catalog.~) collapses to the operator") {
    assert(Compat.rewrite("SELECT 'a' OPERATOR(pg_catalog.~) 'b'") ===
      "SELECT 'a' RLIKE 'b'")
  }

  test("= ANY(array) becomes array_contains") {
    assert(Compat.rewrite("SELECT * FROM t WHERE x = ANY(arr)") ===
      "SELECT * FROM t WHERE array_contains(arr, x)")
    assert(Compat.rewrite("SELECT * FROM t WHERE t.x = ANY(t.arr)") ===
      "SELECT * FROM t WHERE array_contains(t.arr, t.x)")
  }

  test("<> ALL(array) becomes NOT array_contains") {
    assert(Compat.rewrite("SELECT * FROM t WHERE x <> ALL(arr)") ===
      "SELECT * FROM t WHERE NOT array_contains(arr, x)")
  }

  test("= ANY over a '{...}' literal builds the array literal") {
    val out = Compat.rewrite("SELECT * FROM t WHERE x = ANY('{a,b}')")
    assert(out === "SELECT * FROM t WHERE array_contains(CAST(ARRAY('a','b') AS ARRAY<string>), x)")
  }

  test("'{...}'::type[] literal becomes a typed array") {
    assert(Compat.rewrite("SELECT '{1,2,3}'::int4[]") ===
      "SELECT CAST(ARRAY('1','2','3') AS ARRAY<int>)")
    assert(Compat.rewrite("SELECT '{a,NULL,\"c,d\"}'::text[]") ===
      "SELECT CAST(ARRAY('a',NULL,'c,d') AS ARRAY<string>)")
  }

  test("pg type names map in :: casts") {
    assert(Compat.rewrite("SELECT x::int8 FROM t") === "SELECT x::bigint FROM t")
    assert(Compat.rewrite("SELECT x::text FROM t") === "SELECT x::string FROM t")
    assert(Compat.rewrite("SELECT CAST(x AS int2) FROM t") ===
      "SELECT CAST(x AS smallint) FROM t")
    // alias position must NOT be touched
    assert(Compat.rewrite("SELECT x AS text FROM t") === "SELECT x AS text FROM t")
  }

  test("::regclass on a name literal becomes a pg_class lookup") {
    val out = Compat.rewrite("SELECT 'lineitem'::regclass")
    assert(out.contains("FROM pg_class WHERE relname = 'lineitem'"))
    assert(Compat.rewrite("SELECT '16384'::regclass") === "SELECT CAST(16384 AS INT)")
  }

  test("pg_catalog qualifier is stripped") {
    assert(Compat.rewrite("SELECT * FROM pg_catalog.pg_class") ===
      "SELECT * FROM pg_class")
    assert(Compat.rewrite("SELECT pg_catalog.format_type(25, NULL)") ===
      "SELECT format_type(25, NULL)")
  }

  test("public schema qualifier and FDW LIMIT casts (postgres_fdw remote SQL)") {
    // postgres_fdw always schema-qualifies and bigint-casts its LIMIT
    assert(Compat.rewrite("SELECT n_name FROM public.nation") ===
      "SELECT n_name FROM nation")
    assert(Compat.rewrite("SELECT * FROM \"public\".\"nation\" LIMIT 3::bigint") ===
      "SELECT * FROM `nation` LIMIT 3")
    assert(Compat.rewrite(
      "SELECT count(*) FROM public.events ORDER BY 1 LIMIT 2::bigint") ===
      "SELECT count(*) FROM events ORDER BY 1 LIMIT 2")
    // a string literal 'public' is untouched
    assert(Compat.rewrite("SELECT 'public'") === "SELECT 'public'")
  }

  test("COLLATE clauses are dropped") {
    assert(Compat.rewrite("SELECT a FROM t ORDER BY a COLLATE pg_catalog.default") ===
      "SELECT a FROM t ORDER BY a")
    assert(Compat.rewrite("SELECT a COLLATE \"C\" FROM t") === "SELECT a FROM t")
  }

  test("bare session variables become function calls") {
    // aliases are backticked (localtimestamp is reserved in Spark)
    assert(Compat.rewrite("SELECT current_user") ===
      "SELECT current_user() AS `current_user`")
    assert(Compat.rewrite("SELECT current_catalog") ===
      "SELECT pg_current_database() AS `current_catalog`")
    assert(Compat.rewrite("SELECT localtimestamp") ===
      "SELECT localtimestamp() AS `localtimestamp`")
    // a bare var inside a larger select item gets NO alias
    assert(Compat.rewrite("SELECT localtimestamp <= localtimestamp") ===
      "SELECT localtimestamp() <= localtimestamp()")
    assert(Compat.rewrite("SELECT current_schema()") ===
      "SELECT pg_current_schema()")
    // WHERE position gets no alias
    assert(Compat.rewrite("SELECT 1 WHERE 'postgres' = session_user") ===
      "SELECT 1 WHERE 'postgres' = current_user()")
  }

  test("current_database() is renamed to the UDF") {
    assert(wire("SELECT current_database()") === "postgres")
  }

  test("version() gets its pg column name") {
    assert(Compat.rewrite("SELECT version()") === "SELECT version() AS version")
    // already aliased: untouched
    assert(Compat.rewrite("SELECT version() AS v") === "SELECT version() AS v")
  }

  test("E'...' strings fold to plain strings") {
    assert(Compat.rewrite("SELECT E'a'") === "SELECT 'a'")
  }

  test("statement splitter is quote- and comment-aware") {
    assert(Compat.splitStatements("SELECT 1; SELECT 2") ===
      Seq("SELECT 1", "SELECT 2"))
    assert(Compat.splitStatements("SELECT 'a;b'; SELECT 2") ===
      Seq("SELECT 'a;b'", "SELECT 2"))
    assert(Compat.splitStatements("-- c;\nSELECT 1") === Seq("-- c;\nSELECT 1"))
    assert(Compat.splitStatements("  ;;  ") === Seq.empty)
  }

  test("round-11 grammar: slices, TABLESAMPLE, ARRAY(subquery), OFFSET/FETCH order") {
    // open-ended array slices
    assert(Compat.rewrite("SELECT (a)[2:]").contains("slice((a), 2, 1000000000)"))
    assert(Compat.rewrite("SELECT (a)[:2]").contains("slice((a), 1, 2)"))
    // TABLESAMPLE: method → PERCENT, relocated before a pg-side alias
    assert(Compat.rewrite("SELECT * FROM t TABLESAMPLE BERNOULLI(10)") ===
      "SELECT * FROM t TABLESAMPLE (10 PERCENT)")
    assert(Compat.rewrite("SELECT * FROM t x TABLESAMPLE SYSTEM(5)").trim ===
      "SELECT * FROM t TABLESAMPLE (5 PERCENT) x")
    // ARRAY(subquery) → scalar collect_list subquery
    assert(Compat.rewrite("SELECT ARRAY(SELECT x FROM t)") ===
      "SELECT (SELECT collect_list(__c) FROM(SELECT x FROM t) AS __asub(__c))")
    // SQL-standard OFFSET-then-FETCH reorders for Spark's parser
    val of = Compat.rewrite("SELECT * FROM t ORDER BY a OFFSET 2 ROWS FETCH NEXT 3 ROWS ONLY")
    assert(of.contains("LIMIT 3"), of)
    assert(of.indexOf("LIMIT 3") < of.indexOf("OFFSET 2"), of)
  }

  test("statement splitter returns RAW text — backslashes must not double") {
    // regression (round 11): tokenize+render splitting doubled literal
    // backslashes, and the subsequent rewrite doubled them AGAIN, so a
    // simple-query `LIKE 'st\_%'` reached the engine as st\\\\_% and
    // matched nothing; Compat.rewrite must see the client's raw bytes
    assert(Compat.splitStatements("""SELECT 'a\b'; SELECT 'c\_d'""") ===
      Seq("""SELECT 'a\b'""", """SELECT 'c\_d'"""))
    assert(Compat.splitStatements("""SELECT E'a;\'b'; SELECT 2""") ===
      Seq("""SELECT E'a;\'b'""", "SELECT 2"))
    assert(Compat.splitStatements("SELECT $$a;b$$; SELECT 2") ===
      Seq("SELECT $$a;b$$", "SELECT 2"))
    assert(Compat.splitStatements("/* x; */ SELECT 1; SELECT \"a;b\"") ===
      Seq("/* x; */ SELECT 1", "SELECT \"a;b\""))
    // CASE'x' must not be mistaken for an E-string (word boundary)
    assert(Compat.splitStatements("SELECT CASE'x;y' WHEN 'x;y' THEN 1 END; SELECT 2").length === 2)
  }

  test("multi-arity UDF calls are padded to the registered arity") {
    assert(wire("SELECT pg_get_expr('x', 1), pg_get_expr('x', 1, true)") === "|")
    assert(wire("SELECT has_table_privilege('t', 'SELECT')") === "true")
    assert(wire("SELECT pg_get_constraintdef(1)") === "")
  }

  test("parameter OIDs are inferred from $N::type casts") {
    assert(Compat.inferParamOids("SELECT $1::int8 + $2::int4 WHERE x = $3", 3) ===
      Seq(20, 23, 0))
    assert(Compat.inferParamOids("SELECT $1::text", 1) === Seq(25))
  }

  test("quoted function names unquote; quoted identifiers become backticks") {
    // (the unquoted name then resolves like any call — substring is
    // pg's, clamping a start before the string)
    assert(Compat.rewrite("""SELECT "substring"(x, 7) FROM t""") ===
      "SELECT substring(x, 7) FROM t")
    assert(wire("""SELECT "substring"('hello', -1, 3)""") === "h")
    assert(Compat.rewrite("""SELECT "c"."relname" AS "name" FROM "pg_catalog"."pg_class" AS "c"""") ===
      "SELECT `c`.`relname` AS `name` FROM `pg_class` AS `c`")
  }

  test("'pg_class'::regclass uses the fixed catalog OID, not a subquery") {
    assert(Compat.rewrite("SELECT 'pg_class'::regclass") === "SELECT CAST(1259 AS INT)")
    // user tables still go through the live catalog lookup
    assert(Compat.rewrite("SELECT 'lineitem'::regclass").contains("FROM pg_class WHERE relname"))
  }

  test("pg 1-based array subscripts shift to Spark's 0-based") {
    assert(Compat.rewrite("SELECT (pg_current_schemas(true))[1]") ===
      "SELECT (pg_current_schemas(true))[0]")
    assert(Compat.rewrite("SELECT arr[3] FROM t") === "SELECT arr[2] FROM t")
    // non-literal subscripts untouched
    assert(Compat.rewrite("SELECT arr[i] FROM t") === "SELECT arr[i] FROM t")
  }

  test("array_to_string / string_to_array map to Spark equivalents") {
    assert(wire("SELECT array_to_string(ARRAY['a', NULL, 'b'], ',')") === "a,b")
    assert(wire("SELECT string_to_array('a.b', '.')") === "{a,b}")
  }

  test("arrayLiteralSql builds a typed Spark array from pg text form") {
    assert(Compat.arrayLiteralSql("{1,2,3}", "int") ===
      "CAST(ARRAY('1','2','3') AS ARRAY<int>)")
  }

  test("blacklisted client queries get canned replacements") {
    val pgcli = "SELECT s_p.nspname AS parentschema, t_p.relname AS parenttable FROM pg_catalog.pg_constraint fk"
    assert(Compat.applyBlacklist(pgcli).isDefined)
    assert(Compat.applyBlacklist("SELECT 1").isEmpty)
  }

  test("JSON arrows rewrite to json_extract_path[_text]; lambdas untouched") {
    // `->>` unquotes (text form), `->` keeps the json form — the
    // pg-exact split the round-9 rewrite introduced (the earlier
    // get_json_object mapping conflated the two operator families)
    assert(Compat.rewrite("SELECT data ->> 'name' FROM t") ===
      "SELECT json_extract_path_text(data, 'name') FROM t")
    assert(Compat.rewrite("SELECT t.data -> 'a' FROM t") ===
      "SELECT json_extract_path(t.data, 'a') FROM t")
    // chained access nests
    assert(Compat.rewrite("SELECT data -> 'a' ->> 'b' FROM t") ===
      "SELECT json_extract_path_text(json_extract_path(data, 'a'), 'b') FROM t")
    // function-call left side
    assert(Compat.rewrite("SELECT to_json(s) ->> 'k' FROM t") ===
      "SELECT json_extract_path_text(to_json(s), 'k') FROM t")
    // integer subscript (array element, negative counts from the end)
    assert(Compat.rewrite("SELECT data -> 0 FROM t") ===
      "SELECT json_extract_path(data, '0') FROM t")
    assert(Compat.rewrite("SELECT data ->> -1 FROM t") ===
      "SELECT json_extract_path_text(data, '-1') FROM t")
    // path operators take the '{a,b}' form
    assert(Compat.rewrite("SELECT data #>> '{a,b}' FROM t") ===
      "SELECT json_extract_path_text(data, 'a', 'b') FROM t")
    // non-identifier key passes through as a single path element
    assert(Compat.rewrite("SELECT data ->> 'a b' FROM t") ===
      "SELECT json_extract_path_text(data, 'a b') FROM t")
    // Spark lambda arrows must survive verbatim
    assert(Compat.rewrite("SELECT transform(a, x -> x + 1) FROM t") ===
      "SELECT transform(a, x -> x + 1) FROM t")
    assert(Compat.rewrite("SELECT aggregate(a, 0, (acc, x) -> acc + x) FROM t") ===
      "SELECT aggregate(a, 0, (acc, x) -> acc + x) FROM t")
  }

  test("jsonpath operators @? / @@ and set-returning jsonb_path_query") {
    assert(Compat.rewrite("SELECT data @? '$.a[*] ? (@ > 2)' FROM t") ===
      "SELECT jsonb_path_exists(data, '$.a[*] ? (@ > 2)') FROM t")
    assert(Compat.rewrite("SELECT data @@ '$.a == 1' FROM t") ===
      "SELECT jsonb_path_match(data, '$.a == 1') FROM t")
    // set-returning form explodes the text[] of matches
    assert(Compat.rewrite("SELECT jsonb_path_query(data, '$.a[*]') FROM t") ===
      "SELECT explode(jsonb_path_query(data, '$.a[*]')) FROM t")
  }

  test("pg standard strings keep backslashes literally (doubled for Spark)") {
    // pg '...' holds backslashes literally; Spark's parser would eat
    // them, so the tokenizer doubles. Regex operators now carry their
    // patterns intact through ~ / !~ → rlike.
    assert(Compat.rewrite("""SELECT 'a\d+'""") === """SELECT 'a\\d+'""")
    assert(Compat.rewrite("""SELECT name FROM t WHERE name ~ '^\d{3}'""") ===
      """SELECT name FROM t WHERE name RLIKE '^\\d{3}'""")
    // E'...' bodies stay verbatim: Spark's escape set serves them
    assert(Compat.rewrite("""SELECT E'a\nb'""") === """SELECT 'a\nb'""")
    // dollar-quoted text is literal text
    assert(Compat.rewrite("""SELECT $$a\b$$""") === """SELECT 'a\\b'""")
    // SIMILAR TO translation interprets the pg bytes, then re-encodes:
    // \% is a literal percent, not a wildcard
    assert(Compat.rewrite("""SELECT x SIMILAR TO '10\%' FROM t""") ===
      """SELECT x RLIKE '^(?:10%)$' FROM t""")
  }

  test("EXTRACT(EPOCH) rewrite keeps Op parens balanced for later passes") {
    // Spark's parser reads EXTRACT(EPOCH FROM x) as extract('EPOCH', x);
    // the field resolves by the operand's type in the analyzer, and the
    // CAST type mapper around it still maps
    val out = Compat.rewrite("SELECT CAST(EXTRACT(EPOCH FROM ts) AS int8) FROM t")
    assert(out === "SELECT CAST(EXTRACT(EPOCH FROM ts) AS bigint) FROM t")
    assert(wire("SELECT CAST(EXTRACT(EPOCH FROM TIMESTAMP '2024-03-07 00:00:00') AS int8)") ===
      "1709769600")
    // same through a SIMILAR TO pass appended after the epoch rewrite
    val out2 = Compat.rewrite(
      "SELECT 1 FROM t WHERE EXTRACT(EPOCH FROM ts) > 0 AND name SIMILAR TO 'a%'")
    assert(out2.contains("RLIKE"), out2)
  }

  test("TIME pseudo-type spellings rewrite to pg_time_in") {
    assert(Compat.rewrite("SELECT '12:34'::time") === "SELECT pg_time_in('12:34')")
    assert(Compat.rewrite("SELECT TIME '12:34'") === "SELECT pg_time_in('12:34')")
    assert(Compat.rewrite("SELECT CAST(c AS time) FROM t").contains("pg_time_in(c"))
    // precision + without-time-zone spellings absorbed
    assert(Compat.rewrite("SELECT '12:34'::time(3)") === "SELECT pg_time_in('12:34')")
    assert(Compat.rewrite("SELECT '12:34'::time without time zone") ===
      "SELECT pg_time_in('12:34')")
    // chained cast wraps the whole left-hand cast (plain ::timestamp
    // maps to NTZ since round 11)
    assert(Compat.rewrite("SELECT ts::timestamp::time FROM t") ===
      "SELECT pg_time_in(ts::timestamp_ntz) FROM t")
    // AT TIME ZONE / SET TIME ZONE untouched by the literal rule
    val atz = Compat.rewrite("SELECT ts AT TIME ZONE 'UTC' FROM t")
    assert(!atz.contains("pg_time_in"), atz)
    // param cast infers OID 1083
    assert(Compat.inferParamOids("SELECT $1::time", 1) === Seq(1083))
  }

  test("row-locking clauses strip: FOR UPDATE/SHARE variants, OF list, wait policy") {
    assert(Compat.rewrite("SELECT a FROM t WHERE a = 1 FOR UPDATE") ===
      "SELECT a FROM t WHERE a = 1")
    assert(Compat.rewrite("SELECT a FROM t FOR UPDATE NOWAIT") === "SELECT a FROM t")
    assert(Compat.rewrite("SELECT a FROM t FOR UPDATE SKIP LOCKED") === "SELECT a FROM t")
    assert(Compat.rewrite("SELECT a FROM t FOR NO KEY UPDATE") === "SELECT a FROM t")
    assert(Compat.rewrite("SELECT a FROM t FOR KEY SHARE OF t, u NOWAIT") ===
      "SELECT a FROM t")
    assert(Compat.rewrite("SELECT a FROM t ORDER BY a LIMIT 1 FOR SHARE") ===
      "SELECT a FROM t ORDER BY a LIMIT 1")
    // substring's FOR is NOT a lock clause — its own rewrite consumes
    // it into the third argument, which must survive intact
    assert(Compat.rewrite("SELECT substring(x FROM 1 FOR 3) FROM t") ===
      "SELECT substring(x , 1 , 3) FROM t")
    assert(wire("SELECT substring('hello' FROM 0 FOR 3)") === "he")
  }

  test("multi-word ANSI type spellings collapse to one-word pg names") {
    def ws(s: String) =
      s.replaceAll("\\s+", " ").replace(" )", ")").replace("( ", "(")
    // double precision → float8 → Spark double, both cast syntaxes
    assert(ws(Compat.rewrite("SELECT x::double precision FROM t")) ===
      "SELECT x::double FROM t")
    assert(ws(Compat.rewrite("SELECT CAST(x AS double precision) FROM t")) ===
      "SELECT CAST(x AS double) FROM t")
    // character varying(n) gets the pg truncation semantics (substr),
    // exactly like the ::varchar(n) spelling
    val cv = Compat.rewrite("SELECT x::character varying(5) FROM t")
    assert(cv === Compat.rewrite("SELECT x::varchar(5) FROM t"), cv)
    assert(cv.contains("substr"), cv)
    // bare character varying (no length) is UNLIMITED in pg — maps to
    // plain string (Spark's bare VARCHAR demands a length, sweep-27)
    assert(ws(Compat.rewrite("SELECT CAST(x AS character varying) FROM t")) ===
      "SELECT CAST(x AS string) FROM t")
    // bare character is bpchar → string
    assert(ws(Compat.rewrite("SELECT CAST(x AS character) FROM t")) ===
      "SELECT CAST(x AS string) FROM t")
    // bit varying → varbit dispatches through the bit-string pass
    assert(ws(Compat.rewrite("SELECT b'101'::bit varying")).trim ===
      ws(Compat.rewrite("SELECT b'101'::varbit")).trim)
  }

  test("bare char/character casts truncate to char(1) like pg") {
    // pg: 'abc'::character is char(1) → 'a' (rpad pads AND truncates,
    // the ::char(n) convention pinned by sweep #7)
    val c1 = Compat.rewrite("SELECT 'abc'::character FROM t")
    assert(c1.contains("rpad") && c1.contains(" 1)"), c1)
    assert(Compat.rewrite("SELECT 'abc'::char FROM t").contains("rpad"))
    // length-modified character(n) takes the same rpad path as char(n)
    val c2 = Compat.rewrite("SELECT 'abc'::character(2) FROM t")
    assert(c2 === Compat.rewrite("SELECT 'abc'::char(2) FROM t"), c2)
    assert(c2.contains("rpad"), c2)
    // bare bpchar stays UNLIMITED (no truncation) — pg semantics
    assert(!Compat.rewrite("SELECT 'abc'::bpchar FROM t").contains("rpad"))
  }
}
