package graft

import org.apache.spark.sql.functions._

/** Engine-level vectors for the JSON pack (PgJsonExpressions) — the
  * expected strings follow the public PostgreSQL docs §9.16 examples,
  * restated in the engine's compact (jsonb-style) rendering.
  */
class PgJsonSpec extends SparkSpec {

  private def one(sql: String): String = {
    graft.pgwire.PgFunctions.registerAll(spark)
    spark.sql(s"SELECT $sql AS r").collect()(0).get(0) match {
      case null => null
      case s => s.toString
    }
  }

  test("json_build_object / json_build_array spacing per pg; row_to_json compact") {
    // pg spacing is per-function (live-pg-pinned): json_build_object
    // renders `"k" : v`, json_build_array `[1, 2]`, row_to_json compact
    assert(one("json_build_object('a', 1, 'b', 'x')") === """{"a" : 1, "b" : "x"}""")
    assert(one("json_build_object('k', NULL)") === """{"k" : null}""")
    assert(one("json_build_object()") === "{}")
    assert(one("json_build_array(1, 'a', NULL, true, 1.5)") === """[1, "a", null, true, 1.5]""")
    assert(one("json_build_array()") === "[]")
    assert(one("jsonb_build_object('id', 1, 'k', 2)") === """{"k": 2, "id": 1}""")
    assert(one("jsonb_build_array(1, 2)") === """[1, 2]""")
    assert(one("row_to_json(named_struct('i', 7, 's', 'hi', 'n', CAST(NULL AS INT)))") ===
      """{"i":7,"s":"hi","n":null}""")
    // nested spark-native structures render structurally
    assert(one("row_to_json(named_struct('a', array(1, 2), 's', named_struct('x', 'y')))") ===
      """{"a":[1,2],"s":{"x":"y"}}""")
    // string escaping: quotes, real newline (char 10), backslash
    assert(one("""json_build_object('q', concat('he said "hi"', char(10)))""") ===
      """{"q" : "he said \"hi\"\n"}""")
    assert(one("""json_build_object('p', 'a\\b')""") === """{"p" : "a\\b"}""")
    // date renders ISO-quoted
    assert(one("json_build_array(DATE '2026-08-13')") === """["2026-08-13"]""")
    // a json-producing argument embeds raw (pg: json-typed arg);
    // a plain string still quotes (pg: text arg without ::json)
    assert(one("json_build_object('a', json_build_object('b', 1))") ===
      """{"a" : {"b" : 1}}""")
    assert(one("json_build_array(json_build_array(1, 2), '[3]')") ===
      """[[1, 2], "[3]"]""")
    // the embedded jsonb value renders canonical (": " spacing) while
    // the outer json_build_object stays compact — per-function, like pg
    assert(one("json_build_object('a', jsonb_set('{\"x\":1}', array('x'), '2'))") ===
      """{"a" : {"x": 2}}""")
    // null key errors like pg
    val e = intercept[Exception](one("json_build_object(CAST(NULL AS STRING), 1)"))
    assert(e.getMessage.contains("cannot be null"))
  }

  test("json_extract_path / _text walk objects and arrays") {
    val j = """'{"a": {"b": [10, {"c": "deep"}]}, "s": "txt", "z": null}'"""
    assert(one(s"json_extract_path($j, 'a', 'b', '0')") === "10")
    assert(one(s"json_extract_path($j, 'a', 'b', '1', 'c')") === "\"deep\"")
    assert(one(s"json_extract_path_text($j, 'a', 'b', '1', 'c')") === "deep")
    assert(one(s"json_extract_path($j, 's')") === "\"txt\"")
    assert(one(s"json_extract_path_text($j, 's')") === "txt")
    // json mode keeps the json null; text mode maps it to SQL NULL
    assert(one(s"json_extract_path($j, 'z')") === "null")
    assert(one(s"json_extract_path_text($j, 'z')") === null)
    assert(one(s"json_extract_path($j, 'missing')") === null)
    assert(one(s"json_extract_path($j, 'a', 'b', '9')") === null)
    assert(one(s"json_extract_path($j, 'a', 'b', 'x')") === null)
    // jsonb_ aliases resolve
    assert(one(s"jsonb_extract_path_text($j, 's')") === "txt")
  }

  test("json_typeof over every type tag") {
    assert(one("json_typeof('{}')") === "object")
    assert(one("json_typeof('[1]')") === "array")
    assert(one("json_typeof('\"s\"')") === "string")
    assert(one("json_typeof('1.5')") === "number")
    assert(one("json_typeof('true')") === "boolean")
    assert(one("json_typeof('null')") === "null")
  }

  test("json_strip_nulls removes object fields, keeps array nulls") {
    assert(one("""json_strip_nulls('{"a":1,"b":null,"c":{"d":null,"e":2},"f":[null,1]}')""") ===
      """{"a":1,"c":{"e":2},"f":[null,1]}""")
  }

  test("json_array_elements[_text] as arrays; set-returning via Compat explode") {
    graft.pgwire.PgFunctions.registerAll(spark)
    val elems = spark.sql("""SELECT json_array_elements('[1, "a", {"x": 2}, null]') AS v""")
      .collect()(0).getSeq[String](0)
    assert(elems === Seq("1", "\"a\"", "{\"x\":2}", "null"))
    val rows = spark.sql(
      """SELECT explode(json_array_elements_text('["b", "a", null]')) AS v""")
      .collect().map(r => Option(r.getString(0)).orNull).toSeq
    assert(rows === Seq("b", "a", null))
    // the compat rewriter turns pg's set-returning call into explode
    val rewritten = graft.pgwire.Compat.rewrite(
      "SELECT json_array_elements_text(j) FROM t")
    assert(rewritten.contains("explode(json_array_elements_text"), rewritten)
    val r2 = graft.pgwire.Compat.rewrite("SELECT jsonb_object_keys(j) FROM t")
    assert(r2.contains("explode(json_object_keys"), r2)
    // scalar input errors like pg
    val e = intercept[Exception](one("json_array_elements('5')"))
    assert(e.getMessage.contains("cannot extract elements"), e.getMessage)
  }

  test("invalid json errors like pg") {
    val e = intercept[Exception](one("json_typeof('{nope')"))
    assert(e.getMessage.contains("invalid input syntax for type json"), e.getMessage)
  }

  test("to_jsonb renders scalars; json aggregates order and null-handle like pg") {
    assert(one("to_jsonb(5)") === "5")
    assert(one("to_jsonb('a \"b\"')") === "\"a \\\"b\\\"\"")
    assert(one("to_jsonb(CAST(NULL AS INT))") === null)
    graft.pgwire.PgFunctions.registerAll(spark)
    val rows = spark.sql(
      """SELECT k,
        |  ordered_json_agg(to_jsonb(v), v) AS ja,
        |  ordered_json_object_agg(v, to_jsonb(n)) AS jo
        |FROM VALUES ('g', 'b', 2), ('g', 'a', 1), ('h', 'z', NULL) AS t(k, v, n)
        |GROUP BY k ORDER BY k""".stripMargin).collect()
    assert(rows(0).getString(1) === """["a", "b"]""")
    assert(rows(0).getString(2) === """{ "a" : 1, "b" : 2 }""")
    // SQL NULL value aggregates as json null (pg json_agg behavior)
    assert(rows(1).getString(2) === """{ "z" : null }""")
  }

  test("generate_subscripts: dims, reverse, nested, and the explode rewrite") {
    graft.pgwire.PgFunctions.registerAll(spark)
    def arr(sql: String): Seq[Int] =
      spark.sql(s"SELECT $sql AS r").collect()(0).getSeq[Int](0)
    assert(arr("generate_subscripts(array('a','b','c'), 1)") === Seq(1, 2, 3))
    assert(arr("generate_subscripts(array('a','b','c'), 1, true)") === Seq(3, 2, 1))
    assert(arr("generate_subscripts(array(array(1,2),array(3,4),array(5,6)), 2)") ===
      Seq(1, 2))
    assert(arr("generate_subscripts(array('a'), 2)") === Seq.empty)
    assert(arr("generate_subscripts(CAST(NULL AS ARRAY<INT>), 1)") === Seq.empty)
    assert(graft.pgwire.Compat.rewrite("SELECT generate_subscripts(a, 1) FROM t")
      .contains("explode(generate_subscripts"))
  }

  test("jsonb containment and key-exists match pg §8.14.3") {
    // the pg doc's own containment examples, restated
    assert(one("""pg_contains('{"a":1,"b":2}', '{"a":1}')""") === "true")
    assert(one("""pg_contains('[1,2,3]', '[3,1]')""") === "true")
    assert(one("""pg_contains('[1,2,3]', '1')""") === "true") // top-level scalar exception
    assert(one("""pg_contains('{"a":[1,2]}', '{"a":1}')""") === "false") // not below top
    assert(one("""pg_contains('{"a":{"b":1,"c":2}}', '{"a":{"b":1}}')""") === "true")
    assert(one("""pg_contains('[[1,2]]', '[[1]]')""") === "true")
    assert(one("""pg_contains('{"a":1}', '{"a":2}')""") === "false")
    assert(one("""pg_contains('[1.0]', '[1]')""") === "true") // numeric equality
    // anyarray @> anyarray dispatch
    assert(one("pg_contains(array(1,2,3), array(3,1))") === "true")
    assert(one("pg_contains(array(1,2), array(4))") === "false")
    // jsonb_exists: object key / array element / string scalar
    assert(one("""jsonb_exists('{"a":1}', 'a')""") === "true")
    assert(one("""jsonb_exists('["a","b"]', 'b')""") === "true")
    assert(one("""jsonb_exists('"a"', 'a')""") === "true")
    assert(one("""jsonb_exists('{"a":1}', 'z')""") === "false")
    // operator rewrites: @> / <@ / ?
    assert(graft.pgwire.Compat.rewrite("SELECT a @> b FROM t") ===
      "SELECT pg_contains(a, b) FROM t")
    assert(graft.pgwire.Compat.rewrite("SELECT a <@ b FROM t") ===
      "SELECT pg_contained(a, b) FROM t")
    assert(graft.pgwire.Compat.rewrite("SELECT j ? 'k' FROM t") ===
      "SELECT jsonb_exists(j, 'k') FROM t")
    graft.pgwire.PgFunctions.registerAll(spark)
    val v = spark.sql(graft.pgwire.Compat.rewrite(
      """SELECT '{"k": [1, 2]}' @> '{"k": [2]}' AS r""")).collect()(0).getBoolean(0)
    assert(v)
  }

  test("jsonb_set: replace, create, negative index, strict nulls, pg errors") {
    // pg docs examples, compact rendering
    assert(one("""jsonb_set('[{"f1":1,"f2":null},2,null,3]', array('0','f1'), '[2,3,4]')""") === """[{"f1": [2, 3, 4], "f2": null}, 2, null, 3]""")
    assert(one("""jsonb_set('[{"f1":1,"f2":null},2]', array('0','f3'), '[2,3,4]')""") === """[{"f1": 1, "f2": null, "f3": [2, 3, 4]}, 2]""")
    // create_if_missing=false leaves the target unchanged
    assert(one("""jsonb_set('{"a":1}', array('b'), '2', false)""") === """{"a": 1}""")
    assert(one("""jsonb_set('{"a":1}', array('b'), '2', true)""") === """{"a": 1, "b": 2}""")
    // array index: in-range replaces, negative counts from end,
    // out-of-range appends (positive) / prepends (negative)
    assert(one("""jsonb_set('[1,2,3]', array('1'), '9')""") === "[1, 9, 3]")
    assert(one("""jsonb_set('[1,2,3]', array('-1'), '9')""") === "[1, 2, 9]")
    assert(one("""jsonb_set('[1,2,3]', array('7'), '9')""") === "[1, 2, 3, 9]")
    assert(one("""jsonb_set('[1,2,3]', array('-7'), '9')""") === "[9, 1, 2, 3]")
    // missing intermediate step → unchanged
    assert(one("""jsonb_set('{"a":1}', array('x','y'), '2')""") === """{"a": 1}""")
    // pg literal '{a,b}' path shape also accepted
    assert(one("""jsonb_set('{"a":{"b":1}}', '{a,b}', '5')""") === """{"a": {"b": 5}}""")
    // STRICT: SQL NULL new_value → SQL NULL (the documented footgun)
    assert(one("""jsonb_set('{"a":1}', array('a'), CAST(NULL AS STRING))""") === null)
    // scalar target errors
    val e = intercept[Exception](one("""jsonb_set('5', array('a'), '1')"""))
    assert(e.getMessage.contains("cannot set path in scalar"))
  }

  test("jsonb_insert: before/after, object new-key only") {
    assert(one("""jsonb_insert('{"a":[0,1,2]}', array('a','1'), '"new"')""") === """{"a": [0, "new", 1, 2]}""")
    assert(one("""jsonb_insert('{"a":[0,1,2]}', array('a','1'), '"new"', true)""") === """{"a": [0, 1, "new", 2]}""")
    assert(one("""jsonb_insert('[1,2]', array('-1'), '9')""") === "[1, 9, 2]")
    assert(one("""jsonb_insert('{"a":1}', array('b'), '2')""") === """{"a": 1, "b": 2}""")
    val e = intercept[Exception](one("""jsonb_insert('{"a":1}', array('a'), '2')"""))
    assert(e.getMessage.contains("cannot replace existing key"))
  }

  test("jsonb_delete / jsonb_delete_path and the #- operator") {
    assert(one("""jsonb_delete('{"a":1,"b":2}', 'a')""") === """{"b": 2}""")
    // array: ALL equal string elements go
    assert(one("""jsonb_delete('["a","b","a"]', 'a')""") === """["b"]""")
    // integer index, negative from end, out-of-range no-op
    assert(one("""jsonb_delete('[1,2,3]', 1)""") === "[1, 3]")
    assert(one("""jsonb_delete('[1,2,3]', -1)""") === "[1, 2]")
    assert(one("""jsonb_delete('[1,2,3]', 9)""") === "[1, 2, 3]")
    val e1 = intercept[Exception](one("""jsonb_delete('{"a":1}', 0)"""))
    assert(e1.getMessage.contains("integer index"))
    val e2 = intercept[Exception](one("""jsonb_delete('"x"', 'x')"""))
    assert(e2.getMessage.contains("cannot delete from scalar"))
    // path delete: pg doc example + missing path no-op
    assert(one("""jsonb_delete_path('["a",{"b":1,"c":2}]', array('1','b'))""") === """["a", {"c": 2}]""")
    assert(one("""jsonb_delete_path('{"a":1}', array('x','y'))""") === """{"a": 1}""")
    // the #- operator rewrites with both rhs shapes
    assert(graft.pgwire.Compat.rewrite("SELECT j #- '{1,b}' FROM t") ===
      "SELECT jsonb_delete_path(j, '{1,b}') FROM t")
    // the ARRAY[..] constructor is itself normalized by the array
    // rewrite pass, so the rhs lands as array('a','b')
    assert(graft.pgwire.Compat.rewrite("SELECT j #- ARRAY['a','b'] FROM t") ===
      "SELECT jsonb_delete_path(j, array('a','b')) FROM t")
    graft.pgwire.PgFunctions.registerAll(spark)
    val v = spark.sql(graft.pgwire.Compat.rewrite(
      """SELECT '{"a":{"b":1},"c":2}' #- '{a,b}' AS r""")).collect()(0).getString(0)
    assert(v === """{"a": {}, "c": 2}""")
  }

  test("jsonb_concat follows pg §9.45 shape rules") {
    assert(one("""jsonb_concat('{"a":1,"b":2}', '{"b":3,"c":4}')""") === """{"a": 1, "b": 3, "c": 4}""")
    assert(one("""jsonb_concat('[1,2]', '[3,4]')""") === "[1, 2, 3, 4]")
    assert(one("""jsonb_concat('[1,2]', '3')""") === "[1, 2, 3]")
    assert(one("""jsonb_concat('{"a":1}', '[2]')""") === """[{"a": 1}, 2]""")
    assert(one("""jsonb_concat('1', '2')""") === "[1, 2]")
  }

  test("jsonb_pretty prints the pg 4-space layout") {
    assert(one("""jsonb_pretty('{"a":1,"b":[1,2],"c":{"d":"x"}}')""") ===
      "{\n    \"a\": 1,\n    \"b\": [\n        1,\n        2\n    ],\n    " +
        "\"c\": {\n        \"d\": \"x\"\n    }\n}")
    assert(one("jsonb_pretty('{}')") === "{\n}")
    assert(one("jsonb_pretty('5')") === "5")
  }

  test("json_each[_text] deconstructs objects; Compat inlines the set form") {
    graft.pgwire.PgFunctions.registerAll(spark)
    val rows = spark.sql(
      """SELECT inline(json_each('{"a":"x","b":[1],"z":null}'))""").collect()
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("a", "\"x\""), ("b", "[1]"), ("z", "null")))
    val rowsT = spark.sql(
      """SELECT inline(json_each_text('{"a":"x","z":null}'))""").collect()
    assert(rowsT.map(r => (r.getString(0), Option(r.getString(1)).orNull)).toSeq ===
      Seq(("a", "x"), ("z", null)))
    assert(graft.pgwire.Compat.rewrite("SELECT json_each(j) FROM t")
      .contains("inline(json_each"))
    assert(graft.pgwire.Compat.rewrite("SELECT jsonb_each_text(j) FROM t")
      .contains("inline(jsonb_each_text"))
    val e = intercept[Exception](one("json_each('[1]')"))
    assert(e.getMessage.contains("cannot deconstruct"))
  }

  test("json_object builds from flat, pair, and two-array shapes") {
    // json_object spacing is `{"k" : "v", ...}` — live-pg-pinned
    // (sweep-28); the jsonb variant canonicalizes to `{"k": "v"}`
    assert(one("json_object(array('a','1','b','2'))") === """{"a" : "1", "b" : "2"}""")
    assert(one("json_object(array(array('a','1'),array('b','2')))") ===
      """{"a" : "1", "b" : "2"}""")
    assert(one("json_object(array('k','v'), array('a','b'))") ===
      """{"k" : "a", "v" : "b"}""")
    assert(one("json_object(array('a'), array(CAST(NULL AS STRING)))") ===
      """{"a" : null}""")
    val e = intercept[Exception](one("json_object(array('a','1','b'))"))
    assert(e.getMessage.contains("even number"))
    val e2 = intercept[Exception](one("json_object(array('a'), array('1','2'))"))
    assert(e2.getMessage.contains("mismatched array dimensions"))
  }

  test("#> and #>> path operators rewrite through Compat") {
    // round-9 retarget: json_extract_path[_text] (pg-exact `->` vs
    // `->>` split), each path element its own argument
    assert(graft.pgwire.Compat.rewrite("SELECT data #> '{a,b}' FROM t") ===
      "SELECT json_extract_path(data, 'a', 'b') FROM t")
    assert(graft.pgwire.Compat.rewrite("SELECT data #>> '{a,0,b c}' FROM t") ===
      "SELECT json_extract_path_text(data, 'a', '0', 'b c') FROM t")
    // end-to-end over a literal
    graft.pgwire.PgFunctions.registerAll(spark)
    val v = spark.sql(graft.pgwire.Compat.rewrite(
      """SELECT '{"a": [{"b": 7}]}' #> '{a,0,b}' AS r""")).collect()(0).getString(0)
    assert(v === "7")
  }

  test("jsonb_set_lax null_value_treatment modes (pg 15 pinned)") {
    assert(one("""jsonb_set_lax('{"a":1}', array('a'), CAST(NULL AS STRING))""") === """{"a": null}""")
    assert(one("""jsonb_set_lax('{"a":1}', array('a'), CAST(NULL AS STRING), true,
      'use_json_null')""".stripMargin.replace("\n", " ")) === """{"a": null}""")
    assert(one("""jsonb_set_lax('{"a":1}', array('a'), CAST(NULL AS STRING), true,
      'delete_key')""".stripMargin.replace("\n", " ")) === "{}")
    assert(one("""jsonb_set_lax('{"a":1}', array('a'), CAST(NULL AS STRING), true,
      'return_target')""".stripMargin.replace("\n", " ")) === """{"a": 1}""")
    val e = intercept[Exception](one(
      """jsonb_set_lax('{"a":1}', array('a'), CAST(NULL AS STRING), true,
        'raise_exception')""".stripMargin.replace("\n", " ")))
    assert(e.getMessage.contains("JSON value must not be null"))
    val e2 = intercept[Exception](one(
      """jsonb_set_lax('{"a":1}', array('a'), CAST(NULL AS STRING), true, 'bogus')"""))
    assert(e2.getMessage.contains("null_value_treatment"))
    // non-null value behaves exactly like jsonb_set
    assert(one("""jsonb_set_lax('{"a":1}', array('a'), '9', false)""") === """{"a": 9}""")
    assert(one("""jsonb_set_lax('{"a":1}', array('b'), '2', false)""") === """{"a": 1}""")
  }

  test("array_to_json renders arrays (nested + pretty, pg 15 pinned)") {
    assert(one("array_to_json(array(1, 2))") === "[1,2]")
    assert(one("array_to_json(array(array(1, 5), array(99, 100)))") ===
      "[[1,5],[99,100]]")
    assert(one("array_to_json(array('a', 'b'), false)") === """["a","b"]""")
    // pretty joins top-level elements with ",\n " (newline + 1 space)
    assert(one("array_to_json(array(1, 2), true)") === "[1,\n 2]")
    assert(one("array_to_json(array(array(1, 2), array(3, 4)), true)") ===
      "[[1,2],\n [3,4]]")
    assert(one("array_to_json(CAST(NULL AS ARRAY<INT>))") === null)
  }

  test("json[b]_agg and json[b]_object_agg rewrite to the ordered UDAFs") {
    import graft.pgwire.Compat
    // no-ORDER-BY over a base relation captures INPUT order (r17):
    // mono-id subquery wrap + the ORDER BY __rsN struct-sort form
    locally {
      val r = Compat.rewrite("SELECT json_agg(x) FROM t")
      assert(r.contains("monotonically_increasing_id()"), r)
      assert(r.contains("array_sort(collect_list(named_struct("), r)
    }
    // non-capturable source (VALUES/join/subquery): value-sorted fallback
    assert(Compat.rewrite("SELECT json_agg(x) FROM (SELECT 1 x) t")
      .contains("ordered_json_agg(to_jsonb(x), CAST(x AS STRING))"))
    // aggregate-internal ORDER BY keeps the user's TYPED key (struct
    // sort) — a numeric key must sort numerically, not as a string
    assert(Compat.rewrite("SELECT jsonb_agg(v ORDER BY k) FROM t")
      .contains("array_sort(collect_list(named_struct("))
    assert(Compat.rewrite("SELECT json_object_agg(k, v) FROM t") ===
      "SELECT ordered_json_object_agg(CAST(k AS STRING), to_jsonb( v)) FROM t")
    // end-to-end through the engine
    graft.pgwire.PgFunctions.registerAll(spark)
    def run(sql: String): String =
      spark.sql(graft.pgwire.Compat.rewrite(sql)).collect()(0).getString(0)
    // NULL keys sort first in the deterministic ordering
    assert(run("SELECT json_agg(x) AS a FROM (VALUES (2),(1),(NULL)) t(x)") === "[null, 1, 2]")
    assert(run("SELECT jsonb_agg(x) AS a FROM (VALUES ('b'),('a')) t(x)") === """["a", "b"]""")
    assert(run("SELECT json_object_agg(k, v) AS o FROM (VALUES ('b',2),('a',1)) t(k,v)") ===
      """{ "a" : 1, "b" : 2 }""")
    // jsonb variant renders canonical (": " spacing, jsonb key order)
    assert(run("SELECT jsonb_object_agg(k, v) AS o " +
      "FROM (VALUES ('a',NULL),('b',2)) t(k,v)") === """{"a": null, "b": 2}""")
  }

  test("json[b]_agg without ORDER BY follows input order on base-table scans (live pg pinned, r17)") {
    // pg's no-ORDER-BY json_agg follows heap-scan order. Over a
    // single base relation the rewrite captures it: the FROM wraps in
    // a monotonically_increasing_id() subquery and the agg becomes
    // its ORDER BY __rsN form — exact for a single-statement
    // multi-row INSERT (one parquet file preserves row order), and
    // the captured key survives a GROUP BY shuffle because the SORT
    // uses the key, not arrival order. Values captured live
    // 2026-08-16. Residual (documented): multi-statement inserts
    // write separate files whose listing order is uuid-random, and
    // VALUES/join/subquery sources keep the value-sorted fallback.
    import graft.pgwire.{Handlers, Session, RowSet}
    graft.pgwire.PgFunctions.registerAll(spark)
    val sess = new Session(83, "postgres", "postgres")
    def run(sql: String): String =
      Handlers.execute(spark, sess, sql) match {
        case RowSet(_, rows, _, _) =>
          rows.map(r => Option(r.get(0)).map(_.toString).getOrElse("NULL"))
            .mkString(";")
        case other => other.toString
      }
    run("DROP TABLE IF EXISTS jord")
    run("CREATE TABLE jord (v int, s text)")
    run("INSERT INTO jord VALUES (3,'c'),(1,'a'),(2,'b'),(NULL,'z')")
    assert(run("SELECT json_agg(v) FROM jord") === "[3, 1, 2, null]")
    assert(run("SELECT json_agg(s) FROM jord WHERE v IS NOT NULL") ===
      """["c", "a", "b"]""")
    assert(run("SELECT jsonb_agg(v) FROM jord") === "[3, 1, 2, null]")
    // the captured key survives the GROUP BY shuffle
    assert(run("SELECT json_agg(v) FROM jord WHERE v IS NOT NULL " +
      "GROUP BY v % 2 ORDER BY 1") === "[2];[3, 1]")
    // explicit ORDER BY unchanged
    assert(run("SELECT json_agg(v ORDER BY v) FROM jord") === "[1, 2, 3, null]")
    // aliased relation + qualified arg still captures
    assert(run("SELECT json_agg(j.v) FROM jord j") === "[3, 1, 2, null]")
    // r18: MULTI-STATEMENT insert history — separate parquet files
    // whose listing order is uuid-random; the file-ordinal key
    // (_metadata mtime, name) restores pg's heap sequence. Live pg
    // returns [3, 1, 2, null, 9, 7, 8] for this exact history.
    run("INSERT INTO jord VALUES (9,'x')")
    run("INSERT INTO jord VALUES (7,'y'),(8,'w')")
    assert(run("SELECT json_agg(v) FROM jord") === "[3, 1, 2, null, 9, 7, 8]")
    assert(run("SELECT json_agg(s) FROM jord WHERE v IS NOT NULL") ===
      """["c", "a", "b", "x", "y", "w"]""")
    run("DROP TABLE jord")
  }

  test("jsonb_path_*_tz variants resolve tz-mixed datetime comparisons") {
    graft.pgwire.PgFunctions.registerAll(spark)
    def b(sql: String): Any = spark.sql(s"SELECT $sql AS r").collect()(0).get(0)
    // the non-tz form hard-errors on this comparison (PgJsonPathSpec);
    // the _tz twin resolves it against the engine's pinned UTC zone
    assert(b("""jsonb_path_exists_tz('["2023-08-15"]',
      '$[*] ? (@.datetime() > "2023-08-14 00:00:00+02".datetime())')"""
      .stripMargin.replace("\n", " ")) === true)
    assert(b("""jsonb_path_match_tz('"2023-08-15"',
      '$.datetime() < "2023-08-15 01:00:00+00".datetime()')"""
      .stripMargin.replace("\n", " ")) === true)
    assert(b("""jsonb_path_query_array_tz('["10:00:00"]',
      '$[*] ? (@.datetime() < "11:00:00+00".datetime())')"""
      .stripMargin.replace("\n", " ")) === """["10:00:00"]""")
    assert(b("""jsonb_path_query_first_tz('["2023-08-15"]', '$[0].datetime()')""") ===
      "\"2023-08-15\"")
  }
}
