package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, NamedExpression, ScalaUDF}
import org.apache.spark.sql.catalyst.plans.logical.Project
import graft.pgwire.{Handlers, PgCatalog, PgFunctions, PgNames, PgSemantics, RowSet, Session}

/** The pg name table ([[PgNames.routes]]), row by row: inside the pg
  * dialect each (name, arity) call analyzes to its engine function with
  * pg's defaults written out, and outside it every name that is also a
  * Spark builtin keeps Spark's own expression. */
class PgNamesSpec extends SparkSpec {

  override def beforeAll(): Unit = {
    super.beforeAll()
    PgFunctions.registerAll(spark)
    PgCatalog.registerAll(spark)
  }

  /** Arguments that type-check for each name's engine functions; a
    * call of arity n takes the first n. */
  private val samples: Map[String, Seq[String]] = Map(
    "jsonb_array_length" -> Seq("'[1,2]'"),
    "starts_with" -> Seq("'abc'", "'a'"),
    "array_cat" -> Seq("array(1)", "array(2)"),
    "array_to_string" -> Seq("array('a', NULL)", "','", "'*'"),
    "transaction_timestamp" -> Nil,
    "statement_timestamp" -> Nil,
    "make_timestamp" -> Seq("2024", "1", "2", "3", "4", "5.5"),
    "to_timestamp" -> Seq("1700000000"),
    "log" -> Seq("100", "8"),
    "array_prepend" -> Seq("0", "array(1)"),
    "current_database" -> Nil,
    "current_schemas" -> Seq("true"),
    "array_length" -> Seq("array(1, 2)", "1"),
    "array_position" -> Seq("array(1, 2)", "2"),
    "array_remove" -> Seq("array(1, 2)", "2"),
    "cardinality" -> Seq("array(1, 2)"),
    "string_to_array" -> Seq("'a,b'", "','", "'b'"),
    "mod" -> Seq("7", "2"),
    "trunc" -> Seq("2.567", "1"),
    "ltrim" -> Seq("'xxhixx'", "'x'"),
    "rtrim" -> Seq("'xxhixx'", "'x'"),
    "substr" -> Seq("'hello'", "2", "3"),
    "substring" -> Seq("'hello'", "2", "3"),
    "width_bucket" -> Seq("5.0D", "array(1.0D, 10.0D)"),
    "regexp_like" -> Seq("'abc'", "'B'", "'i'"),
    "regexp_count" -> Seq("'abcabc'", "'b'", "1", "'i'"),
    "regexp_instr" -> Seq("'abcabc'", "'b'", "1", "2", "0", "'i'", "0"),
    "regexp_substr" -> Seq("'abcabc'", "'b'", "1", "2", "'i'", "0"),
    "regexp_replace" -> Seq("'abcabc'", "'b'", "'x'", "'1'", "2", "'g'"),
    "to_tsvector" -> Seq("'a fat cat'"),
    "to_tsquery" -> Seq("'cat'"),
    "plainto_tsquery" -> Seq("'fat cat'"),
    "phraseto_tsquery" -> Seq("'fat cat'"),
    "websearch_to_tsquery" -> Seq("'fat cat'"),
    "ts_headline" -> Seq("'english'", "'a fat cat'", "'cat'", "'MaxWords=2'"),
    "ts_rank" -> Seq("'cat:1'", "'cat'", "1"),
    "ts_rank_cd" -> Seq("'cat:1'", "'cat'", "1"),
    "setweight" -> Seq("'cat:1'", "'A'", "'cat'"),
    "tsquery_phrase" -> Seq("'fat'", "'cat'", "2"),
    "int4range" -> Seq("'1'", "'10'", "'[]'"),
    "int8range" -> Seq("'1'", "'10'", "'[]'"),
    "numrange" -> Seq("'1.5'", "'10'", "'[]'"),
    "daterange" -> Seq("'2024-01-01'", "'2024-02-01'", "'[]'"),
    "tsrange" -> Seq("'2024-01-01 00:00'", "'2024-02-01 00:00'", "'[]'"),
    "tstzrange" -> Seq("'2024-01-01 00:00'", "'2024-02-01 00:00'", "'[]'"),
    "st_geomfromtext" -> Seq("'POINT(1 2)'", "4326"),
    "st_geometryfromtext" -> Seq("'POINT(1 2)'", "4326"),
    "st_geomfromwkb" -> Seq("unhex('0101000000000000000000F03F0000000000000040')", "4326"),
    "pg_get_expr" -> Seq("'x'", "1"),
    "pg_get_constraintdef" -> Seq("1"),
    "obj_description" -> Seq("'1'"),
    "has_table_privilege" -> Seq("'t'", "'SELECT'"),
    "has_schema_privilege" -> Seq("'public'", "'USAGE'"),
    "has_database_privilege" -> Seq("'postgres'", "'CONNECT'"),
    "has_any_column_privilege" -> Seq("'t'", "'SELECT'"),
    "extract" -> Seq("'year'", "DATE '2024-03-07'"),
    "date_part" -> Seq("'year'", "DATE '2024-03-07'"),
    "date_trunc" -> Seq("'month'", "DATE '2024-03-07'"),
    "isfinite" -> Seq("DATE '2024-03-07'"))

  /** The analyzed expression of a one-column SELECT (under the output
    * tagging's re-aliasing Project, if any). */
  private def expr(df: DataFrame): Expression =
    df.queryExecution.analyzed.collect { case p: Project => p }.last.projectList.head match {
      case n: NamedExpression => n.children.head
    }

  /** A Scala UDF's encoders hold fresh lambda variables per build; the
    * function object, name and arguments say which call it is. */
  private def sameCall(a: Expression, b: Expression): Boolean = {
    def strip(e: Expression) = e.transform {
      case u: ScalaUDF => u.copy(inputEncoders = Nil, outputEncoder = None)
    }
    strip(a) == strip(b)
  }

  private def call(name: String, args: Seq[String]) = s"SELECT $name(${args.mkString(", ")})"

  test("every table name has sample arguments, and no route targets a table name") {
    val names = PgNames.routes.map(_._1) ++ PgNames.typed
    assert(names.filterNot(samples.contains) === Nil)
    val targets = PgNames.routes.collect { case (n, _, r) if r.target != n => r.target }
    assert(targets.filter(names.contains) === Nil)
  }

  test("inside the pg dialect, each (name, arity) is its engine call with pg's defaults") {
    val differ = PgNames.routes.flatMap { case (name, arity, route) =>
      val args = samples(name).take(arity)
      assert(args.length === arity, s"$name/$arity needs more sample arguments")
      val full = route.before.map(Literal(_).sql) ++ args ++ route.after.map(Literal(_).sql)
      val pg = expr(Handlers.runSql(spark, call(name, args)))
      // the target's own builder: the name's previous one when the
      // route keeps the name (arities outside the table fall through)
      val engine = expr(PgSemantics.withPg(spark.sql(call(route.target, full))))
      if (sameCall(pg, engine)) None else Some(s"$name/$arity: $pg <> $engine")
    }
    assert(differ.isEmpty, differ.mkString("\n"))
  }

  test("outside the pg dialect, a name that is a Spark builtin resolves as Spark's") {
    def info(reg: FunctionRegistry, n: String) =
      reg.lookupFunction(FunctionIdentifier(n)).map(_.getClassName)
    val calls = (PgNames.routes.map(r => (r._1, r._2)) ++ PgNames.typed.map(n => (n, samples(n).length)))
      .distinct.filter { case (n, _) => info(FunctionRegistry.builtin, n).isDefined }
    // the pg pack's own functions took these names from Spark before
    // the table did; outside the dialect they stay the pack's
    val (builtins, pack) = calls.partition { case (n, _) =>
      info(FunctionRegistry.builtin, n) == info(spark.sessionState.functionRegistry, n)
    }
    assert(pack.map(_._1).distinct.sorted === Seq("st_geomfromwkb", "to_timestamp"))
    assert(builtins.map(_._1).distinct.sorted === Seq("array_position", "array_prepend",
      "array_remove", "cardinality", "current_database", "date_part", "date_trunc", "extract", "log",
      "ltrim", "make_timestamp", "mod", "regexp_count", "regexp_instr", "regexp_like",
      "regexp_replace", "regexp_substr", "rtrim", "substr", "substring", "trunc", "width_bucket"))
    val plain = spark.newSession()
    for ((name, arity) <- builtins) {
      val sql = call(name, samples(name).take(arity))
      def cls(df: => DataFrame) = scala.util.Try(expr(df).getClass.getName).toOption
      // a call Spark rejects is rejected the same way
      assert(cls(spark.sql(sql)) === cls(plain.sql(sql)), sql)
    }
  }

  test("renamed and arity-routed calls answer pg's values on the wire path") {
    def wire(e: String) = Handlers.runSql(spark, s"SELECT $e").collect().head.get(0)
    // 2-arg width_bucket is pg_width_bucket; the 4-arg form stays Spark's
    assert(wire("width_bucket(25.0, ARRAY[10.0, 20.0, 30.0])") === 2)
    assert(wire("width_bucket(5.35, 0.024, 10.06, 5)") === 3L)
    assert(wire("jsonb_array_length('[1,2,3]')") === 3)
  }

  test("a catalog refresh keeps the pg_get_constraintdef builder and reads its text") {
    val reg = spark.sessionState.functionRegistry
    def builder = reg.lookupFunctionBuilder(FunctionIdentifier("pg_get_constraintdef")).get
    val before = builder
    val session = new Session(91, "postgres", "postgres")
    def run(sql: String) = Handlers.execute(spark, session, sql)
    run("CREATE TABLE pn_con (id int PRIMARY KEY)")
    try {
      PgCatalog.registerAll(spark) // a new fingerprint: refreshes
      assert(builder eq before)
      val RowSet(_, rs, _, _) = run(
        "SELECT pg_get_constraintdef(oid) FROM pg_constraint WHERE conname = 'pn_con_pkey'")
      assert(rs.map(_.getString(0)).toSeq === Seq("PRIMARY KEY (id)"))
    } finally run("DROP TABLE pn_con")
  }
}
