package graft.pgwire

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, UnresolvedException}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, Unevaluable}
import org.apache.spark.sql.types.DataType

/** pg function names, resolved in the session's function registry.
  *
  * Spark's registry holds one builder per name. Several pg names are
  * Spark builtins with other semantics (`substr`, `log`, `trunc`,
  * `ltrim`, `mod`, the `regexp_*` family) or UDFs registered at one
  * arity (`to_tsvector`, `has_table_privilege`). [[install]] gives each
  * name of [[routes]] and [[typed]] a builder that, inside
  * [[PgSemantics.withPg]], dispatches on the argument count: it writes
  * out pg's default arguments and builds the engine function through
  * the registry. Outside `withPg` (plain Spark SQL on the same session)
  * it calls whatever was registered under the name before, so
  * Spark-API queries resolve as they would without the pg pack. The
  * reference registers its pg functions in the engine the same way
  * (pg_catalog.rs:1485-1572).
  */
object PgNames {

  /** pg's call at one arity: the engine function, and the constants pg
    * defaults, written before and after the caller's arguments. */
  final case class Route(target: String, before: Seq[Any] = Nil, after: Seq[Any] = Nil) {
    def args(given: Seq[Expression]): Seq[Expression] =
      before.map(Literal(_)) ++ given ++ after.map(Literal(_))
  }

  private def pre(target: String, before: Any*) = Route(target, before = before)
  private def post(target: String, after: Any*) = Route(target, after = after)

  /** (pg name, arity, route). A route whose target is the name itself
    * calls the builder registered before, with the defaults added. */
  val routes: Seq[(String, Int, Route)] = Seq(
    // Spark builtins under another name, same semantics
    ("jsonb_array_length", 1, Route("json_array_length")),
    ("starts_with", 2, Route("startswith")),
    ("array_cat", 2, Route("concat")), // Spark's concat concatenates arrays
    ("array_to_string", 2, Route("array_join")), // NULLs skipped in both
    ("array_to_string", 3, Route("array_join")),
    // pg freezes both to the transaction start; Spark's query-constant
    // now() makes `now() = transaction_timestamp()` true in a statement
    ("transaction_timestamp", 0, Route("now")),
    ("statement_timestamp", 0, Route("now")),
    // pg make_timestamp is timestamp WITHOUT time zone (OID 1114);
    // Spark's resolves in the session zone
    ("make_timestamp", 6, Route("make_timestamp_ntz")),
    // pg's only 1-arg to_timestamp: unix epoch → timestamptz
    ("to_timestamp", 1, Route("timestamp_seconds")),
    ("log", 1, Route("log10")), // pg log(x) is base 10, Spark's is ln
    // the pg-semantics twins of Spark builtins
    ("array_prepend", 2, Route("pg_array_prepend")), // pg: (elem, array)
    ("current_database", 0, Route("pg_current_database")),
    ("current_schemas", 1, Route("pg_current_schemas")),
    ("array_length", 2, Route("pg_array_length")),
    // pg: NULL when absent (Spark 0), NULLs removable, leaves counted
    // across dimensions
    ("array_position", 2, Route("pg_array_position")),
    ("array_remove", 2, Route("pg_array_remove")),
    ("cardinality", 1, Route("pg_cardinality")),
    // a literal delimiter, not a regex; the 3rd argument NULLs matches
    ("string_to_array", 2, Route("pg_string_to_array")),
    ("string_to_array", 3, Route("pg_string_to_array3")),
    ("mod", 2, Route("pg_mod")), // NULL on a zero divisor
    // pg trunc(numeric[, s]) beside Spark's trunc(date, fmt)
    ("trunc", 1, Route("pg_trunc")),
    ("trunc", 2, Route("pg_trunc")),
    // Spark's 2-arg ltrim/rtrim take (trimStr, srcStr)
    ("ltrim", 2, Route("pg_ltrim")),
    ("rtrim", 2, Route("pg_rtrim")),
    // pg clamps a 0 or negative start into the string
    ("substr", 2, post("pg_substr", Int.MaxValue)),
    ("substr", 3, Route("pg_substr")),
    ("substring", 2, post("pg_substr", Int.MaxValue)),
    ("substring", 3, Route("pg_substr")),
    // the 2-arg sorted-thresholds form (reference width_bucket.rs)
    ("width_bucket", 2, Route("pg_width_bucket")),
    // pg regexp optional arguments (start, N, endoption, flags,
    // subexpr): Spark's builtins lack them or read them differently
    ("regexp_like", 3, Route("pg_regexp_like")),
    ("regexp_count", 3, post("pg_regexp_count", "")),
    ("regexp_count", 4, Route("pg_regexp_count")),
    ("regexp_instr", 3, post("pg_regexp_instr", 1, 0, "", 0)),
    ("regexp_instr", 4, post("pg_regexp_instr", 0, "", 0)),
    ("regexp_instr", 5, post("pg_regexp_instr", "", 0)),
    ("regexp_instr", 6, post("pg_regexp_instr", 0)),
    ("regexp_instr", 7, Route("pg_regexp_instr")),
    ("regexp_substr", 3, post("pg_regexp_substr", 1, "", 0)),
    ("regexp_substr", 4, post("pg_regexp_substr", "", 0)),
    ("regexp_substr", 5, post("pg_regexp_substr", 0)),
    ("regexp_substr", 6, Route("pg_regexp_substr")),
    ("regexp_replace", 3, post("pg_regexp_replace", "", -1, "")),
    ("regexp_replace", 4, post("pg_regexp_replace", -1, "")),
    ("regexp_replace", 5, post("pg_regexp_replace", "")),
    ("regexp_replace", 6, Route("pg_regexp_replace")),
    // text search: the 1-arg forms default the config (pg's
    // default_text_search_config ships as english)
    ("to_tsvector", 1, pre("to_tsvector", "english")),
    ("to_tsquery", 1, pre("to_tsquery", "english")),
    ("plainto_tsquery", 1, pre("plainto_tsquery", "english")),
    ("phraseto_tsquery", 1, pre("phraseto_tsquery", "english")),
    ("websearch_to_tsquery", 1, pre("websearch_to_tsquery", "english")),
    ("ts_headline", 2, pre("ts_headline", "english")),
    ("ts_headline", 4, Route("ts_headline4")),
    ("ts_rank", 3, Route("ts_rank3")), // the normalization argument
    ("ts_rank_cd", 3, Route("ts_rank_cd3")),
    ("setweight", 3, Route("setweight3")),
    ("tsquery_phrase", 3, Route("tsquery_phrase3")),
    // range constructors' bound-flags argument (pg §8.17.6)
    ("int4range", 3, Route("int4range3")),
    ("int8range", 3, Route("int8range3")),
    ("numrange", 3, Route("numrange3")),
    ("daterange", 3, Route("daterange3")),
    ("tsrange", 3, Route("tsrange3")),
    ("tstzrange", 3, Route("tstzrange3")),
    // geometry constructors with an SRID
    ("st_geomfromtext", 2, Route("st_geomfromtext2")),
    ("st_geometryfromtext", 2, Route("st_geomfromtext2")),
    ("st_geomfromwkb", 2, Route("st_geomfromwkb2")),
    // catalog functions' short forms (psql, pgjdbc): pretty = false,
    // the pg_class catalog, the current user
    ("pg_get_expr", 2, post("pg_get_expr", false)),
    ("pg_get_constraintdef", 1, post("pg_get_constraintdef", false)),
    ("obj_description", 1, post("obj_description", "pg_class")),
    ("has_table_privilege", 2, pre("has_table_privilege", "postgres")),
    ("has_schema_privilege", 2, pre("has_schema_privilege", "postgres")),
    ("has_database_privilege", 2, pre("has_database_privilege", "postgres")),
    ("has_any_column_privilege", 2, pre("has_any_column_privilege", "postgres")))

  /** Names whose implementation the operand's type picks: Spark's parser
    * makes `EXTRACT(f FROM x)` the call `extract('f', x)`, and each
    * becomes a [[TypedCall]] for `PgSemantics`' analyzer rule. */
  val typed: Seq[String] = Seq("extract", "date_part", "date_trunc", "isfinite")

  /** A pg call left for the operand's type to resolve (see [[typed]]);
    * unresolved until `PgSemantics.FamilyOps` replaces it. `builtin`
    * builds the call as the name meant before this table. */
  case class TypedCall(name: String, children: Seq[Expression],
      builtin: Seq[Expression] => Expression) extends Expression with Unevaluable {
    override lazy val resolved: Boolean = false
    override def dataType: DataType = throw new UnresolvedException("dataType")
    override def nullable: Boolean = true
    override def prettyName: String = name
    override protected def flatArguments: Iterator[Any] = children.iterator
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): TypedCall =
      copy(children = c)
  }

  /** A name's builder: inside the pg dialect the table's call, else
    * `builtin`, the builder registered under the name before. */
  private final class PgBuilder(reg: FunctionRegistry, name: String,
      byArity: Map[Int, Route], builtin: Option[Seq[Expression] => Expression])
      extends (Seq[Expression] => Expression) {
    def apply(args: Seq[Expression]): Expression =
      if (!PgSemantics.active && builtin.isDefined) builtin.get(args)
      else if (typed.contains(name)) TypedCall(name, args, builtin.get)
      else byArity.get(args.length) match {
        case Some(r) if r.target == name => builtin.fold(missing(args))(_(r.args(args)))
        case Some(r) => reg.lookupFunction(FunctionIdentifier(r.target), r.args(args))
        case None => builtin.fold(missing(args))(_(args))
      }

    private def missing(args: Seq[Expression]): Nothing = throw PgException("42883",
      s"function $name(${args.map(a => PgFunctions.formatType(PgType.oidOf(a.dataType), -1))
        .mkString(", ")}) does not exist")
  }

  /** Put each name's builder over the one registered under it now.
    * Runs once, last in `PgFunctions.registerAll`, which registers every
    * name of the table it wraps; idempotent. */
  def install(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    val byArity = routes.groupMap(_._1)(r => r._2 -> r._3).map { case (n, rs) => n -> rs.toMap }
    (byArity.keys ++ typed).foreach { name =>
      val ident = FunctionIdentifier(name)
      val builtin = reg.lookupFunctionBuilder(ident)
      // a typed name needs the builder its date/timestamp case falls to
      if (!builtin.exists(_.isInstanceOf[PgBuilder]) && (builtin.isDefined || !typed.contains(name)))
        reg.registerFunction(ident,
          reg.lookupFunction(ident).getOrElse(new ExpressionInfo(getClass.getName, name)),
          new PgBuilder(reg, name, byArity.getOrElse(name, Map.empty), builtin))
    }
  }
}
