package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.joins._
import org.apache.spark.sql.types._

/** A constant whose generated code does not contain its value.
  *
  * `Literal.doGenCode` writes primitive values into the Java source
  * (`value == 202L`), so two statements that differ only in a key
  * compile to two classes. This leaf evaluates, prints (`toString`,
  * `sql`) and canonicalizes exactly as the literal it wraps, but its
  * generated code reads the value once, at class init, from the
  * compiled object's `references` array into a primitive field. The
  * source text, and so the codegen-cache key, is then the same for
  * every value of the constant.
  */
case class RefLiteral(literal: Literal) extends LeafExpression {
  override def dataType: DataType = literal.dataType
  override def nullable: Boolean = false
  override def foldable: Boolean = true
  override def eval(input: InternalRow): Any = literal.value
  // semantically the literal: exchange/subquery reuse and sameResult
  // match plans whether or not this rule ran on them
  override lazy val canonicalized: Expression = literal
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("literal", literal.value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "literal", v => s"$v = $ref.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

/** Physical-plan rule: replace the constants `Literal.doGenCode` writes
  * into the source with [[RefLiteral]]s, so statements that differ only
  * in their values share one compiled class.
  *
  * Installed as a pre-columnar-transition rule (`GraftExtensions`), it
  * runs in `QueryExecution.preparations` and in AQE's per-stage rules,
  * both before `CollapseCodegenStages`. Two allow-lists bound it:
  *  - operators: filter conditions, projections, join conditions, and
  *    aggregate and result expressions. Scans are never touched, so
  *    Parquet pushdown and partition pruning keep their literals, and
  *    neither are window frames or subquery plans (a subquery's plan
  *    gets its own pass when Spark prepares it);
  *  - positions: the direct operands of a deterministic comparison,
  *    `IN` or arithmetic, wherever it sits, CASE/IF conditions
  *    included; CASE/IF result values; and the value arguments of
  *    `coalesce` (and so `nvl`), `greatest` and `least`; and the
  *    arguments of a Scala UDF (pg's `substr` is the `pg_substr` UDF).
  *    A native function's argument that must stay a `Literal` (a
  *    scale, a format, a seed) is never a replaced operand.
  */
object ReferenceLiterals extends Rule[SparkPlan] {

  /** Types whose `Literal.doGenCode` inlines the value; the others
    * (decimal, string, binary, calendar interval, …) already go
    * through `references`, and booleans have only two values. */
  private def inlined(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
        DateType | TimestampType | TimestampNTZType => true
    case _: DayTimeIntervalType | _: YearMonthIntervalType => true
    case _ => false
  }

  private def operandHolder(e: Expression): Boolean = e.deterministic && (e match {
    case _: BinaryComparison | _: In | _: BinaryArithmetic => true
    // every child is a condition or a value the node passes through
    case _: CaseWhen | _: If | _: Coalesce | _: Greatest | _: Least => true
    // a Scala UDF evaluates its arguments like any column (pg_substr's
    // positions, the regexp family's defaults)
    case _: ScalaUDF => true
    case _ => false
  })

  private def expr[E <: Expression](e: E): E = e.transformUp {
    case p if operandHolder(p) => p.mapChildren {
      case l: Literal if l.value != null && inlined(l.dataType) => RefLiteral(l)
      case c => c
    }
  }.asInstanceOf[E]

  // a copy equal to the node it replaces is dropped by transformUp
  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec => f.copy(condition = expr(f.condition))
    case p: ProjectExec => p.copy(projectList = p.projectList.map(expr))
    case j: BroadcastHashJoinExec => j.copy(condition = j.condition.map(expr))
    case j: ShuffledHashJoinExec => j.copy(condition = j.condition.map(expr))
    case j: SortMergeJoinExec => j.copy(condition = j.condition.map(expr))
    case j: BroadcastNestedLoopJoinExec => j.copy(condition = j.condition.map(expr))
    case j: CartesianProductExec => j.copy(condition = j.condition.map(expr))
    case a: HashAggregateExec => a.copy(aggregateExpressions = a.aggregateExpressions.map(expr),
      resultExpressions = a.resultExpressions.map(expr))
    case a: ObjectHashAggregateExec => a.copy(aggregateExpressions = a.aggregateExpressions.map(expr),
      resultExpressions = a.resultExpressions.map(expr))
    case a: SortAggregateExec => a.copy(aggregateExpressions = a.aggregateExpressions.map(expr),
      resultExpressions = a.resultExpressions.map(expr))
  }
}
