package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan}

/** Library entry point for Spark's extensions mechanism: build a
  * session with `spark.sql.extensions=graft.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`) and every graft-native
  * Catalyst expression is available to SQL and `call_function` without
  * touching any session internals. This is how the engine ships as a
  * cluster-wide library: the config line goes in spark-defaults.conf
  * and every session on a 1000-executor cluster resolves the functions
  * at analysis time with full whole-stage codegen.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.functions.VectorExpressions.descriptions.foreach(ext.injectFunction)
    graft.functions.StringExpressions.descriptions.foreach(ext.injectFunction)
    graft.functions.TextExpressions.descriptions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => graft.functions.VectorExpressions.SelfDotToNorm)
    ext.injectOptimizerRule(s => graft.plans.LocalizeSingletonSort(s))
    // pg dialect type semantics — a no-op outside PgSemantics.withPg
    // (the pgwire Handlers path), so plain Spark-API queries on the
    // same session keep Spark semantics
    ext.injectResolutionRule(_ => graft.pgwire.PgSemantics.Resolution)
    // constants read from `references`, not spliced into generated
    // code; pre-columnar rules run before CollapseCodegenStages, in
    // the plain preparations and in every AQE stage
    ext.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] = graft.plans.ReferenceLiterals
    })
  }
}
