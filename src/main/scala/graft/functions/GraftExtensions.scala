package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan}

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions in the session's FunctionRegistry so they are usable
  * straight from SQL — `SELECT dot_native(a.embedding, b.embedding)`
  * — not only through the Scala DSL. Wire up with
  * `.withExtensions(new GraftExtensions)` (Sessions.builder does).
  *
  * This is the engine's designated extension point for anything that
  * must go beyond composed built-ins: codegen expressions first
  * (like [[DotProduct]]), custom plans/strategies only if an
  * operator can't be a per-row expression.
  *
  * It also installs [[ParamLiterals]] as a pre-columnar-transition
  * rule, so generated code takes primitive constants as parameters
  * and one compiled class serves every query of the same shape.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("dot_native"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_native"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "dot_native(arrayA, arrayB)")
        DotProduct(children.head, children(1))
      }))
    ext.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] = ParamLiterals
    })
  }
}
