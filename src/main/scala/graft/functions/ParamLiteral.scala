package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.types._

/** A primitive constant that generated code reads as a parameter.
  *
  * Spark's `Literal` writes its value into the generated Java source,
  * so a dashboard panel over a new time window, or a curate job with
  * a new subset seed, is a new class for Janino to compile and C2 to
  * re-JIT — compilation, not data volume, bounded those queries. This
  * leaf instead hands its value to the stage through the `references`
  * array (read once into a field when the class is initialised), so
  * plans that differ only in constants generate identical source and
  * share one compiled class through `CodeGenerator`'s cache — the
  * tokenized-literal idea of SnappyData's Spark fork.
  *
  * It stays `foldable` (operators that specialise on a constant still
  * do; they just don't share code), renders exactly like `Literal` (plan
  * strings are unchanged), and equality includes the value (a case
  * class), so exchange/subquery reuse and the AQE stage cache never
  * merge two subplans that differ only in a constant.
  */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {

  private def literal = Literal(value, dataType)

  override def foldable: Boolean = true
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param", v => s"$v = $ref.${javaType}Value();")
    ev.copy(code = EmptyBlock, isNull = FalseLiteral, value = JavaCode.global(field, dataType))
  }
}

/** Physical-plan rule: replace non-null primitive literals with
  * [[ParamLiteral]]. Registered as a pre-columnar-transition rule
  * (GraftExtensions), so it runs on every plan and at every AQE stage
  * (re)plan, just before whole-stage codegen is collapsed.
  *
  * What keeps its real `Literal`s, and so still inlines:
  *  - leaf nodes (scans): Parquet pushdown and `dt=` partition pruning
  *    translate only `Literal`s;
  *  - `WindowExec`: row-frame bounds are matched as `IntegerLiteral`;
  *  - aggregate arguments: a rebuilt aggregate function mints fresh
  *    buffer-attribute ids that partial/final (and session-merging)
  *    aggregates can no longer bind;
  *  - exchange partitioning: it must keep equal to what parents require.
  */
object ParamLiterals extends Rule[SparkPlan] {

  private val parameterized: Set[DataType] = Set(IntegerType, LongType,
    DoubleType, FloatType, ShortType, ByteType, DateType, TimestampType)

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case p if p.children.isEmpty || p.isInstanceOf[WindowExec] => p
    case p => p.mapExpressions(parameterize)
  }

  private def parameterize(e: Expression): Expression = e match {
    case Literal(v, t) if v != null && parameterized(t) => ParamLiteral(v, t)
    case _: AggregateExpression | _: Partitioning => e
    case _ => e.mapChildren(parameterize)
  }
}
