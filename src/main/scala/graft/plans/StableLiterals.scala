package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, SparkPlan}
import org.apache.spark.sql.types.DataType

/** A non-null primitive constant whose generated code reads the value
  * from the class's references array instead of writing it into the
  * Java source.
  *
  * `Literal.doGenCode` inlines every primitive value, so two plans that
  * differ only in a bound (`ts >= 2024-10-01` vs `ts >= 2024-11-01`)
  * generate different source, miss Spark's generated-class cache and
  * each make Janino compile on the driver. With the bound in
  * `references` the source is identical and the class is compiled once.
  *
  * Not foldable, so no optimizer rule turns it back into a `Literal`;
  * it only ever appears after physical planning (see [[StableLiterals]]).
  * Prints exactly like the `Literal` it stands for, so `explain` text
  * does not change.
  */
case class StableLiteral(value: Any, dataType: DataType) extends LeafExpression {
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("stableLit", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "stableLit", v => s"$v = $ref.${javaType}Value();")
    ev.copy(code = EmptyBlock, isNull = FalseLiteral, value = JavaCode.global(field, dataType))
  }

  private def literal: Literal = Literal(value, dataType)
  override def toString: String = literal.toString
  override def sql: String = literal.sql
}

/** Physical-plan rule: the primitive, non-null `Literal` operands of the
  * comparisons in a `FilterExec` condition become [[StableLiteral]]s, so
  * reads that differ only in their bounds share one compiled class.
  *
  * Only `FilterExec` is rewritten. Scan nodes keep their `Literal`s, so
  * Parquet pushdown, partition pruning and dynamic partition pruning see
  * the real values. String, decimal and null literals are left as they
  * are: only a primitive value fits the field the generated code reads.
  */
object StableLiterals extends Rule[SparkPlan] {
  def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec => f.copy(condition = f.condition.transform {
      case c: BinaryComparison => c.mapChildren(stable)
    })
  }

  private def stable(e: Expression): Expression = e match {
    case Literal(v, dt) if v != null && CodeGenerator.isPrimitiveType(dt) => StableLiteral(v, dt)
    case other => other
  }

  /** Installed by [[graft.GraftExtensions]]: columnar rules run after
    * physical planning and before whole-stage codegen collapses the plan,
    * in both the adaptive and the static path.
    */
  object Install extends ColumnarRule {
    override def preColumnarTransitions: Rule[SparkPlan] = StableLiterals
  }
}
