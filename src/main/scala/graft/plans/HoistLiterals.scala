package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types._

/** Constant-free generated code for filters and projections.
  *
  * Spark's `Literal` writes an int, bigint, double, date or timestamp
  * constant into the generated Java as an immediate, so two statements
  * that differ only in a constant generate two different classes: each
  * misses `CodeGenerator`'s cache, pays a Janino compile and then runs its
  * scan loop in the JVM interpreter until the JIT compiles the new class.
  * The reference pays the same per-query compile with LLVM and turns
  * codegen off for small queries because of it (`Planner.java:69-80`).
  *
  * This rule swaps such literals in `FilterExec` conditions and
  * `ProjectExec` lists for [[HoistedLiteral]], which reads its value once
  * from the generated class's `references` array into a field. The Java
  * text no longer depends on the constant, so an ad-hoc statement that
  * differs from an earlier one only in constants reuses its classes.
  * Scans are left alone: pushed filters, partition pruning and dynamic
  * pruning keep their `Literal`s.
  *
  * Runs as a `preColumnarTransitions` rule: once per plan just before
  * `CollapseCodegenStages`, in AQE's per-stage rules and in the non-AQE
  * preparations alike. [[inject]] installs it; `Engine.session` and
  * `graft.GraftExtensions` both call it.
  */
object HoistLiterals extends Rule[SparkPlan] {

  def inject(ext: SparkSessionExtensions): Unit =
    ext.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] = HoistLiterals
    })

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case p @ (_: FilterExec | _: ProjectExec) => p.transformExpressions(hoist)
  }

  private val hoist: PartialFunction[Expression, Expression] = {
    case l @ Literal(v, ByteType | ShortType | IntegerType | LongType |
        FloatType | DoubleType | DateType | TimestampType |
        TimestampNTZType) if v != null =>
      HoistedLiteral(l)
  }
}

/** A non-null primitive constant whose generated code loads it from the
  * `references` array once per generated object instead of inlining it.
  * Evaluates, prints, canonicalizes and compares like the `Literal` it
  * wraps, and stays foldable.
  */
case class HoistedLiteral(literal: Literal) extends LeafExpression {
  override def dataType: DataType = literal.dataType
  override def nullable: Boolean = false
  override def foldable: Boolean = true
  override def eval(input: InternalRow): Any = literal.value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("literal", literal.value,
      CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "hoistedLiteral",
      v => s"$v = $ref.${javaType}Value();")
    ExprCode(EmptyBlock, FalseLiteral, JavaCode.global(field, dataType))
  }
}
