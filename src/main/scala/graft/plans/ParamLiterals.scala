package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.types.{DataType, DateType, DoubleType, IntegerType, LongType, TimestampType}

/** A comparison constant whose value reaches generated code as a reference,
  * not as text. [[Literal]] writes timestamp, long, double, int and date
  * values straight into the Java source, and Spark's codegen cache is keyed
  * by that source, so two queries that differ only in a time window or a
  * threshold each compile their own classes. This leaf hands its boxed value
  * to the generated class through `ctx.addReferenceObj` and unboxes it once
  * into a field, the way Catalyst passes string and decimal literals: the
  * source, and so the compiled class, is the same for every value.
  *
  * Not foldable, so nothing constant-folds it; [[ParamLiterals]] only puts
  * it where no parent inspects foldable children during codegen. */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param",
      v => s"$v = $ref.${javaType}Value();", forceInline = true)
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }

  override def toString: String = s"param(${Literal(value, dataType)})"
}

/** Rewrites an executed plan so its per-query constants stop shaping the
  * generated code: in every [[FilterExec]] condition, each non-null
  * timestamp, long, double, int or date [[Literal]] that is a direct operand
  * of a [[BinaryComparison]] becomes a [[ParamLiteral]]. Same-shape queries
  * that differ only in those constants then share one generated class each.
  *
  * What it leaves alone:
  *  - scan nodes, so pushed filters keep their real literals and prune as
  *    before;
  *  - literals anywhere else (`Round` scale, `RLike` pattern, `In` lists),
  *    whose parents read `foldable` children while generating code;
  *  - `AdaptiveSparkPlanExec`, a leaf to this walk, whose stages are
  *    planned at run time. */
object ParamLiterals extends Rule[SparkPlan] {

  private val paramTypes: Set[DataType] =
    Set(TimestampType, LongType, DoubleType, IntegerType, DateType)

  override def apply(plan: SparkPlan): SparkPlan = plan.transform {
    case f: FilterExec =>
      val cond = f.condition.transform {
        case c: BinaryComparison => c.withNewChildren(c.children.map(param))
      }
      if (cond.fastEquals(f.condition)) f else f.copy(condition = cond)
  }

  private def param(e: Expression): Expression = e match {
    case Literal(v, t) if v != null && paramTypes(t) => ParamLiteral(v, t)
    case other => other
  }
}
