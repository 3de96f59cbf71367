package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, SparkPlan}
import org.apache.spark.sql.types.DataType

/** A filter constant passed to generated code at run time. It evaluates
  * to `value`, like the `Literal` it replaces, but its generated code
  * reads the value from the references array (unboxed once, into a
  * field) instead of writing it into the Java source. The source, and so
  * the codegen-cache key, is then the same for every value.
  */
case class BoundValue(value: Any, dataType: DataType) extends LeafExpression {
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = ctx.addReferenceObj("bound", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "bound", v => s"$v = $boxed.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.variable(field, dataType))
  }

  override def toString: String = s"bound(${Literal(value, dataType)})"
}

/** Binds the constants of executed filters at run time. Spark writes int,
  * long, short, byte, float, double, boolean, date and timestamp literals
  * into the source of generated code, so a point lookup, a range scan or a
  * page seek that differs from the last one only in a constant compiles
  * new classes. This rule replaces every non-null literal of a primitive
  * type that is an operand of a comparison inside a `FilterExec`
  * condition with a [[BoundValue]], so those reads reuse the classes the
  * first one compiled.
  *
  * Scan nodes keep their literals: parquet filter pushdown, partition
  * pruning and in-memory batch pruning see the real constants. Strings,
  * decimals and nulls, and the lists of `IN` and patterns of `LIKE`, are
  * left alone; Spark passes non-primitive literals by reference already.
  */
object BindFilterConstants extends ColumnarRule {
  override def preColumnarTransitions: Rule[SparkPlan] = _.transform {
    case f: FilterExec => f.copy(condition = bind(f.condition))
  }

  private def bind(condition: Expression): Expression = condition.transform {
    case c: BinaryComparison => c.withNewChildren(c.children.map {
      case Literal(v, dt) if v != null && CodeGenerator.isPrimitiveType(dt) => BoundValue(v, dt)
      case other => other
    })
  }
}
