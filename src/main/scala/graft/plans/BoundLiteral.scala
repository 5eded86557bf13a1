package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, In, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, SparkPlan}
import org.apache.spark.sql.types._

/** A primitive literal whose generated code reads its value from the
  * class's `references` array instead of inlining it, so two plans that
  * differ only in the value generate the same source and share one
  * compiled class (see [[graft.Graft.session]]). Equality, `toString` and
  * `sql` are the wrapped [[Literal]]'s: two keys never compare equal, so
  * exchange reuse never serves one key's rows for another, and plans
  * print as before.
  */
case class BoundLiteral(lit: Literal) extends LeafExpression {
  override def dataType: DataType = lit.dataType
  override def nullable: Boolean  = false
  override def eval(input: InternalRow): Any = lit.value
  override def toString: String = lit.toString
  override def sql: String      = lit.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref      = ctx.addReferenceObj("lit", lit.value, CodeGenerator.boxedType(dataType))
    val field    = ctx.addMutableState(javaType, "boundLit", v => s"$v = $ref.${javaType}Value();")
    ev.copy(code = EmptyBlock, isNull = FalseLiteral, value = JavaCode.global(field, dataType))
  }
}

/** Binds the non-NULL primitive literals that a `FilterExec` condition
  * compares against (operands of a comparison or an IN). Literals under
  * other expressions stay: some read them by pattern at run time (the
  * seed of `rand`). Scans keep their own copy of the filters, so parquet
  * pushdown and file pruning see the plain literals.
  */
object BindLiterals extends ColumnarRule {
  private def bindable(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
         DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  private def bind(e: Expression): Expression = e.transformDown {
    case p @ (_: BinaryComparison | _: In) => p.mapChildren {
      case l: Literal if l.value != null && bindable(l.dataType) => BoundLiteral(l)
      case c => c
    }
  }

  override def preColumnarTransitions: Rule[SparkPlan] = new Rule[SparkPlan] {
    override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
      case f: FilterExec => f.copy(condition = bind(f.condition))
    }
  }
}
