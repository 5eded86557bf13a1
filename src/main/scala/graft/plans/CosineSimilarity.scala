package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DecimalType, DoubleType, FloatType, IntegerType, LongType, NumericType, ShortType}

/** Native codegen'd cosine similarity over two numeric arrays — the hot
  * inner loop of similarity search (SURVEY §2.12 extension; preference
  * ladder: Expression-with-doGenCode beats UDF beats zip_with+aggregate,
  * which materializes an intermediate product array per comparison).
  *
  * Semantics match `Similarity.dot/norm` exactly: element-wise double
  * products folded sequentially left-to-right (engine-reproducible IEEE
  * order), dot / (sqrt(normA) * sqrt(normB)); NULL if either side is NULL,
  * NaN propagates like plain double math. Arrays shorter than the other
  * side fold over the common prefix (callers use fixed-dim embeddings).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean  = left.nullable || right.nullable

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(_: NumericType, _) => true
      case _                            => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"cosine_sim expects two numeric arrays, got ${left.dataType} / ${right.dataType}")
  }

  private def elemType(e: Expression) =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (xs, ys) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val (tx, ty) = (elemType(left), elemType(right))
    val n        = math.min(xs.numElements(), ys.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = toDouble(xs, i, tx)
      val y = toDouble(ys, i, ty)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private def toDouble(arr: ArrayData, i: Int, t: DataType): Double = t match {
    case FloatType      => arr.getFloat(i).toDouble
    case DoubleType     => arr.getDouble(i)
    case ByteType       => arr.getByte(i).toDouble
    case ShortType      => arr.getShort(i).toDouble
    case IntegerType    => arr.getInt(i).toDouble
    case LongType       => arr.getLong(i).toDouble
    case d: DecimalType => arr.getDecimal(i, d.precision, d.scale).toDouble
    case other          => throw new IllegalStateException(s"cosine_sim: unreachable element type $other")
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (tx, ty) = (elemType(left), elemType(right))
    // Type-specific accessors for EVERY numeric element type accepted by
    // checkInputDataTypes — UnsafeArrayData.get(i, dataType) dispatches on
    // the type argument, so the old `get($i, null)` fallback threw at
    // runtime for int/long/decimal arrays under whole-stage codegen.
    def get(arr: String, i: String, t: DataType): String = t match {
      case FloatType      => s"(double) $arr.getFloat($i)"
      case DoubleType     => s"$arr.getDouble($i)"
      case ByteType       => s"(double) $arr.getByte($i)"
      case ShortType      => s"(double) $arr.getShort($i)"
      case IntegerType    => s"(double) $arr.getInt($i)"
      case LongType       => s"(double) $arr.getLong($i)"
      case d: DecimalType => s"$arr.getDecimal($i, ${d.precision}, ${d.scale}).toDouble()"
      case other          => throw new IllegalStateException(s"cosine_sim: unreachable element type $other")
    }
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n   = ctx.freshName("n")
      val i   = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na  = ctx.freshName("na")
      val nb  = ctx.freshName("nb")
      val x   = ctx.freshName("x")
      val y   = ctx.freshName("y")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = ${get(a, i, tx)};
         |  double $y = ${get(b, i, ty)};
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** Column form. */
  def cosine_sim(a: Column, b: Column): Column =
    GraftColumnBridge.column(CosineSimilarity(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** SQL registration: SELECT cosine_sim(a, b). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_sim", exprs => CosineSimilarity(exprs(0), exprs(1)), "built-in")
}
