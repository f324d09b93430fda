package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Fused dot product over two numeric arrays, as a native codegen'd
  * Catalyst expression.
  *
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0d, (acc,v) -> acc+v)` is
  * semantically identical but materializes the zipped array and runs the
  * lambda interpreter per element; this expression compiles to a bare
  * Java loop inside whole-stage codegen. Accumulation is the same
  * ascending-index left fold with the same double widening, so results
  * are bit-identical to the composed form (and to DuckDB's list_reduce —
  * the oracle contract of the similarity operators).
  *
  * Installed by [[GraftFunctions]]; SQL name `float_dot`.
  */
case class FloatDot(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType

  private def elemOf(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(t: NumericType, _) => Some(t)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOf(left).isDefined && elemOf(right).isDefined)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"float_dot requires two numeric arrays, got ${left.dataType.sql} / ${right.dataType.sql}")

  private def get(t: DataType, arr: ArrayData, i: Int): Double = t match {
    case FloatType => arr.getFloat(i).toDouble
    case DoubleType => arr.getDouble(i)
    case IntegerType => arr.getInt(i).toDouble
    case LongType => arr.getLong(i).toDouble
    case ShortType => arr.getShort(i).toDouble
    case ByteType => arr.getByte(i).toDouble
    case d: DecimalType => arr.getDecimal(i, d.precision, d.scale).toDouble
    case other => sys.error(s"unsupported element type $other")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val lt = elemOf(left).get
    val rt = elemOf(right).get
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += get(lt, x, i) * get(rt, y, i)
      i += 1
    }
    acc
  }

  private def accessor(t: DataType, arr: String, i: String): String = t match {
    case FloatType => s"(double)$arr.getFloat($i)"
    case DoubleType => s"$arr.getDouble($i)"
    case IntegerType => s"(double)$arr.getInt($i)"
    case LongType => s"(double)$arr.getLong($i)"
    case ShortType => s"(double)$arr.getShort($i)"
    case ByteType => s"(double)$arr.getByte($i)"
    case d: DecimalType =>
      s"$arr.getDecimal($i, ${d.precision}, ${d.scale}).toDouble()"
    case other => sys.error(s"unsupported element type $other")
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val lt = elemOf(left).get
      val rt = elemOf(right).get
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ${accessor(lt, a, i)} * ${accessor(rt, b, i)};
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
