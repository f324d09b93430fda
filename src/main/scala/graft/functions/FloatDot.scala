package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

import graft.functions.NumericArray.{accessor, elemOf, get}

/** Fused dot product over two numeric arrays, as a native codegen'd
  * Catalyst expression.
  *
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0d, (acc,v) -> acc+v)` is
  * semantically identical but materializes the zipped array and runs the
  * lambda interpreter per element; this expression compiles to a bare
  * Java loop inside whole-stage codegen. Accumulation is the same
  * ascending-index left fold with the same double widening, so results
  * are bit-identical to the composed form (and to DuckDB's list_reduce —
  * the oracle contract of the similarity operators); elements are read
  * by [[NumericArray]].
  *
  * Installed by [[GraftFunctions]]; SQL name `float_dot`.
  */
case class FloatDot(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOf(left.dataType).isDefined && elemOf(right.dataType).isDefined)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"float_dot requires two numeric arrays, got ${left.dataType.sql} / ${right.dataType.sql}")

  private lazy val lt: DataType = elemOf(left.dataType).get
  private lazy val rt: DataType = elemOf(right.dataType).get

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += get(lt, x, i) * get(rt, y, i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
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
