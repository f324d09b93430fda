package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

import graft.functions.NumericArray.{elemOf, first64, first64Code}

/** t12's banded hyperplane LSH signature — 64 deterministic LCG planes
  * → 4 bands × 16 sign bits — in ONE compiled pass, as a native
  * expression returning `array<int>` of the 4 bucket values.
  *
  * Semantically identical to the composed form it replaces (64×
  * `float_dot(embedding, planeCol(j))` sign tests summed into 4
  * buckets): each plane dot is the same ascending-index left fold with
  * the same double widening as [[FloatDot]], the planes are the same
  * `((j·1103515245 + d·12345) mod 32768)/32768 − 0.5` doubles (computed
  * once into a static table by the SAME Scala arithmetic that built the
  * old literals), and bit i of band k is `dot_{(k−1)·16+i+1} > 0`.
  * The DuckDB oracle's spelling is unchanged. Like FloatDot, elements
  * are widened by [[NumericArray]].
  *
  * Scale note (T12BandsLab, r16): the composed form's 64-dot projection
  * cannot split inside whole-stage codegen, and past ~2 bands the
  * generated method crosses the JVM's huge-method JIT limit — the whole
  * stage runs as INTERPRETED bytecode (2 bands 0.65 s → 4 bands 13.6 s
  * on the same 60k rows). This expression is one tight JIT-friendly
  * loop: the signature pass drops ~20× at the 30× probe scale. */
case class HyperplaneBuckets64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOf(child.dataType).isDefined) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hyperplane_buckets64 requires a numeric array, got ${child.dataType.sql}")

  private lazy val elemType: DataType = elemOf(child.dataType).get

  override def nullSafeEval(a: Any): Any =
    HyperplaneBuckets64.bucketsFromDoubles(first64(elemType, a.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val (code, v) = first64Code(ctx, elemType, c)
      s"$code\n${ev.value} = graft.functions.HyperplaneBuckets64.bucketsFromDoubles($v);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HyperplaneBuckets64 {
  /** plane(j)(d−1) for j,d ∈ 1..64 — the exact doubles
    * TrainingData.planeCol built as literals (same Scala arithmetic). */
  private val planes: Array[Array[Double]] = Array.tabulate(64, 64) { (j0, d0) =>
    val m = ((j0 + 1).toLong * 1103515245L + (d0 + 1).toLong * 12345L) % 32768L
    m.toDouble / 32768.0 - 0.5
  }

  /** 64 tight dot loops over the pre-widened vector (≤64 elements). */
  def bucketsFromDoubles(v: Array[Double]): ArrayData =
    HyperplaneBands.signBuckets(v, planes, 4, 16)
}
