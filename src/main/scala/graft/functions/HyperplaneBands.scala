package graft.functions

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import graft.functions.NumericArray.{elemOf, first64, first64Code}

/** Width-PARAMETERIZED banded hyperplane LSH signature —
  * `hyperplane_bands(embedding, bands, bits)` → `array<int>` of `bands`
  * bucket values of `bits` sign bits each, from `bands·bits`
  * deterministic md5-mixed planes in one compiled pass.
  *
  * This is the width knob behind the published LSH sizing rule: holding
  * the chance-collision rate of a banded self-join needs band width
  * ~2·log₂N bits (E[chance pairs] = bands·C(N,2)/2^bits), so a FIXED
  * width makes the candidate set quadratic once the corpus outgrows
  * 2^bits — measured for t12's 4×16 config at the 100× probe (28.7 s,
  * 89× wall for 100× data, the candidate integral exactly as
  * documented).
  *
  * PLANE FAMILY (r19): element d of plane j is
  * `(md5int32("hp|j|d") mod 32768)/32768 − 0.5` where md5int32 is the
  * first 8 hex digits of the md5 as an integer ([[Md5.word32]]) — the
  * repo's portable hash, so the DuckDB oracle derives the identical
  * family in SQL.
  * Bit i of band k polls plane (k−1)·bits + i + 1, so configs are
  * prefix-consistent in ONE family (pinned in HyperplaneBandsSpec).
  * This REPLACES r18's LCG family
  * (`((j·1103515245 + d·12345) mod 32768)/32768 − 0.5`, the
  * [[HyperplaneBuckets64]] lineage): plane j+1 of that family is plane
  * j plus a constant shift mod 1 per element (the r18 ADVICE's lattice
  * caveat), and measuring it (PlaneFamilyLab, r19; README "Lab record") showed the
  * correlation is not a caveat but a CEILING — same-band collision
  * pairs ran 75× / 4400× / 116000× the bands·C(N,2)/2^bits model at
  * 16/24/30 bits (fixture embeddings AND random vectors), i.e.
  * effective band entropy capped at ~12 bits no matter the configured
  * width, which silently voided the ~2·log₂N schedule this kernel
  * exists to expose. The md5 family tracks the model within the
  * finite-dimension Jensen factor (≤ ~5× at 64 dims, measured; pinned
  * empirically in HyperplaneBandsSpec). [[HyperplaneBuckets64]] itself
  * keeps the LCG family untouched — it is t12's oracle-pinned
  * published-default fixture twin, not a width-schedule kernel.
  * NaN dots set the bit, matching SQL's `float_dot(...) > 0` under
  * NaN-high ordering (the HyperplaneBuckets64 lesson). Elements are
  * widened by [[NumericArray]].
  */
case class HyperplaneBands(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (dt, IntegerType, IntegerType) if elemOf(dt).isDefined =>
        if (!second.foldable || !third.foldable)
          TypeCheckResult.TypeCheckFailure(
            "hyperplane_bands bands and bits must be literals")
        else (second.eval(), third.eval()) match {
          case (b: Int, w: Int)
            if b >= 1 && w >= 1 && w <= 30 && b.toLong * w <= 1024 =>
            TypeCheckResult.TypeCheckSuccess
          case other => TypeCheckResult.TypeCheckFailure(
            "hyperplane_bands needs bands >= 1, 1 <= bits <= 30, " +
              s"bands*bits <= 1024, got $other")
        }
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"hyperplane_bands requires (array<numeric>, int, int), got " +
          s"${a.sql} / ${b.sql} / ${c.sql}")
    }

  private lazy val elemType: DataType = elemOf(first.dataType).get

  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    HyperplaneBands.buckets(first64(elemType, a.asInstanceOf[ArrayData]),
      b.asInstanceOf[Int], c.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, b, w) => {
      val (code, v) = first64Code(ctx, elemType, c)
      s"$code\n${ev.value} = graft.functions.HyperplaneBands.buckets($v, $b, $w);"
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object HyperplaneBands {
  /** Plane tables keyed by plane count (bands·bits ≤ 1024); each entry
    * is planes(j0)(d0) for the first `count` planes of the one md5
    * family — prefix-consistent across widths by construction. Built
    * once driver-side (≤ 65k md5s) and cached; the hot path only reads
    * the table. */
  private val tables = new ConcurrentHashMap[Int, Array[Array[Double]]]()

  /** [[Md5.word32]] of "hp|j|d" is the number DuckDB's hex-digit parse
    * of substr(md5(s), 1, 8) yields, so the oracle derives the family
    * independently. */
  private def planes(count: Int): Array[Array[Double]] =
    tables.computeIfAbsent(count, c => Array.tabulate(c, 64) { (j0, d0) =>
      (Md5.word32(s"hp|${j0 + 1}|${d0 + 1}") % 32768L).toDouble / 32768.0 - 0.5
    })

  /** `bands` buckets of `bits` sign bits over the md5 family. */
  def buckets(v: Array[Double], bands: Int, bits: Int): ArrayData =
    signBuckets(v, planes(bands * bits), bands, bits)

  /** `bands·bits` tight dot loops over the pre-widened vector, one per
    * plane of either family; bit b of band k is the sign of plane
    * k·bits + b. */
  private[functions] def signBuckets(v: Array[Double], p: Array[Array[Double]],
      bands: Int, bits: Int): ArrayData = {
    val n = v.length
    val out = new Array[Int](bands)
    var j = 0
    var k = 0
    while (k < bands) {
      var b = 0
      while (b < bits) {
        val pj = p(j)
        var acc = 0.0
        var i = 0
        while (i < n) { acc += v(i) * pj(i); i += 1 }
        // Spark SQL (and DuckDB) order NaN above every value, so the
        // composed form's `float_dot(...) > 0` is TRUE for a NaN dot;
        // plain Java `>` would say false — match the SQL semantics
        // (caught by the adversarial-input pin in the spec)
        if (acc > 0 || java.lang.Double.isNaN(acc)) out(k) |= 1 << b
        b += 1
        j += 1
      }
      k += 1
    }
    new GenericArrayData(out)
  }
}
