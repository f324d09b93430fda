package graft.functions

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

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
  * first 8 hex digits of the md5 as an integer — the repo's portable
  * hash, so the DuckDB oracle derives the identical family in SQL.
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
  * NaN-high ordering (the HyperplaneBuckets64 lesson). Per-type element
  * accessors in both eval paths (the r16 FloatDot ADVICE).
  */
case class HyperplaneBands(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  private def elemOf(dt: DataType): Option[DataType] = dt match {
    case ArrayType(t: NumericType, _) => Some(t)
    case _ => None
  }

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

  override def nullSafeEval(a: Any, b: Any, c: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = math.min(arr.numElements(), 64)
    val v = new Array[Double](n)
    var i = 0
    while (i < n) { v(i) = get(elemType, arr, i); i += 1 }
    HyperplaneBands.buckets(v, b.asInstanceOf[Int], c.asInstanceOf[Int])
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
    nullSafeCodeGen(ctx, ev, (c, b, w) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val v = ctx.freshName("v")
      s"""
         |int $n = java.lang.Math.min($c.numElements(), 64);
         |double[] $v = new double[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $v[$i] = ${accessor(elemType, c, i)};
         |}
         |${ev.value} = graft.functions.HyperplaneBands.buckets($v, $b, $w);
       """.stripMargin
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

  /** First 8 md5 hex digits of s as an unsigned 32-bit value — the same
    * number DuckDB's hex-digit parse of substr(md5(s), 1, 8) yields, so
    * the oracle can derive the family independently. */
  private def md5int32(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ((md(0) & 0xFFL) << 24) | ((md(1) & 0xFFL) << 16) |
      ((md(2) & 0xFFL) << 8) | (md(3) & 0xFFL)
  }

  private def planes(count: Int): Array[Array[Double]] =
    tables.computeIfAbsent(count, c => Array.tabulate(c, 64) { (j0, d0) =>
      (md5int32(s"hp|${j0 + 1}|${d0 + 1}") % 32768L).toDouble / 32768.0 - 0.5
    })

  /** bands tight dot loops per band bit over the pre-widened vector. */
  def buckets(v: Array[Double], bands: Int, bits: Int): ArrayData = {
    val p = planes(bands * bits)
    val n = v.length
    val out = new Array[Int](bands)
    var j = 0
    while (j < bands * bits) {
      val pj = p(j)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += v(i) * pj(i); i += 1 }
      if (acc > 0 || java.lang.Double.isNaN(acc)) out(j / bits) |= 1 << (j % bits)
      j += 1
    }
    new GenericArrayData(out)
  }
}
