package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** `width`-bit SimHash of a token array in ONE compiled pass, as a native
  * expression; SQL `simhash16` → int, `simhash64` → bigint and
  * `simhash128` → `array<bigint>` of two words (bits 0..63, 64..127).
  *
  * Semantically identical to the exploded relational form (the DuckDB
  * oracle's spelling, TrainingData.simhash16Duck / simhash64Duck /
  * simhash128Duck): per token, bit i of the fingerprint polls bit i%4 of
  * md5 hex digit i/4 (digit 0 = the md5's first hex char); votes sum
  * +1/-1 over ALL token occurrences (not distinct), a null token votes
  * -1 on every bit (md5(NULL) is null, so every CASE WHEN bit=1 THEN 1
  * ELSE -1 lands in the ELSE), and a positive total sets the bit. Null
  * for empty arrays (agg over zero rows).
  *
  * Widths: a FIXED 16-bit fingerprint makes the hamming-near-dup ANSWER
  * itself Θ(n²) once the corpus outgrows 2¹⁶, so t101 widens it to 64
  * bits banded 4×16 (r17 verdict); a 4×16 band still admits
  * ~4·2⁻¹⁶·C(n,2) chance candidates, so t105 widens it to the full md5's
  * 128 bits, room for 4 bands of up to 32 bits (r19 verdict).
  *
  * One kernel votes all widths on the same probe numbering, so
  * `simhash128(t)[0] == simhash64(t)` and `simhash64(t) & 0xFFFF ==
  * simhash16(t)` hold by construction — the family-containment law the
  * Simhash64/128 specs pin, tying t105 through t101 to t18's
  * oracle-gated 16-bit fixture twin.
  *
  * Scale note: removes the explode → groupBy(doc_id) → `width`
  * conditional sums leg — the signature is a pure map.
  */
case class SimHash(child: Expression, width: Int) extends UnaryExpression {
  require(width == 16 || width == 64 || width == 128, s"simhash width $width")

  override def prettyName: String = s"simhash$width"

  // the width is part of the name, not an argument
  override protected def stringArgs: Iterator[Any] = Iterator(child)

  override def dataType: DataType = width match {
    case 16 => IntegerType
    case 64 => LongType
    case _ => ArrayType(LongType, containsNull = false)
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.sql}")
  }

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any =
    SimHash.fingerprint(a.asInstanceOf[ArrayData], width)

  // the empty-array null needs an explicit ev.isNull (the MinHash8 lesson)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = ctx.freshName("sh")
    val boxed = CodeGenerator.boxedType(dataType)
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |$boxed $v = ($boxed) graft.functions.SimHash.fingerprint($c, $width);
         |if ($v == null) { ${ev.isNull} = true; } else { ${ev.value} = $v; }
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash {
  /** Boxed int / long / two-word array by width; null for an empty array. */
  def fingerprint(tokens: ArrayData, width: Int): AnyRef = {
    val w = words(tokens, width)
    if (w == null) null
    else width match {
      case 16 => Integer.valueOf(w(0).toInt)
      case 64 => java.lang.Long.valueOf(w(0))
      case _ => new GenericArrayData(w)
    }
  }

  /** The vote kernel: fingerprint bit i polls bit
    * `60 - 4*((i%64)/4) + i%4` of big-endian digest word i/64 (digit j
    * of a word sits at bits 60-4j .. 63-4j). Only `width` bits vote. */
  def words(tokens: ArrayData, width: Int): Array[Long] = {
    val n = tokens.numElements()
    if (n == 0) return null
    val md = Md5.digest()
    val nWords = (width + 63) / 64
    val votes = new Array[Int](width)
    var t = 0
    while (t < n) {
      if (tokens.isNullAt(t)) {
        var i = 0
        while (i < width) { votes(i) -= 1; i += 1 }
      } else {
        val d = md.digest(tokens.getUTF8String(t).getBytes)
        var k = 0
        while (k < nWords) {
          val hv = (Md5.word32(d, 8 * k) << 32) | Md5.word32(d, 8 * k + 4)
          val base = k << 6
          val bits = math.min(width - base, 64)
          var j = 0
          while (j < bits) {
            val bit = (hv >>> (60 - 4 * (j >> 2) + (j & 3))).toInt & 1
            votes(base + j) += 2 * bit - 1
            j += 1
          }
          k += 1
        }
      }
      t += 1
    }
    val out = new Array[Long](nWords)
    var i = 0
    while (i < width) {
      if (votes(i) > 0) out(i >> 6) |= 1L << (i & 63)
      i += 1
    }
    out
  }
}
