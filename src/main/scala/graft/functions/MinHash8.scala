package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** 8 MinHash signature components of a shingle array in ONE compiled
  * pass, as a native expression.
  *
  * Semantically identical to the exploded relational form
  * (TrainingData.sigCols / sigSqlDuck):
  * `min(substr(md5(concat(m + "|", shingle)), 8w+1, 8))` for m ∈ {1,2},
  * w ∈ 0..3 — two salted md5s per shingle, each sliced into four 8-hex
  * (32-bit) windows, min per window across the doc's shingles. Hex
  * strings compare like their unsigned numeric values, so the min is
  * tracked as an unsigned int per window and formatted once at the end
  * — no per-shingle string allocation.
  *
  * Scale note: this removes the explode → groupBy(doc_id) leg of the
  * signature computation entirely; the remaining cost is the md5s
  * themselves, computed with the thread's one [[Md5]] digest, fetched
  * once per row, instead of one codec call per (shingle, salt) row.
  */
case class MinHash8(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash8 requires array<string>, got ${other.sql}")
  }

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any =
    MinHash8.sigs(a.asInstanceOf[ArrayData])

  // NOT defineCodeGen: sigs() returns null for empty / all-null-element
  // inputs, and defineCodeGen never sets ev.isNull from the result — under
  // whole-stage codegen (any file-backed plan) the downstream
  // ArrayData.numElements() would NPE. Same explicit-null pattern as
  // [[SimHash]]; pinned by MinHash8Spec's codegen-path tests.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = ctx.freshName("mhSigs")
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $v =
         |  graft.functions.MinHash8.sigs($c);
         |if ($v == null) { ${ev.isNull} = true; } else { ${ev.value} = $v; }
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHash8 {
  private val Salt1 = "1|".getBytes("UTF-8")
  private val Salt2 = "2|".getBytes("UTF-8")

  /** Null for empty (or all-null-element) shingle arrays — matching
    * min() over zero non-null rows in the exploded form. Null elements
    * are skipped exactly as min() skips the null md5(concat('m|', NULL))
    * they would produce (word_shingles never emits them, but
    * checkInputDataTypes admits containsNull = true inputs). */
  def sigs(shingles: ArrayData): ArrayData = {
    val n = shingles.numElements()
    if (n == 0) return null
    val md = Md5.digest()
    // mins(0..3): salt 1 windows 0..3, mins(4..7): salt 2 windows 0..3
    val mins = Array.fill(8)(0xFFFFFFFFL)
    var seen = false
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        seen = true
        val sh = shingles.getUTF8String(i).getBytes
        var m = 0
        while (m < 2) {
          md.update(if (m == 0) Salt1 else Salt2)
          md.update(sh)
          val d = md.digest()
          var w = 0
          while (w < 4) {
            val v = Md5.word32(d, 4 * w)
            val k = 4 * m + w
            if (v < mins(k)) mins(k) = v
            w += 1
          }
          m += 1
        }
      }
      i += 1
    }
    if (!seen) return null
    val out = new Array[AnyRef](8)
    var k = 0
    while (k < 8) {
      out(k) = UTF8String.fromString(Md5.hex32(mins(k)))
      k += 1
    }
    new GenericArrayData(out)
  }
}
