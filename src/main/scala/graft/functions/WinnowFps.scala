package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Winnowing fingerprints (the MOSS selection stage) in ONE compiled
  * pass: `winnow_fps(words, n, w)` → sorted distinct array of the
  * window-min hashes — for each window of `w` consecutive word-`n`-gram
  * hashes (plus the single truncated window when the document has fewer
  * than `w` grams), the minimum 32-bit hash.
  *
  * Hash contract (bit-for-bit the relational/oracle spelling in t76):
  * gram string = space-joined window ([[WordNGrams.ngrams]]); hash =
  * first 8 lowercase-hex chars of md5(UTF-8 bytes) parsed base-16 —
  * identical to `CAST(conv(substr(md5(CAST(g AS BINARY)),1,8),16,10) AS
  * BIGINT)` and to DuckDB's md5 arithmetic, so the native form and the
  * SQL oracle agree fingerprint-for-fingerprint.
  *
  * The relational spelling this replaces — posexplode every gram, two
  * windows (min + per-doc count) over the exploded corpus, then
  * DISTINCT — shuffles and sorts every gram of the corpus to compute a
  * value that depends on one row alone. Here the sliding min runs in-row
  * (ring-buffer scan, O(grams·w) worst case with w = 4), so document
  * fingerprinting is a pure map at any corpus size; only the emitted
  * fingerprints (≈ grams/w per doc) ever reach an exchange.
  */
case class WinnowFps(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(StringType, _), IntegerType, IntegerType) =>
        if (!second.foldable || !third.foldable)
          TypeCheckResult.TypeCheckFailure("winnow_fps n and w must be literals")
        else (second.eval(), third.eval()) match {
          case (n: Int, w: Int) if n >= 1 && w >= 1 =>
            TypeCheckResult.TypeCheckSuccess
          case other => TypeCheckResult.TypeCheckFailure(
            s"winnow_fps n and w must be integers >= 1, got $other")
        }
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"winnow_fps requires (array<string>, int, int), got ${a.sql} / ${b.sql} / ${c.sql}")
    }

  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    WinnowFps.fps(a.asInstanceOf[ArrayData], b.asInstanceOf[Int], c.asInstanceOf[Int])

  // fps() never returns null, so defineCodeGen's child-null-only
  // handling is exact (the MinHash8 lesson)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.functions.WinnowFps.fps($a, $b, $c)")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

object WinnowFps {
  /** Compiled one-pass twin of posexplode(word_ngrams) → window-min →
    * DISTINCT. See class doc for the exact contract. */
  def fps(words: ArrayData, n: Int, w: Int): ArrayData = {
    val grams = WordNGrams.ngrams(words, n)
    val total = grams.numElements()
    if (total == 0) return new GenericArrayData(Array.empty[Long])
    // first 8 hex chars of each gram's md5, parsed base-16
    val md = Md5.digest()
    val hashes = new Array[Long](total)
    var i = 0
    while (i < total) {
      hashes(i) = Md5.word32(md.digest(grams.getUTF8String(i).getBytes), 0)
      i += 1
    }
    val out = new java.util.TreeSet[java.lang.Long]()
    // window START rows only: pos ≤ total−w (every full window), plus
    // pos = 0 when the doc has fewer than w grams — the same row filter
    // as the relational form
    val lastStart = math.max(total - w, 0)
    var s = 0
    while (s <= lastStart) {
      var m = hashes(s)
      var j = s + 1
      val end = math.min(s + w, total)
      while (j < end) {
        if (hashes(j) < m) m = hashes(j)
        j += 1
      }
      out.add(m)
      s += 1
    }
    val arr = new Array[Long](out.size())
    val it = out.iterator()
    var k = 0
    while (it.hasNext) { arr(k) = it.next(); k += 1 }
    new GenericArrayData(arr)
  }
}
