package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.apache.spark.sql.functions._

/** Pins the native one-pass char_entropy_stats(text) against the
  * relational explode-per-character → two-level groupBy form it replaced
  * in t79 (the O(n²) spelling), including multi-byte text — the unit is
  * the Unicode CODE POINT in both. */
class CharEntropySpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  private def reference(text: String): (Long, Long, Long) = {
    val cps = text.codePoints().toArray.toSeq
    val total = cps.size.toLong
    if (total == 0L) return (0L, 0L, 0L)
    val counts = cps.groupBy(identity).map(_._2.size.toLong)
    def lenbin(x: Long): Long = 64L - java.lang.Long.numberOfLeadingZeros(x)
    (total, counts.size.toLong, counts.map(c => c * lenbin(total / c)).sum)
  }

  private def native(text: String): (Long, Long, Long) = {
    import spark.implicits._
    val r = Seq(text).toDF("text")
      .select(expr("char_entropy_stats(text)").as("s"))
      .select("s.total", "s.n_distinct", "s.bits_total").collect().head
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  test("matches the reference on hand cases, including multi-byte") {
    val cases = Seq("", "a", "aaaa", "abab", "the cat sat",
      "你好世界你好", "héllo wörld", "a😀b😀") // 😀 surrogate pair = ONE char
    cases.foreach { t =>
      assert(native(t) == reference(t), s"text=$t")
    }
  }

  test("surrogate pairs count as one character") {
    val (total, distinct, _) = native("😀😀")
    assert(total == 2L && distinct == 1L)
  }

  test("property: random strings match the reference") {
    val gen = Gen.listOf(Gen.oneOf('a', 'b', 'c', ' ', 'é', '你', 'z'))
      .map(_.mkString)
    val strings = Gen.listOfN(60, gen).sample.get
    strings.foreach(t => assert(native(t) == reference(t), s"text=$t"))
  }

  test("uniform text maximizes bits; constant text costs 1 bit/char") {
    val (tot1, _, bits1) = native("aaaaaaaa")
    assert(bits1 == tot1, "single-char text: exactly 1 quantized bit/char")
    val (tot2, _, bits2) = native("abcdefgh")
    assert(bits2 == tot2 * 4, "8 uniform chars: len(bin(8)) = 4 bits each")
  }
}
