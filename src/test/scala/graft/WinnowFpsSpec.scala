package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.apache.spark.sql.functions._

/** Pins the native one-pass winnow_fps(words, n, w) against an
  * independent Scala reference of the MOSS selection stage (sliding
  * window-min over md5-prefix gram hashes, truncated-window rule,
  * distinct values). */
class WinnowFpsSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  private def refHash(g: String): Long =
    java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(g.getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString, 16)

  private def reference(words: Seq[String], n: Int, w: Int): Set[Long] = {
    val hashes = words.sliding(n).filter(_.size == n)
      .map(_.mkString(" ")).map(refHash).toVector
    if (hashes.isEmpty) Set.empty
    else (0 to math.max(hashes.size - w, 0))
      .map(s => hashes.slice(s, s + w).min).toSet
  }

  private def native(words: Seq[String], n: Int, w: Int): Set[Long] = {
    import spark.implicits._
    Seq(words).toDF("words")
      .select(explode(expr(s"winnow_fps(words, $n, $w)")).as("fp"))
      .collect().map(_.getLong(0)).toSet
  }

  test("matches the reference on hand cases") {
    val cases = Seq(
      Seq("a", "b", "c", "d", "e", "f", "g"),
      Seq("x"), Seq.empty[String],
      Seq("a", "a", "a", "a", "a", "a"),
      Seq("one", "two"), Seq("p", "q", "r"))
    for (words <- cases; n <- Seq(2, 3); w <- Seq(2, 4))
      assert(native(words, n, w) == reference(words, n, w),
        s"words=$words n=$n w=$w")
  }

  test("property: random word sequences match the reference (n=3, w=4)") {
    val gen = Gen.listOf(Gen.oneOf("aa", "bb", "cc", "dd", "ee"))
    Gen.listOfN(40, gen).sample.get.foreach { words =>
      assert(native(words, 3, 4) == reference(words, 3, 4), s"words=$words")
    }
  }

  test("fingerprint density is ~1/w of the gram count") {
    // winnowing's whole point: ≤ one fingerprint per window START, and
    // every full window contributes, so 1 ≤ |fps| ≤ #starts
    val words = (1 to 60).map(i => s"w${i % 17}")
    val fps = native(words, 3, 4)
    val grams = words.size - 2
    assert(fps.nonEmpty && fps.size <= grams - 4 + 1)
  }
}
