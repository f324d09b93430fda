package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

class WordBigramsSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  // greatest(…, 0): the raw size-1 length errors on a truly empty array
  // (never produced by split(), which yields [""], but the property test
  // generates it)
  private val composed =
    "transform(slice(words, 1, greatest(size(words) - 1, 0)), (x, i) -> concat(x, ' ', element_at(words, i + 2)))"

  test("word_bigrams matches the composed HOF form element-for-element") {
    import spark.implicits._
    val df = Seq(
      "the quick brown fox",
      "a b a b a b",
      "one two",               // exactly 2 words → one bigram
      "solo",                  // 1 word → empty
      "",                      // split('') → [""] → empty
      "x y z"
    ).toDF("text").withColumn("words", split(col("text"), " "))
    val out = df.select(
      expr("word_bigrams(words)").as("native"),
      expr(composed).as("composed"))
    out.collect().foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"native=${r.getSeq[String](0)} composed=${r.getSeq[String](1)}")
    }
  }

  test("null words are skipped concat_ws-style, never emitted as null elements") {
    import spark.implicits._
    val r = Seq(Seq[String]("a", null, "b"))
      .toDF("words").select(expr("word_bigrams(words)").as("b"))
      .collect().head.getSeq[String](0)
    // the declared type is containsNull=false — a null element here would
    // corrupt downstream codegen that trusts the schema
    assert(r == Seq("a", "b"))
  }

  test("property: random word arrays match the composed form") {
    import org.scalacheck.Gen
    import spark.implicits._
    val word = Gen.oneOf(Gen.alphaNumStr.map(_.take(6)), Gen.const(""),
      Gen.oneOf("the", "a", "of"))
    val doc = Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, word))
    val docs = Gen.listOfN(200, doc).sample.get
    val df = docs.map(_.toArray).toDF("words")
    val bad = df.select(
      expr("word_bigrams(words)").as("n"), expr(composed).as("c"))
      .filter(expr("n != c")).count()
    assert(bad == 0)
  }
}
