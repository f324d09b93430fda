package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

class WordNGramsSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  /** Composed HOF trigram form (non-null words only: concat nulls out). */
  private val composed3 =
    "transform(slice(words, 1, greatest(size(words) - 2, 0)), " +
      "(x, i) -> concat(x, ' ', element_at(words, i + 2), ' ', element_at(words, i + 3)))"

  test("word_ngrams(words, 3) matches the composed HOF form") {
    import spark.implicits._
    val df = Seq(
      "the quick brown fox jumps",
      "a b a b a b",
      "one two three",          // exactly 3 words → one trigram
      "one two",                // 2 words → empty
      "solo",
      ""
    ).toDF("text").withColumn("words", split(col("text"), " "))
    df.select(expr("word_ngrams(words, 3)").as("native"),
      expr(composed3).as("composed"))
      .collect().foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1),
          s"native=${r.getSeq[String](0)} composed=${r.getSeq[String](1)}")
      }
  }

  test("word_ngrams(words, 2) equals the word_bigrams alias") {
    import spark.implicits._
    val df = Seq("the quick brown fox", "x y", "solo", "")
      .toDF("text").withColumn("words", split(col("text"), " "))
    val bad = df.select(expr("word_ngrams(words, 2)").as("n"),
      expr("word_bigrams(words)").as("b"))
      .filter(expr("n != b")).count()
    assert(bad == 0)
  }

  test("word_ngrams(words, 1) is the words themselves") {
    import spark.implicits._
    val r = Seq(Seq("a", "b", "c")).toDF("words")
      .select(expr("word_ngrams(words, 1)")).collect().head.getSeq[String](0)
    assert(r == Seq("a", "b", "c"))
  }

  test("null words are skipped concat_ws-style inside each window") {
    import spark.implicits._
    val r = Seq(Seq[String]("a", null, "b", "c"))
      .toDF("words").select(expr("word_ngrams(words, 3)").as("g"))
      .collect().head.getSeq[String](0)
    // windows: (a,null,b) → "a b", (null,b,c) → "b c"; containsNull=false
    assert(r == Seq("a b", "b c"))
  }

  test("n must be a literal and >= 1") {
    import spark.implicits._
    val df = Seq((Seq("a", "b"), 2)).toDF("words", "k")
    intercept[Exception] {
      df.select(expr("word_ngrams(words, k)")).collect()
    }
    intercept[Exception] {
      df.select(expr("word_ngrams(words, 0)")).collect()
    }
  }

  test("property: random word arrays match the trigram HOF form") {
    import org.scalacheck.Gen
    import spark.implicits._
    val word = Gen.oneOf(Gen.alphaNumStr.map(_.take(6)), Gen.const(""),
      Gen.oneOf("the", "a", "of"))
    val doc = Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, word))
    val docs = Gen.listOfN(200, doc).sample.get
    val df = docs.map(_.toArray).toDF("words")
    val bad = df.select(
      expr("word_ngrams(words, 3)").as("n"), expr(composed3).as("c"))
      .filter(expr("n != c")).count()
    assert(bad == 0)
  }
}
