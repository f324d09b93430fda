package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

class WordShinglesSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  private val composed =
    "array_distinct(transform(sequence(1, greatest(size(words) - 2, 1)), i -> concat_ws(' ', slice(words, i, 3))))"

  test("word_shingles matches the composed HOF form element-for-element") {
    import spark.implicits._
    val df = Seq(
      "the quick brown fox jumps over the lazy dog",
      "a b a b a b",           // repeated shingles → distinct collapses
      "one two",               // < 3 words → single short shingle
      "solo",                  // 1 word
      "",                      // split('') → [""] → one empty shingle
      "x y z"                  // exactly 3 words → one shingle
    ).toDF("text").withColumn("words", split(col("text"), " "))
    val out = df.select(
      expr("word_shingles(words)").as("native"),
      expr(composed).as("composed"))
    out.collect().foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"native=${r.getSeq[String](0)} composed=${r.getSeq[String](1)}")
    }
  }

  test("word_shingles on real documents matches composed form") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("words", split(col("text"), " "))
    val bad = df.select(
      expr("word_shingles(words)").as("n"),
      expr(composed).as("c"))
      .filter(expr("n != c"))
      .count()
    assert(bad == 0)
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
      expr("word_shingles(words)").as("n"), expr(composed).as("c"))
      .filter(expr("n != c")).count()
    assert(bad == 0)
  }

  test("null words → null shingles") {
    import spark.implicits._
    val df = Seq(Option.empty[Array[String]]).toDF("words")
    assert(df.select(expr("word_shingles(words)")).collect()(0).isNullAt(0))
  }

  test("stays inside whole-stage codegen") {
    val df = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("words", split(col("text"), " "))
      .select(expr("word_shingles(words)").as("sh"))
    // "*(1) Project [wordshingles(...)]" — the *(n) star marks the
    // enclosing WholeStageCodegen stage; CodegenFallback exprs lose it
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [wordshingles"), plan)
  }
}
