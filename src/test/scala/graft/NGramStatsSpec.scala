package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.apache.spark.sql.functions._

/** Pins the native one-pass ngram_stats(words, n) against the relational
  * explode(word_ngrams) → groupBy form it replaces in t20/t30 — including
  * through the whole-stage-codegen path (file-backed read, so
  * ConvertToLocalRelation can't quietly interpret it). */
class NGramStatsSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  private def relational(words: Seq[String], n: Int): (Long, Long, Long, Long) = {
    val grams = words.sliding(n).filter(_.size == n).map(_.mkString(" ")).toSeq
    val counts = grams.groupBy(identity).map(_._2.size.toLong)
    (grams.size.toLong, counts.size.toLong,
      if (counts.isEmpty) 0L else counts.max,
      counts.filter(_ > 1).sum)
  }

  test("matches the scala reference on hand cases") {
    import spark.implicits._
    val cases = Seq(
      Seq("a", "b", "a", "b", "a"),
      Seq("x"),
      Seq.empty[String],
      Seq("a", "a", "a", "a"),
      Seq("the", "cat", "sat", "on", "the", "cat", "sat"))
    for (n <- 1 to 4; words <- cases) {
      val row = Seq(words).toDF("words")
        .select(expr(s"ngram_stats(words, $n)").as("s"))
        .select("s.total", "s.n_distinct", "s.top", "s.dup")
        .collect().head
      val want = relational(words, n)
      assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
        == want, s"n=$n words=$words")
    }
  }

  test("property: random word arrays match the scala reference for n=1..4") {
    import spark.implicits._
    val word = Gen.oneOf(Gen.alphaNumStr.map(_.take(4)), Gen.const(""),
      Gen.oneOf("the", "a", "of"))
    val doc = Gen.chooseNum(0, 12).flatMap(k => Gen.listOfN(k, word))
    val docs = Gen.listOfN(200, doc).sample.get
    val df = docs.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "words")
    for (n <- 1 to 4) {
      val got = df.select(col("doc_id"), expr(s"ngram_stats(words, $n)").as("s"))
        .select(col("doc_id"), col("s.total"), col("s.n_distinct"),
          col("s.top"), col("s.dup"))
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      val want = docs.zipWithIndex.map { case (w, i) =>
        i.toLong -> relational(w, n)
      }.toMap
      assert(got == want, s"n=$n")
    }
  }

  test("codegen path: file-backed read computes identical stats") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ngramstats").toString
    val docs = Seq(
      (1L, Seq("a", "b", "a", "b")),
      (2L, Seq("x")),
      (3L, Seq.empty[String]),
      (4L, (1 to 50).map(i => s"w${i % 7}")))
    docs.toDF("doc_id", "words").write.mode("overwrite").parquet(dir)
    val fromFile = spark.read.parquet(dir)
      .select(col("doc_id"), expr("ngram_stats(words, 2)").as("s"))
      .select(col("doc_id"), col("s.total"), col("s.n_distinct"),
        col("s.top"), col("s.dup"))
    // the plan must actually be codegen'd (not a local relation): the
    // `*(n)` stage marker on the projection is toString's codegen flag
    assert(fromFile.queryExecution.executedPlan.toString
      .contains("*(1) Project"))
    val got = fromFile.collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val want = docs.map { case (id, w) => id -> relational(w, 2) }.toMap
    assert(got == want)
  }
}
